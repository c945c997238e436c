package graft.streaming

import graft.operators.Concat
import graft.schema.SchemaUnifier
import graft.sinks.Sink
import graft.sources.{CsvSource, Discovery}
import graft.sources.Discovery.{Avro, Csv, Format, Jsonl, Orc, Parquet}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming door into the same normalize/align/union core.
  *
  * Replaces the reference's hand-rolled resumable state
  * (`/root/reference/src/state.rs:10-169` — JSON ledger of processed files /
  * offsets, never actually wired into its pipeline) with Spark checkpointing:
  * the file-source + `checkpointLocation` gives exactly-once *file-level*
  * resume natively, which is precisely the ledger's intent
  * (`state.rs:89-102`). `Trigger.AvailableNow` processes everything present
  * and stops, so repeated CLI invocations resume where the last one ended —
  * the `--resume` contract (`cli.rs:109-120`).
  */
object StreamingConcat {

  /** Build ONE streaming source per INPUT ARGUMENT (directory / glob /
    * file), aligned and unioned like the batch path.
    *
    * Why per-argument and not per-discovered-file: Spark checkpoints pin the
    * NUMBER of sources in a query — per-file sources would break resume the
    * moment a new file appears. A directory/glob source keeps the source
    * count stable while its file index picks up late-arriving files, which
    * is exactly the reference ledger's intent (state.rs:89-102).
    *
    * The per-source schema is fixed up-front from a batch pass over the data
    * present at start (streams require a declared schema; inference happens
    * once, matching `--infer-rows` intent, cli.rs:66-68).
    */
  def planStream(spark: SparkSession, cfg: Concat.Config): DataFrame = {
    val perInput = cfg.inputs.map { input =>
      val files = Discovery.discover(Seq(input))
      require(files.nonEmpty, s"no inputs found in $input")
      val formats = files.map(_.format).distinct
      require(formats.size == 1,
        s"streaming input $input mixes formats $formats; pass separate inputs per format")
      // per-file schemas from concurrent bounded probes (CSV sample /
      // parquet footer — Concat.fileSchemas), not one sequential reader
      // setup per file: at 10^5 discovered files a per-file
      // `spark.read...schema` loop would be 10^5 sequential DataSource
      // resolutions on the driver
      val fileSchemas = Concat.fileSchemas(spark, files, cfg.csv)
      val batchSchema = SchemaUnifier.unify(fileSchemas, cfg.stringifyConflicts)
      // Spark CSV binds a user schema to files POSITIONALLY (header names are
      // not consulted), so the one schema a CSV stream source declares must be
      // in the files' own header order — the sorted unified schema would
      // silently mis-bind any non-alphabetical header. All files under one
      // streaming input must therefore share one column order (the batch path
      // re-reads each file and has no such constraint); heterogeneous layouts
      // go in as separate inputs.
      val readSchema = if (formats.head == Csv) {
        val headerOrder = fileSchemas.head.fieldNames.toSeq
        require(fileSchemas.forall(_.fieldNames.toSeq == headerOrder),
          s"streaming input $input: files disagree on column order/names " +
            s"(CSV stream sources bind one schema positionally) — pass them as separate inputs")
        StructType(headerOrder.map(n => batchSchema.schema(n)))
      } else batchSchema.schema // parquet binds by name; order is free
      (input, formats.head, readSchema)
    }
    val unified = SchemaUnifier.unify(
      perInput.map(_._3), cfg.stringifyConflicts, cfg.renames, cfg.include, cfg.exclude)
    val streams = perInput.map { case (input, format, schema) =>
      val f = new java.io.File(input)
      // dirs and globs stream natively; a literal file streams via its
      // parent dir + a glob filter on the file name
      val (path, globFilter) =
        if (f.isFile) (Option(f.getParent).getOrElse("."), Some(f.getName))
        else (input, None)
      val src = format match {
        case Discovery.Xml =>
          // the typed XML scan is batch-only surface here: streaming it is
          // untested plumbing, and an untested path must refuse, not guess
          throw new IllegalArgumentException(
            "--stream does not support xml inputs — run a batch concat")
        case Parquet =>
          val r = spark.readStream.schema(schema)
          globFilter.fold(r)(g => r.option("pathGlobFilter", g)).parquet(path)
        case Csv =>
          // the batch reader's options and NA->null projection (one
          // definition in CsvSource)
          val r = spark.readStream.schema(schema).options(CsvSource.readerOptions(cfg.csv))
          CsvSource.naToNull(
            globFilter.fold(r)(g => r.option("pathGlobFilter", g)).csv(path), cfg.csv)
        case Jsonl =>
          val r = spark.readStream.schema(schema).option("mode", "PERMISSIVE")
          globFilter.fold(r)(g => r.option("pathGlobFilter", g)).json(path)
        case Orc =>
          val r = spark.readStream.schema(schema)
          globFilter.fold(r)(g => r.option("pathGlobFilter", g)).orc(path)
        case Avro =>
          val r = spark.readStream.schema(schema).format(Discovery.AvroClass)
          globFilter.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
      }
      SchemaUnifier.align(src, unified)
    }
    streams.reduce(_ unionByName _)
  }

  /** Run to completion over currently-available input, writing rolled output
    * files + checkpoint; returns after the stream drains. Resumable across
    * invocations via the checkpoint.
    *
    * The file sink writes each format through [[graft.sinks.Sink.writer]],
    * the batch sink's one format definition, from a `Sink.Config` with its
    * defaults (zstd-3 codecs, empty NA string) and the CLI's one
    * `--delimiter`; the CLI refuses the flags that would change those
    * defaults under `--stream`.
    *
    * `partitionBy` writes a hive `col=value/` tree (same layout contract as
    * the batch sink's K4): the file sink appends new part files under each
    * value directory per micro-batch, so the layout stays consistent across
    * resumed invocations — the streaming door to the 100 TB layout
    * primitive. `rollByRows` bounds file sizes within each micro-batch
    * commit (the streaming analog of the batch sink's rolling contract).
    *
    * The query runs inside [[Checkpoint.local]]: when the checkpoint and
    * `outPath` (the sink's `_spark_metadata` log) are local, their logs
    * are written through Spark's FileSystem checkpoint manager, because
    * without the native Hadoop library each FileContext rename forks
    * `readlink` four times, and on `file:` both managers do the same
    * check-then-rename. A manager the user sets wins, and non-local logs
    * are untouched.
    */
  def run(spark: SparkSession, cfg: Concat.Config, outPath: String, fmt: Format,
      checkpoint: String, partitionBy: Seq[String] = Nil,
      rollByRows: Option[Long] = None): Unit = {
    val df = planStream(spark, cfg)
    val missing = partitionBy.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"--partition-by columns not in data: ${missing.mkString(", ")}")
    if (fmt == Discovery.Xml)
      throw new IllegalArgumentException(
        "--stream does not support xml output — write jsonl/csv/parquet/orc/avro")
    val sink = Sink.Config(outPath, fmt, delimiter = cfg.csv.delimiter,
      rollByRows = rollByRows, partitionBy = partitionBy)
    val (format, options) = Sink.writer(sink)
    val writer = df.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .format(format).options(options)
      .partitionBy(sink.partitionBy: _*)
    Checkpoint.local(spark, checkpoint, outPath) {
      sink.rollByRows.fold(writer)(n => writer.option("maxRecordsPerFile", n.toString))
        .start(outPath).awaitTermination()
    }
  }

  /** Progress listener — the Spark-native replacement for the reference's
    * progress bars / MB/s / ETA tracker (`progress.rs:6-197`).
    *
    * With `jsonLogs` + a `checkpoint` path it also emits one
    * `{"event":"stream_file",...}` line per SOURCE FILE of each micro-batch
    * (parity with the reference's per-file visibility): the file-stream
    * source records every batch's discovered files in the checkpoint's
    * source metadata log (`sources/<i>/<logOffset>`), which is the
    * authoritative exactly-once file list — no extra plan nodes, no second
    * scan. Best-effort: an unreadable/compacted log yields batch totals only.
    */
  class ProgressListener(quiet: Boolean = false, jsonLogs: Boolean = false,
      checkpoint: Option[String] = None) extends StreamingQueryListener {
    @volatile var rowsProcessed: Long = 0L
    @volatile var started: Boolean = false
    @volatile var terminated: Boolean = false
    /** Overridable sink for the emitted lines (listener-bus threads don't
      * see Console.withOut, so tests capture here instead of stdout). */
    protected def emit(line: String): Unit = println(line)
    private def jstr(s: String): String = graft.util.Json.str(s)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      started = true
      if (!quiet && !jsonLogs) println(s"[graft] stream started: ${e.id}")
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      rowsProcessed += e.progress.numInputRows
      if (quiet) return
      if (jsonLogs) {
        batchSourceFiles(e).foreach { p =>
          emit(s"""{"event":"stream_file","batch":${e.progress.batchId},"path":${jstr(p)}}""")
        }
        emit(s"""{"event":"stream_batch","batch":${e.progress.batchId},""" +
          s""""rows":${e.progress.numInputRows},"total_rows":$rowsProcessed}""")
      } else
        emit(f"[graft] batch=${e.progress.batchId} rows=${e.progress.numInputRows} " +
          f"total=$rowsProcessed ${e.progress.processedRowsPerSecond}%.0f rows/s")
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      terminated = true
      if (!quiet && !jsonLogs) println(s"[graft] stream terminated: ${e.id}")
    }

    /** Listener events are posted asynchronously; bounded wait for the
      * terminated event so callers can remove the listener without dropping
      * the final batch's per-file lines.
      */
    def awaitDrained(timeoutMs: Long = 5000): Unit = {
      // QueryStartedEvent is delivered synchronously during start(), so if
      // no query ever started (plan failure before start()) there is nothing
      // to drain — don't burn the full timeout delaying the error message
      if (!started) return
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (!terminated && System.nanoTime() < deadline) Thread.sleep(20)
    }

    /** Last logOffset whose file list was emitted, per source index: a
      * micro-batch that does NOT advance a source's offset (e.g. a
      * state-flush batch with no new files) repeats the previous endOffset,
      * and re-reading the same log entry would duplicate its stream_file
      * lines for --json-logs consumers. Recorded only AFTER the log entry
      * was successfully read: a transient read failure (or a not-yet-
      * visible log file) must stay retryable on the next repeat, not be
      * permanently suppressed.
      */
    private val lastEmittedOffset =
      scala.collection.concurrent.TrieMap.empty[Int, Long]

    /** The micro-batch's source files, from each file source's metadata log
      * entry for its end offset (`{"logOffset":N}` → `sources/<i>/N`, one
      * JSON `FileEntry` per line after the version header). Falls back to
      * the `.compact` rewrite (filtered to this batch) when log compaction
      * has replaced the plain file; empty on any parse/read failure.
      */
    private def batchSourceFiles(e: StreamingQueryListener.QueryProgressEvent): Seq[String] =
      checkpoint.toSeq.flatMap { cp =>
        val offsetNum = "(\\d+)".r
        val pathField = "\"path\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
        e.progress.sources.toSeq.zipWithIndex.flatMap { case (src, i) =>
          try {
            val off = offsetNum.findAllIn(Option(src.endOffset).getOrElse("")).toSeq
              .lastOption.map(_.toLong)
              .filterNot(n => lastEmittedOffset.get(i).contains(n))
            off.toSeq.flatMap { n =>
              val dir = java.nio.file.Paths.get(cp, "sources", i.toString)
              val plain = dir.resolve(n.toString)
              val compact = dir.resolve(n.toString + ".compact")
              val lines =
                if (java.nio.file.Files.exists(plain)) {
                  val l = java.nio.file.Files.readAllLines(plain).toArray(Array.empty[String]).toSeq
                  lastEmittedOffset.put(i, n)
                  l
                } else if (java.nio.file.Files.exists(compact)) {
                  val l = java.nio.file.Files.readAllLines(compact).toArray(Array.empty[String]).toSeq
                    .filter(_.contains(s""""batchId":$n"""))
                  lastEmittedOffset.put(i, n)
                  l
                } else Seq.empty
              // the captured group is still JSON-escaped source text; decode
              // it before emit (jstr re-escapes) or backslashes double up
              lines.flatMap(l => pathField.findFirstMatchIn(l).map(m => unescapeJson(m.group(1))))
            }
          } catch { case scala.util.control.NonFatal(_) => Seq.empty }
        }
      }

    /** Minimal JSON string unescape for the metadata-log path field. */
    private def unescapeJson(s: String): String = {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'u' if i + 6 <= s.length =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case other => sb.append(other); i += 2 // covers \" \\ \/
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
  }
}
