package perfbench

import graft.SparkEntry
import graft.cli.Maw
import graft.operators.{Concat, CsvByteConcat, JsonByteConcat, ParquetByteConcat}
import graft.schema.SchemaUnifier
import graft.sinks.Sink
import graft.sources.Discovery
import graft.streaming.StreamingConcat
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: build the session, warm up untimed, then
  * repeat the workload closed-loop (one client; the next operation starts
  * when the previous one returns) for `--seconds`, and at least `minReps`
  * times. With
  * `--trace 1` the spans and the census are on for that window. Every
  * operation's record goes to `<out>/result.json`; the outputs it wrote stay
  * under `<out>` for the checks run after the JVM exits.
  *
  * Usage: Harness --workload W --in DIR --out DIR --seconds S --trace 0|1
  *        --launch-ms EPOCH_MS
  */
object Harness {
  final class Op(val id: Int, val kind: String, val name: String,
      val phase: String, val rep: Int) {
    var wallS = 0.0
    var ok = true
    var error = ""
    var gcS = 0.0
    val extra = mutable.LinkedHashMap.empty[String, Any]
    def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "name" -> name,
      "phase" -> phase, "rep" -> rep, "wall_s" -> wallS, "ok" -> ok,
      "error" -> error, "jvm_gc_s" -> gcS) ++ extra
  }

  /** A workload: one repetition per call; false when its inputs ran out. */
  trait Workload {
    def rep(phase: String, r: Int): Boolean
    /** Untimed set-up work before the measured window. */
    def warmup(): Unit
    def warmupReps(n: Int): Unit = (0 until n).foreach(rep("warmup", _))
    /** The window runs at least this many repetitions, even past `--seconds`. */
    def minReps: Int
  }

  private val ops = ArrayBuffer.empty[Op]
  private var trace: Trace = _

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Time `body` as one operation; a throw marks it failed, never skipped. */
  def op(kind: String, name: String, phase: String, r: Int)(body: Op => Unit): Op = {
    val o = new Op(ops.size, kind, name, phase, r)
    ops += o
    trace.op = o.id
    val g0 = gcSeconds
    val t0 = System.nanoTime()
    try trace.span(s"op.$kind")(body(o)) catch {
      case e: Throwable =>
        o.ok = false
        o.error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    o.wallS = (System.nanoTime() - t0) / 1e9
    o.gcS = gcSeconds - g0
    o
  }

  /** The Sink.Config the CLI builds from its arguments. */
  private def sinkConfig(a: Maw.Args, fmt: Discovery.Format): Sink.Config =
    Sink.Config(a.output, fmt, a.compression, a.zstdLevel, a.naOut, a.delimiter,
      a.rollByRows, a.rollByBytes,
      writerBufferBytes = (a.writerBufferMb.toLong.max(1L).min(1024L) * 1024 * 1024).toInt,
      partitionBy = a.partitionBy, clusterBy = a.clusterBy,
      bloomFilterCols = a.bloomFilterCols, zorderBy = a.zorderBy)

  /** The reference's batch job: four legs through `Concat.convert`, each
    * configured as the CLI configures `maw <in> -o <out>`.
    */
  final class Convert(spark: SparkSession, in: String, out: String) extends Workload {
    def warmup(): Unit = warmupReps(1)
    def minReps: Int = 2
    private val legs = Seq(("csv_to_csv", "csv", "csv"), ("csv_to_parquet", "csv", "parquet"),
      ("parquet_to_parquet", "parquet", "parquet"), ("drift_to_parquet", "drift", "parquet"))

    def rep(phase: String, r: Int): Boolean = {
      legs.foreach { case (leg, src, ext) =>
        val output = s"$out/$phase-$r/$leg.$ext"
        val a = Maw.parse(Seq(s"$in/$src", "-o", output))
        val fmt = Discovery.outputFormat(a.output, a.outFormat)
        val cfg = Maw.toConfig(a).copy(rawPassThrough = fmt == Discovery.Csv)
        val sink = sinkConfig(a, fmt)
        op("leg", leg, phase, r) { o =>
          o.extra("output") = output
          if (!trace.on) Concat.convert(spark, cfg, sink)
          else {
            // Concat.convert's own composition, one span per layer call
            val files = trace.span("sources.discover")(Discovery.discover(cfg.inputs, cfg.discovery))
            require(files.nonEmpty, s"no inputs found in ${cfg.inputs.mkString(", ")}")
            val bytes = trace.span("operators.byte_path")(
              CsvByteConcat.tryRun(spark, files, cfg, sink)
                .orElse(ParquetByteConcat.tryRun(spark, files, cfg, sink))
                .orElse(JsonByteConcat.tryRun(spark, files, cfg, sink)))
            o.extra("byte_path") = bytes.isDefined
            if (bytes.isEmpty) {
              val df = trace.span("operators.concat_plan")(Concat.planFor(spark, cfg, files))
              trace.span("sinks.write")(Sink.write(df, sink))
              // planFor probes and unifies inside its span; these side calls
              // time those two layers apart, on the legs where they ran
              trace.side {
                o.extra("files_probed") = files.size
                val schemas = trace.span("sources.schema_probe")(
                  Concat.fileSchemas(spark, files, cfg.csv))
                trace.span("schema.unify")(SchemaUnifier.unify(
                  schemas, cfg.stringifyConflicts, cfg.renames, cfg.include, cfg.exclude))
              }
            }
          }
        }
      }
      true
    }
  }

  /** The CLI's resumable `--stream --state` mode: each wave lands one CSV
    * and one parquet file by atomic rename, then `StreamingConcat.run`
    * drains it (`Trigger.AvailableNow`) into one checkpointed parquet sink.
    */
  final class StreamIngest(spark: SparkSession, in: String, out: String) extends Workload {
    // the first waves after a cold start are still warming up the JIT
    def warmup(): Unit = warmupReps(3)
    // measured waves start at batch 3; batch 9 is the first compaction of
    // the file source and file sink logs, so the window always holds one
    def minReps: Int = 7
    private val pending = Paths.get(in, "pending")
    private val watch = Seq("csv", "parquet").map(k => k -> Paths.get(out, "watch", k)).toMap
    watch.values.foreach(Files.createDirectories(_))
    private val sinkDir = s"$out/sink.parquet"
    private val state = s"$out/state"
    private val a = Maw.parse(Seq(watch("csv").toString, watch("parquet").toString,
      "-o", sinkDir, "--stream", "--state", state,
      // CSV carries the timestamp as text, parquet as a timestamp
      "--stringify-conflicts"))
    private val fmt = Discovery.outputFormat(a.output, a.outFormat)
    private val cfg = Maw.toConfig(a)
    private var wave = 0

    private def lastCommit: Long = Option(new java.io.File(state, "commits").list())
      .map(_.filter(_.forall(_.isDigit)).map(_.toLong)).filter(_.nonEmpty).map(_.max).getOrElse(-1L)

    def rep(phase: String, r: Int): Boolean = {
      val name = f"wave-$wave%04d"
      val files = Seq("csv", "parquet").map(k => (pending.resolve(s"$name.$k"), watch(k).resolve(s"$name.$k")))
      if (!files.forall(f => Files.exists(f._1))) return false
      op("wave", name, phase, r) { o =>
        o.extra("wave") = wave
        files.foreach { case (from, to) => Files.move(from, to, StandardCopyOption.ATOMIC_MOVE) }
        trace.span("streaming.run")(StreamingConcat.run(spark, cfg, a.output, fmt, state,
          partitionBy = a.partitionBy, rollByRows = a.rollByRows))
        trace.side {
          trace.span("streaming.plan")(StreamingConcat.planStream(spark, cfg))
          var probed = 0
          cfg.inputs.foreach { input =>
            val found = trace.span("sources.discover")(Discovery.discover(Seq(input)))
            probed += found.size
            val schemas = trace.span("sources.schema_probe")(Concat.fileSchemas(spark, found, cfg.csv))
            trace.span("schema.unify")(SchemaUnifier.unify(schemas, cfg.stringifyConflicts))
          }
          o.extra("files_probed") = probed
        }
      }.extra("batch") = lastCommit
      wave += 1
      true
    }
  }

  /** Named graft queries, each timed as construction (`fn(spark, dir)`, where
    * these queries do their eager work) plus the action: writing the result
    * as parquet, which the oracle comparison then reads. A `noop` write
    * followed by an untimed parquet write would run every plan twice, and
    * the run has no time to spare for that.
    *
    * The warm-up is one read of the documents table, not a pass: a pass takes
    * ~45 s cold, and two passes do not fit the time a run may take. The
    * measured pass is therefore each query's first run in the JVM, which is
    * also what a one-shot job of that query pays.
    */
  final class Curate(spark: SparkSession, in: String, out: String) extends Workload {
    // st13_streaming_ingest_dedup is left out: alone it took 20 to 47 s of a
    // 66 to 129 s pass, which brought a run near the 180 s it may take
    val names = Seq("st20_streaming_url_dedup", "st21_streaming_bm25",
      "st22_streaming_phrase", "st23_streaming_closure", "st24_streaming_perceptual",
      "d03_minhash_pairs", "d09_dedup_clusters", "d12_best_survivors",
      "d25_cluster_quota", "t34_upweighted_mixture")
    private val dir = s"$in/sf"

    def warmup(): Unit = spark.read.parquet(s"$dir/documents.parquet").count()
    def minReps: Int = 1

    def rep(phase: String, r: Int): Boolean = {
      names.foreach { n =>
        op("query", n, phase, r) { o =>
          val output = s"$out/check/$phase-$r/$n"
          o.extra("output") = output
          val t0 = System.nanoTime()
          val df = trace.span(s"queries.$n.construct")(SparkEntry.queries(n)(spark, dir))
          val t1 = System.nanoTime()
          trace.span(s"queries.$n.action")(df.write.mode("overwrite").parquet(output))
          o.extra("construct_s") = (t1 - t0) / 1e9
          o.extra("action_s") = (System.nanoTime() - t1) / 1e9
        }
      }
      true
    }
  }

  /** Live heap after a full collection, summed over the heap pools. The
    * second collection follows a pause in which Spark's ContextCleaner
    * releases the shuffles and broadcasts the first one found unreachable,
    * so the figure does not depend on how far that cleanup had got. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def session(out: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = args("out")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    sys.props("graft.bench.skipOrder") = "1" // measure operators, not the determinism sort
    val spark = session(out)
    trace = new Trace(spark)
    val wl = args("workload") match {
      case "convert"       => new Convert(spark, args("in"), out)
      case "stream_ingest" => new StreamIngest(spark, args("in"), out)
      case "curate"        => new Curate(spark, args("in"), out)
    }
    wl match {
      case c: Curate => Files.writeString(Paths.get(out, "oracle_sql.json"),
        Json.write(c.names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
      case _ =>
    }
    val heapMb = ArrayBuffer.empty[Double]
    wl.warmup()
    val setupS = (System.currentTimeMillis() - args("launch-ms").toLong) / 1e3
    heapMb += liveHeapMb()
    if (traced) trace.start()
    val t0 = System.nanoTime()
    var r = 0
    var more = true
    var lastHeap = t0
    while (more && (r < wl.minReps || System.nanoTime() - t0 < seconds * 1e9)) {
      val first = ops.size
      more = wl.rep("measure", r)
      if (!trace.drain())
        ops.drop(first).foreach { o => o.ok = false; o.error = "census drain timed out" }
      // a sample costs two full collections and a 0.3 s pause, so short
      // repetitions are sampled at most once per ~10 s
      if (System.nanoTime() - lastHeap > 10e9) { heapMb += liveHeapMb(); lastHeap = System.nanoTime() }
      r += 1
    }
    heapMb += liveHeapMb()
    if (traced) trace.stop()
    val result = Map(
      "workload" -> args("workload"), "setup_s" -> setupS,
      "ops" -> ops.map(_.toMap).toSeq, "heap_mb" -> heapMb.toSeq) ++
      trace.records
    Files.writeString(Paths.get(out, "result.json"), Json.write(result))
    spark.stop()
    sys.exit(0) // a pool thread the queries left behind must not keep the JVM alive
  }
}
