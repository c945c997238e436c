package graft.cli

import graft.operators.Concat
import graft.sinks.Sink
import graft.sources.{CsvSource, Discovery}
import org.apache.spark.sql.SparkSession

/** Thin CLI over the library, mirroring the reference's flag surface
  * (`/root/reference/src/cli.rs:11-150`) and entry-point behavior
  * (`main.rs:62-83`): `--plan` discovers and prints the file plan (no Spark
  * session) and exits; `--dry-run` builds and validates the full Catalyst
  * plan but skips the write.
  */
object Maw {

  /** Scheduler-bus byte totals for the batch path — the cluster-honest
    * source of throughput numbers (per-task input/output metrics, summed).
    */
  final class BytesListener extends org.apache.spark.scheduler.SparkListener {
    val read = new java.util.concurrent.atomic.AtomicLong
    val written = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) {
        read.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
        written.addAndGet(t.taskMetrics.outputMetrics.bytesWritten)
      }
  }

  final case class Args(
      inputs: Vector[String] = Vector.empty,
      output: String = "output", // default path, pipeline.rs:50
      outFormat: Option[String] = None,
      columns: Option[Seq[String]] = None,
      exclude: Seq[String] = Nil,
      renames: Map[String, String] = Map.empty,
      stringifyConflicts: Boolean = false,
      noHeaders: Boolean = false,
      delimiter: String = ",",
      quote: String = "\"",
      encoding: String = "UTF-8",
      naValues: Seq[String] = Seq("NA", "null", "\\N"),
      inferRows: Int = 1000,
      compression: String = "zstd",
      zstdLevel: Int = 3,         // cli.rs:84-86 (1-19, default 3)
      naOut: String = "",
      rollByBytes: Option[Long] = None,
      rollByRows: Option[Long] = None,
      partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      bloomFilterCols: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil,
      plan: Boolean = false,
      dryRun: Boolean = false,
      compact: Boolean = false,
      indexStatus: Boolean = false,
      sweepIndexes: Boolean = false,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sql: Option[String] = None,
      skipCorrupt: Boolean = false,
      verify: Boolean = false,
      streaming: Boolean = false,
      checkpoint: Option[String] = None,
      concurrency: Int = 4,
      writerBufferMb: Int = 64,   // cli.rs:93-95
      memBudgetMb: Int = 1024,    // cli.rs:97-99
      jsonLogs: Boolean = false,  // cli.rs:131-149
      noRecursive: Boolean = false,    // cli.rs:102-103
      followSymlinks: Boolean = false, // cli.rs:106-107
      progress: Boolean = true,        // cli.rs:124-128 (--progress default true)
      verbose: Int = 0,
      quiet: Boolean = false)

  def parse(argv: Seq[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil => a
      case "-o" :: v :: t                  => go(t, a.copy(output = v))
      case "--out-format" :: v :: t        => go(t, a.copy(outFormat = Some(v)))
      case "--columns" :: v :: t           => go(t, a.copy(columns = Some(v.split(',').toSeq)))
      case "--exclude" :: v :: t           => go(t, a.copy(exclude = a.exclude ++ v.split(',')))
      case "--rename" :: v :: t =>
        v.split("=", 2) match {
          case Array(from, to) => go(t, a.copy(renames = a.renames + (from -> to)))
          case _ => throw new IllegalArgumentException(
            s"--rename expects old=new, got '$v'")
        }
      case "--stringify-conflicts" :: t    => go(t, a.copy(stringifyConflicts = true))
      // --reorder (cli.rs:58-60): alphabetical order is always applied by
      // unification (schema.rs:101-102), matching the reference's actual
      // from_schemas behavior; the flag is accepted for CLI compatibility
      case "--reorder" :: t                => go(t, a)
      case "--no-headers" :: t             => go(t, a.copy(noHeaders = true))
      // accept the shell-literal "\t" spelling for a tab delimiter
      case "--delimiter" :: v :: t         =>
        go(t, a.copy(delimiter = if (v == "\\t") "\t" else v))
      case "--quote" :: v :: t             => go(t, a.copy(quote = v))
      case "--encoding" :: v :: t          => go(t, a.copy(encoding = v))
      case "--na" :: v :: t                => go(t, a.copy(naOut = v))
      case "--na-values" :: v :: t         => go(t, a.copy(naValues = v.split(',').toSeq))
      case "--infer-rows" :: v :: t        => go(t, a.copy(inferRows = v.toInt))
      case "--compression" :: v :: t       => go(t, a.copy(compression = v))
      case "--zstd-level" :: v :: t        => go(t, a.copy(zstdLevel = v.toInt))
      case "--roll-by-bytes" :: v :: t     => go(t, a.copy(rollByBytes = Some(v.toLong)))
      case "--roll-by-rows" :: v :: t      => go(t, a.copy(rollByRows = Some(v.toLong)))
      // split with limit -1 so trailing empty segments survive to be
      // REJECTED: plain split(',') silently turns "," into an empty list
      // (unpartitioned output) and "a,,b" into an empty column name that
      // only surfaces later as a confusing 'columns not in data:' error
      case "--partition-by" :: v :: t =>
        go(t, a.copy(partitionBy = colList("--partition-by", v)))
      case "--cluster-by" :: v :: t =>
        go(t, a.copy(clusterBy = colList("--cluster-by", v)))
      case "--bloom-filter" :: v :: t =>
        go(t, a.copy(bloomFilterCols = colList("--bloom-filter", v)))
      case "--zorder-by" :: v :: t =>
        go(t, a.copy(zorderBy = colList("--zorder-by", v)))
      case "--plan" :: t                   => go(t, a.copy(plan = true))
      case "--dry-run" :: t                => go(t, a.copy(dryRun = true))
      case "--compact" :: t                => go(t, a.copy(compact = true))
      case "--index-status" :: t           => go(t, a.copy(indexStatus = true))
      case "--sweep-indexes" :: t          => go(t, a.copy(sweepIndexes = true))
      case "--sql" :: v :: t               => go(t, a.copy(sql = Some(v)))
      case "--skip-corrupt" :: t           => go(t, a.copy(skipCorrupt = true))
      case "--target-file-size" :: v :: t  =>
        go(t, a.copy(targetFileBytes = parseSize(v)))
      case "--verify" :: t                 => go(t, a.copy(verify = true))
      case "--no-recursive" :: t           => go(t, a.copy(noRecursive = true))
      case "--follow-symlinks" :: t        => go(t, a.copy(followSymlinks = true))
      case "--progress" :: t               => go(t, a.copy(progress = true))
      case "--no-progress" :: t            => go(t, a.copy(progress = false))
      case "--stream" :: t                 => go(t, a.copy(streaming = true))
      case "--state" :: v :: t             => go(t, a.copy(checkpoint = Some(v)))
      case "--resume" :: t                 => go(t, a.copy(streaming = true))
      case "--concurrency" :: v :: t       => go(t, a.copy(concurrency = v.toInt))
      case "--writer-buffer" :: v :: t     => go(t, a.copy(writerBufferMb = v.toInt))
      case "--mem-budget" :: v :: t        => go(t, a.copy(memBudgetMb = v.toInt))
      case "--json-logs" :: t              => go(t, a.copy(jsonLogs = true))
      case "-v" :: t                       => go(t, a.copy(verbose = a.verbose + 1))
      case "-q" :: t                       => go(t, a.copy(quiet = true))
      case ("--help" | "-h") :: _          => println(usage); sys.exit(0)
      case ("--version" | "-V") :: _       => println("graft 0.1.0"); sys.exit(0)
      // a value flag reaching here means its value case above failed to
      // match, i.e. nothing follows it — covers single-dash flags like a
      // trailing '-o', which would otherwise be consumed as an input file
      case flag :: _ if valueFlags(flag) =>
        throw new IllegalArgumentException(s"flag $flag requires a value")
      case flag :: _ if flag.startsWith("--") =>
        throw new IllegalArgumentException(s"unknown flag $flag")
      case in :: t                         => go(t, a.copy(inputs = a.inputs :+ in))
    }
    go(argv.toList, Args())
  }

  private val valueFlags = Set("-o", "--out-format", "--columns", "--exclude",
    "--rename", "--delimiter", "--quote", "--encoding", "--na", "--na-values",
    "--infer-rows", "--compression", "--zstd-level", "--roll-by-bytes",
    "--roll-by-rows", "--partition-by", "--cluster-by", "--bloom-filter",
    "--zorder-by", "--state", "--concurrency",
    "--writer-buffer", "--mem-budget", "--target-file-size", "--sql")

  /** Comma-separated column list; trailing empties survive `split` with
    * limit -1 so "," or "a,,b" are REJECTED instead of silently parsing to
    * an empty list / empty column name.
    */
  private def colList(flag: String, v: String): Seq[String] = {
    val cols = v.split(",", -1).toSeq
    if (cols.isEmpty || cols.exists(_.trim.isEmpty))
      throw new IllegalArgumentException(
        s"$flag expects a comma-separated list of column names, got '$v'")
    cols
  }

  /** Human-friendly size: plain bytes, or a k/m/g suffix (case-insensitive). */
  private[graft] def parseSize(v: String): Long = {
    val s = v.trim.toLowerCase
    val (num, mult) =
      if (s.endsWith("k")) (s.dropRight(1), 1L << 10)
      else if (s.endsWith("m")) (s.dropRight(1), 1L << 20)
      else if (s.endsWith("g")) (s.dropRight(1), 1L << 30)
      else (s, 1L)
    val n = try num.toLong catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"bad size '$v' (use bytes or 128m/1g)") }
    require(n > 0, s"size must be positive: '$v'")
    n * mult
  }

  val usage: String =
    """graft <inputs...> -o out.{csv,parquet,jsonl,orc,xml,avro} [options]
      |Streaming concatenation + format conversion of CSV/Parquet/JSONL/ORC/XML/Avro, on Spark.
      |Gzip-compressed text inputs (.csv.gz/.jsonl.gz/.xml.gz) are read transparently.
      |  --plan --dry-run --columns a,b --exclude c --rename old=new
      |  --stringify-conflicts --no-headers --delimiter , --quote " --encoding UTF-8
      |  --na-values NA,null,\N --na "" --infer-rows 1000 --compression zstd --zstd-level 3
      |  --roll-by-rows N --roll-by-bytes N --partition-by col1,col2
      |  --cluster-by col1,col2 --zorder-by col1,col2 --bloom-filter col1,col2
      |                                        (data-skipping layouts)
      |  --compact [--target-file-size 128m] [--zorder-by cols]
      |                                        (in-place compaction; with --zorder-by the
      |                                         rewrite also re-clusters — OPTIMIZE ZORDER)
      |  --sql "SELECT ... FROM t ..."         (query the unified inputs as table t)
      |  --skip-corrupt                        (drop unreadable inputs/blocks, don't abort)
      |  --stream --state DIR --resume
      |  --index-status                        (list versioned serving-index builds)
      |  --sweep-indexes                       (retention: keep newest 2 committed +
      |                                         in-flight builds per index, sweep the rest)
      |  --no-recursive --follow-symlinks --progress/--no-progress --verify""".stripMargin

  def toConfig(a: Args): Concat.Config = Concat.Config(
    inputs = a.inputs,
    csv = CsvSource.CsvOptions(a.delimiter, a.quote, !a.noHeaders, a.encoding, a.naValues, a.inferRows),
    stringifyConflicts = a.stringifyConflicts,
    renames = a.renames,
    include = a.columns,
    exclude = a.exclude,
    skipCorrupt = a.skipCorrupt,
    discovery = Discovery.Options(
      recursive = !a.noRecursive, followSymlinks = a.followSymlinks))

  /** S2 integrity verify (cli.rs:118-120, crc64 intent in Cargo.toml:60;
    * unimplemented in the reference): row count AND an order-insensitive row
    * checksum, so count-preserving corruption is caught too. Returns
    * (rows, checksum); throws IllegalStateException on any mismatch.
    */
  def verifyOutput(spark: SparkSession, cfg: Concat.Config, output: String,
      fmt: Discovery.Format, naOut: String,
      outDelimiter: String = ",",
      partitionCols: Seq[String] = Nil,
      sinkCfg: Option[Sink.Config] = None,
      sql: Option[String] = None): (Long, java.math.BigDecimal) = {
    // jsonl->jsonl rides the byte fast path, whose contract is fidelity to
    // the SOURCE BYTES — stronger than the typed plan, which is bounded by
    // the --infer-rows sample (a type drifting past the sample nulls in the
    // typed plan but survives in the byte output). Verify against the same
    // full-inference read the output gets, so a correct byte copy can't
    // false-fail; every other route verifies against the typed plan. The
    // REAL sink config decides (rolling flags etc. turn the byte path off).
    // discover ONCE (recursive listings are the cost discovery exists to
    // bound); only the jsonl byte-path gate needs the file list here
    val jsonlFiles: Option[Seq[Discovery.InputFile]] =
      if (sql.isEmpty && fmt == Discovery.Jsonl)
        Some(Discovery.discover(cfg.inputs, cfg.discovery))
      else None
    val bytePathRun = jsonlFiles.exists(graft.operators.JsonByteConcat.applies(cfg,
      sinkCfg.getOrElse(Sink.Config(output, fmt)), _))
    val planned0 =
      if (bytePathRun)
        spark.read.json(jsonlFiles.get.map(_.path): _*)
      else sql match {
        case Some(q) =>
          Concat.run(spark, cfg).createOrReplaceTempView("t"); spark.sql(q)
        case None => Concat.run(spark, cfg)
      }
    // hive layout folds null AND "" partition values into the same
    // __HIVE_DEFAULT_PARTITION__ directory, so the read-back yields null
    // for both; fold the planned side identically (string partition cols
    // only — numeric ones round-trip via their decimal rendering) so the
    // checksum compares what the layout can actually represent
    val planned = partitionCols.foldLeft(planned0) { (df, c) =>
      if (df.columns.contains(c) &&
          df.schema(c).dataType == org.apache.spark.sql.types.StringType)
        df.withColumn(c, org.apache.spark.sql.functions.nullif(
          org.apache.spark.sql.functions.col(c),
          org.apache.spark.sql.functions.lit("")))
      else df
    }
    val written = Sink.readBack(spark, output, fmt, outDelimiter)
    val expected = planned.count()
    val actual = written.count()
    if (expected != actual)
      throw new IllegalStateException(s"verify failed: wrote $actual rows, expected $expected")
    // CSV/JSONL can't represent a timestamp's value apart from its
    // rendering; exclude ts columns there (still checksummed through
    // parquet). JSONL additionally re-types DECIMAL (written "1.50", read
    // back as double 1.5) and BINARY (string-cast bytes vs base64) through
    // the read-back's inference — exclude those too, or a correct write
    // false-fails on the rendering difference.
    import org.apache.spark.sql.types.{BinaryType, DecimalType, TimestampNTZType, TimestampType}
    val skip = if (fmt == Discovery.Csv || fmt == Discovery.Jsonl)
      planned.schema.fields.filter(f =>
        f.dataType == TimestampType || f.dataType == TimestampNTZType ||
          (fmt == Discovery.Jsonl &&
            (f.dataType.isInstanceOf[DecimalType] || f.dataType == BinaryType)))
        .map(_.name).toSeq
    else Seq.empty[String]
    val nullRep = if (fmt == Discovery.Csv) Some(naOut) else None
    // name-sorted projection on BOTH sides: the checksum hashes columns in
    // schema order, and a partitioned read-back re-appends the partition
    // columns at the end (concat output is already alphabetical, so this is
    // a no-op for plain file output)
    def sorted(df: org.apache.spark.sql.DataFrame) = df.select(
      df.columns.sorted.map(n => org.apache.spark.sql.functions.col(
        graft.schema.SchemaUnifier.quoted(n))).toIndexedSeq: _*)
    val cs1 = Sink.rowChecksum(sorted(planned.drop(skip: _*)), nullRep)
    val cs2 = Sink.rowChecksum(sorted(written.drop(skip: _*)), nullRep)
    if (cs1 != cs2)
      throw new IllegalStateException(
        s"verify failed: row checksum mismatch (plan $cs1, written $cs2)")
    (actual, cs2)
  }

  def main(argv: Array[String]): Unit = {
    // parse failures honor the same error contract as pipeline failures
    // (main.rs:55-58): message + exit 1, never a raw stack trace
    val a = try parse(argv.toIndexedSeq) catch {
      case e: Exception =>
        System.err.println(s"error: ${e.getMessage}"); sys.exit(1)
    }
    if (a.inputs.isEmpty && !a.indexStatus && !a.sweepIndexes) {
      System.err.println("error: no inputs"); sys.exit(1)
    }
    if (a.plan) {
      // plan mode: discover (no Spark session needed) and print the file
      // plan BEFORE building the pipeline (main.rs:65-71) — a bad input
      // path fails here, not on the real run
      val files = Discovery.discover(a.inputs,
        Discovery.Options(recursive = !a.noRecursive, followSymlinks = a.followSymlinks))
      if (files.isEmpty) { System.err.println("error: no inputs found"); sys.exit(1) }
      println(s"Would process ${files.size} file(s) -> ${a.output}:")
      files.foreach(f => println(s"  ${f.path} [${f.format}]"))
      return
    }
    val logLevel = if (a.quiet) "ERROR" else if (a.verbose > 0) "INFO" else "WARN"
    val spark = graft.util.Session(sys.env.getOrElse("SPARK_MASTER", s"local[${a.concurrency}]"),
      32, logLevel, "spark.app.name" -> "graft",
      // P1 knobs (cli.rs:88-99): the mem budget, divided across concurrent
      // tasks, bounds per-task input splits (the closest cluster-meaningful
      // analog of maw's streaming budget); --writer-buffer sizes the byte
      // paths' output buffers via Sink.Config below
      "spark.sql.files.maxPartitionBytes" ->
        (math.max(16L, a.memBudgetMb.toLong / math.max(1, a.concurrency)) * 1024 * 1024).toString)
    try execute(spark, a)
    catch {
      case e: Exception =>
        System.err.println(s"error: ${e.getMessage}")
        spark.stop()
        sys.exit(1) // main.rs:55-58
    }
    spark.stop()
  }

  /** Everything after session construction — separable so tests can drive
    * the full CLI behavior on a shared session (main owns stop/exit).
    */
  private def jstr(s: Any): String = graft.util.Json.str(s)

  private[graft] def execute(spark: SparkSession, a: Args): Unit = {
    // plan mode (M2): discover and print the file plan, write NOTHING.
    // main() short-circuits --plan before even building a session (a bad
    // input path must fail without paying session startup); execute
    // mirrors the verb so programmatic callers with an existing session
    // get the same no-write contract (driver-checked by p25)
    if (a.plan) {
      val files = Discovery.discover(a.inputs,
        Discovery.Options(recursive = !a.noRecursive, followSymlinks = a.followSymlinks))
      require(files.nonEmpty, "no inputs found")
      if (!a.quiet) {
        println(s"Would process ${files.size} file(s) -> ${a.output}:")
        files.foreach(f => println(s"  ${f.path} [${f.format}]"))
      }
      return
    }
    // serving-index maintenance verbs (the VersionedTable ops surface):
    // status lists every versioned build; sweep applies the standard keep
    // rules warehouse-wide (newest 2 committed + in-flight per stem) and
    // deletes the rest — the manual form of the retention each build runs
    if (a.indexStatus || a.sweepIndexes) {
      if (a.indexStatus) {
        val fam = graft.util.VersionedTable.status(spark)
        // human-only notice: under --json-logs every stdout line must be
        // an event — an empty warehouse just emits zero index events
        if (fam.isEmpty && !a.quiet && !a.jsonLogs)
          println("no versioned index builds")
        val now = System.currentTimeMillis()
        for ((stem, vs) <- fam.toSeq.sortBy(_._1); v <- vs) {
          val age = (now - v.modifiedMs) / 1000
          if (a.jsonLogs)
            println(s"""{"event":"index","stem":${jstr(stem)},"name":${jstr(v.name)},""" +
              s""""version":${v.n},"committed":${v.committed},"age_sec":$age,""" +
              s""""leased":${v.leasedAt(now)}}""")
          else println(f"$stem%-40s v${v.n}%-4d " +
            (if (v.committed) "committed  " else "UNCOMMITTED") +
            f" ${if (v.leasedAt(now)) "LEASED" else ""}%-7s" +
            f"age=${age}s  ${v.name}")
        }
        // marker-gated INGEST CHAINS (the `_b<N>` version trios streaming
        // index maintenance writes — st21's layout, not VersionedTable
        // builds): surface them so a chain's boundedness is operator-
        // visible from the same verb (round-18 verdict #4). Every
        // `<stem>_b<N>_segs` manifest is one chain version; its row count
        // is the version's segment count.
        val chain = "^(.+)_b([0-9]+)_segs$".r
        val chains = graft.util.TableRetention.tableNames(spark, "")
          .collect { case chain(stem, n) => (stem, n.toLong) }.sorted
        for ((stem, n) <- chains) {
          val nSegs = spark.table(s"${stem}_b${n}_segs").count()
          if (a.jsonLogs)
            println(s"""{"event":"ingest_chain","stem":${jstr(stem)},""" +
              s""""version":$n,"segments":$nSegs}""")
          else println(f"$stem%-40s b$n%-4d segments=$nSegs (ingest chain)")
        }
      }
      if (a.sweepIndexes) {
        val swept = graft.util.VersionedTable.sweepStale(spark)
        if (a.jsonLogs)
          println(s"""{"event":"sweep_indexes","swept":${swept.size}}""")
        else if (!a.quiet) {
          println(s"swept ${swept.size} stale index artifact(s)")
          swept.foreach(s => println(s"  $s"))
        }
      }
      return
    }
    if (a.compact) {
      // in-place maintenance verb: each INPUT is a directory tree rewritten
      // into ~target-file-size files (hive partitioning preserved); -o is
      // not consulted. Format comes from the tree itself unless forced.
      require(a.inputs.nonEmpty, "no inputs")
      a.inputs.foreach { dir =>
        val fmt =
          if (a.outFormat.isDefined) Discovery.outputFormat("_", a.outFormat)
          else graft.operators.Compact.detectTreeFormat(spark, dir)
        // --verify: order-insensitive checksum over the tree BEFORE the
        // rewrite, re-checked against the STAGING tree BEFORE the
        // destructive swap (Compact's preSwapCheck hook) — count-preserving
        // corruption aborts with the original tree intact, never after it
        // is already deleted. Text formats can't represent timestamps apart
        // from their rendering, but a compaction re-reads and re-writes
        // with the SAME options, so the plain string-cast checksum is
        // stable here.
        def checksum(path: String): java.math.BigDecimal = {
          val df = Sink.readBack(spark, path, fmt, a.delimiter)
          Sink.rowChecksum(df.select(df.columns.sorted.map(
            c => org.apache.spark.sql.functions.col(
              graft.schema.SchemaUnifier.quoted(c))).toIndexedSeq: _*), None)
        }
        // relative (path, size) listing of a tree — the cheap swap witness
        def listing(path: String): Set[(String, Long)] =
          graft.operators.Compact.relativeListing(
            spark.sparkContext.hadoopConfiguration, path)
        val pre = if (a.verify) Some(checksum(dir)) else None
        var stagingListing: Option[Set[(String, Long)]] = None
        val st = graft.operators.Compact.run(spark, dir, fmt,
          targetFileBytes = a.targetFileBytes, compression = a.compression,
          delimiter = a.delimiter, zorderBy = a.zorderBy,
          preSwapCheck = staging => pre.foreach { cs1 =>
            val cs2 = checksum(staging)
            if (cs1 != cs2) throw new IllegalStateException(
              s"checksum mismatch in the rewritten tree: $cs1 -> $cs2")
            stagingListing = Some(listing(staging))
          })
        // AFTER the swap, prove the promote delivered the verified staging
        // to the contract path. The swap is two directory renames of
        // already-checksummed inodes, so comparing (path, size) listings is
        // the honest witness at listing cost; only a MISMATCH (stale files,
        // partial rename on a non-atomic FS) pays a third full checksum to
        // adjudicate content.
        pre.foreach { cs1 =>
          val promoted = listing(dir)
          if (stagingListing.exists(_ != promoted)) {
            val cs3 = checksum(dir)
            if (cs1 != cs3) throw new IllegalStateException(
              s"verify failed after compaction of $dir: checksum $cs1 -> $cs3 " +
                "(staging verified clean — the promote itself corrupted the tree)")
          }
          if (!a.quiet) println(s"verify ok: ${st.rows} rows, checksum $cs1")
        }
        if (!a.quiet) {
          if (a.jsonLogs)
            println(s"""{"event":"compact","dir":${jstr(dir)},"files_before":${st.filesBefore},""" +
              s""""files_after":${st.filesAfter},"bytes_before":${st.bytesBefore},""" +
              s""""bytes_after":${st.bytesAfter},"rows":${st.rows}}""")
          else println(s"compacted $dir: ${st.filesBefore} -> ${st.filesAfter} files, " +
            s"${st.bytesBefore} -> ${st.bytesAfter} bytes, ${st.rows} rows" +
            (if (st.partitionColumns.nonEmpty)
              s" (partitioned by ${st.partitionColumns.mkString(",")})" else ""))
        }
      }
      return
    }
    if (a.jsonLogs && !a.quiet)
      println(s"""{"event":"start","inputs":${a.inputs.size},"output":${jstr(a.output)}}""")
    val fmt = Discovery.outputFormat(a.output, a.outFormat)
      // CSV in -> CSV out skips typed parse + re-render per cell (pure
      // streaming concatenation); any parquet involvement — or a SQL
      // transform — keeps real types
      val cfg = toConfig(a).copy(rawPassThrough = fmt == Discovery.Csv && a.sql.isEmpty)
      // `--sql`: the unified concat of all inputs is registered as table
      // `t` and the query's RESULT is what gets written/verified — the
      // whole relational surface (joins against t, window functions,
      // grouping sets, ...) from the command line in one flag
      def applySql(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        a.sql match {
          case Some(q) => df.createOrReplaceTempView("t"); spark.sql(q)
          case None    => df
        }
      if (a.dryRun) {
        val (files, df0) = Concat.plan(spark, cfg)
        val df = applySql(df0)
        if (!a.quiet) {
          println(s"Dry run: ${files.size} file(s), unified schema ${df.schema.simpleString}")
          df.explain(true)
        }
        return // before writing (main.rs:73-76)
      }
      if (a.streaming) {
        // scope: --sql is a batch transform (arbitrary SQL over a stream
        // needs watermark/output-mode decisions the flag can't carry)
        require(a.sql.isEmpty, "--sql is not supported with --stream")
        // reject, don't silently drop: a stream that quietly writes an
        // unclustered/unbounded layout a downstream job expects to prune
        // is the failure mode the old --partition-by guard existed for
        require(a.clusterBy.isEmpty && a.zorderBy.isEmpty && a.bloomFilterCols.isEmpty,
          "--cluster-by/--zorder-by/--bloom-filter are not supported with --stream")
        require(a.rollByBytes.isEmpty,
          "--roll-by-bytes is not supported with --stream (use --roll-by-rows)")
        // the stream sink writes with Sink.Config's defaults for these
        val streamSink = Sink.Config(a.output, fmt)
        require(a.naOut == streamSink.naString, "--na is not supported with --stream")
        require(a.compression == streamSink.compression,
          "--compression is not supported with --stream")
        require(a.zstdLevel == streamSink.zstdLevel, "--zstd-level is not supported with --stream")
        // M1 progress (progress.rs:6-197): rows/s + totals per micro-batch,
        // plus per-source-file events under --json-logs (file list read from
        // the checkpoint's exactly-once source metadata log)
        val cp = a.checkpoint.getOrElse(a.output + ".checkpoint")
        // gated on a.progress like the batch path's per-file events:
        // --no-progress keeps start/done lines but drops the per-batch /
        // per-file progress stream in both modes
        val listener =
          if ((a.verbose > 0 || a.jsonLogs) && !a.quiet && a.progress)
            Some(new graft.streaming.StreamingConcat.ProgressListener(
              quiet = a.quiet, jsonLogs = a.jsonLogs, checkpoint = Some(cp)))
          else None
        listener.foreach(spark.streams.addListener)
        try graft.streaming.StreamingConcat.run(spark, toConfig(a), a.output, fmt, cp,
          partitionBy = a.partitionBy, rollByRows = a.rollByRows)
        finally listener.foreach { l => l.awaitDrained(); spark.streams.removeListener(l) }
      } else {
        // M1 batch progress (progress.rs:6-197 intent): task-level
        // bytes-read/written from the scheduler bus -> MB/s over the run
        val bytes = new BytesListener
        spark.sparkContext.addSparkListener(bytes)
        // live per-task progress bar + ETA (progress.rs:6-197) on an
        // interactive console only — never into redirected output or logs
        val live = if (!a.quiet && a.progress && !a.jsonLogs && System.console() != null)
          Some(new LiveProgress()) else None
        live.foreach(spark.sparkContext.addSparkListener)
        val t0 = System.nanoTime()
        val sinkCfg = Sink.Config(a.output, fmt, a.compression,
          a.zstdLevel, a.naOut, a.delimiter, a.rollByRows, a.rollByBytes,
          writerBufferBytes = // clamp to [1 MB, 1 GB] (Int-safe)
            (a.writerBufferMb.toLong.max(1L).min(1024L) * 1024 * 1024).toInt,
          partitionBy = a.partitionBy,
          clusterBy = a.clusterBy, bloomFilterCols = a.bloomFilterCols,
          zorderBy = a.zorderBy)
        val metrics =
          try a.sql match {
            case Some(_) => Sink.write(applySql(Concat.plan(spark, cfg)._2), sinkCfg)
            case None    => Concat.convert(spark, cfg, sinkCfg)
          }
          finally {
            live.foreach { l => l.finish(); spark.sparkContext.removeSparkListener(l) }
            // the byte totals are read below, after the run; on a shared
            // session an unremoved listener would accumulate forever
            spark.sparkContext.removeSparkListener(bytes)
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // per-file completion events (progress.rs:6-197 renders live
        // per-file bars; batch Spark reports each file's rows/bytes/elapsed
        // post-hoc from the byte-path task results)
        if (a.jsonLogs && !a.quiet && a.progress) metrics.get("files").foreach {
          case fs: Seq[_] => fs.foreach {
            case f: Map[_, _] =>
              val m = f.asInstanceOf[Map[String, Any]]
              println(f"""{"event":"file","path":${jstr(m("path"))}%s,"rows":${m("rows")}%s,"bytes":${m("bytes")}%s,"elapsed_sec":${m("elapsed_sec").toString.toDouble}%.3f}""")
            case _ =>
          }
          case _ =>
        }
        if (!a.quiet && a.progress) {
          val rows = metrics.getOrElse("rows_written", "?")
          // byte fast paths stream outside Spark's task metrics, so they
          // report their own bytes; the listener covers the typed path
          val mbRead = metrics.get("bytes_read")
            .map(_.toString.toDouble / 1e6)
            .getOrElse(bytes.read.get() / 1e6)
          val mbWritten = metrics.get("bytes_written")
            .map(_.toString.toDouble / 1e6)
            .getOrElse(bytes.written.get() / 1e6)
          val mbps = if (sec > 0) mbRead / sec else 0.0
          if (a.jsonLogs)
            println(f"""{"event":"progress","rows_written":$rows%s,"mb_read":$mbRead%.1f,"mb_written":$mbWritten%.1f,"elapsed_sec":$sec%.2f,"mb_per_sec":$mbps%.1f}""")
          else println(f"wrote $rows%s rows -> ${a.output}%s (${mbps}%.1f MB/s)")
        }
        if (a.verify) {
          val (actual, cs) = verifyOutput(spark, cfg, a.output, fmt, a.naOut, a.delimiter,
            partitionCols = a.partitionBy, sinkCfg = Some(sinkCfg), sql = a.sql)
          if (!a.quiet) println(s"verify ok: $actual rows, checksum $cs")
        }
      }
    if (a.jsonLogs && !a.quiet) println(s"""{"event":"done","output":${jstr(a.output)}}""")
  }
}
