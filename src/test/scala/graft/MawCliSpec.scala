package graft

import graft.cli.Maw
import graft.sources.{CsvSource, Discovery}
import graft.operators.Concat
import graft.sinks.Sink
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class MawCliSpec extends SparkSpec {

  test("flag parsing mirrors cli.rs surface") {
    val a = Maw.parse(Seq(
      "in1.csv", "in2.parquet", "-o", "out.parquet", "--out-format", "parquet",
      "--columns", "a,b", "--exclude", "c", "--rename", "x=y",
      "--stringify-conflicts", "--no-headers", "--delimiter", ";", "--quote", "'",
      "--encoding", "ISO-8859-1", "--na-values", "NA,n/a", "--na", "\\N",
      "--infer-rows", "500", "--compression", "gzip", "--roll-by-rows", "1000",
      "--roll-by-bytes", "1048576", "--verify", "--stream", "--state", "/tmp/ck",
      "--concurrency", "8", "--writer-buffer", "32", "--mem-budget", "512",
      "--json-logs", "-v", "-v", "-q"))
    assert(a.inputs == Vector("in1.csv", "in2.parquet"))
    assert(a.output == "out.parquet" && a.outFormat.contains("parquet"))
    assert(a.columns.contains(Seq("a", "b")) && a.exclude == Seq("c"))
    assert(a.renames == Map("x" -> "y"))
    assert(a.stringifyConflicts && a.noHeaders && a.verify && a.streaming)
    assert(a.delimiter == ";" && a.quote == "'" && a.encoding == "ISO-8859-1")
    assert(a.naValues == Seq("NA", "n/a") && a.naOut == "\\N")
    assert(a.inferRows == 500 && a.compression == "gzip")
    assert(a.rollByRows.contains(1000L) && a.rollByBytes.contains(1048576L))
    assert(a.checkpoint.contains("/tmp/ck") && a.concurrency == 8)
    assert(a.writerBufferMb == 32 && a.memBudgetMb == 512)
    assert(a.jsonLogs && a.verbose == 2 && a.quiet)
  }

  test("trailing value flag errors instead of being consumed as an input") {
    // '-o' is single-dash, so the '--'-only guard used to let it fall
    // through to the input catch-all and output silently defaulted
    val e = intercept[IllegalArgumentException](Maw.parse(Seq("in.csv", "-o")))
    assert(e.getMessage.contains("-o") && e.getMessage.contains("requires a value"))
    val e2 = intercept[IllegalArgumentException](Maw.parse(Seq("in.csv", "--columns")))
    assert(e2.getMessage.contains("--columns") && e2.getMessage.contains("requires a value"))
  }

  test("--index-status lists versioned builds; --sweep-indexes retires litter only") {
    import graft.util.VersionedTable
    graft.util.TableRetention.sweep(spark, "mawidx_", Set.empty)
    import spark.implicits._
    val v1 = VersionedTable.ensure(spark, "mawidx_", "mawidx_tbl_k1",
      name => Seq((1L, "a")).toDF("id", "v").write.saveAsTable(name))
    // litter: an aged uncommitted build (sweepable) + a fresh in-flight one
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/").stripPrefix("file:")
    val crashed = new java.io.File(wh, "mawidx_tbl_k1__v40_0ddba11")
    assert(crashed.mkdirs())
    assert(crashed.setLastModified(
      System.currentTimeMillis() - VersionedTable.InFlightGraceMs - 60000))
    val inflight = new java.io.File(wh, "mawidx_tbl_k1__v41_0f11e41")
    assert(inflight.mkdirs())
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos)) {
      Maw.execute(spark, Maw.parse(Seq("--index-status", "--json-logs")))
      Maw.execute(spark, Maw.parse(Seq("--sweep-indexes", "--json-logs")))
    }
    val lines = bos.toString.linesIterator.toList
    val statusLines = lines.filter(_.contains("\"event\":\"index\""))
    assert(statusLines.exists(l => l.contains(v1) && l.contains("\"committed\":true")),
      s"status must list the committed build:\n${lines.mkString("\n")}")
    assert(statusLines.exists(l => l.contains("__v40_") && l.contains("\"committed\":false")))
    // sweep: the aged crash goes, the committed build and in-flight stay
    assert(!crashed.exists(), "aged uncommitted build must sweep")
    assert(inflight.exists(), "fresh in-flight build must survive")
    assert(new java.io.File(wh, v1).exists(), "committed build must survive")
    graft.util.TableRetention.sweep(spark, "mawidx_", Set.empty)
  }

  test("--index-status surfaces marker-gated ingest chains, bounded after sweep") {
    import graft.operators.Bm25Index
    import spark.implicits._
    // wipe prior residue (plain names — the cross-JVM rule)
    val wh0 = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/"))
    val fs = wh0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh0)) fs.listStatus(wh0).foreach { st =>
      if (st.getPath.getName.startsWith("mawchain")) fs.delete(st.getPath, true) }
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("mawchain")).foreach(n =>
        spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    val base = "mawchain"
    var prior: Option[String] = None
    for (b <- 0 until 3) {
      val delta = s"${base}_delta"
      Bm25Index.build(Seq((b.toLong, s"tok$b x")).toDF("doc_id", "text"),
        "doc_id", "text", delta, buckets = 4)
      Bm25Index.appendSegment(spark, prior, delta, s"${base}_b$b")
      prior = Some(s"${base}_b$b")
    }
    def chainEvents(): List[String] = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) {
        Maw.execute(spark, Maw.parse(Seq("--index-status", "--json-logs")))
      }
      bos.toString.linesIterator.toList
        .filter(l => l.contains("\"event\":\"ingest_chain\"") &&
          l.contains(s"\"stem\":\"$base\""))
    }
    val before = chainEvents()
    assert(before.size == 3 && before.exists(l =>
        l.contains("\"version\":2") && l.contains("\"segments\":3")),
      s"expected 3 chain versions (b2 holding 3 segments):\n$before")
    // keep-newest-2 retention: the verb must now show the BOUNDED chain
    Bm25Index.sweepVersions(spark, base, Seq(s"${base}_b1", s"${base}_b2"))
    val after = chainEvents()
    assert(after.size == 2 && after.forall(l =>
        l.contains("\"version\":1") || l.contains("\"version\":2")),
      s"post-sweep chain not bounded to newest 2:\n$after")
  }

  test("--json-logs emits one per-file completion event per input (M1)") {
    val d = tmpDir("jsonlogs")
    val f1 = writeFile(d, "a.csv", "k,v\n1,x\n2,y\n")
    val f2 = writeFile(d, "b.csv", "k,v\n3,z\n")
    val out = d.resolve("out.csv").toString
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos)) {
      Maw.execute(spark, Maw.parse(Seq(f1, f2, "-o", out, "--json-logs")))
    }
    val lines = bos.toString.linesIterator.toList
    val fileEvents = lines.filter(_.contains("\"event\":\"file\""))
    assert(fileEvents.size == 2,
      s"expected 2 per-file events, got:\n${lines.mkString("\n")}")
    assert(fileEvents(0).contains("a.csv") && fileEvents(0).contains("\"rows\":2"))
    assert(fileEvents(1).contains("b.csv") && fileEvents(1).contains("\"rows\":1"))
    assert(fileEvents.forall(l => l.contains("\"bytes\":") && l.contains("\"elapsed_sec\":")))
    assert(lines.exists(_.contains("\"event\":\"progress\"")) &&
      lines.exists(_.contains("\"event\":\"done\"")))
  }

  test("--stream --json-logs emits per-source-file events from the checkpoint log (M1)") {
    import graft.streaming.StreamingConcat
    val d = tmpDir("streamevents")
    val in = d.resolve("in")
    Files.createDirectories(in)
    writeFile(in, "a.csv", "k,v\n1,x\n2,y\n")
    writeFile(in, "b.csv", "k,v\n3,z\n")
    val out = d.resolve("out").toString
    val cp = d.resolve("cp").toString
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // listener-bus threads don't see Console.withOut: capture via emit
    val listener = new StreamingConcat.ProgressListener(
        jsonLogs = true, checkpoint = Some(cp)) {
      override protected def emit(line: String): Unit = lines.add(line)
    }
    spark.streams.addListener(listener)
    try {
      StreamingConcat.run(spark, Concat.Config(Seq(in.toString)), out, Discovery.Csv, cp)
      listener.awaitDrained()
    } finally spark.streams.removeListener(listener)
    val evs = lines.asScala.toList
    val fileEvents = evs.filter(_.contains("\"event\":\"stream_file\""))
    assert(fileEvents.exists(_.contains("a.csv")) && fileEvents.exists(_.contains("b.csv")),
      s"expected stream_file events for both inputs, got:\n${evs.mkString("\n")}")
    assert(evs.exists(_.contains("\"event\":\"stream_batch\"")),
      s"expected a stream_batch event, got:\n${evs.mkString("\n")}")
  }

  test("streaming CSV binds columns by HEADER order, not alphabetically (v,k header)") {
    import graft.streaming.StreamingConcat
    val d = tmpDir("streamorder")
    val in = d.resolve("in")
    Files.createDirectories(in)
    // header order v,k is NOT alphabetical: a positionally-bound sorted
    // schema would feed 'x' into k and null out v. The padded and quoted
    // cells must come back exactly: the stream sink writes RFC 4180 with
    // field whitespace kept, like the batch sink
    writeFile(in, "a.csv", "v,k\nx,1\ny,2\n pad ,3\n\"say \"\"hi\"\"\",4\n")
    val out = d.resolve("out").toString
    StreamingConcat.run(spark, Concat.Config(Seq(in.toString)), out,
      Discovery.Csv, d.resolve("cp").toString)
    val rows = spark.read.option("header", "true").option("escape", "\"")
      .csv(out + "/*.csv")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(rows.toSeq == Seq(("1", "x"), ("2", "y"), ("3", " pad "), ("4", "say \"hi\"")),
      s"mis-bound or re-rendered streaming columns: ${rows.mkString(",")}") // unified order k,v
  }

  test("--stream CSV reads each field as batch does: quoted empty, NA, empty unquoted") {
    import graft.streaming.StreamingConcat
    val d = tmpDir("streamcells")
    val in = d.resolve("in")
    Files.createDirectories(in)
    // `a` also holds a real value, so its inference sample types it string
    writeFile(in, "a.csv", "k,a,b\n1,\"\",x\n2,NA,y\n3,,z\n4,w,q\n")
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("k", "a", "b").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).sortBy(_._1).toSeq
    val batch = rows(Concat.run(spark, Concat.Config(Seq(in.toString))))
    val out = d.resolve("out").toString
    StreamingConcat.run(spark, Concat.Config(Seq(in.toString)), out,
      Discovery.Parquet, d.resolve("cp").toString)
    val stream = rows(spark.read.parquet(out))
    assert(batch == Seq((1L, Some(""), Some("x")), (2L, None, Some("y")),
      (3L, None, Some("z")), (4L, Some("w"), Some("q"))), s"batch cells: $batch")
    assert(stream == batch, s"stream $stream != batch $batch")
  }

  test("a column with no value in the --infer-rows sample keeps its later values, batch as stream") {
    import graft.streaming.StreamingConcat
    val d = tmpDir("streamnullcol")
    val in = d.resolve("in")
    Files.createDirectories(in)
    // the 2-row sample sees only NA and an empty field in `a`
    writeFile(in, "a.csv", "k,a\n1,NA\n2,\n3,x\n4,NA\n5,\"\"\n")
    val cfg = Concat.Config(Seq(in.toString), csv = CsvSource.CsvOptions(inferRows = 2))
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("k", "a").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    val batch = rows(Concat.run(spark, cfg))
    val out = d.resolve("out").toString
    StreamingConcat.run(spark, cfg, out, Discovery.Parquet, d.resolve("cp").toString)
    val stream = rows(spark.read.parquet(out))
    assert(batch == Seq((1L, None), (2L, None), (3L, Some("x")), (4L, None), (5L, Some(""))),
      s"batch cells: $batch")
    assert(stream == batch, s"stream $stream != batch $batch")
  }

  test("--stream refuses --na, --compression and --zstd-level instead of dropping them") {
    for ((flag, value) <- Seq("--na" -> "NULL", "--compression" -> "snappy",
        "--zstd-level" -> "9")) {
      val e = intercept[IllegalArgumentException](Maw.execute(spark, Maw.parse(
        Seq("in.csv", "-o", "out.parquet", "--stream", flag, value, "-q"))))
      assert(e.getMessage.contains(s"$flag is not supported with --stream"), e.getMessage)
    }
  }

  test("LiveProgress renders task-completion bars with ETA from the scheduler bus") {
    import graft.cli.LiveProgress
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val live = new LiveProgress(emit = lines.add(_), throttleMs = 0)
    spark.sparkContext.addSparkListener(live)
    try {
      spark.range(0, 1000, 1, numPartitions = 8).count()
      // listener-bus delivery is async; poll until the task-end renders land
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!lines.asScala.exists(_.startsWith("\r[")) && System.nanoTime() < deadline)
        Thread.sleep(20)
      live.finish()
    } finally spark.sparkContext.removeSparkListener(live)
    val rendered = lines.asScala.toList
    val bars = rendered.filter(_.startsWith("\r["))
    assert(bars.nonEmpty, s"expected bar renders, got: $rendered")
    assert(bars.last.matches("""\r\[[#.]{20}\] \d+/\d+ tasks .*elapsed .*eta .*"""),
      s"unexpected bar format: ${bars.last}")
    assert(rendered.last == "\n") // finish() terminates the line
  }

  test("awaitDrained returns immediately when no query ever started") {
    import graft.streaming.StreamingConcat
    val listener = new StreamingConcat.ProgressListener(jsonLogs = true)
    val t0 = System.nanoTime()
    listener.awaitDrained(timeoutMs = 5000)
    val ms = (System.nanoTime() - t0) / 1e6
    // pre-start failures must not be delayed by the drain timeout
    assert(ms < 500, f"awaitDrained burned $ms%.0f ms with no query started")
  }

  test("output format resolution: flag > extension > csv default (pipeline.rs:64-74)") {
    assert(Discovery.outputFormat("x.csv", Some("parquet")) == Discovery.Parquet)
    assert(Discovery.outputFormat("x.parquet", None) == Discovery.Parquet)
    assert(Discovery.outputFormat("x.unknown", None) == Discovery.Csv)
    assert(Discovery.outputFormat("x", Some("orc")) == Discovery.Orc)
    assert(Discovery.outputFormat("x", Some("avro")) == Discovery.Avro)
    intercept[IllegalArgumentException](Discovery.outputFormat("x", Some("feather")))
  }

  test("latin1 encoding + BOM stripping (csv_in.rs:80-84,158-162)") {
    val d = tmpDir("enc")
    // latin1: 'café' with 0xE9
    val latin1 = d.resolve("latin1.csv")
    Files.write(latin1, "name,v\ncafé,1\n".getBytes(StandardCharsets.ISO_8859_1))
    val df = CsvSource.read(spark, latin1.toString,
      CsvSource.CsvOptions(encoding = "ISO-8859-1"))
    assert(df.collect().head.getString(0) == "café")
    // UTF-8 BOM: header must not keep the BOM bytes
    val bom = d.resolve("bom.csv")
    Files.write(bom, Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "a,b\n1,2\n".getBytes(StandardCharsets.UTF_8))
    val df2 = CsvSource.read(spark, bom.toString)
    assert(df2.columns.toSeq == Seq("a", "b"), s"BOM leaked into ${df2.columns.head}")
  }

  test("roll-by-bytes produces multiple bounded parts (cli.rs:70-77)") {
    val d = tmpDir("rollbytes")
    val content = "k,v\n" + (1 to 2000).map(i => s"$i,value_$i").mkString("\n") + "\n"
    val f = writeFile(d, "in.csv", content)
    val out = d.resolve("out.csv").toString
    val df = Concat.run(spark, Concat.Config(Seq(f))).repartition(1)
    Sink.write(df, Sink.Config(out, Discovery.Csv, rollByBytes = Some(8 * 1024)))
    val parts = Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("out-") && n.endsWith(".csv")).toList
    assert(parts.size >= 2, s"expected multiple parts, got $parts")
  }

  test("stdin input ('-') spools to a temp csv (discover.rs:53-60)") {
    val orig = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream("a,b\n1,2\n3,4\n".getBytes))
      val files = Discovery.discover(Seq("-"))
      assert(files.size == 1 && files.head.format == Discovery.Csv)
      val df = CsvSource.read(spark, files.head.path)
      assert(df.count() == 2)
      assert(df.columns.toSeq == Seq("a", "b"))
    } finally System.setIn(orig)
  }

  test("Sink.write reports rows_written via observe") {
    val d = tmpDir("obs")
    val f = writeFile(d, "in.csv", "k\n1\n2\n3\n")
    val df = Concat.run(spark, Concat.Config(Seq(f)))
    val metrics = Sink.write(df, Sink.Config(d.resolve("o.csv").toString, Discovery.Csv))
    assert(metrics("rows_written") == 3L)
  }

  test("--no-recursive limits directory discovery to direct children") {
    val d = tmpDir("norec")
    writeFile(d, "top.csv", "a\n1\n")
    java.nio.file.Files.createDirectories(d.resolve("sub"))
    writeFile(d.resolve("sub"), "nested.csv", "a\n2\n")
    val all = Discovery.discover(Seq(d.toString))
    val flat = Discovery.discover(Seq(d.toString),
      Discovery.Options(recursive = false))
    assert(all.map(f => new java.io.File(f.path).getName).toSet ==
      Set("top.csv", "nested.csv"))
    assert(flat.map(f => new java.io.File(f.path).getName).toSet == Set("top.csv"))
    // CLI wiring: --no-recursive reaches Concat.Config
    val a = graft.cli.Maw.parse(Seq(d.toString, "-o", "x.csv", "--no-recursive"))
    assert(!graft.cli.Maw.toConfig(a).discovery.recursive)
  }

  test("zstd level reaches the parquet writer (higher level, same values, smaller-or-equal file)") {
    val d = tmpDir("zstd")
    val rows = (1 to 2000).map(i => s"$i,${"lorem ipsum dolor sit amet " * 3}$i").mkString("\n")
    val in = writeFile(d, "a.csv", "k,v\n" + rows + "\n")
    def conv(level: Int, name: String): Long = {
      val out = d.resolve(name).toString
      graft.operators.Concat.convert(spark, graft.operators.Concat.Config(Seq(in)),
        graft.sinks.Sink.Config(out, Discovery.Parquet, compression = "zstd",
          zstdLevel = level))
      java.nio.file.Files.size(d.resolve(name))
    }
    val big = conv(1, "l1.parquet")
    val small = conv(19, "l19.parquet")
    assert(small <= big, s"level 19 ($small) should not exceed level 1 ($big)")
    val a = spark.read.parquet(d.resolve("l1.parquet").toString).count()
    val b = spark.read.parquet(d.resolve("l19.parquet").toString).count()
    assert(a == 2000L && b == 2000L)
  }

  test("verify checksum catches count-preserving corruption (S2, crc64 intent)") {
    val d = tmpDir("vcheck")
    val f = writeFile(d, "in.csv", "k,v\n1,alpha\n2,beta\n3,gamma\n")
    val cfg = Concat.Config(Seq(f), rawPassThrough = true)
    val out = d.resolve("out.csv").toString
    Concat.convert(spark, cfg, Sink.Config(out, Discovery.Csv))
    // pristine output verifies clean
    val (rows, cs) = Maw.verifyOutput(spark, cfg, out, Discovery.Csv, naOut = "")
    assert(rows == 3L && cs != java.math.BigDecimal.ZERO)
    // corrupt one value WITHOUT changing the row count: count-compare alone
    // would pass, the row checksum must not. (Drop Hadoop's local-FS .crc
    // sidecar so OUR verify does the detecting, not ChecksumFileSystem —
    // on HDFS/S3 there is no sidecar and rowChecksum is the only guard.)
    val corrupted = Files.readString(d.resolve("out.csv")).replace("beta", "BETA")
    Files.writeString(d.resolve("out.csv"), corrupted)
    Files.deleteIfExists(d.resolve(".out.csv.crc"))
    val e = intercept[IllegalStateException](
      Maw.verifyOutput(spark, cfg, out, Discovery.Csv, naOut = ""))
    assert(e.getMessage.contains("checksum"))
    // dropped row is caught by the count stage
    val truncated = "k,v\n1,alpha\n2,beta\n"
    Files.writeString(d.resolve("out.csv"), truncated)
    Files.deleteIfExists(d.resolve(".out.csv.crc"))
    val e2 = intercept[IllegalStateException](
      Maw.verifyOutput(spark, cfg, out, Discovery.Csv, naOut = ""))
    assert(e2.getMessage.contains("rows"))
  }

  test("verify readBack: single file and rolled parts") {
    val d = tmpDir("readback")
    val f = writeFile(d, "in.csv", "k\n" + (1 to 50).map(_.toString).mkString("\n") + "\n")
    val df = Concat.run(spark, Concat.Config(Seq(f)))
    val single = d.resolve("single.csv").toString
    Sink.write(df, Sink.Config(single, Discovery.Csv))
    assert(Sink.readBack(spark, single, Discovery.Csv).count() == 50)
    val rolled = d.resolve("rolled.csv").toString
    Sink.write(df.repartition(1), Sink.Config(rolled, Discovery.Csv, rollByRows = Some(20)))
    assert(Sink.readBack(spark, rolled, Discovery.Csv).count() == 50)
  }

  test("--verify passes a CSV output whose value holds a newline") {
    val d = tmpDir("verifynl")
    val f = writeFile(d, "in.csv", "k,v\n1,\"a\nb\"\n2,c\n")
    val out = d.resolve("out.csv").toString
    Maw.execute(spark, Maw.parse(Seq(f, "-o", out, "--verify", "-q")))
    val back = Sink.readBack(spark, out, Discovery.Csv)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(back == Seq(("1", "a\nb"), ("2", "c")), back.mkString(","))
  }

  test("--partition-by writes a hive layout and reads prune partitions") {
    import org.apache.spark.sql.functions.col
    val d = tmpDir("partby")
    val out = d.resolve("docs_by_lang").toString
    val docs = sf("documents").select("doc_id", "text", "lang")
    Sink.write(docs, Sink.Config(out, Discovery.Parquet,
      singleFile = false, partitionBy = Seq("lang")))
    // hive directory-per-value layout at the contract path
    val dirs = Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("lang=")).toSet
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(dirs == langs.map(l => s"lang=$l"), s"got $dirs, want dirs for $langs")
    // read-back: full count survives, partition column is re-discovered
    val back = Sink.readBack(spark, out, Discovery.Parquet)
    assert(back.count() == docs.count())
    assert(back.columns.contains("lang"))
    // THE point of the layout: a partition-column filter prunes whole
    // directories at planning time — the scan's partition count must be
    // the one selected lang, not all of them
    val pruned = back.where(col("lang") === langs.head)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"no partition filter in scan:\n$scan")
    assert(pruned.count() == docs.where(col("lang") === langs.head).count())
    // the flag parses and reaches the sink config
    val a = Maw.parse(Seq("in.parquet", "-o", "outdir", "--partition-by", "lang,source"))
    assert(a.partitionBy == Seq("lang", "source"))
    // missing column fails fast with a readable message
    val e = intercept[IllegalArgumentException] {
      Sink.write(docs, Sink.Config(d.resolve("bad").toString, Discovery.Parquet,
        singleFile = false, partitionBy = Seq("nope")))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("partitioned output passes --verify (checksum is column-order-proof)") {
    val d = tmpDir("partverify")
    // parquet input -> partitioned parquet output, then the real S2 path
    val src = d.resolve("in.parquet").toString
    sf("documents").select("doc_id", "lang", "n_chars").coalesce(1)
      .write.parquet(d.resolve("in_dir").toString)
    val part = Files.list(d.resolve("in_dir")).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, java.nio.file.Paths.get(src))
    val out = d.resolve("out_by_lang").toString
    val cfg = Concat.Config(Seq(src))
    Concat.convert(spark, cfg, Sink.Config(out, Discovery.Parquet,
      singleFile = false, partitionBy = Seq("lang")))
    val (rows, _) = Maw.verifyOutput(spark, cfg, out, Discovery.Parquet, naOut = "",
      partitionCols = Seq("lang"))
    assert(rows == 500)
  }

  test("partition values round-trip verbatim: numeric-looking and empty strings") {
    import org.apache.spark.sql.functions.{col, when}
    import spark.implicits._
    val d = tmpDir("parthostile")
    val src = d.resolve("in.parquet").toString
    // source values the hive layout is hostile to: "007" (re-inference
    // would type it int 7) and "" (folds into __HIVE_DEFAULT_PARTITION__)
    Seq((1L, "007"), (2L, "007"), (3L, "live"), (4L, "")).toDF("id", "source")
      .coalesce(1).write.parquet(d.resolve("in_dir").toString)
    val part = Files.list(d.resolve("in_dir")).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, java.nio.file.Paths.get(src))
    val out = d.resolve("out_by_source").toString
    val cfg = Concat.Config(Seq(src))
    Concat.convert(spark, cfg, Sink.Config(out, Discovery.Parquet,
      singleFile = false, partitionBy = Seq("source")))
    // readBack pins partition values to STRING — "007" must stay "007"
    val back = Sink.readBack(spark, out, Discovery.Parquet)
    assert(back.schema("source").dataType == org.apache.spark.sql.types.StringType)
    assert(back.where(col("source") === "007").count() == 2)
    // "" landed in the default partition and reads back null — the layout's
    // documented folding; --verify folds the planned side identically
    assert(back.where(col("source").isNull).count() == 1)
    val (rows, _) = Maw.verifyOutput(spark, cfg, out, Discovery.Parquet, naOut = "",
      partitionCols = Seq("source"))
    assert(rows == 4)
  }

  test("stale partitioned tree at the contract path yields to later runs") {
    import spark.implicits._
    val d = tmpDir("staledir")
    val src = d.resolve("in.csv").toString
    Files.writeString(java.nio.file.Paths.get(src), "k,v\n1,a\n2,b\n3,a\n")
    val out = d.resolve("out.parquet").toString
    val cfg = Concat.Config(Seq(src))
    // run 1: partitioned -> directory at the contract path
    Concat.convert(spark, cfg, Sink.Config(out, Discovery.Parquet,
      singleFile = false, partitionBy = Seq("v")))
    assert(Files.isDirectory(java.nio.file.Paths.get(out)))
    // run 2: plain single-file -> the stale tree must be REPLACED, not
    // fatal ('Directory is not empty') and not absorbed (rename-into-dir)
    Concat.convert(spark, cfg, Sink.Config(out, Discovery.Parquet))
    assert(Files.isRegularFile(java.nio.file.Paths.get(out)))
    assert(Sink.readBack(spark, out, Discovery.Parquet).count() == 3)
    // run 3: partitioned again, then rolled parts — readBack must see the
    // fresh parts, not a stale directory
    Concat.convert(spark, cfg, Sink.Config(out, Discovery.Parquet,
      singleFile = false, partitionBy = Seq("v")))
    Concat.convert(spark, cfg, Sink.Config(out, Discovery.Parquet,
      singleFile = false, rollByRows = Some(2)))
    assert(!Files.isDirectory(java.nio.file.Paths.get(out)))
    assert(Sink.readBack(spark, out, Discovery.Parquet).count() == 3)
  }

  test("recursive deletes refuse a pre-existing non-sink directory at -o") {
    val d = tmpDir("delguard")
    val src = d.resolve("in.csv").toString
    Files.writeString(java.nio.file.Paths.get(src), "k,v\n1,a\n2,b\n")
    // a user directory at the contract path: nothing inside looks like
    // sink output (no _SUCCESS, part-*, col=value) — every recursive-delete
    // path must refuse it and leave it intact
    val precious = d.resolve("precious")
    Files.createDirectories(precious.resolve("keep"))
    Files.writeString(precious.resolve("keep").resolve("notes.txt"), "do not delete")
    Files.writeString(precious.resolve("photo.jpg"), "bits")
    // dotfiles are NOT sink evidence: virtually every source tree has a
    // .git/.gitignore, and treating any hidden entry as proof-of-output
    // would defeat the guard for exactly the trees it protects (only
    // Spark's own *.crc bookkeeping counts)
    Files.createDirectories(precious.resolve(".git"))
    Files.writeString(precious.resolve(".gitignore"), "target/")
    val cfg = Concat.Config(Seq(src))
    // partitioned write refuses BEFORE the write job starts
    val e1 = intercept[IllegalArgumentException](Concat.convert(spark, cfg,
      Sink.Config(precious.toString, Discovery.Parquet,
        singleFile = false, partitionBy = Seq("v"))))
    assert(e1.getMessage.contains("refusing"))
    // single-file promotion refuses at the guarded dst delete
    val e2 = intercept[IllegalArgumentException](Concat.convert(spark, cfg,
      Sink.Config(precious.toString, Discovery.Parquet)))
    assert(e2.getMessage.contains("refusing"))
    // rolled output's stale-single-file sweep refuses too
    val e3 = intercept[IllegalArgumentException](Concat.convert(spark, cfg,
      Sink.Config(precious.toString, Discovery.Parquet,
        singleFile = false, rollByRows = Some(1))))
    assert(e3.getMessage.contains("refusing"))
    assert(Files.exists(precious.resolve("keep").resolve("notes.txt")))
    assert(Files.exists(precious.resolve("photo.jpg")))
  }

  test("partitioned write stages: a failing job leaves the previous tree intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, lit}
    val d = tmpDir("partstage")
    val out = d.resolve("t.parquet").toString
    Sink.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      Sink.Config(out, Discovery.Parquet, singleFile = false, partitionBy = Seq("v")))
    assert(Sink.readBack(spark, out, Discovery.Parquet).count() == 2)
    // a write that fails at TASK time (ANSI cast of a non-numeric string):
    // before the staging fix, mode(overwrite) on the contract path had
    // already destroyed the old tree by the time the task threw
    val bad = Seq("1", "boom").toDF("s")
      .select(expr("cast(s as int)").as("k"), lit("a").as("v"))
    intercept[Exception](Sink.write(bad,
      Sink.Config(out, Discovery.Parquet, singleFile = false, partitionBy = Seq("v"))))
    assert(Sink.readBack(spark, out, Discovery.Parquet).count() == 2,
      "previous partitioned output must survive a failed overwrite")
  }

  test("--partition-by rejects empty column names at parse time") {
    for (v <- Seq(",", "a,,b", "", " ,a"))
      assert(intercept[IllegalArgumentException](
        Maw.parse(Seq("in.csv", "-o", "o.parquet", "--partition-by", v)))
        .getMessage.contains("--partition-by"), s"'$v' should be rejected")
  }

  test("--stream --partition-by writes a hive tree that stays consistent across resume") {
    val d = tmpDir("partstream")
    val in = d.resolve("in")
    Files.createDirectories(in)
    Files.writeString(in.resolve("a.csv"), "k,grp\n1,a\n2,b\n")
    val out = d.resolve("tree").toString
    val cp = d.resolve("cp").toString
    Maw.execute(spark, Maw.parse(Seq(in.toString, "-o", out,
      "--out-format", "parquet", "--stream", "--state", cp,
      "--partition-by", "grp", "-q")))
    val dirs1 = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(_.contains("grp=")).sorted
    assert(dirs1.map(_.split('/').last).toSeq == Seq("grp=a", "grp=b"))
    // resume with a late file: new value directory appears, old ones append
    Files.writeString(in.resolve("b.csv"), "k,grp\n3,c\n4,a\n")
    Maw.execute(spark, Maw.parse(Seq(in.toString, "-o", out,
      "--out-format", "parquet", "--stream", "--state", cp,
      "--partition-by", "grp", "-q")))
    val back = spark.read.parquet(out)
    assert(back.count() == 4)
    assert(back.where(org.apache.spark.sql.functions.col("grp") === "a").count() == 2)
    assert(back.select("grp").distinct().count() == 3)
  }

  test("--skip-corrupt drops an unreadable parquet input instead of aborting") {
    val d = tmpDir("skipcorrupt")
    val good = d.resolve("good.parquet").toString
    graft.sinks.Sink.write(sf("region"),
      graft.sinks.Sink.Config(good, graft.sources.Discovery.Parquet))
    val bad = d.resolve("bad.parquet")
    Files.write(bad, Array.fill[Byte](256)(0x42)) // not a parquet file
    // default: the corrupt footer kills the run (silent data loss is opt-in)
    intercept[Exception](graft.operators.Concat.run(spark,
      graft.operators.Concat.Config(Seq(d.toString))))
    val out = d.resolve("out.parquet").toString
    Maw.execute(spark, Maw.parse(Seq(d.toString, "-o", out, "--skip-corrupt", "-q")))
    assert(spark.read.parquet(out).count() == sf("region").count())
  }

  test("--stream --roll-by-rows bounds file sizes within a micro-batch") {
    val d = tmpDir("rollstream")
    val in = d.resolve("in")
    Files.createDirectories(in)
    Files.writeString(in.resolve("a.csv"), "k\n" + (1 to 10).mkString("\n") + "\n")
    val out = d.resolve("out").toString
    Maw.execute(spark, Maw.parse(Seq(in.toString, "-o", out,
      "--out-format", "parquet", "--stream", "--state", d.resolve("cp").toString,
      "--roll-by-rows", "3", "-q")))
    val parts = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .filter(p => p.split('/').last.startsWith("part-") && p.endsWith(".parquet"))
    assert(parts.length >= 4, s"expected >=4 rolled parts for 10 rows @3/file, got ${parts.length}")
    assert(spark.read.parquet(out).count() == 10)
  }

  test("--sql queries the unified inputs as table t, with --verify over the result") {
    val d = tmpDir("sqlmode")
    val a1 = d.resolve("a.csv").toString
    Files.writeString(java.nio.file.Paths.get(a1), "grp,v\nx,1\ny,2\nx,3\n")
    val a2 = d.resolve("b.csv").toString
    Files.writeString(java.nio.file.Paths.get(a2), "grp,v\ny,10\nz,20\n")
    val out = d.resolve("agg.csv").toString
    Maw.execute(spark, Maw.parse(Seq(a1, a2, "-o", out,
      "--sql", "SELECT grp, SUM(v) AS total FROM t GROUP BY grp ORDER BY grp",
      "--verify", "-q")))
    val lines = Files.readAllLines(java.nio.file.Paths.get(out))
    assert(lines.get(0) == "grp,total")
    assert(lines.subList(1, lines.size).toArray.toSeq == Seq("x,4", "y,12", "z,20"))
    // window functions + parquet output work through the same flag
    val out2 = d.resolve("rk.parquet").toString
    Maw.execute(spark, Maw.parse(Seq(a1, a2, "-o", out2,
      "--sql", "SELECT grp, v, RANK() OVER (PARTITION BY grp ORDER BY v) AS rk FROM t",
      "--verify", "-q")))
    val back = spark.read.parquet(out2)
    assert(back.count() == 5)
    assert(back.where("grp = 'x' AND rk = 2").select("v").head().getLong(0) == 3L)
    // a broken query fails loudly, not with a half-written output
    intercept[Exception](Maw.execute(spark, Maw.parse(Seq(a1, "-o",
      d.resolve("bad.csv").toString, "--sql", "SELECT nope FROM t", "-q"))))
  }

  test("CSV partitioned output: hive tree, values intact, --verify passes") {
    import org.apache.spark.sql.functions.col
    val d = tmpDir("partcsv")
    val src = d.resolve("in.csv").toString
    Files.writeString(java.nio.file.Paths.get(src),
      "k,v,grp\n1,alpha,a\n2,beta,b\n3,gamma,a\n4,delta,b\n")
    val out = d.resolve("out.csv").toString
    val cfg = Concat.Config(Seq(src))
    Concat.convert(spark, cfg, Sink.Config(out, Discovery.Csv,
      singleFile = false, partitionBy = Seq("grp")))
    val dirs = Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("grp=")).toSet
    assert(dirs == Set("grp=a", "grp=b"))
    // data files exclude the partition column; readBack re-attaches it
    val back = Sink.readBack(spark, out, Discovery.Csv)
    assert(back.columns.sorted.toSeq == Seq("grp", "k", "v"))
    assert(back.where(col("grp") === "a").count() == 2)
    assert(back.count() == 4)
    val (rows, _) = Maw.verifyOutput(spark, cfg, out, Discovery.Csv, naOut = "",
      partitionCols = Seq("grp"))
    assert(rows == 4)
  }
}
