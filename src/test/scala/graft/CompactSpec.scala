package graft

import graft.operators.Compact
import graft.sinks.Sink
import graft.sources.Discovery
import org.apache.spark.sql.functions._

/** In-place small-file compaction: fewer files, same rows and values, hive
  * partitioning preserved verbatim, pre-swap row verification, and the CLI
  * drive.
  */
class CompactSpec extends SparkSpec {

  /** No leftover staging trees (per-run unique `.compact-tmp-<suffix>`). */
  private def noStaging(out: String): Boolean = {
    val p = java.nio.file.Paths.get(out)
    // File#list holds no directory handle (Files.list would need closing)
    !Option(p.getParent.toFile.list()).getOrElse(Array.empty[String])
      .exists(n => n.startsWith(p.getFileName.toString + ".compact-tmp"))
  }

  private def fileCount(dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).map { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) 0
        else if (st.isDirectory) walk(st.getPath)
        else 1
      }.sum
    walk(root)
  }

  test("flat parquet tree: many small files -> few right-sized, values intact") {
    val d = tmpDir("compact-flat")
    val orders = sf("orders")
    val out = d.resolve("tree").toString
    // simulate micro-batch litter: 20 tiny files
    orders.repartition(20).write.parquet(out)
    assert(fileCount(out) == 20)
    val before = Sink.rowChecksum(
      orders.select(orders.columns.sorted.map(col).toIndexedSeq: _*), None)
    val st = Compact.run(spark, out, Discovery.Parquet)
    assert(st.filesBefore == 20 && st.filesAfter < 5,
      s"expected big file-count drop, got ${st.filesBefore} -> ${st.filesAfter}")
    assert(st.rows == orders.count())
    val back = spark.read.parquet(out)
    assert(Sink.rowChecksum(
      back.select(back.columns.sorted.map(col).toIndexedSeq: _*), None) == before)
    // no staging/old residue next to the compacted tree
    assert(noStaging(out))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out + ".compact-old")))
  }

  test("hive-partitioned tree: layout and verbatim partition values preserved") {
    val d = tmpDir("compact-part")
    val out = d.resolve("tree").toString
    import spark.implicits._
    // string partition values that type inference would mangle ("007" -> 7)
    val df = (1 to 200).map(i => (i.toLong, s"v$i", if (i % 2 == 0) "007" else "b"))
      .toDF("id", "v", "grp")
    df.repartition(10).write.partitionBy("grp").parquet(out)
    val before = fileCount(out)
    val st = Compact.run(spark, out, Discovery.Parquet)
    assert(st.partitionColumns == Seq("grp"))
    assert(st.filesAfter < before)
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(out)).toArray
      .map(_.toString.split('/').last).filter(_.startsWith("grp=")).sorted
    assert(dirs.toSeq == Seq("grp=007", "grp=b"), dirs.mkString(","))
    val back = spark.read.parquet(out)
    assert(back.count() == 200)
    assert(back.where(col("grp") === "007").count() == 100)
  }

  test("target size controls output file count via the tree's own bytes/row") {
    val d = tmpDir("compact-size")
    val out = d.resolve("tree").toString
    sf("orders", "/root/testdata/sf0.01").repartition(16).write.parquet(out)
    val bytes = {
      val root = new org.apache.hadoop.fs.Path(out)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).filter(_.isFile)
        .filterNot(s => s.getPath.getName.startsWith("_")).map(_.getLen).sum
    }
    // a target of ~1/4 the tree size should land ~4 files (AQE/rounding slack)
    val st = Compact.run(spark, out, Discovery.Parquet, targetFileBytes = bytes / 4)
    assert(st.filesAfter >= 3 && st.filesAfter <= 6,
      s"expected ~4 files for a quarter-size target, got ${st.filesAfter}")
  }

  test("orc and jsonl trees compact too (jsonl parts carry the sink's .json names)") {
    val d = tmpDir("compact-fmt")
    val nation = sf("nation")
    val orc = d.resolve("orc-tree").toString
    nation.repartition(5).write.orc(orc)
    assert(Compact.detectTreeFormat(spark, orc) == Discovery.Orc)
    val st1 = Compact.run(spark, orc, Discovery.Orc)
    assert(st1.filesBefore == 5 && st1.filesAfter < 5)
    assert(spark.read.orc(orc).count() == nation.count())
    val js = d.resolve("json-tree").toString
    nation.repartition(5).write.option("ignoreNullFields", "false").json(js)
    assert(Compact.detectTreeFormat(spark, js) == Discovery.Jsonl)
    val st2 = Compact.run(spark, js, Discovery.Jsonl)
    assert(st2.filesAfter < 5)
    assert(spark.read.json(js).count() == nation.count())
  }

  test("CLI: --compact rewrites in place and reports stats") {
    val d = tmpDir("compact-cli")
    val out = d.resolve("tree").toString
    sf("region").repartition(8).write.parquet(out)
    cli.Maw.execute(spark, cli.Maw.parse(
      Seq(out, "--compact", "--target-file-size", "128m", "-q")))
    assert(fileCount(out) < 8)
    assert(spark.read.parquet(out).count() == sf("region").count())
  }

  test("CLI: --compact --verify checksums the tree across the rewrite") {
    val d = tmpDir("compact-verify")
    val out = d.resolve("tree").toString
    sf("nation").repartition(6).write.parquet(out)
    // must complete without throwing (the checksum path compares pre/post)
    cli.Maw.execute(spark, cli.Maw.parse(Seq(out, "--compact", "--verify", "-q")))
    assert(fileCount(out) < 6)
    assert(spark.read.parquet(out).count() == sf("nation").count())
  }

  test("refuses a tree holding non-format files the swap would destroy") {
    val d = tmpDir("compact-stray")
    val out = d.resolve("tree").toString
    sf("region").repartition(3).write.parquet(out)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "README.txt"), "user notes")
    val e = intercept[IllegalArgumentException](
      Compact.run(spark, out, Discovery.Parquet))
    assert(e.getMessage.contains("README.txt"))
    // the tree is untouched, stray file included (glob-filtered read: the
    // stray itself would fail a bare parquet scan, which is the point)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "README.txt")))
    assert(spark.read.option("pathGlobFilter", "*.parquet").parquet(out).count() ==
      sf("region").count())
    assert(fileCount(out) == 4) // 3 parts + the stray
  }

  test("CSV tree with a non-default delimiter round-trips under --delimiter") {
    val d = tmpDir("compact-delim")
    val out = d.resolve("tree").toString
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, s"name$i", s"city,$i")).toDF("id", "nm", "addr")
    // a semicolon tree whose VALUES contain commas — the case the old
    // hard-coded comma read destroyed silently
    df.repartition(8).write.option("header", "true").option("delimiter", ";").csv(out)
    cli.Maw.execute(spark, cli.Maw.parse(
      Seq(out, "--compact", "--delimiter", ";", "--verify", "-q")))
    assert(fileCount(out) < 8)
    val back = spark.read.option("header", "true").option("delimiter", ";").csv(out)
    assert(back.columns.toSeq == Seq("id", "nm", "addr"))
    assert(back.count() == 300)
    assert(back.where(col("addr") === "city,7").count() == 1)
  }

  test("CSV tree whose values hold newlines round-trips rows and values") {
    val d = tmpDir("compact-newline")
    val out = d.resolve("tree").toString
    import spark.implicits._
    val df = (1 to 40).map(i => (i.toLong, s"line$i\nnext$i")).toDF("id", "txt")
    df.repartition(4).write.option("header", "true").option("escape", "\"").csv(out)
    cli.Maw.execute(spark, cli.Maw.parse(Seq(out, "--compact", "--verify", "-q")))
    assert(fileCount(out) < 4)
    val back = spark.read.option("header", "true").option("escape", "\"")
      .option("multiLine", "true").csv(out)
    assert(back.count() == 40)
    assert(back.where(col("txt") === "line7\nnext7").count() == 1)
  }

  test("CSV tree compacted with the WRONG delimiter is refused, tree untouched") {
    val d = tmpDir("compact-wrongdelim")
    val out = d.resolve("tree").toString
    import spark.implicits._
    (1 to 50).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4).write.option("header", "true").option("delimiter", ";").csv(out)
    val before = fileCount(out)
    val e = intercept[IllegalArgumentException](
      Compact.run(spark, out, Discovery.Csv)) // default comma: header parses as 1 col
    assert(e.getMessage.contains("delimiter"))
    assert(fileCount(out) == before, "refused compaction must not touch the tree")
    assert(spark.read.option("header", "true").option("delimiter", ";").csv(out)
      .count() == 50)
  }

  test("preSwapCheck failure aborts with the ORIGINAL tree intact (no staging residue)") {
    val d = tmpDir("compact-preswap")
    val out = d.resolve("tree").toString
    val orders = sf("orders")
    orders.repartition(6).write.parquet(out)
    val before = Sink.rowChecksum(
      orders.select(orders.columns.sorted.map(col).toIndexedSeq: _*), None)
    val e = intercept[IllegalStateException](Compact.run(spark, out, Discovery.Parquet,
      preSwapCheck = _ => throw new IllegalStateException("simulated checksum mismatch")))
    assert(e.getMessage.contains("pre-swap"))
    // original tree byte-identical in content, staging cleaned up
    assert(fileCount(out) == 6)
    val back = spark.read.parquet(out)
    assert(Sink.rowChecksum(
      back.select(back.columns.sorted.map(col).toIndexedSeq: _*), None) == before)
    assert(noStaging(out))
  }

  test("refuses a streaming-sink tree (_spark_metadata would be orphaned)") {
    val d = tmpDir("compact-stream")
    val out = d.resolve("tree").toString
    sf("region").repartition(3).write.parquet(out)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out, "_spark_metadata"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "_spark_metadata", "0"), "{}")
    val e = intercept[IllegalArgumentException](
      Compact.run(spark, out, Discovery.Parquet))
    assert(e.getMessage.contains("_spark_metadata"))
    // tree untouched, log included (don't scan THROUGH the path: a batch
    // read of a _spark_metadata dir consults the log — the exact hazard)
    assert(fileCount(out) == 3)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "_spark_metadata", "0")))
  }

  test("gz text tree sizes output from UNCOMPRESSED bytes (gzip ISIZE trailer)") {
    val d = tmpDir("compact-gz")
    val out = d.resolve("tree").toString
    import spark.implicits._
    // highly compressible rows: compressed bytes/row lies ~10x under the
    // uncompressed figure the rewrite actually writes
    val df = (1 to 20000).map(i => (i.toLong, "x" * 200)).toDF("id", "pad")
    df.repartition(8).write.option("header", "true")
      .option("compression", "gzip").csv(out)
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gzBytes = fs.listStatus(root).filter(_.isFile)
      .filterNot(_.getPath.getName.startsWith("_")).map(_.getLen).sum
    val rawBytes = 20000L * 210 // ~ uncompressed payload
    assert(gzBytes < rawBytes / 4, s"fixture not compressible enough: $gzBytes")
    // target = 1/4 of the UNCOMPRESSED size: ISIZE-based sizing lands ~4
    // files; compressed-bytes sizing would cram everything into 1
    val st = Compact.run(spark, out, Discovery.Csv, targetFileBytes = rawBytes / 4)
    assert(st.filesAfter >= 3 && st.filesAfter <= 6,
      s"expected ~4 files from uncompressed sizing, got ${st.filesAfter}")
    assert(spark.read.option("header", "true").csv(out).count() == 20000)
  }

  test("lease: a held lock fails the second compaction fast; stale locks are taken over") {
    val d = tmpDir("compact-lease")
    val out = d.resolve("tree").toString
    sf("region").repartition(3).write.parquet(out)
    val lease = java.nio.file.Paths.get(out + ".compact-lock")
    java.nio.file.Files.writeString(lease, "pid=0 ts=0\n")
    val e = intercept[IllegalStateException](
      Compact.run(spark, out, Discovery.Parquet))
    assert(e.getMessage.contains("another compaction"))
    assert(java.nio.file.Files.exists(lease), "loser must not remove the holder's lease")
    // the same lock, declared stale: taken over and compaction proceeds,
    // lease released afterwards
    val st = Compact.run(spark, out, Discovery.Parquet, leaseStaleMs = 0L)
    assert(st.filesBefore == 3)
    assert(!java.nio.file.Files.exists(lease))
  }

  test("lease: two RACING compactions — exactly one wins, tree stays intact") {
    val d = tmpDir("compact-race")
    val out = d.resolve("tree").toString
    sf("orders").repartition(10).write.parquet(out)
    val rows = sf("orders").count()
    // deterministic overlap: A blocks inside its pre-swap window (lease
    // held, staging written) until B has attempted — and B must lose fast
    val aInWindow = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val aFut = pool.submit(new java.util.concurrent.Callable[Compact.Stats] {
      def call() = Compact.run(spark, out, Discovery.Parquet,
        preSwapCheck = _ => {
          aInWindow.countDown()
          assert(bDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
            "B never attempted")
        })
    })
    try {
      assert(aInWindow.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "A never reached its swap window")
      val e = intercept[IllegalStateException](
        Compact.run(spark, out, Discovery.Parquet))
      assert(e.getMessage.contains("another compaction"))
    } finally {
      bDone.countDown()
      pool.shutdown()
    }
    val st = aFut.get(120, java.util.concurrent.TimeUnit.SECONDS)
    assert(st.filesBefore == 10 && st.filesAfter < 10)
    assert(spark.read.parquet(out).count() == rows)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out + ".compact-lock")))
    assert(noStaging(out))
  }

  test("lease stolen mid-run: the overrun holder aborts BEFORE the swap, tree intact") {
    val d = tmpDir("compact-stolen")
    val out = d.resolve("tree").toString
    sf("region").repartition(3).write.parquet(out)
    val lease = java.nio.file.Paths.get(out + ".compact-lock")
    // simulate a stale takeover while the first run is still rewriting:
    // the preSwapCheck window replaces the lease with a different holder's
    val e = intercept[IllegalStateException](Compact.run(spark, out, Discovery.Parquet,
      preSwapCheck = _ =>
        java.nio.file.Files.writeString(lease, "pid=9999 token=thief ts=0\n")))
    assert(e.getMessage.contains("taken over"), e.getMessage)
    // original tree untouched, staging cleaned, and the THIEF's lease left
    // in place (the overrun holder must not release someone else's lock)
    assert(fileCount(out) == 3)
    assert(noStaging(out))
    assert(java.nio.file.Files.readString(lease).contains("thief"))
    java.nio.file.Files.delete(lease)
  }

  test("--zorder-by re-clusters during compaction (OPTIMIZE ZORDER); text/hive refused") {
    val d = tmpDir("compact-zorder")
    val out = d.resolve("tree").toString
    val li = sf("lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    // scrambled small files: hash-partitioned on a NON-key column, so
    // every file spans the whole (orderkey, partkey) domain — the layout
    // a point predicate cannot skip
    li.repartition(16, col("l_quantity")).write.parquet(out)
    val rows = li.count()
    val bytes = fileSize(out)
    val st = Compact.run(spark, out, Discovery.Parquet,
      targetFileBytes = math.max(1L, bytes / 12),
      zorderBy = Seq("l_orderkey", "l_partkey"))
    assert(st.rows == rows && st.filesBefore == 16)
    assert(spark.read.parquet(out).count() == rows)
    // footer audit: after the z-ordered rewrite, the top-corner point must
    // be containable by only a minority of row groups (p15's gate)
    val corner = li.orderBy(col("l_orderkey").desc, col("l_partkey").desc).limit(1).head()
    val (k1, k2) = (corner.getLong(0), corner.getLong(1))
    val hconf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(out)
    val hfs = rootP.getFileSystem(hconf)
    val parts = hfs.listStatus(rootP).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    var total = 0L; var matching = 0L
    parts.foreach { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val (i1, i2) = (schema.getFieldIndex("l_orderkey"), schema.getFieldIndex("l_partkey"))
        val blocks = r.getFooter.getBlocks
        (0 until blocks.size).foreach { b =>
          total += 1
          def contains(idx: Int, v: Long): Boolean = {
            val s0 = blocks.get(b).getColumns.get(idx).getStatistics
            s0.genericGetMin.asInstanceOf[Long] <= v &&
              v <= s0.genericGetMax.asInstanceOf[Long]
          }
          if (contains(i1, k1) && contains(i2, k2)) matching += 1
        }
      } finally r.close()
    }
    assert(total >= 8, s"z-ordered compaction landed only $total row groups")
    assert(matching * 3 <= total,
      s"compacted layout not skippable: $matching of $total row groups match ($k1,$k2)")
    // refusals, tree untouched each time: text formats have no row-group
    // stats; hive trees' directories already partition the key space
    val csvT = d.resolve("csvtree").toString
    li.limit(10).repartition(2).write.option("header", "true").csv(csvT)
    val e1 = intercept[IllegalArgumentException](Compact.run(spark, csvT,
      Discovery.Csv, zorderBy = Seq("l_orderkey")))
    assert(e1.getMessage.contains("row-group statistics"), e1.getMessage)
    val hiveT = d.resolve("hivetree").toString
    li.limit(100).withColumn("b", col("l_orderkey") % 2)
      .write.partitionBy("b").parquet(hiveT)
    val e2 = intercept[IllegalArgumentException](Compact.run(spark, hiveT,
      Discovery.Parquet, zorderBy = Seq("l_orderkey")))
    assert(e2.getMessage.contains("hive-partitioned"), e2.getMessage)
  }

  private def fileSize(dir: String): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.startsWith("_")) 0L else st.getLen
      }.sum
    walk(root)
  }

  test("lease heartbeat: a LIVE holder outliving leaseStaleMs is not presented as stale") {
    val d = tmpDir("compact-heartbeat")
    val out = d.resolve("tree").toString
    sf("region").repartition(3).write.parquet(out)
    val rows = sf("region").count()
    val inWindow = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val staleMs = 4000L
    val fut = pool.submit(new java.util.concurrent.Callable[Compact.Stats] {
      def call() = Compact.run(spark, out, Discovery.Parquet, leaseStaleMs = staleMs,
        preSwapCheck = _ => {
          inWindow.countDown()
          assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
        })
    })
    try {
      assert(inWindow.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "holder never reached its pre-swap window")
      // park well past the stale window: if the heartbeat were not
      // refreshing the lease's mtime, this second run would steal it and
      // the holder would waste its whole rewrite at the token re-check
      Thread.sleep(staleMs + 1500)
      val e = intercept[IllegalStateException](
        Compact.run(spark, out, Discovery.Parquet, leaseStaleMs = staleMs))
      assert(e.getMessage.contains("another compaction"), e.getMessage)
    } finally {
      done.countDown(); pool.shutdown()
    }
    val st = fut.get(120, java.util.concurrent.TimeUnit.SECONDS)
    assert(st.filesBefore == 3)
    assert(spark.read.parquet(out).count() == rows)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out + ".compact-lock")))
  }

  test("relativeListing strips the QUALIFIED root: same tree under two roots compares equal") {
    val d = tmpDir("compact-listing")
    val a = d.resolve("a").toString
    val b = d.resolve("b").toString
    sf("region").repartition(2).write.parquet(a)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(a).getFileSystem(conf)
    // byte-copy (preserves part-file names) so only the ROOT differs —
    // exactly the staging-vs-promoted shape of the post-swap witness
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(a),
      fs, new org.apache.hadoop.fs.Path(b), false, conf)
    val la = Compact.relativeListing(conf, a)
    val lb = Compact.relativeListing(conf, b)
    assert(la.nonEmpty)
    // the prefix really stripped: plain caller paths vs listStatus's
    // scheme-qualified file:/ paths was the bug — a leftover scheme or
    // absolute root would make these differ and turn the witness into
    // dead code (every clean promote paying a third checksum)
    assert(la.forall { case (rel, len) => rel.startsWith("/") &&
      !rel.contains("file:") && !rel.contains(d.toString) && len > 0 }, la.take(3))
    assert(la == lb)
  }

  test("refuses a BUCKETED table tree (compaction would scramble the bucket-hash mapping)") {
    import spark.implicits._
    val table = "compactspec_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + s"/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    try {
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .write.format("parquet").bucketBy(4, "id").saveAsTable(table)
      val dir = loc.toUri.getPath
      val e = intercept[IllegalArgumentException](
        Compact.run(spark, dir, Discovery.Parquet))
      assert(e.getMessage.contains("BUCKETED"), e.getMessage)
      assert(spark.table(table).count() == 100) // untouched
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("size suffix parsing") {
    assert(cli.Maw.parseSize("1024") == 1024L)
    assert(cli.Maw.parseSize("128m") == 128L * 1024 * 1024)
    assert(cli.Maw.parseSize("2G") == 2L * 1024 * 1024 * 1024)
    assert(cli.Maw.parseSize("64K") == 64L * 1024)
    intercept[IllegalArgumentException](cli.Maw.parseSize("abc"))
    intercept[IllegalArgumentException](cli.Maw.parseSize("-5m"))
  }
}
