package graft

import graft.sinks.Sink
import graft.sources.Discovery
import org.apache.spark.sql.functions._

/** Data-skipping layout primitives: range-clustered writes (narrow per-file
  * min/max footer stats) and writer-side bloom filters.
  */
class DataSkippingSpec extends SparkSpec {

  private def partFiles(dir: java.nio.file.Path, base: String, ext: String): Seq[String] =
    java.nio.file.Files.list(dir).toArray.map(_.toString)
      .filter(p => p.split('/').last.startsWith(base + "-") && p.endsWith(ext))
      .toSeq.sorted

  private def parquetFooter(path: String) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
    org.apache.parquet.hadoop.ParquetFileReader.open(in)
  }

  test("cluster-by: each output file covers a narrow slice of the key domain") {
    val d = tmpDir("skip-cluster")
    val li = sf("lineitem", "/root/testdata/sf0.01")
    val out = d.resolve("li.parquet").toString
    Sink.write(li, Sink.Config(out, Discovery.Parquet,
      clusterBy = Seq("l_orderkey"), rollByRows = Some(20000L), singleFile = false))
    val parts = partFiles(d, "li", ".parquet")
    assert(parts.size >= 3, s"expected several range parts, got ${parts.size}")
    // per-file min/max of the clustering key from the parquet footers: the
    // slices must tile the domain, not each span it. Unsorted writes give
    // sum(range_i) ~= nFiles * globalRange; clustered gives ~= globalRange.
    val ranges = parts.map { p =>
      val r = parquetFooter(p)
      try {
        val blocks = r.getFooter.getBlocks
        val idx = r.getFooter.getFileMetaData.getSchema.getFieldIndex("l_orderkey")
        val stats = (0 until blocks.size).map { b =>
          val s = blocks.get(b).getColumns.get(idx).getStatistics
          (s.genericGetMin.asInstanceOf[Long], s.genericGetMax.asInstanceOf[Long])
        }
        (stats.map(_._1).min, stats.map(_._2).max)
      } finally r.close()
    }
    val globalMin = ranges.map(_._1).min
    val globalMax = ranges.map(_._2).max
    val coverage = ranges.map { case (lo, hi) => (hi - lo).toDouble }.sum /
      (globalMax - globalMin).toDouble
    assert(coverage < 1.5,
      f"files are not range-clustered: summed coverage $coverage%.2fx of the domain")
    // and the data survived intact
    val back = Sink.readBack(spark, out, Discovery.Parquet)
    assert(back.count() == li.count())
    // row groups inside each file are narrow too (sortWithinPartitions):
    // spot-check that a point filter selects the same rows as the source
    val k = li.select(max("l_orderkey")).head().getLong(0)
    assert(back.where(col("l_orderkey") === k).count() ==
      li.where(col("l_orderkey") === k).count())
  }

  test("bloom filters: parquet column chunks carry them only when asked") {
    val d = tmpDir("skip-bloom")
    val li = sf("lineitem", "/root/testdata/sf0.01").limit(5000)
    def bloomOffsets(path: String): Seq[Long] = {
      val r = parquetFooter(path)
      try {
        val idx = r.getFooter.getFileMetaData.getSchema.getFieldIndex("l_orderkey")
        (0 until r.getFooter.getBlocks.size).map(b =>
          r.getFooter.getBlocks.get(b).getColumns.get(idx).getBloomFilterOffset)
      } finally r.close()
    }
    val plain = d.resolve("plain.parquet").toString
    Sink.write(li, Sink.Config(plain, Discovery.Parquet))
    assert(bloomOffsets(plain).forall(_ < 0), "unexpected bloom filter on a plain write")
    val bloomed = d.resolve("bloomed.parquet").toString
    Sink.write(li, Sink.Config(bloomed, Discovery.Parquet,
      bloomFilterCols = Seq("l_orderkey")))
    assert(bloomOffsets(bloomed).forall(_ >= 0), "bloom filter missing from the column chunk")
  }

  test("bloom filters: orc accepts the column list and data round-trips") {
    val d = tmpDir("skip-orcbloom")
    val li = sf("lineitem", "/root/testdata/sf0.01").limit(5000)
    val plain = d.resolve("plain.orc").toString
    val bloomed = d.resolve("bloomed.orc").toString
    Sink.write(li, Sink.Config(plain, Discovery.Orc))
    Sink.write(li, Sink.Config(bloomed, Discovery.Orc, bloomFilterCols = Seq("l_orderkey")))
    // the bloom stream is extra bytes in the stripe metadata: same data,
    // same codec, strictly larger file proves the option reached the writer
    val szPlain = java.nio.file.Files.size(java.nio.file.Paths.get(plain))
    val szBloom = java.nio.file.Files.size(java.nio.file.Paths.get(bloomed))
    assert(szBloom > szPlain, s"orc bloom write not larger: $szBloom <= $szPlain")
    assert(spark.read.orc(bloomed).count() == 5000)
  }

  test("CLI: --cluster-by and --bloom-filter parse, validate, and drive the sink") {
    val d = tmpDir("skip-cli")
    val csv = writeFile(d, "in.csv", "id,v\n3,c\n1,a\n2,b\n9,z\n5,e\n")
    val out = d.resolve("out.parquet").toString
    cli.Maw.execute(spark, cli.Maw.parse(Seq(csv, "-o", out,
      "--cluster-by", "id", "--bloom-filter", "id", "-q")))
    val back = Sink.readBack(spark, out, Discovery.Parquet)
    assert(back.count() == 5)
    intercept[IllegalArgumentException](cli.Maw.parse(
      Seq(csv, "-o", out, "--cluster-by", "a,,b")))
    // unknown column fails fast with a readable message
    val e = intercept[Exception](cli.Maw.execute(spark, cli.Maw.parse(
      Seq(csv, "-o", d.resolve("bad.parquet").toString, "--cluster-by", "nope", "-q"))))
    assert(e.getMessage.contains("nope"))
  }

  /** Per-file (min,max) of a long column across all row groups. */
  private def colRanges(parts: Seq[String], colName: String): Seq[(Long, Long)] =
    parts.map { p =>
      val r = parquetFooter(p)
      try {
        val blocks = r.getFooter.getBlocks
        val idx = r.getFooter.getFileMetaData.getSchema.getFieldIndex(colName)
        val stats = (0 until blocks.size).map { b =>
          val s = blocks.get(b).getColumns.get(idx).getStatistics
          (s.genericGetMin.asInstanceOf[Long], s.genericGetMax.asInstanceOf[Long])
        }
        (stats.map(_._1).min, stats.map(_._2).max)
      } finally r.close()
    }

  /** Summed per-file coverage in units of the global domain: ~1 for a
    * perfect tiling, ~nFiles when every file spans the whole domain.
    */
  private def coverage(ranges: Seq[(Long, Long)]): Double = {
    val lo = ranges.map(_._1).min
    val hi = ranges.map(_._2).max
    ranges.map { case (a, b) => (b - a).toDouble }.sum / (hi - lo).toDouble
  }

  test("zorder-by: BOTH dimensions get narrow per-file stats; cluster-by only one") {
    val d = tmpDir("skip-zorder")
    val li = sf("lineitem", "/root/testdata/sf0.01")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val zout = d.resolve("z.parquet").toString
    Sink.write(li, Sink.Config(zout, Discovery.Parquet,
      zorderBy = Seq("l_orderkey", "l_partkey")))
    val zparts = partFiles(d, "z", ".parquet")
    assert(zparts.size >= 4, s"expected several z-range parts, got ${zparts.size}")
    val n = zparts.size.toDouble
    val zKeyCov = coverage(colRanges(zparts, "l_orderkey"))
    val zPartCov = coverage(colRanges(zparts, "l_partkey"))
    // both dimensions materially better than the unsorted ~nFiles coverage
    assert(zKeyCov < 0.66 * n, f"zorder l_orderkey coverage $zKeyCov%.2f vs $n files")
    assert(zPartCov < 0.66 * n, f"zorder l_partkey coverage $zPartCov%.2f vs $n files")
    // the single-column clustered layout, for contrast: first dim ~1, the
    // OTHER dim spans the domain in (almost) every file
    val cout = d.resolve("c.parquet").toString
    Sink.write(li, Sink.Config(cout, Discovery.Parquet,
      clusterBy = Seq("l_orderkey")))
    val cparts = partFiles(d, "c", ".parquet")
    val cPartCov = coverage(colRanges(cparts, "l_partkey"))
    assert(cPartCov > 0.8 * cparts.size,
      f"expected cluster-by to leave l_partkey unskippable, got $cPartCov%.2f")
    assert(zPartCov < cPartCov / 2,
      f"zorder should at least halve the second dimension's coverage: $zPartCov%.2f vs $cPartCov%.2f")
    // content survives the layout
    val back = Sink.readBack(spark, zout, Discovery.Parquet)
    assert(back.count() == li.count())
    import org.apache.spark.sql.functions.sum
    assert(back.agg(sum("l_quantity")).head().getDouble(0) ==
      li.agg(sum("l_quantity")).head().getDouble(0))
  }

  test("zorder-by: string columns hash-bucket; layout rejects partition-by composition") {
    val d = tmpDir("skip-zstr")
    val docs = sf("documents", "/root/testdata/sf0.01")
    val out = d.resolve("docs.parquet").toString
    // mixed numeric + string dims must not throw, and values survive
    Sink.write(docs, Sink.Config(out, Discovery.Parquet,
      zorderBy = Seq("doc_id", "lang")))
    assert(Sink.readBack(spark, out, Discovery.Parquet).count() == docs.count())
    val e = intercept[IllegalArgumentException](Sink.write(docs,
      Sink.Config(d.resolve("bad.parquet").toString, Discovery.Parquet,
        partitionBy = Seq("lang"), zorderBy = Seq("doc_id"))))
    assert(e.getMessage.contains("--zorder-by"))
  }

  test("parquet->parquet with a layout option takes the typed path, not the byte copy") {
    val d = tmpDir("skip-bytepath")
    val src = d.resolve("src.parquet").toString
    sf("lineitem", "/root/testdata/sf0.01").select("l_orderkey", "l_quantity")
      .write.parquet(src + ".dir")
    // single-file source for the CLI (the byte path would be eligible
    // without the layout flag and would copy row groups verbatim)
    Sink.write(spark.read.parquet(src + ".dir"),
      Sink.Config(src, graft.sources.Discovery.Parquet))
    val out = d.resolve("out.parquet").toString
    cli.Maw.execute(spark, cli.Maw.parse(Seq(src, "-o", out,
      "--cluster-by", "l_orderkey", "-q")))
    val parts = partFiles(d, "out", ".parquet")
    assert(parts.size > 1, "layout flag was ignored (byte path fired?)")
    val cov = coverage(colRanges(parts, "l_orderkey"))
    assert(cov < 1.5, f"output is not range-clustered: coverage $cov%.2f")
  }

  test("cluster-by composes with partition-by: clustered files inside each hive dir") {
    val d = tmpDir("skip-part")
    val li = sf("lineitem", "/root/testdata/sf0.01")
    val out = d.resolve("tree").toString
    Sink.write(li, Sink.Config(out, Discovery.Parquet,
      partitionBy = Seq("l_returnflag"), clusterBy = Seq("l_orderkey")))
    val back = Sink.readBack(spark, out, Discovery.Parquet)
    assert(back.count() == li.count())
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(out)).toArray
      .map(_.toString.split('/').last).filter(_.startsWith("l_returnflag="))
    assert(dirs.length >= 2)
  }
}
