package graft

import graft.operators.Concat
import graft.sinks.Sink
import graft.sources.Discovery
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** The byte paths write single-file output on the driver and multi-file
  * output with one task per input. Over generated inputs the two must agree
  * byte for byte, the single-file run must launch no Spark job, and the
  * single file must hold the inputs in discovery order.
  */
class ByteSingleFileSpec extends SparkSpec {

  private val TagKey = "graft.test.jobTag"

  /** Jobs the calling thread starts while `body` runs. The thread's jobs
    * carry a local-property tag; a differently tagged marker job after
    * `body` drains the listener bus (it delivers events in order).
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))) match {
          case Some(t) if t == tag => jobs.incrementAndGet()
          case Some(t) if t == s"$tag-marker" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(TagKey, tag)
      try body finally {
        sc.setLocalProperty(TagKey, s"$tag-marker")
        sc.parallelize(Seq(1), 1).count()
        sc.setLocalProperty(TagKey, null)
      }
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** A file's bytes without its first line (the header part files repeat). */
  private def body(p: Path): Array[Byte] = {
    val b = Files.readAllBytes(p)
    b.drop(b.indexOf('\n'.toByte) + 1)
  }

  private def convert(dir: Path, files: Seq[String], out: String, fmt: Discovery.Format,
      singleFile: Boolean): Map[String, Any] =
    Concat.convert(spark, Concat.Config(files, rawPassThrough = fmt == Discovery.Csv),
      Sink.Config(dir.resolve(out).toString, fmt, singleFile = singleFile))

  // CSV: clean files, NA tokens, ragged rows, quoted delimiters and quotes,
  // CRLF line ends, a missing final newline, header-only files
  private val cleanCell = Gen.oneOf("x", "", "42", " pad ", "\"p,q\"", "\"say \"\"hi\"\"\"")
  private val dirtyCell = Gen.oneOf(cleanCell, Gen.oneOf("NA", "null", "\\N"))
  private def csvRow(dirty: Boolean): Gen[String] = for {
    width <- if (dirty) Gen.oneOf(2, 3, 3, 4) else Gen.const(3)
    cells <- Gen.listOfN(width, if (dirty) dirtyCell else cleanCell)
  } yield cells.mkString(",")
  private val csvFile: Gen[String] = for {
    dirty <- Gen.oneOf(false, true)
    rows <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, csvRow(dirty)))
    eol <- Gen.oneOf("\n", "\r\n")
    finalEol <- Gen.oneOf(true, false)
  } yield ("a,b,c" +: rows).mkString(eol) + (if (finalEol) eol else "")

  private val jsonlFile: Gen[String] = for {
    rows <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, for {
      k <- Gen.choose(0, 99)
      v <- Gen.oneOf("\"s\"", "1.5", "null", "[1,2]", "{\"n\":true}")
    } yield s"""{"k":$k,"v":$v}"""))
    eol <- Gen.oneOf("\n", "\r\n")
    finalEol <- Gen.oneOf(true, false)
  } yield rows.mkString(eol) + (if (finalEol && rows.nonEmpty) eol else "")

  private def check(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(12).withInitialSeed(Seed(20261017L)), prop)
    res.status match {
      case Test.PropException(_, e, _) => throw e // the failing assertion, as is
      case _ => assert(res.passed, Pretty.pretty(Pretty.prettyTestRes(res)))
    }
  }

  /** Single-file output == header + the multi-file parts' bodies, in order,
    * and 0 jobs; the multi-file run (one task per file) is the listener's
    * positive control.
    */
  private def agreeProp(fmt: Discovery.Format, ext: String, gen: Gen[String]): Prop =
    Prop.forAllNoShrink(Gen.choose(1, 5).flatMap(Gen.listOfN(_, gen))) { contents =>
      val d = tmpDir("byteprop")
      val files = contents.zipWithIndex.map { case (c, i) => writeFile(d, f"in-$i%02d$ext", c) }
      var single: Map[String, Any] = Map.empty
      val singleJobs = jobsStartedBy { single = convert(d, files, s"one$ext", fmt, singleFile = true) }
      val multiJobs = jobsStartedBy { convert(d, files, s"many$ext", fmt, singleFile = false) }
      val parts = files.indices.map(i => d.resolve(f"many-$i%04d$ext"))
      val header = if (fmt == Discovery.Csv) "a,b,c\n".getBytes("UTF-8") else Array.emptyByteArray
      val want = header ++ parts.flatMap(p => if (fmt == Discovery.Csv) body(p) else Files.readAllBytes(p))
      val got = Files.readAllBytes(d.resolve(s"one$ext"))
      assert(java.util.Arrays.equals(got, want),
        s"single-file output diverged:\n<${new String(got, "UTF-8")}>\nvs\n<${new String(want, "UTF-8")}>")
      assert(singleJobs == 0, s"single-file byte path launched $singleJobs Spark job(s)")
      assert(multiJobs == 1, s"multi-file byte path launched $multiJobs job(s), expected 1")
      // per-file completion records, in discovery order
      assert(single("files").asInstanceOf[Seq[Map[String, Any]]]
        .map(f => java.nio.file.Paths.get(f("path").toString).getFileName.toString) ==
        files.map(f => java.nio.file.Paths.get(f).getFileName.toString))
      true
    }

  test("property: single-file CSV byte output == header + multi-file part bodies, 0 jobs") {
    check(agreeProp(Discovery.Csv, ".csv", csvFile))
  }

  test("property: single-file JSONL byte output == concatenated multi-file parts, 0 jobs") {
    check(agreeProp(Discovery.Jsonl, ".jsonl", jsonlFile))
  }

  test("single-file byte paths emit unequal-size shards in discovery order") {
    import spark.implicits._
    val d = tmpDir("byteorder")
    // shard i holds ids [start_i, start_i + size_i): sizes unequal and not
    // monotone, so a size-ordered packing could not pass for discovery order
    val sizes = Seq(3, 40, 1, 25, 7)
    val starts = sizes.scanLeft(0)(_ + _)
    val ids = sizes.indices.flatMap(i => starts(i) until starts(i) + sizes(i))
    sizes.indices.foreach { i =>
      val rows = (starts(i) until starts(i) + sizes(i))
      writeFile(d, f"csv/part-$i%04d.csv", rows.map(r => s"$r,v$r").mkString("id,v\n", "\n", "\n"))
      writeFile(d, f"jsonl/part-$i%04d.jsonl", rows.map(r => s"""{"id":$r}""").mkString("", "\n", "\n"))
      rows.toDF("id").coalesce(1).write.parquet(d.resolve(f"pq/part-$i%04d").toString)
      val pqPart = Files.list(d.resolve(f"pq/part-$i%04d")).filter(_.toString.endsWith(".parquet"))
        .findFirst.get
      Files.move(pqPart, d.resolve(f"pq/shard-$i%04d.parquet"))
    }
    def idsIn(text: String, csv: Boolean): Seq[Int] = {
      val lines = text.linesIterator.toSeq
      if (csv) lines.tail.map(_.split(",")(0).toInt)
      else lines.map(_.stripPrefix("{\"id\":").stripSuffix("}").toInt)
    }
    convert(d, Seq(d.resolve("csv").toString), "o.csv", Discovery.Csv, singleFile = true)
    assert(idsIn(Files.readString(d.resolve("o.csv")), csv = true) == ids)
    convert(d, Seq(d.resolve("jsonl").toString), "o.jsonl", Discovery.Jsonl, singleFile = true)
    assert(idsIn(Files.readString(d.resolve("o.jsonl")), csv = false) == ids)
    val pqInputs = sizes.indices.map(i => d.resolve(f"pq/shard-$i%04d.parquet").toString)
    val m = convert(d, pqInputs, "o.parquet", Discovery.Parquet, singleFile = true)
    assert(m("files").asInstanceOf[Seq[Map[String, Any]]].map(_("rows")) == sizes.map(_.toLong))
    // one row group per shard, appended in order: a one-partition read of
    // the single file returns the rows in file order
    assert(spark.read.parquet(d.resolve("o.parquet").toString).coalesce(1)
      .as[Long].collect().toSeq == ids.map(_.toLong))
  }
}
