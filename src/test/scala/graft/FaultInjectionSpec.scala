package graft

import graft.operators.Concat
import graft.sinks.Sink
import graft.sources.Discovery
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** A local filesystem registered under the `fault:` scheme whose rename()
  * throws after a configurable number of successful calls — the injection
  * point for killing a promote protocol mid-flight. RawLocalFileSystem
  * (not the checksummed LocalFileSystem) so part files are plain bytes.
  */
class FaultRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("fault:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (FaultRenameFs.remaining.getAndDecrement() <= 0)
      throw new java.io.IOException(s"injected rename fault: $src -> $dst")
    super.rename(src, dst)
  }
  // RawLocalFileSystem implements this create variant DIRECTLY (the
  // FsPermission chain is not consulted), so the fault hook lives here
  override def create(p: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (FaultRenameFs.createFaults.getAndDecrement() > 0)
      throw new java.io.IOException(s"injected create fault: $p")
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultRenameFs {
  val remaining = new AtomicInteger(Int.MaxValue)
  val createFaults = new AtomicInteger(0)
  def allowAll(): Unit = { remaining.set(Int.MaxValue); createFaults.set(0) }
  /** Let `n` renames succeed, fail the (n+1)th. */
  def failAfter(n: Int): Unit = remaining.set(n)
  /** Fail the next `n` create() calls (inside TASKS — exercises retries). */
  def failNextCreates(n: Int): Unit = createFaults.set(n)
}

/** The byte paths' crash-window contract: all new data is staged before any
  * output path is touched, and each promoted file moves by a single rename —
  * so a promote killed mid-flight leaves every file at the contract path
  * either complete-old or complete-new, never torn, and a plain re-run
  * converges to all-new. (Sink.replaceMove renames FIRST — atomic overwrite
  * on POSIX — falling back to delete+rename only where that fails.)
  */
class FaultInjectionSpec extends SparkSpec {

  private def faultConf(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.fault.impl", classOf[FaultRenameFs].getName)

  private def csvCfg(inputs: Seq[String]) =
    Concat.Config(inputs, rawPassThrough = true)

  override def withFixture(test: NoArgTest) = {
    faultConf()
    try super.withFixture(test) finally FaultRenameFs.allowAll()
  }

  test("CSV multi-part promote killed mid-rename: parts complete-old or complete-new; rerun repairs") {
    val d = tmpDir("faultcsv")
    def gen(v: String): Seq[String] = Seq(
      writeFile(d, "a.csv", s"k,v\n1,$v\n"),
      writeFile(d, "b.csv", s"k,v\n2,$v\n"),
      writeFile(d, "c.csv", s"k,v\n3,$v\n"))
    val outLocal = d.resolve("out.csv").toString
    val out = s"fault://$outLocal"
    def partContent(i: Int): String =
      Files.readString(d.resolve(f"out-$i%04d.csv"))
    def sinkCfg = Sink.Config(out, Discovery.Csv, singleFile = false)

    val in1 = gen("old")
    Concat.convert(spark, csvCfg(in1), sinkCfg)
    val old = (0 to 2).map(partContent)
    assert(old == Seq("k,v\n1,old\n", "k,v\n2,old\n", "k,v\n3,old\n"))

    val in2 = gen("new")
    val want = Seq("k,v\n1,new\n", "k,v\n2,new\n", "k,v\n3,new\n")
    FaultRenameFs.failAfter(1) // one part promotes, the next rename dies
    intercept[Exception](Concat.convert(spark, csvCfg(in2), sinkCfg))
    FaultRenameFs.allowAll()
    // every part at the contract path is EXACTLY one generation — no torn
    // bytes, no interleaving — and the set still parses as a full output
    val seen = (0 to 2).map(partContent)
    seen.zipWithIndex.foreach { case (c, i) =>
      assert(c == old(i) || c == want(i), s"part $i torn: <$c>")
    }
    assert(seen.exists(_.contains("new")) && seen.exists(_.contains("old")),
      "fault should have landed mid-promote (some parts new, some old)")
    assert(Sink.readBack(spark, outLocal, Discovery.Csv).count() == 3)
    // crash recovery is a plain re-run: converges to all-new
    Concat.convert(spark, csvCfg(in2), sinkCfg)
    assert((0 to 2).map(partContent) == want)
  }

  test("CSV single-file promote is atomic: all-old on fault, all-new on rerun") {
    val d = tmpDir("faultcsv1")
    val outLocal = d.resolve("out.csv").toString
    val out = s"fault://$outLocal"
    def sinkCfg = Sink.Config(out, Discovery.Csv)

    val in1 = Seq(writeFile(d, "a.csv", "k,v\n1,old\n2,old\n"))
    Concat.convert(spark, csvCfg(in1), sinkCfg)
    val oldBytes = Files.readString(d.resolve("out.csv"))

    val in2 = Seq(writeFile(d, "a.csv", "k,v\n1,new\n2,new\n"))
    FaultRenameFs.failAfter(0) // the single merged->target rename dies
    intercept[Exception](Concat.convert(spark, csvCfg(in2), sinkCfg))
    FaultRenameFs.allowAll()
    assert(Files.readString(d.resolve("out.csv")) == oldBytes,
      "old single-file output must survive a failed promote byte-for-byte")
    Concat.convert(spark, csvCfg(in2), sinkCfg)
    assert(Files.readString(d.resolve("out.csv")) == "k,v\n1,new\n2,new\n")
  }

  test("byte-path task RETRY: a one-shot output create failure leaves output byte-identical") {
    val d = tmpDir("faultretry")
    val in = Seq(
      writeFile(d, "a.csv", "k,v\n1,alpha\n2,beta\n"),
      writeFile(d, "b.csv", "k,v\n3,gamma\n"))
    def convert(out: String, faultOut: Boolean): Seq[String] = {
      val target = d.resolve(s"$out.csv").toString
      Concat.convert(spark, csvCfg(in),
        Sink.Config(if (faultOut) s"fault://$target" else target,
          Discovery.Csv, singleFile = false))
      (0 to 1).map(i => Files.readString(d.resolve(f"$out%s-$i%04d.csv")))
    }
    val clean = convert("clean", faultOut = false)
    // first staging create() dies inside its TASK -> one task fails and
    // RETRIES (test master local[4,3]); the promoted output must be
    // byte-identical to the clean run
    FaultRenameFs.failNextCreates(1)
    val retried = convert("retried", faultOut = true)
    assert(FaultRenameFs.createFaults.get() <= 0, "create fault never fired")
    assert(retried == clean,
      s"byte path diverged under a task retry: $retried vs $clean")
  }

  test("HConf.restore(snapshot(conf)) has exactly conf's entries, runtime-set keys included") {
    import graft.operators.HConf
    import scala.jdk.CollectionConverters._
    def entries(c: org.apache.hadoop.conf.Configuration): Map[String, String] =
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val live = spark.sparkContext.hadoopConfiguration
    val restored = HConf.restore(HConf.snapshot(live))
    assert(restored.get("fs.fault.impl") == classOf[FaultRenameFs].getName)
    assert(entries(restored) == entries(live))
    // no classpath defaults are loaded on top: an empty snapshot stays empty
    val bare = new org.apache.hadoop.conf.Configuration(false)
    bare.set("graft.only.key", "1")
    assert(entries(HConf.restore(HConf.snapshot(bare))) == Map("graft.only.key" -> "1"))
  }

  test("Parquet multi-part promote killed mid-rename: no torn parts; rerun repairs") {
    import spark.implicits._
    val d = tmpDir("faultpq")
    // two parquet inputs, regenerated per generation with distinct values
    def gen(v: Long): Seq[String] = Seq("a", "b").zipWithIndex.map { case (n, i) =>
      val stage = d.resolve(s"stage_$n")
      Seq((i.toLong, v)).toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator()
      val p = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = d.resolve(s"$n.parquet")
      Files.deleteIfExists(dst)
      Files.move(p, dst)
      dst.toString
    }
    val outLocal = d.resolve("out.parquet").toString
    val out = s"fault://$outLocal"
    def sinkCfg = Sink.Config(out, Discovery.Parquet, singleFile = false)
    def readPart(i: Int): Set[(Long, Long)] =
      spark.read.parquet(d.resolve(f"out-$i%04d.parquet").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val in1 = gen(100L)
    Concat.convert(spark, Concat.Config(in1), sinkCfg)
    assert((0 to 1).map(readPart) == Seq(Set((0L, 100L)), Set((1L, 100L))))

    val in2 = gen(200L)
    FaultRenameFs.failAfter(1)
    intercept[Exception](Concat.convert(spark, Concat.Config(in2), sinkCfg))
    FaultRenameFs.allowAll()
    // each promoted part is a COMPLETE parquet file of exactly one
    // generation (a torn file would fail the read outright)
    val seen = (0 to 1).map(readPart)
    seen.zipWithIndex.foreach { case (s, i) =>
      assert(s == Set((i.toLong, 100L)) || s == Set((i.toLong, 200L)),
        s"part $i unexpected: $s")
    }
    Concat.convert(spark, Concat.Config(in2), sinkCfg)
    assert((0 to 1).map(readPart) == Seq(Set((0L, 200L)), Set((1L, 200L))))
  }

  test("staged snapshot promote crashed between its two moves: recoverable, never torn") {
    // the st11/d15 snapshot-maintenance promote (Fs.promoteStaged): POSIX
    // cannot rename-over a non-empty dir, so there is an instant where the
    // contract path is empty — the contract is that EVERY crash state is
    // recoverable because .next is complete before the first move
    val base = Files.createTempDirectory("promote-fault")
    try {
      val snap = base.resolve("snapshot")
      Files.createDirectories(snap)
      Files.writeString(snap.resolve("data.txt"), "v1")
      val staged = base.resolve("snapshot.next")
      Files.createDirectories(staged)
      Files.writeString(staged.resolve("data.txt"), "v2")
      // one-shot crash INSIDE the window: old moved aside, staged not in
      val boom = intercept[RuntimeException](graft.util.Fs.promoteStaged(
        snap, () => throw new RuntimeException("injected crash")))
      assert(boom.getMessage == "injected crash")
      assert(!Files.exists(snap), "crash window: contract path is empty")
      assert(Files.exists(staged) && Files.exists(base.resolve("snapshot.old")))
      // recovery moves the COMPLETE newer tree in and sweeps the old
      assert(graft.util.Fs.recoverStaged(snap))
      assert(Files.readString(snap.resolve("data.txt")) == "v2")
      assert(!Files.exists(staged) && !Files.exists(base.resolve("snapshot.old")))
      // idempotent once healthy
      assert(!graft.util.Fs.recoverStaged(snap))
      // degenerate .old-only state rolls back to the previous snapshot
      val snap2 = base.resolve("s2")
      Files.createDirectories(base.resolve("s2.old"))
      Files.writeString(base.resolve("s2.old").resolve("d"), "old")
      assert(graft.util.Fs.recoverStaged(snap2))
      assert(Files.readString(snap2.resolve("d")) == "old")
      // and a clean promote still works end to end after recovery
      val staged3 = base.resolve("snapshot.next")
      Files.createDirectories(staged3)
      Files.writeString(staged3.resolve("data.txt"), "v3")
      graft.util.Fs.promoteStaged(snap)
      assert(Files.readString(snap.resolve("data.txt")) == "v3")
      assert(!Files.exists(staged3) && !Files.exists(base.resolve("snapshot.old")))
    } finally graft.util.Fs.deleteRecursively(base)
  }
}
