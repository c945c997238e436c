package graft

import graft.operators.Concat
import graft.sources.Discovery
import graft.streaming.{Checkpoint, IngestLoop, StreamingConcat}
import graft.util.Conf.withConf
import java.nio.file.{Files, Path}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** Which checkpoint file manager graft's streams write their logs through
  * ([[graft.streaming.Checkpoint]]), counted by the processes it forks.
  *
  * The census is a JFR recording of `jdk.ProcessStart` taken inside this
  * JVM, so it is deterministic: it counts the child processes whose command
  * line names the test's own dirs. Without the native Hadoop library a
  * FileContext rename of a local checkpoint file forks `readlink`; the
  * FileSystem manager forks none.
  */
class CheckpointManagerSpec extends SparkSpec {

  private val FileContextManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  /** Child processes started during `f` whose command line names `under`,
    * counted by program name.
    */
  private def forks(under: Path)(f: => Unit): Map[String, Int] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try f finally rec.stop()
      val file = Files.createTempFile("forks", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.toSeq
          .map(_.getString("command")).filter(_.contains(under.toString))
          .groupBy(_.split(' ').head.split('/').last).map { case (k, v) => k -> v.size }
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }

  /** One `StreamingConcat.run` wave over `d/in`: lands `w<wave>.csv` with
    * ids `wave*10 + 1 .. wave*10 + 3`, then drains it into `d/out` under
    * the checkpoint `d/ckpt`.
    */
  private def wave(d: Path, n: Int): Unit = {
    writeFile(d, s"in/w$n.csv",
      "id,v\n" + (1 to 3).map(i => s"${n * 10 + i},r$n").mkString("\n") + "\n")
    StreamingConcat.run(spark, Concat.Config(Seq(d.resolve("in").toString)),
      d.resolve("out").toString, Discovery.Parquet, d.resolve("ckpt").toString)
  }

  test("a local StreamingConcat wave and a two-batch IngestLoop run fork no readlink") {
    assert(spark.conf.getOption(Checkpoint.ManagerKey).isEmpty)
    val d = tmpDir("census_wave")
    wave(d, 0) // the first wave also creates the checkpoint and sink dirs
    val w = forks(d)(wave(d, 1))
    assert(w.getOrElse("readlink", 0) == 0, s"forks in one wave: $w")

    val base = tmpDir("census_loop")
    val loop = IngestLoop(spark, new org.apache.hadoop.fs.Path(base.toUri))
    import spark.implicits._
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val l = forks(base) {
      loop.run(batch.schema, Seq(batch, batch)) { (b, _, out) =>
        b.write.mode("overwrite").parquet(out)
      }
    }
    assert(loop.committedIds() == Seq(0L, 1L))
    assert(l.getOrElse("readlink", 0) == 0, s"forks in a two-batch loop: $l")
  }

  test("a manager the session sets wins, and the helper leaves its setting as it was") {
    assume(!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded,
      "with the native Hadoop library FileContext renames fork nothing")
    val d = tmpDir("census_user")
    val w = withConf(spark, Checkpoint.ManagerKey -> FileContextManager) {
      wave(d, 0)
      val w = forks(d)(wave(d, 1))
      assert(spark.conf.get(Checkpoint.ManagerKey) == FileContextManager)
      w
    }
    assert(w.getOrElse("readlink", 0) > 0, s"FileContext renames fork readlink: $w")
    assert(spark.conf.getOption(Checkpoint.ManagerKey).isEmpty)
  }

  test("the helper scopes the FileSystem manager to the run and unsets it after") {
    val d = tmpDir("scope")
    assert(spark.conf.getOption(Checkpoint.ManagerKey).isEmpty)
    val inside = Checkpoint.local(spark, d.toString)(spark.conf.get(Checkpoint.ManagerKey))
    assert(inside == Checkpoint.FileSystemManager)
    assert(spark.conf.getOption(Checkpoint.ManagerKey).isEmpty)
    wave(d, 0)
    assert(spark.conf.getOption(Checkpoint.ManagerKey).isEmpty, "a run leaves the key unset")
  }

  test("the helper's decision: local and temp checkpoints only, and never over a user's choice") {
    val local = tmpDir("decide").toString
    def decide(dirs: String*) = Checkpoint.manager(spark, dirs)
    assert(decide(local).contains(Checkpoint.FileSystemManager))
    assert(decide(s"file://$local", local).contains(Checkpoint.FileSystemManager))
    // no checkpointLocation option: Spark's local temp checkpoint
    assert(decide().contains(Checkpoint.FileSystemManager))
    withConf(spark, "spark.sql.streaming.checkpointLocation" -> "hdfs://nn:8020/ckpts") {
      assert(decide().isEmpty)
    }
    // any other scheme keeps Spark's default (FileContext's atomic rename),
    // also when only the file sink's log is elsewhere
    assert(decide(s"fault://$local").isEmpty)
    assert(decide("hdfs://nn:8020/ckpt").isEmpty)
    assert(decide(local, "s3a://bucket/out").isEmpty)
    withConf(spark, Checkpoint.ManagerKey -> FileContextManager) {
      assert(decide(local).isEmpty)
    }
    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.set(Checkpoint.ManagerKey, FileContextManager)
    try assert(decide(local).isEmpty)
    finally hadoop.unset(Checkpoint.ManagerKey)
  }

  test("one checkpoint resumed under alternating managers commits every row exactly once") {
    val d = tmpDir("mixed")
    def ids() = spark.read.parquet(d.resolve("out").toString)
      .groupBy("id").count().collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).sorted.toSeq
    def expected(waves: Int) = for (n <- 1 to waves; i <- 1 to 3) yield (n * 10L + i, 1L)
    withConf(spark, Checkpoint.ManagerKey -> FileContextManager)(wave(d, 1))
    assert(ids() == expected(1))
    wave(d, 2) // the helper's FileSystem manager
    assert(ids() == expected(2))
    withConf(spark, Checkpoint.ManagerKey -> FileContextManager)(wave(d, 3))
    assert(ids() == expected(3))
    // each wave was one micro-batch, committed once
    val commits = d.resolve("ckpt/commits").toFile.list().filter(_.forall(_.isDigit))
    assert(commits.map(_.toLong).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(spark.conf.getOption(Checkpoint.ManagerKey).isEmpty)
  }
}
