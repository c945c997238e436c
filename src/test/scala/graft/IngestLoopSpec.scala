package graft

import graft.streaming.IngestLoop
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.internal.SQLConf
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** [[IngestLoop]]'s interpreted gate: a batch the loop landed small runs its
  * body with interpreted expressions, a large one with codegen, both keys
  * come back on both sessions, and a stateless loop decides emptiness from
  * the landed footer's row count instead of an `isEmpty` job. A body's jobs
  * carry the batch's job description.
  */
class IngestLoopSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, SQLConf.CODEGEN_FACTORY_MODE.key)

  private def confOf(s: SparkSession) = keys.map(k => k -> s.conf.getOption(k))

  private def loop(prefix: String) = IngestLoop(spark, new Path(tmpDir(prefix).toUri))

  private def rows(n: Long): DataFrame = spark.range(n).select($"id", ($"id" % 7).as("v"))

  /** What one body call saw: its batch id, whether its plan holds a
    * whole-stage codegen stage, the factory mode `SQLConf.get` reports,
    * and the batch's own session.
    */
  private case class Seen(id: Long, wholeStage: Boolean, mode: String, session: SparkSession)

  /** Local property that tags the jobs a [[RecordingBody]] starts. */
  private val BodyTag = "graft.test.loopBody"

  /** A body that records what it saw and writes a filtered projection,
    * tagging its own jobs with [[BodyTag]].
    */
  private class RecordingBody {
    val seen = ArrayBuffer.empty[Seen]
    def apply(b: DataFrame, id: Long, out: String): Unit = {
      val sc = b.sparkSession.sparkContext
      sc.setLocalProperty(BodyTag, "1")
      try {
        val q = b.where($"v" =!= 3).select(($"id" + 1).as("id"), $"v")
        val wholeStage = q.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
        seen += Seen(id, wholeStage, SQLConf.get.getConf(SQLConf.CODEGEN_FACTORY_MODE).toString,
          b.sparkSession)
        q.write.mode("overwrite").parquet(out)
      } finally sc.setLocalProperty(BodyTag, null)
    }
  }

  /** The properties of every job started while `f` runs. A marker job
    * after `f` drains the listener bus, which delivers events in order.
    */
  private def jobsDuring(f: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val marker = s"drain-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[java.util.Properties]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        if (p.getProperty("spark.job.description") == marker) drained.countDown()
        else jobs.add(p)
      }
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Jobs started while `f` runs, outside any [[RecordingBody]]. */
  private def jobsOutsideBodies(f: => Unit): Int =
    jobsDuring(f).count(_.getProperty(BodyTag) == null)

  test("a small landed batch runs interpreted, one above the row cap with codegen") {
    val l = loop("gate")
    val body = new RecordingBody
    l.run(Seq(rows(50), rows(IngestLoop.InterpretedMaxRows + 1)))(body(_, _, _))
    val Seq(small, large) = body.seen.toSeq
    assert(!small.wholeStage && small.mode == "NO_CODEGEN", s"small batch: $small")
    assert(large.wholeStage && large.mode == "FALLBACK", s"large batch: $large")
    val out = spark.read.parquet(l.payloads(): _*)
    assert(out.count() == Seq(50L, IngestLoop.InterpretedMaxRows + 1)
      .map(n => (0L until n).count(_ % 7 != 3)).sum)
  }

  test("both keys are restored on both sessions after run and after a body that throws") {
    val before = confOf(spark)
    val body = new RecordingBody
    loop("restore").run(Seq(rows(20)))(body(_, _, _))
    val streamSession = body.seen.head.session
    assert(streamSession ne spark, "the body should see the micro-batch's own session")
    assert(confOf(spark) == before && confOf(streamSession) == before)

    var thrownIn: Option[SparkSession] = None
    val e = intercept[Exception](loop("restorethrow").run(Seq(rows(20))) {
      (b, _, _) =>
        thrownIn = Some(b.sparkSession)
        assert(SQLConf.get.getConf(SQLConf.CODEGEN_FACTORY_MODE).toString == "NO_CODEGEN")
        throw new IllegalStateException("injected body crash")
    })
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "injected body crash"), e.toString)
    assert(confOf(spark) == before && thrownIn.map(confOf).contains(before))
  }

  test("a stateless loop launches no isEmpty job; a replayed frame still pays one") {
    val l = loop("noisempty")
    val body = new RecordingBody
    // outside its bodies a stateless run starts one job per batch: the
    // write that lands it
    val inRun = jobsOutsideBodies {
      l.run(Seq(rows(30), rows(0), rows(40)))(body(_, _, _))
    }
    assert(inRun == 3, s"jobs outside the bodies of a 3-batch stateless run: $inRun")
    // a frame the loop did not land decides emptiness with an isEmpty job
    assert(jobsOutsideBodies(l.commit(rows(5), 9L)(body(_, _, _))) == 1)
    assert(body.seen.last.mode == "FALLBACK", "a replayed frame keeps codegen")
  }

  test("the body sees K distinct batch ids in order; an empty batch gets a marker, no payload") {
    val l = loop("order")
    val body = new RecordingBody
    l.run(Seq(rows(10), rows(11), rows(0), rows(12)))(body(_, _, _))
    assert(body.seen.map(_.id) == Seq(0L, 1L, 3L), s"body ids: ${body.seen.map(_.id)}")
    assert(l.committedIds() == Seq(0L, 1L, 2L, 3L))
    assert(l.payloads().map(p => new Path(p).getName) == Seq("b0", "b1", "b3"))
  }

  test("a body's jobs carry `<base dir name> b<id>`, and the caller's description comes back") {
    val l = loop("desc")
    val sc = spark.sparkContext
    def desc = sc.getLocalProperty("spark.job.description")
    val body = new RecordingBody
    sc.setJobDescription("caller")
    val jobs = try jobsDuring {
      l.run(Seq(rows(10), rows(0), rows(12)))(body(_, _, _))
      assert(desc == "caller", "after run")
      // a replay on this thread restores it too, also when the body throws
      intercept[IllegalStateException](l.commit(rows(5), 7L) { (_, _, _) =>
        assert(desc == s"${l.base.getName} b7")
        throw new IllegalStateException("injected body crash")
      })
      assert(desc == "caller", "after a body that threw")
    } finally sc.setJobDescription(null)
    val inBodies = jobs.filter(_.getProperty(BodyTag) != null)
      .map(_.getProperty("spark.job.description"))
    assert(inBodies.nonEmpty && inBodies.toSet == Set(0L, 2L).map(id => s"${l.base.getName} b$id"),
      s"descriptions of the body jobs: $inBodies")
  }
}
