package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into graft's layers, plus a census of
  * the Spark jobs, stages and tasks and the streaming progress events those
  * calls caused. Everything stays in memory until the run ends.
  *
  * Jobs are attributed to spans by job group (each span sets its own) and,
  * for jobs submitted on other threads (streaming micro-batches), by start
  * time; the attribution itself happens after the run, from the raw records.
  */
final class Trace(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      side: Boolean, startMs: Long, endMs: Long, durS: Double)

  final class JobRec(val id: Int, val startMs: Long, val group: String) {
    @volatile var endMs: Long = -1L
    var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var inBytes = 0L; var outBytes = 0L
  }

  @volatile private var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sideDepth = 0
  /** The operation (leg, wave or query) new spans belong to. */
  var op: Int = -1

  /** Time spent in span bookkeeping and in the listeners' callbacks: the
    * tracing's own cost, reported as its overhead. */
  private var spanNs = 0L
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong()
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val progress = java.util.Collections.synchronizedList(
    new java.util.ArrayList[Map[String, Any]]())

  private val census = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, group))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      job(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 })
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      job(e.stageId).foreach { j => j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime; j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.inBytes += m.inputMetrics.bytesRead; j.outBytes += m.outputMetrics.bytesWritten
        }
      } }
    }
    private def job(stageId: Int): Option[JobRec] =
      Option(stageJob.get(stageId)).flatMap(id => Option(jobs.get(id)))
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      progress.add(Map(
        "run_id" -> p.runId.toString, "batch" -> p.batchId,
        "ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def on: Boolean = enabled

  def start(): Unit = {
    spark.sparkContext.addSparkListener(census)
    spark.streams.addListener(streams)
    enabled = true
  }

  def stop(): Unit = {
    enabled = false
    spark.sparkContext.removeSparkListener(census)
    spark.streams.removeListener(streams)
  }

  /** Time `f` as a span of layer `name`; a no-op when tracing is off. */
  def span[A](name: String)(f: => A): A = {
    if (!enabled) return f
    val e0 = System.nanoTime()
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    stack = id :: stack
    sc.setJobGroup(s"span-$id", name)
    val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      spans += Span(id, parent, op, name, sideDepth > 0, startMs, System.currentTimeMillis(), (t1 - t0) / 1e9)
      stack = stack.tail
      if (parent >= 0) sc.setJobGroup(s"span-$parent", "") else sc.clearJobGroup()
      spanNs += (t0 - e0) + (System.nanoTime() - t1)
    }
  }

  /** Calls made only to time a layer that the entry point composes
    * internally. Their spans are marked `side`: kept out of the operation's
    * wall, its census and the tracing overhead. Skipped when tracing is off.
    */
  def side(f: => Unit): Unit = if (enabled) {
    sideDepth += 1
    try f finally sideDepth -= 1
  }

  /** Wait until the listener has seen every event posted so far and every
    * job it saw start has ended. False on timeout: the census is incomplete.
    */
  def drain(timeoutMs: Long = 30000L): Boolean = {
    if (!enabled) return true
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext, timeoutMs)
    while (ok && jobs.values.asScala.exists(_.endMs < 0)) {
      if (System.currentTimeMillis() > deadline) ok = false
      else {
        Thread.sleep(5)
        ok = org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext,
          math.max(1L, deadline - System.currentTimeMillis()))
      }
    }
    ok
  }

  def records: Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "side" -> s.side, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_s" -> s.durS)).toSeq,
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map("id" -> j.id,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "group" -> j.group,
      "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
      "gc_ms" -> j.gcMs, "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
      "in_bytes" -> j.inBytes, "out_bytes" -> j.outBytes)),
    "progress" -> progress.asScala.toSeq,
    "overhead" -> Map("span_s" -> spanNs / 1e9, "listener_s" -> listenerNs.get / 1e9))
}
