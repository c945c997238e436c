package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round profiler: run named queries in the bench session
  * ([[Bench.session]], the same noop sink) and report, per
  * repetition, the wall time plus the scheduler-level work the query
  * submitted — job / stage / task counts, shuffle bytes, executor run+GC
  * time — and the Janino class compiles it paid (count and wall, from
  * Spark's codegen counters; local mode, so executor compiles count
  * too). The deltas expose where a leg's wall goes at bench scale (fixed
  * per-job overhead vs real compute) and make "this change removed an
  * Exchange / an action" claims checkable from the console. Measurement
  * only — never part of a declared query path.
  *
  * Usage: runMain graft.OneQuery <q1,q2,...> [sfDir] [reps]
  */
object OneQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq)
      .getOrElse(Seq("q01_pricing_summary"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Bench.session()
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufRead = new AtomicLong; val shufWrite = new AtomicLong
    val runMs = new AtomicLong; val gcMs = new AtomicLong
    // GRAFT_PROF_JOBS=1: per-job attribution — duration + description/call
    // site for every job slower than 150 ms
    val jobAttr = sys.env.get("GRAFT_PROF_JOBS").contains("1")
    val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobAttr) {
          val p = Option(j.properties)
          val desc = p.flatMap(x => Option(x.getProperty("callSite.short"))).getOrElse("?") +
            " | " + p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
          jobStartMs.put(j.jobId, (System.currentTimeMillis(), desc))
        }
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobAttr) Option(jobStartMs.remove(e.jobId)).foreach { case (t0, desc) =>
          val ms = System.currentTimeMillis() - t0
          if (ms >= 150) println(f"[job] ${e.jobId}%5d $ms%6d ms  $desc")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          runMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
        }
      }
    })
    spark.read.parquet(s"$sfDir/region.parquet").count() // session warmup
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to reps).foreach { rep =>
        val j0 = jobs.get; val s0 = stages.get; val t0 = tasks.get
        val sr0 = shufRead.get; val sw0 = shufWrite.get
        val r0 = runMs.get; val g0 = gcMs.get
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cns0 = CodeGenerator.compileTime
        val w0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$n rep$rep")
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - w0) / 1e9
        // listener events are async: give the bus a moment to drain
        // (listenerBus.waitUntilEmpty is private[spark]; a fixed settle is
        // fine for a human-read diagnostic)
        Thread.sleep(300)
        println(f"[prof] $n rep$rep wall=$wall%.3f s jobs=${jobs.get - j0} " +
          f"stages=${stages.get - s0} tasks=${tasks.get - t0} " +
          f"shufR=${(shufRead.get - sr0) / 1e6}%.1f MB shufW=${(shufWrite.get - sw0) / 1e6}%.1f MB " +
          f"exec=${(runMs.get - r0) / 1e3}%.1f s gc=${(gcMs.get - g0) / 1e3}%.2f s " +
          f"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0} " +
          f"compile_ms=${(CodeGenerator.compileTime - cns0) / 1e6}%.0f")
      }
    }
    spark.stop()
  }
}
