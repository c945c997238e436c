package graft.cli

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Live console progress for the batch CLI — the Spark-native analogue of
  * the reference's per-file progress bars + ETA (`progress.rs:6-197`).
  *
  * The reference tracks one bar per reader thread over its file; here the
  * unit of execution is the Spark TASK, which on the byte fast paths' multi-
  * file output IS one input file (one task per file, `CsvByteConcat.scala`),
  * and on the typed path is one input split. Single-file byte conversions
  * run on the driver with no Spark job, so they render no bar; their
  * per-file `--json-logs` completion events still fire. The listener
  * renders a single carriage-return line on the driver from scheduler-bus
  * task completions:
  *
  *   [#####.....] 12/24 tasks  3.4 MB/s  elapsed 2.1s  eta 2.2s
  *
  * Driver-side only, throttled, no effect on the plan or executors. ETA is
  * completed-task extrapolation (bytes are unavailable for the byte paths,
  * which stream outside Spark's input metrics). Rendered to stderr so stdout
  * stays clean for --json-logs consumers and shell pipelines.
  */
final class LiveProgress(emit: String => Unit = s => { System.err.print(s); System.err.flush() },
    throttleMs: Long = 100) extends SparkListener {
  private val total = new java.util.concurrent.atomic.AtomicLong
  private val done = new java.util.concurrent.atomic.AtomicLong
  private val bytes = new java.util.concurrent.atomic.AtomicLong
  private val t0 = System.nanoTime()
  @volatile private var lastRender = 0L

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
    total.addAndGet(s.stageInfo.numTasks.toLong)
    ()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    done.incrementAndGet()
    if (t.taskMetrics != null) bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    val now = System.nanoTime()
    if (now - lastRender >= throttleMs * 1000000L) { lastRender = now; render() }
  }

  /** Final render + newline; call after the job completes. */
  def finish(): Unit = { render(); emit("\n") }

  private def render(): Unit = {
    val n = total.get(); val k = math.min(done.get(), n)
    if (n == 0) return
    val sec = (System.nanoTime() - t0) / 1e9
    val eta = if (k == 0) Double.NaN else sec / k * (n - k)
    val width = 20
    val filled = ((k.toDouble / n) * width).toInt
    val bar = "#" * filled + "." * (width - filled)
    val mbps = if (sec > 0) bytes.get() / 1e6 / sec else 0.0
    val etaStr = if (eta.isNaN) "?" else f"$eta%.1fs"
    emit(f"\r[$bar] $k/$n tasks  $mbps%.1f MB/s  elapsed $sec%.1fs  eta $etaStr")
  }
}
