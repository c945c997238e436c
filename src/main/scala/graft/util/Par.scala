package graft.util

/** Driver-side concurrency: [[Par.map]] for independent per-file probes,
  * and [[Par.actions]] to run independent Spark ACTIONS concurrently (guide-§2.6
  * job overlap): Spark's scheduler happily runs several jobs at once inside
  * one application — actions are only sequential because driver code calls
  * them sequentially. Two table writes that share nothing (or share only
  * already-materialized inputs) waste the tail of each other's stages when
  * run back-to-back; submitted together, the second job's tasks back-fill
  * executor slots freed by the first job's stragglers. Inputs that BOTH
  * actions consume must be materialized (persist+count / localCheckpoint)
  * before calling, or the racing actions may compute the shared subplan
  * twice.
  *
  * `actions`' failure semantics match sequential code: waits for all, then
  * rethrows the first failure (the other action has already finished — no orphaned
  * half-running job).
  */
object Par {
  /** The scheduler-facing local properties that must follow the caller onto
    * the shared pool (round-20 advice #4): SparkContext locals are
    * InheritableThreadLocals snapshotted when a pool thread is CREATED, so
    * a reused global-pool thread can carry stale/unrelated job-group or
    * pool assignments — jobs launched there would escape the caller's
    * cancelJobGroup (e.g. stopping a streaming query would not cancel the
    * staged writes inside its foreachBatch).
    */
  private val propagatedKeys = Seq(
    "spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")

  def actions(fs: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    // capture the CALLER's values (null entries clear a stale pool-thread
    // value rather than leaving it — setLocalProperty(null) removes)
    val props = sc.map(c => propagatedKeys.map(k => k -> c.getLocalProperty(k)))
    val futs = fs.map(f => Future {
      for (c <- sc; ps <- props; (k, v) <- ps) c.setLocalProperty(k, v)
      f()
    })
    // await every future before surfacing a failure: rethrowing the first
    // while a sibling write is mid-flight would hand control back to a
    // caller that believes nothing is running
    val results = futs.map(f => Await.ready(f, Duration.Inf).value.get)
    results.collectFirst { case scala.util.Failure(e) => throw e }
  }

  /** `f` over every element concurrently on the global pool, results in
    * input order: the driver's per-file probes (schema samples, footers,
    * header lines), where serial open+read round trips would add O(files) x
    * store-latency dead time before any task launches. Rethrows a failure.
    */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
  }
}
