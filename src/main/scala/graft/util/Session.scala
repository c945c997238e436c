package graft.util

import org.apache.spark.sql.SparkSession

/** The one definition of graft's SparkSession: every entry point and the
  * test harness build theirs here and state only what differs.
  *
  * Every session runs in UTC with the UI off, writes `file:` through
  * [[ForkFreeLocalFileSystem]] ([[ForkFreeLocalFs]] under Hadoop's
  * `FileContext` API), and keeps up to 2000 generated classes in the
  * codegen cache. The cache size is a static conf with a default of
  * 100: a curation pass compiles several hundred classes, and at 100 it
  * evicts and recompiles some of them.
  */
object Session {

  private val Shared = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** The session on `master` with `shufflePartitions` and Spark's log
    * level at `logLevel`, plus the caller's own `conf`.
    */
  def apply(master: String, shufflePartitions: Int, logLevel: String,
      conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    (Shared ++ conf).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** [[apply]] for a harness that runs the declared queries: it also reads
    * nanosecond Parquet timestamps as longs, for fixtures written before
    * the microsecond ones (a no-op on those; `Q.normalizeTs` handles both).
    */
  def forQueries(master: String, shufflePartitions: Int, logLevel: String,
      conf: (String, String)*): SparkSession =
    apply(master, shufflePartitions, logLevel,
      ("spark.sql.legacy.parquet.nanosAsLong" -> "true") +: conf: _*)
}
