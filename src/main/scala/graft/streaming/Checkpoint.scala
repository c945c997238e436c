package graft.streaming

import graft.util.Conf.withConf
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Which checkpoint file manager a graft stream writes its logs through.
  *
  * Structured Streaming writes each log entry (offsets, commits, every file
  * source's log, the file sink's `_spark_metadata`) to a temp file and
  * renames it into place through a checkpoint file manager. Spark's
  * default, `FileContextBasedCheckpointFileManager`, asks `FileContext` for
  * the target's link status on every rename; on `file:` without the native
  * Hadoop library that forks `readlink` four times per rename. On `file:`
  * both of Spark's managers do the same check-then-rename, so a local
  * checkpoint loses nothing under `FileSystemBasedCheckpointFileManager`
  * and forks nothing.
  *
  * [[local]] scopes that manager around a query's whole lifetime when all
  * of its logs are local and nobody chose a manager. A manager the user
  * sets (session conf or `spark.hadoop.*`) wins, and a log on HDFS or an
  * object store keeps FileContext's atomic rename. Both managers write the
  * same files, so a checkpoint resumes under either.
  */
private[graft] object Checkpoint {

  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  val FileSystemManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** The manager [[local]] scopes for a query that keeps its logs in
    * `dirs` (its checkpoint, and a file sink's output dir), or None to
    * leave Spark's choice. No `dirs` is a query without a
    * `checkpointLocation` option: it checkpoints under the session's
    * `spark.sql.streaming.checkpointLocation` when set, else in a local
    * temp dir.
    */
  def manager(s: SparkSession, dirs: Seq[String]): Option[String] = {
    val hadoop = s.sparkContext.hadoopConfiguration
    val userSet = s.conf.getOption(ManagerKey).orElse(Option(hadoop.get(ManagerKey)))
    val logDirs =
      if (dirs.nonEmpty) dirs else s.conf.getOption("spark.sql.streaming.checkpointLocation").toSeq
    val local = logDirs.forall(d => Option(new Path(d).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoop).getScheme) == "file")
    if (userSet.isEmpty && local) Some(FileSystemManager) else None
  }

  /** Run `run` — a query's whole lifetime, from `start` until `stop` or
    * `awaitTermination` returns — under [[manager]]'s choice. The whole
    * lifetime, because Spark creates a file source's log lazily on the
    * stream thread.
    */
  def local[A](s: SparkSession, dirs: String*)(run: => A): A =
    manager(s, dirs).fold(run)(m => withConf(s, ManagerKey -> m)(run))
}
