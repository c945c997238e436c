package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

/** Hadoop configuration plumbing that never pays for a fresh default
  * `Configuration` (each one parses Hadoop's `*-default.xml` out of the
  * jars, milliseconds per instance).
  *
  * Tasks: the byte-path tasks can't use Spark's own
  * `SerializableConfiguration` (it is `private[spark]`), and a bare
  * `new Configuration()` on an executor sees only classpath defaults —
  * dropping everything the session set at runtime (`spark.hadoop.*` props,
  * object-store credentials, custom FS impls). So the driver snapshots its
  * `sparkContext.hadoopConfiguration` as plain key/value pairs (a small
  * broadcast-friendly Seq of Strings) and each task rebuilds exactly those
  * entries. Values are copied raw, so `${var}` substitution still resolves
  * on `get` as usual.
  *
  * Parquet: graft's own footer reads and row-group copies all open files
  * through [[openParquet]] (Spark's scans open theirs themselves).
  */
object HConf {

  /** Driver side: snapshot every entry of the live Hadoop conf. */
  def snapshot(hconf: Configuration): Seq[(String, String)] =
    hconf.iterator().asScala.map(e => e.getKey -> e.getValue).toSeq

  /** Task side: exactly the driver's entries. The snapshot already holds
    * every resolved default, so no XML defaults are loaded again.
    */
  def restore(entries: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Open a Parquet file for its footer or its row groups, with read
    * options built from the conf `in` was made with. The one-argument
    * `open` would build its options from a fresh `new Configuration()` on
    * every call.
    */
  def openParquet(in: HadoopInputFile): ParquetFileReader =
    ParquetFileReader.open(in, HadoopReadOptions.builder(in.getConfiguration).build())
}
