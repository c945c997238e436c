package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The warehouse, and the one way a table and its location are deleted
  * from it (round-11 verdict #6).
  *
  * The maintenance loops (d16's per-invocation merged table, st12's
  * batch-id-keyed versions, the fixture-keyed serve indexes, the `_b<N>`
  * ingest chains) create managed tables whose cleanup is normally a
  * `finally` drop or a same-key overwrite — but a CRASHED run's tables (and
  * any table keyed by a fixture that no longer exists) have no owner and
  * accumulate as warehouse litter in a long-lived deployment. Each family
  * therefore sweeps its own prefix at build/maintenance ENTRY: everything
  * under the prefix that the caller does not keep — catalog entries AND
  * their warehouse locations (the default in-memory catalog forgets tables
  * at JVM exit while locations survive, so orphan LOCATIONS are the common
  * crash residue) — is dropped. VersionedTable's depth-2 retention and
  * CLI sweep, and Bm25Index's chain retention, are keep rules over this
  * same sweep.
  */
object TableRetention {

  /** The session's warehouse root and its filesystem. */
  def warehouse(spark: SparkSession): (Path, FileSystem) = {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/"))
    (wh, wh.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Names of the current database's tables and temp views matching the
    * SHOW TABLES pattern `prefix*`, read straight from the session catalog:
    * the same names as the public `spark.catalog` listing, but no Spark job
    * (the public API collects its SHOW TABLES plan through one). Callers
    * that need an exact prefix post-filter with `startsWith`: the pattern
    * is case-insensitive and `|` in it means "or".
    */
  def tableNames(spark: SparkSession, prefix: String): Seq[String] = {
    val catalog = spark.sessionState.catalog
    catalog.listTables(catalog.getCurrentDatabase, prefix + "*").map(_.table)
  }

  private val listeners =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()

  /** Register a listener invoked with every name a sweep drops or deletes
    * (round-19 verdict #6): session caches keyed by table name — Bm25Index's
    * hybrid probe registry — release their entry when retention retires the
    * table. Listeners must be idempotent and cheap; they run inline.
    */
  def onSwept(f: String => Unit): Unit = listeners.add(f)

  /** Drop every catalog table and warehouse location whose name starts
    * with `prefix` and that `keep` does not claim. Returns what was swept
    * (`table:name` / `loc:name`) for logging and specs. The prefix must be
    * a family-specific name stem — a short prefix would sweep unrelated
    * state, so refuse anything under 4 chars.
    *
    * Candidates are prefix-LISTED on both sides (a SHOW TABLES pattern and
    * a warehouse glob, round-19 verdict #8), so a sweep costs O(matches),
    * never O(warehouse); a `startsWith` post-filter means pattern syntax in
    * the prefix can only narrow the candidates. `keep` is evaluated per
    * candidate IMMEDIATELY before its drop or delete, so a caller's lease
    * re-stat closes the listing-to-delete race (a lease taken while earlier
    * drops run still spares later candidates).
    */
  def sweep(spark: SparkSession, prefix: String,
      keep: String => Boolean = _ => false): Seq[String] = {
    require(prefix.length >= 4,
      s"retention sweep prefix '$prefix' too short — it would sweep unrelated tables")
    sweepListed(spark, prefix, keep)
  }

  /** [[sweep]] without the prefix-length guard: VersionedTable.sweepStale's
    * warehouse-wide entry, whose `keep` itself spares every name that does
    * not derive from a versioned build.
    */
  private[util] def sweepListed(spark: SparkSession, prefix: String,
      keep: String => Boolean): Seq[String] = {
    val swept = scala.collection.mutable.ArrayBuffer.empty[String]
    def retire(tag: String, name: String)(delete: => Unit): Unit =
      if (name.startsWith(prefix) && !keep(name)) {
        delete
        listeners.forEach(f => f(name))
        swept += s"$tag:$name"
      }
    // catalog entries first: dropping a managed table removes its location,
    // so the warehouse listing after it sees only ORPHAN locations
    tableNames(spark, prefix)
      .foreach(t => retire("table", t)(spark.sql(s"DROP TABLE IF EXISTS `$t`")))
    val (wh, fs) = warehouse(spark)
    if (fs.exists(wh)) fs.globStatus(new Path(wh, prefix + "*")).foreach { st =>
      retire("loc", st.getPath.getName)(fs.delete(st.getPath, true))
    }
    swept.toSeq
  }
}
