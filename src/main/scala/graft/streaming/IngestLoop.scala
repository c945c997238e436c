package graft.streaming

import graft.util.Conf.withConf
import graft.util.Recorder
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The marker-gated micro-batch ingest loop: a file-source query with a
  * checkpoint, and a `foreachBatch` sink that commits each batch id at most
  * once — Structured Streaming's exactly-once idiom, written in one place.
  * Every step goes through one Hadoop `FileSystem`, so the protocol holds on
  * any FS with an atomic directory rename, not only local POSIX.
  *
  * Layout under `base`:
  *  - `delta/`: the watched input dir, one parquet file per fed batch;
  *  - `ckpt/`: the query's checkpoint;
  *  - `staged/`: input files while they are written, and `staged/b<N>`,
  *    batch N's output while its body runs;
  *  - `committed/b<N>`: batch N's marker — its published output, or an empty
  *    dir when the batch was empty or its body keeps its state elsewhere
  *    (in tables).
  *
  * [[run]] is the one way a query consumes micro-batches: it streams the
  * batches in and hands each one to [[commit]], the output half. [[commit]]
  * is public so specs can replay a single batch; [[land]] and [[delta]]
  * serve queries that only need the watched input dir.
  *
  * The query runs inside [[Checkpoint.local]]: on a local `base` its
  * offset, commit and source logs are renamed in through Spark's
  * FileSystem checkpoint manager, because without the native Hadoop
  * library each FileContext rename forks `readlink` four times, and on
  * `file:` both managers do the same check-then-rename. A manager the user
  * sets wins, and a `base` on any other FS keeps FileContext's rename.
  */
final class IngestLoop private (s: SparkSession, val base: Path) {

  private val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The watched input dir that [[land]] writes into. */
  val delta = new Path(base, "delta")
  private val staged = new Path(base, "staged")
  private val committedDir = new Path(base, "committed")

  private def reset(): Unit = {
    fs.delete(base, true)
    Seq(delta, staged, committedDir).foreach(mkdirs)
  }

  private def mkdirs(p: Path): Unit =
    if (!fs.mkdirs(p)) throw new java.io.IOException(s"mkdirs failed: $p")

  private def marker(id: Long) = new Path(committedDir, s"b$id")

  private var stagingSecs = Vector.empty[Double]

  /** Ids of the committed batches, ascending. */
  def committedIds(): Seq[Long] =
    fs.listStatus(committedDir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("b")).map(_.drop(1).toLong).sorted

  /** Markers that carry an output, in batch order — the committed non-empty
    * batches of a body that writes under its staged dir.
    */
  def payloads(): Seq[String] =
    committedIds().map(marker).filter(fs.listStatus(_).nonEmpty).map(_.toString)

  /** Write `df` as ONE parquet file `delta/<name>.parquet` — the unit of
    * arrival for a file-source micro-batch. It is written under `staged/`
    * and renamed in, because a staging dir inside the watched dir races
    * the source's recursive listing (the source can list a dir that is
    * then deleted under it). This loop's staging walls so far are recorded
    * under [[graft.util.Recorder.StagingSecs]].
    */
  def land(df: DataFrame, name: String): Unit = {
    val t0 = System.nanoTime()
    try {
      val tmp = new Path(staged, s"in-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .head
      rename(part, new Path(delta, s"$name.parquet"))
      fs.delete(tmp, true)
    } finally {
      stagingSecs :+= (System.nanoTime() - t0) / 1e9
      Recorder.put(Recorder.StagingSecs, stagingSecs)
    }
  }

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename failed: $from -> $to")

  /** The input half of [[run]]: start a query over `delta/` with `schema`,
    * land each of `batches` as one file and process it before the next one
    * lands (so batch order is known and no modification-time race can merge
    * two), then stop. Each micro-batch goes to `onBatch`.
    *
    * `stateful` is a transform applied to the streaming plan itself (a
    * state store only sees stateful work done in the plan, not in the
    * sink). It runs in update mode, and the query stops and restarts from
    * its checkpoint before each later batch, so the carried state must
    * survive a process handover, not only consecutive triggers.
    */
  private def feed(schema: StructType, batches: Seq[DataFrame],
      stateful: Option[DataFrame => DataFrame])
      (onBatch: (DataFrame, Long) => Unit): Unit = {
    val ckpt = new Path(base, "ckpt").toString
    def start() = {
      val src = s.readStream.schema(schema).parquet(delta.toString)
      stateful.fold(src)(_(src)).writeStream
        .outputMode(if (stateful.isDefined) "update" else "append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(onBatch).start()
    }
    Checkpoint.local(s, ckpt) {
      var q = start()
      try batches.zipWithIndex.foreach { case (b, i) =>
        if (i > 0 && stateful.isDefined) { q.stop(); q = start() }
        land(b, s"b${i + 1}")
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  /** The output half, for micro-batch `id`. In order:
    *  1. a committed id is skipped — a redelivery after the marker;
    *  2. an empty batch gets a marker with no payload, and `body` is not
    *     called;
    *  3. `body(batch, id, out)` runs, writing its output under `out`
    *     (`staged/b<N>`) — with shuffle partitions scoped to the core count,
    *     because per-batch work is sized by the batch, and a corpus-sized
    *     session setting would charge every micro-batch the task-scheduling
    *     cost of the whole corpus;
    *  4. publish: one rename of `out` to the marker, or a `mkdirs` of the
    *     marker when the body wrote nothing.
    * A crash before step 4 leaves no marker, so the redelivered batch runs
    * the body again: each body must replay safely (overwrite its outputs,
    * or refuse loudly). Returns the batch's wall seconds when the body ran.
    */
  def commit(batch: DataFrame, id: Long)
      (body: (DataFrame, Long, String) => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    val done = marker(id)
    if (fs.exists(done)) None
    else if (batch.isEmpty) { mkdirs(done); None }
    else {
      val out = new Path(staged, s"b$id")
      withConf(s, "spark.sql.shuffle.partitions", s.sparkContext.defaultParallelism.toString) {
        body(batch, id, out.toString)
      }
      if (fs.exists(out)) rename(out, done) else mkdirs(done)
      Some((System.nanoTime() - t0) / 1e9)
    }
  }

  /** [[feed]] with [[commit]] as the sink: records the per-batch walls of the
    * bodies that ran under [[graft.util.Recorder.BatchWalls]], and requires
    * one committed id per fed batch.
    */
  def run(schema: StructType, batches: Seq[DataFrame],
      stateful: Option[DataFrame => DataFrame] = None)
      (body: (DataFrame, Long, String) => Unit): Unit = {
    val walls = List.newBuilder[Double]
    feed(schema, batches, stateful)((b, id) => walls ++= commit(b, id)(body))
    val n = committedIds().size
    require(n == batches.size,
      s"${base.getName}: expected ${batches.size} committed micro-batches, saw $n")
    Recorder.put(Recorder.BatchWalls, walls.result())
  }
}

object IngestLoop {

  /** A loop over an empty tree at `base`: any earlier run's tree is deleted. */
  def apply(s: SparkSession, base: Path): IngestLoop = {
    val loop = new IngestLoop(s, base)
    loop.reset()
    loop
  }

  /** [[apply]] at `<java.io.tmpdir>/<tag>_<hex of key's hash>` on the local
    * FS — one fixed tree per (tag, key), so a rerun replaces the last run's.
    */
  def local(s: SparkSession, tag: String, key: String): IngestLoop =
    apply(s, new Path("file", null, new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${tag}_${java.lang.Integer.toHexString(key.hashCode)}").getAbsolutePath))
}
