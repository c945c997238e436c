package graft.streaming

import graft.operators.HConf
import graft.util.Conf.withConf
import graft.util.Recorder
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.internal.SQLConf
import scala.collection.concurrent.TrieMap
import scala.util.Using

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
  * A batch this loop landed with at most `InterpretedMaxRows` rows runs
  * its body with interpreted expressions: whole-stage codegen off and the
  * expression factories in `NO_CODEGEN` mode, on the main session and on
  * the micro-batch's own. Such a body is bound by fixed per-plan costs,
  * and the Janino compile of each generated class costs more than
  * interpreting a few thousand rows through it — curation loops commit
  * batches of a few hundred rows, and compiles were about a fifth of
  * their wall. Larger batches, and batches this loop did not land, keep
  * codegen. `land` reads each file's row count off its parquet footer, so
  * the gate costs no job, and a stateless loop decides emptiness from the
  * same count instead of a `batch.isEmpty` job.
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

  /** Footer row count of each file [[land]] published, by qualified path.
    * Written on the caller's thread, read on the stream's.
    */
  private val landedRows = TrieMap.empty[Path, Long]

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
    * then deleted under it). The file's footer row count is recorded
    * before the rename publishes it, so the stream never sees a landed
    * file without its count. This loop's staging walls so far are recorded
    * under [[graft.util.Recorder.StagingSecs]].
    */
  def land(df: DataFrame, name: String): Unit = {
    val t0 = System.nanoTime()
    try {
      val tmp = new Path(staged, s"in-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).find { st =>
        val n = st.getPath.getName
        n.startsWith("part-") && n.endsWith(".parquet")
      }.get
      val dest = new Path(delta, s"$name.parquet")
      landedRows(fs.makeQualified(dest)) = Using.resource(HConf.openParquet(
        HadoopInputFile.fromStatus(part, s.sparkContext.hadoopConfiguration)))(_.getRecordCount)
      rename(part.getPath, dest)
      fs.delete(tmp, true)
    } finally {
      stagingSecs :+= (System.nanoTime() - t0) / 1e9
      Recorder.put(Recorder.StagingSecs, stagingSecs)
    }
  }

  /** Run `f` with `desc` as the job description of this thread's jobs,
    * restoring the previous one after. A body runs on the stream's thread,
    * whose jobs otherwise all carry the stream's `start` call site.
    */
  private def withJobDescription[A](desc: String)(f: => A): A = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename failed: $from -> $to")

  /** The input half of [[run]]: start a query over `delta/` with the first
    * batch's schema, land each of `batches` as one file and process it
    * before the next one lands (so batch order is known and no
    * modification-time race can merge two), then stop. Each micro-batch
    * goes to `onBatch`.
    *
    * `stateful` is a transform applied to the streaming plan itself (a
    * state store only sees stateful work done in the plan, not in the
    * sink). It runs in update mode, and the query stops and restarts from
    * its checkpoint before each later batch, so the carried state must
    * survive a process handover, not only consecutive triggers.
    */
  private def feed(batches: Seq[DataFrame], stateful: Option[DataFrame => DataFrame])
      (onBatch: (DataFrame, Long) => Unit): Unit = {
    val ckpt = new Path(base, "ckpt").toString
    def start() = {
      // the file source reads every column as nullable
      // (spark.sql.streaming.fileSource.schema.forceNullable)
      val src = s.readStream.schema(batches.head.schema).parquet(delta.toString)
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

  /** Rows [[land]] recorded for the files `batch` reads, when `batch` is a
    * micro-batch over files this loop landed; None for any other frame (a
    * spec's replay, a batch without landed input). `foreachBatch` hands the
    * sink a plan over the batch's already-built RDD, so the files are read
    * off that RDD's lineage on the driver, with no job.
    */
  private def landedRowsOf(batch: DataFrame): Option[Long] = {
    def scans(r: RDD[_]): Seq[FileScanRDD] = r match {
      case f: FileScanRDD => Seq(f)
      case _ => r.dependencies.flatMap(d => scans(d.rdd))
    }
    val files = batch.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .flatMap(scans).flatMap(_.filePartitions.flatMap(_.files))
      .map(f => fs.makeQualified(f.toPath)).distinct
    val counts = files.map(landedRows.get)
    if (files.nonEmpty && counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** The output half, for micro-batch `id`. In order:
    *  1. a committed id is skipped — a redelivery after the marker;
    *  2. an empty batch gets a marker with no payload, and `body` is not
    *     called;
    *  3. `body(batch, id, out)` runs, writing its output under `out`
    *     (`staged/b<N>`) — with shuffle partitions scoped to the core count,
    *     because per-batch work is sized by the batch, and a corpus-sized
    *     session setting would charge every micro-batch the task-scheduling
    *     cost of the whole corpus; for the same reason a batch this loop
    *     landed with at most `InterpretedMaxRows` rows runs interpreted
    *     (see the class doc); its jobs carry the job description
    *     `<base dir name> b<N>`;
    *  4. publish: one rename of `out` to the marker, or a `mkdirs` of the
    *     marker when the body wrote nothing.
    * A crash before step 4 leaves no marker, so the redelivered batch runs
    * the body again: each body must replay safely (overwrite its outputs,
    * or refuse loudly). Returns the batch's wall seconds when the body ran.
    */
  def commit(batch: DataFrame, id: Long)
      (body: (DataFrame, Long, String) => Unit): Option[Double] =
    commitCounted(batch, id, countIsBatch = true)(body)

  /** [[commit]]; `countIsBatch` says whether the landed row count is the
    * body's batch (a stateless loop) or only the input of a stateful
    * transform, whose output's emptiness takes a `batch.isEmpty` job.
    */
  private def commitCounted(batch: DataFrame, id: Long, countIsBatch: Boolean)
      (body: (DataFrame, Long, String) => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    val done = marker(id)
    lazy val rows = landedRowsOf(batch)
    lazy val empty = rows match {
      case Some(n) if countIsBatch => n == 0
      case _ => batch.isEmpty
    }
    if (fs.exists(done)) None
    else if (empty) { mkdirs(done); None }
    else {
      val out = new Path(staged, s"b$id")
      val interpreted =
        if (rows.exists(_ <= IngestLoop.InterpretedMaxRows)) IngestLoop.Interpreted else Nil
      withConf(s, ("spark.sql.shuffle.partitions" -> s.sparkContext.defaultParallelism.toString)
          +: interpreted: _*) {
        withConf(batch.sparkSession, interpreted: _*) {
          withJobDescription(s"${base.getName} b$id")(body(batch, id, out.toString))
        }
      }
      if (fs.exists(out)) rename(out, done) else mkdirs(done)
      Some((System.nanoTime() - t0) / 1e9)
    }
  }

  /** [[feed]] with [[commit]] as the sink: records the per-batch walls of the
    * bodies that ran under [[graft.util.Recorder.BatchWalls]], and requires
    * one committed id per fed batch. The stream reads every batch with the
    * first one's schema, so all of `batches` share it.
    */
  def run(batches: Seq[DataFrame], stateful: Option[DataFrame => DataFrame] = None)
      (body: (DataFrame, Long, String) => Unit): Unit = {
    require(batches.nonEmpty, s"${base.getName}: an ingest loop needs at least one batch")
    val walls = List.newBuilder[Double]
    feed(batches, stateful)((b, id) =>
      walls ++= commitCounted(b, id, countIsBatch = stateful.isEmpty)(body))
    val n = committedIds().size
    require(n == batches.size,
      s"${base.getName}: expected ${batches.size} committed micro-batches, saw $n")
    Recorder.put(Recorder.BatchWalls, walls.result())
  }
}

object IngestLoop {

  /** The largest landed batch whose body runs interpreted. Timed on st20's
    * body in a warm JVM (table in CHANGES.md): interpreted is faster on
    * batches of 10^3 and 10^4 rows, and at 10^5 rows a first batch is
    * faster generated, as per-row work outweighs the compiles.
    */
  private[graft] val InterpretedMaxRows = 10000L

  /** Whole-stage codegen off and every expression factory interpreted:
    * both, since whole-stage codegen off alone still compiles each
    * projection, predicate and ordering one by one.
    */
  private val Interpreted = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString)

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
