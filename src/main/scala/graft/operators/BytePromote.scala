package graft.operators

import graft.sinks.Sink
import graft.sources.Discovery.{Format, InputFile, isGzip}
import java.io.{BufferedOutputStream, OutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The byte fast paths' shared gate, staged write and commit, one
  * implementation so the CSV, JSONL and Parquet fast paths cannot diverge
  * on when they fire or how they commit. Every input is copied into staged
  * files under `<sinkPath>.bytes-out` before anything at the output paths is
  * touched; [[Sink.promoteStaged]] then renames them into place and sweeps
  * stale parts, the same commit as the sink's own writes.
  *
  *   - Single-file output (the `-o out.ext` single-writer contract): the
  *     driver opens ONE staged file and appends every input to it in
  *     discovery order. No Spark job — every byte funnels through one
  *     writer anyway, so per-task launch and a re-read of staged parts
  *     would be pure overhead.
  *   - Multi-file output (the scale path): one task per input opens an
  *     ATTEMPT-UNIQUE staged file and appends its input; the driver
  *     promotes exactly the attempts it collected to `<base>-NNNN<ext>` —
  *     never a final path from a task. Writing final part names directly
  *     would (a) truncate an INPUT when output names overlap the inputs
  *     (chained concat of a previous run's rolled output is the advertised
  *     fast-path workflow), and (b) let a speculative/zombie duplicate
  *     attempt interleave bytes with the winner's stream.
  */
private[operators] object BytePromote {

  /** The static conditions every byte path shares; each format adds its
    * own. Nothing selects, renames or skips (a byte copy would propagate
    * corrupt blocks verbatim), the sink writes `fmt`, and nothing rolls or
    * lays out the output (a byte copy would silently drop the requested
    * layout).
    */
  def eligible(cfg: Concat.Config, sink: Sink.Config, fmt: Format): Boolean =
    cfg.include.isEmpty && cfg.exclude.isEmpty && cfg.renames.isEmpty &&
      !cfg.skipCorrupt && sink.format == fmt &&
      sink.rollByRows.isEmpty && sink.rollByBytes.isEmpty &&
      sink.partitionBy.isEmpty && sink.clusterBy.isEmpty && sink.zorderBy.isEmpty

  /** Inputs a byte path can copy: at least one, all `fmt`, and none gzip.
    * Gzip inputs carry compressed bytes, so only the typed path (whose
    * scan decompresses) is value-faithful. (A gz->gz byte concat WOULD be
    * valid — concatenated gzip members are a legal stream — but compressed
    * text output is rejected at the CLI, so the case can't arise.)
    */
  def copyable(files: Seq[InputFile], fmt: Format): Boolean =
    files.nonEmpty && files.forall(f => f.format == fmt && !isGzip(f.path))

  /** One staged output file: `start` writes its leading bytes, `append`
    * copies one input into it and returns that input's row count, `finish`
    * completes the file once every append succeeded (Parquet's footer),
    * and `close` runs in a finally either way.
    */
  trait Staged {
    def start(): Unit = ()
    def append(fs: FileSystem, in: Path): Long
    def finish(): Unit = ()
    def close(): Unit
  }

  /** A buffered stream over a (re)created staged file. */
  def create(conf: Configuration, staged: Path, bufBytes: Int): OutputStream =
    new BufferedOutputStream(staged.getFileSystem(conf).create(staged, true), bufBytes)

  /** Copy `paths` into staged files opened by `open(conf, stagedPath)` and
    * promote them to the sink path. Returns write metrics like
    * [[Sink.write]], plus per-file completion records in input order (the
    * reference renders per-file progress bars, progress.rs:6-197; batch
    * mode reports them post-hoc). In multi-file output `open` runs in the
    * tasks, so its closure must be serializable.
    */
  def run(spark: SparkSession, sink: Sink.Config, ext: String, paths: Seq[String])(
      open: (Configuration, Path) => Staged): Map[String, Any] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val tmpDir = new Path(sink.path + ".bytes-out")
    val fs = tmpDir.getFileSystem(hconf)
    fs.delete(tmpDir, true)
    fs.mkdirs(tmpDir)
    val (results, staged) = if (sink.singleFile) {
      val merged = new Path(tmpDir, "merged")
      val results = fill(open(hconf, merged)) { w =>
        paths.zipWithIndex.map { case (path, idx) => appendTimed(hconf, w, path, idx) }
      }
      (results, Seq(merged))
    } else {
      // tasks rebuild the DRIVER's Hadoop Configuration from a broadcast
      // snapshot (SerializableConfiguration is private[spark]) so runtime
      // spark.hadoop.* settings / object-store credentials survive
      val hconfBc = spark.sparkContext.broadcast(HConf.snapshot(hconf))
      val tmp = tmpDir.toString
      val attempts = spark.sparkContext
        .parallelize(paths.zipWithIndex, paths.size)
        .map { case (path, idx) =>
          val conf = HConf.restore(hconfBc.value)
          val name =
            f"part-$idx%05d-a${org.apache.spark.TaskContext.get().taskAttemptId()}%d"
          (name, fill(open(conf, new Path(tmp, name)))(appendTimed(conf, _, path, idx)))
        }
        .collect().toSeq.sortBy(_._2._1)
      (attempts.map(_._2), attempts.map(a => new Path(tmpDir, a._1)))
    }
    val promoted = Sink.promoteStaged(hconf, sink.path, ext, tmpDir, staged,
      single = sink.singleFile)
    val perFile = results.map { case (idx, rows, inBytes, sec) =>
      Map[String, Any]("path" -> paths(idx), "rows" -> rows,
        "bytes" -> inBytes, "elapsed_sec" -> sec)
    }
    Map("rows_written" -> results.map(_._2).sum, "bytes_read" -> results.map(_._3).sum,
      "bytes_written" -> promoted.map(fs.getFileStatus(_).getLen).sum, "files" -> perFile)
  }

  /** Write one staged file: close it in a finally, finish it only when
    * `body` succeeded.
    */
  private def fill[A](w: Staged)(body: Staged => A): A =
    try {
      w.start()
      val result = body(w)
      w.finish()
      result
    } finally w.close()

  /** Append one input; `(index, rows, input bytes, seconds)`. */
  private def appendTimed(conf: Configuration, w: Staged, path: String,
      idx: Int): (Int, Long, Long, Double) = {
    val t0 = System.nanoTime()
    val in = new Path(path)
    val ifs = in.getFileSystem(conf)
    val inBytes = ifs.getFileStatus(in).getLen
    val rows = w.append(ifs, in)
    (idx, rows, inBytes, (System.nanoTime() - t0) / 1e9)
  }
}
