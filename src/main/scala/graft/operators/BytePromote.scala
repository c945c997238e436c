package graft.operators

import graft.sinks.Sink
import java.io.{BufferedOutputStream, OutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The byte fast paths' shared DRIVER-SIDE write and commit, one
  * implementation so the CSV and JSONL fast paths cannot diverge on commit
  * semantics. All new data is fully materialized in a temp dir before
  * anything at the output paths is touched (the destructive window is the
  * renames, not the copy); stale parts a previous run left are swept AFTER,
  * the same contract as Sink.promote.
  *
  *   - Single-file output (the `-o out.ext` single-writer contract):
  *     [[writeSingleFile]] streams every input on the driver, in discovery
  *     order, into one temp file and renames it into place. No Spark job —
  *     every byte funnels through one writer anyway, so per-task launch
  *     and a re-read of staged parts would be pure overhead.
  *   - Multi-file output (the scale path): [[writeParts]] runs one task
  *     per input, each writing an attempt-unique file in the temp dir, and
  *     renames the attempts the driver collected to deterministic rolled
  *     part names.
  *
  * A per-file result is `(index, staged name, rows, input bytes, seconds)`.
  */
private[operators] object BytePromote {

  /** Recreate `<sinkPath>.bytes-out` empty; returns its path. */
  def freshTmpDir(hconf: Configuration, sinkPath: String): String = {
    val tmpDir = sinkPath + ".bytes-out"
    val fs = new Path(tmpDir).getFileSystem(hconf)
    fs.delete(new Path(tmpDir), true)
    fs.mkdirs(new Path(tmpDir))
    tmpDir
  }

  /** Single-file output on the driver: `header` (+ '\n') first, then
    * `copy(fs, input, out)` per input in order — it streams one input's
    * body into `out` and returns its row count. Promotes the merged file to
    * `sinkPath`; returns the per-file results and the bytes written.
    */
  def writeSingleFile(hconf: Configuration, sinkPath: String, ext: String,
      paths: Seq[String], bufBytes: Int, header: Option[Array[Byte]])(
      copy: (FileSystem, Path, OutputStream) => Long)
      : (Seq[(Int, String, Long, Long, Double)], Long) = {
    val tmpDir = freshTmpDir(hconf, sinkPath)
    val merged = new Path(tmpDir, "merged")
    val tfs = merged.getFileSystem(hconf)
    val out = new BufferedOutputStream(tfs.create(merged, true), bufBytes)
    val results = try {
      header.foreach { h => out.write(h); out.write('\n'.toInt) }
      paths.zipWithIndex.map { case (path, idx) =>
        val t0 = System.nanoTime()
        val in = new Path(path)
        val ifs = in.getFileSystem(hconf)
        val inBytes = ifs.getFileStatus(in).getLen
        val rows = copy(ifs, in, out)
        (idx, merged.getName, rows, inBytes, (System.nanoTime() - t0) / 1e9)
      }
    } finally out.close()
    Option(new Path(sinkPath).getParent).foreach(tfs.mkdirs)
    Sink.replaceMove(tfs, merged, new Path(sinkPath))
    Sink.deleteStaleParts(hconf, sinkPath, ext, keepBelow = 0)
    tfs.delete(new Path(tmpDir), true)
    (results, tfs.getFileStatus(new Path(sinkPath)).getLen)
  }

  /** Multi-file output: one task per input. `copy(fs, input, openPart)`
    * streams one input into its part; `openPart()` (re)creates the part,
    * truncating what an earlier open wrote. Each task writes an
    * ATTEMPT-UNIQUE file in the temp dir and the driver promotes exactly
    * the attempts it collected to `<base>-NNNN<ext>` — never a final path
    * from a task. Writing final part names directly would (a) truncate an
    * INPUT when output names overlap the inputs (chained concat of a
    * previous run's rolled output is the advertised fast-path workflow),
    * and (b) let a speculative/zombie duplicate attempt interleave bytes
    * with the winner's stream. Returns the per-file results and the bytes
    * written.
    */
  def writeParts(spark: SparkSession, sinkPath: String, ext: String,
      paths: Seq[String], bufBytes: Int)(
      copy: (FileSystem, Path, () => OutputStream) => Long)
      : (Seq[(Int, String, Long, Long, Double)], Long) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val tmpDir = freshTmpDir(hconf, sinkPath)
    // tasks rebuild the DRIVER's Hadoop Configuration from a broadcast
    // snapshot (SerializableConfiguration is private[spark]) so runtime
    // spark.hadoop.* settings / object-store credentials survive
    val hconfBc = spark.sparkContext.broadcast(HConf.snapshot(hconf))
    val results = spark.sparkContext
      .parallelize(paths.zipWithIndex, paths.size)
      .map { case (path, idx) =>
        val t0 = System.nanoTime()
        val conf = HConf.restore(hconfBc.value)
        val in = new Path(path)
        val ifs = in.getFileSystem(conf)
        val inBytes = ifs.getFileStatus(in).getLen
        val attemptName =
          f"part-$idx%05d-a${org.apache.spark.TaskContext.get().taskAttemptId()}%d"
        val part = new Path(tmpDir, attemptName)
        val pfs = part.getFileSystem(conf)
        val rows = copy(ifs, in, () => new BufferedOutputStream(pfs.create(part, true), bufBytes))
        (idx, attemptName, rows, inBytes, (System.nanoTime() - t0) / 1e9)
      }
      .collect().toSeq
    val tfs = new Path(sinkPath).getFileSystem(hconf)
    Option(new Path(sinkPath).getParent).foreach(tfs.mkdirs)
    val outBase = sinkPath.stripSuffix(ext)
    results.foreach { case (idx, name, _, _, _) =>
      Sink.replaceMove(tfs, new Path(tmpDir, name), new Path(f"$outBase%s-$idx%04d$ext%s"))
    }
    Sink.deleteStaleParts(hconf, sinkPath, ext, keepBelow = results.size)
    tfs.delete(new Path(tmpDir), true)
    (results, results.map { case (idx, _, _, _, _) =>
      tfs.getFileStatus(new Path(f"$outBase%s-$idx%04d$ext%s")).getLen
    }.sum)
  }

  /** Write metrics like [[Sink.write]]'s, plus per-file completion records
    * in input order (the reference renders per-file progress bars,
    * progress.rs:6-197; batch mode reports them post-hoc).
    */
  def metrics(results: Seq[(Int, String, Long, Long, Double)], bytesWritten: Long,
      paths: Int => String): Map[String, Any] = {
    val perFile = results.sortBy(_._1).map { case (idx, _, rows, inBytes, sec) =>
      Map[String, Any]("path" -> paths(idx), "rows" -> rows,
        "bytes" -> inBytes, "elapsed_sec" -> sec)
    }
    Map("rows_written" -> results.map(_._3).sum, "bytes_read" -> results.map(_._4).sum,
      "bytes_written" -> bytesWritten, "files" -> perFile)
  }
}
