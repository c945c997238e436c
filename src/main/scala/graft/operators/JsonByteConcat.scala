package graft.operators

import graft.sinks.Sink
import graft.sources.Discovery.{InputFile, Jsonl}
import java.io.{BufferedInputStream, InputStream, OutputStream}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** JSONL->JSONL concatenation at byte level — the fast path CSV gets from
  * [[CsvByteConcat]], radically simpler here because JSONL is
  * SELF-DESCRIBING: each line carries its own keys, so concatenating files
  * with different schemas is value-faithful without any unification step —
  * a reader of the byte-concatenated output binds by key and produces
  * exactly the unified frame the typed Concat plan would (absent keys read
  * as null either way; corrupt lines null out identically under PERMISSIVE
  * on both routes). No headers to dedupe, no quote state to track, no NA
  * normalization: the whole transform is "copy the bytes, normalize the
  * final newline".
  *
  * Scale shape: the same as the CSV path. Single-file output streams every
  * input on the driver, in discovery order, into one temp file (no Spark
  * job); multi-file output runs one task per input file (files RDD, genuine
  * per-partition byte I/O — the documented last-resort case). Both stream
  * through the Hadoop FS API; no shuffle, no row materialization.
  *
  * Contract note: fidelity is to the SOURCE BYTES, which is STRONGER than
  * the typed path — the typed plan is bounded by the `--infer-rows` sample
  * (a type drifting past the sample nulls there but survives here), and a
  * cross-file scalar conflict that the typed path would reject without
  * `--stringify-conflicts` simply passes through (JSON needs no widening:
  * readers bind per line). `--verify` for this route therefore compares
  * against a full-inference read of the inputs, not the sampled typed plan
  * (Maw.verifyOutput).
  *
  * Commit protocol: [[BytePromote]], shared with the CSV and Parquet paths
  * — tasks write ATTEMPT-UNIQUE files in the temp dir, the driver promotes
  * exactly the attempts it collected (never a final path from a task), so
  * chained concats of a previous run's rolled output can't truncate their
  * own inputs, and a zombie duplicate attempt can't interleave with the
  * winner's stream.
  */
object JsonByteConcat {

  private val Lf = '\n'.toByte

  /** Static eligibility: any reshaping option forces the typed path — the
    * shared byte-path gate, with nothing JSONL-specific to add.
    */
  def eligible(cfg: Concat.Config, sink: Sink.Config): Boolean =
    BytePromote.eligible(cfg, sink, Jsonl)

  /** Whether [[tryRun]] copies `files` instead of declining. */
  def applies(cfg: Concat.Config, sink: Sink.Config, files: Seq[InputFile]): Boolean =
    eligible(cfg, sink) && BytePromote.copyable(files, Jsonl)

  /** Run the byte path if eligible and every input is JSONL. Returns write
    * metrics like [[Sink.write]]; None = caller falls back to the typed
    * pipeline.
    */
  def tryRun(spark: SparkSession, files: Seq[InputFile], cfg: Concat.Config,
      sink: Sink.Config): Option[Map[String, Any]] = {
    if (!applies(cfg, sink, files)) return None
    val bufBytes = sink.writerBufferBytes
    Some(BytePromote.run(spark, sink, ".jsonl", files.map(_.path)) { (conf, staged) =>
      val out = BytePromote.create(conf, staged, bufBytes)
      new BytePromote.Staged {
        def append(fs: FileSystem, p: Path): Long = copyFile(fs, p, out)
        def close(): Unit = out.close()
      }
    })
  }

  private def copyFile(fs: FileSystem, p: Path, out: OutputStream): Long = {
    val in = new BufferedInputStream(fs.open(p), 1 << 20)
    try copyCountingLines(in, out) finally in.close()
  }

  /** Stream `in` to `out`, counting non-empty lines, normalizing the file's
    * FINAL newline (a source without one would otherwise splice its last
    * record onto the next file's first line).
    */
  private def copyCountingLines(in: InputStream, out: OutputStream): Long = {
    val buf = new Array[Byte](1 << 20)
    var rows = 0L
    var last: Byte = Lf        // empty file contributes nothing
    var lineHasBytes = false   // non-newline bytes seen since last LF
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) {
        var i = 0
        while (i < n) {
          val b = buf(i)
          if (b == Lf) { if (lineHasBytes) rows += 1; lineHasBytes = false }
          else if (b != '\r'.toByte) lineHasBytes = true
          i += 1
        }
        out.write(buf, 0, n)
        last = buf(n - 1)
      }
      n = in.read(buf)
    }
    if (lineHasBytes) rows += 1
    if (last != Lf) out.write(Lf.toInt)
    rows
  }

}
