package graft.operators

import graft.sinks.Sink
import graft.sources.Discovery.{InputFile, Parquet}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Parquet->Parquet concatenation at the row-group level — the conversion
  * fast path (counterpart of [[CsvByteConcat]] for the typed format).
  *
  * The reference's Parquet "writer" writes no data at all
  * (`writer_parquet.rs:77-96`), so its 200 MB/s target is only meaningful
  * as "don't decode what you don't have to". This operator does what real
  * parquet tools (parquet-cli `merge`) do: copy whole row groups byte-for-
  * byte via `ParquetFileReader.appendTo` — pages, dictionaries, encodings,
  * per-chunk statistics and source compression all pass through untouched;
  * only the footer is rewritten with rebased offsets. No decode, no
  * re-encode, no row materialization.
  *
  * Eligible only when the result is bit-faithful to the typed plan: every
  * input is Parquet, all file schemas are IDENTICAL (nothing to widen or
  * null-inject), top-level fields already in unified (alphabetical) order —
  * true of anything maw itself wrote, so chained concats stay fast — and no
  * projection/rename/rolling is requested. Values are identical to the
  * typed path by construction; the one preserved-rather-than-normalized
  * property is the physical compression codec (a storage detail, exactly
  * like the CSV path preserving gratuitous source quoting).
  *
  * Scale shape: schema/row-count pre-flight reads FOOTERS only (KB per
  * file, driver-side — the same per-file metadata cost Discovery's listing
  * already pays). Multi-file output copies one input per task across the
  * cluster; single-file output is an inherent single-writer step (the
  * reference's one-file contract) that the driver runs itself, in
  * discovery order and with no Spark job — at row-group-copy speed it is
  * storage-bound, not CPU-bound. Every open (footer or row-group copy) goes
  * through [[HConf.openParquet]] with the session's Hadoop conf, so no
  * open re-parses Hadoop's XML defaults.
  */
object ParquetByteConcat {

  private val RowGroupSize = 128L * 1024 * 1024
  private val MaxPadding = 8 * 1024 * 1024

  /** Static eligibility: option combinations that force the typed path. */
  def eligible(cfg: Concat.Config, sink: Sink.Config): Boolean =
    cfg.include.isEmpty && cfg.exclude.isEmpty && cfg.renames.isEmpty &&
      !cfg.skipCorrupt && // a byte copy would propagate corrupt blocks verbatim
      sink.format == Parquet &&
      sink.rollByRows.isEmpty && sink.rollByBytes.isEmpty &&
      // layout options re-shape rows/files — typed path only (a byte copy
      // would silently drop the requested clustering/bloom layout)
      sink.partitionBy.isEmpty && sink.clusterBy.isEmpty &&
      sink.zorderBy.isEmpty && sink.bloomFilterCols.isEmpty

  /** Run the row-group copy if eligible; None = caller falls back to the
    * typed pipeline. Returns write metrics like [[Sink.write]].
    */
  def tryRun(spark: SparkSession, files: Seq[InputFile], cfg: Concat.Config,
      sink: Sink.Config): Option[Map[String, Any]] = {
    if (!eligible(cfg, sink) || files.isEmpty || files.exists(_.format != Parquet))
      return None
    val hconf = spark.sparkContext.hadoopConfiguration
    // footer-only pre-flight: schemas must be identical and already sorted.
    // Concurrent like Concat.planFor — serial footer reads would add
    // O(files) x store-latency dead time before any task launches
    val footers = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(files.map { f =>
        Future {
          val inFile = HadoopInputFile.fromPath(new Path(f.path), hconf)
          val r = HConf.openParquet(inFile)
          try {
            val md = r.getFooter.getFileMetaData
            (md.getSchema, r.getFooter.getBlocks.asScala.map(_.getRowCount).sum,
              inFile.getLength, md.getKeyValueMetaData)
          } finally r.close()
        }
      }), Duration.Inf)
    }
    val schema = footers.head._1
    if (!footers.forall(_._1 == schema)) return None
    // carry footer key-value metadata (e.g. Spark's
    // org.apache.spark.sql.parquet.row.metadata) ONLY where every input
    // agrees on it: parquet MessageType equality does not imply Catalyst
    // metadata equality (varchar/char lengths, field metadata live only in
    // the Spark schema JSON), so a first-file-wins copy could mislabel rows
    // copied from later inputs. Disagreeing keys are dropped — a missing
    // Spark schema entry just makes readers infer from the parquet schema,
    // which is verified identical. The copy marker is always added.
    val footerMeta: Map[String, String] = {
      val maps = footers.map(_._4.asScala.toMap)
      val shared = maps.head.filter { case (k, v) => maps.forall(_.get(k).contains(v)) }
      shared + ("graft.concat" -> "row-group-copy")
    }
    val names = schema.getFields.asScala.map(_.getName)
    if (names.sorted != names || names.distinct != names) return None
    val totalRows = footers.map(_._2).sum
    val totalBytes = footers.map(_._3).sum

    val outBase = sink.path.stripSuffix(".parquet")
    // COMMIT PROTOCOL (same as CsvByteConcat): write into a temp location
    // first, promote by rename after everything is materialized, clean
    // stale parts LAST. Writing the final paths directly would truncate a
    // pre-existing output before the new one exists (single-file mode even
    // truncated an INPUT when the output path was among the inputs), and
    // rolled task writes would race speculative duplicate attempts.
    val tmpDir = BytePromote.freshTmpDir(hconf, sink.path)
    val outFs = new Path(sink.path).getFileSystem(hconf)
    Option(new Path(sink.path).getParent).foreach(outFs.mkdirs)
    val perFileSec: Seq[Double] = if (sink.singleFile) {
      // one output file = one writer (the reference's single-file contract):
      // the driver appends each input's row groups in discovery order — no
      // Spark job, no decode; storage-bound
      val merged = new Path(tmpDir, "merged.parquet")
      val out = HadoopOutputFile.fromPath(merged, hconf)
      val w = new ParquetFileWriter(out, schema,
        ParquetFileWriter.Mode.OVERWRITE, RowGroupSize, MaxPadding)
      w.start()
      val secs = files.map { f =>
        val t0 = System.nanoTime()
        appendTo(w, f.path, hconf)
        (System.nanoTime() - t0) / 1e9
      }
      w.end(footerMeta.asJava)
      Sink.replaceMove(outFs, merged, new Path(sink.path))
      Sink.deleteStaleParts(hconf, sink.path, ".parquet", keepBelow = 0)
      secs
    } else {
      // one task per input file, written to an ATTEMPT-UNIQUE temp part
      // (the driver promotes exactly the attempts it collected); tasks
      // rebuild the driver's Hadoop conf from a broadcast snapshot so
      // runtime spark.hadoop.* settings / store credentials survive
      val schemaStr = schema.toString
      val hconfBc = spark.sparkContext.broadcast(HConf.snapshot(hconf))
      val results = spark.sparkContext
        .parallelize(files.map(_.path).zipWithIndex, files.size)
        .map { case (path, idx) =>
          val t0 = System.nanoTime()
          val conf = HConf.restore(hconfBc.value)
          val sch = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schemaStr)
          val attemptName =
            f"part-$idx%05d-a${org.apache.spark.TaskContext.get.taskAttemptId}%d.parquet"
          val out = HadoopOutputFile.fromPath(new Path(tmpDir, attemptName), conf)
          val w = new ParquetFileWriter(out, sch,
            ParquetFileWriter.Mode.OVERWRITE, RowGroupSize, MaxPadding)
          w.start()
          appendTo(w, path, conf)
          w.end(footerMeta.asJava)
          (idx, attemptName, (System.nanoTime() - t0) / 1e9)
        }
        .collect()
      results.foreach { case (idx, name, _) =>
        Sink.replaceMove(outFs, new Path(tmpDir, name),
          new Path(f"$outBase%s-$idx%04d.parquet"))
      }
      Sink.deleteStaleParts(hconf, sink.path, ".parquet", keepBelow = files.size)
      results.sortBy(_._1).map(_._3).toSeq
    }
    outFs.delete(new Path(tmpDir), true)
    val bytesWritten =
      if (sink.singleFile) outFs.getFileStatus(new Path(sink.path)).getLen
      else files.indices
        .map(i => outFs.getFileStatus(new Path(f"$outBase%s-$i%04d.parquet")).getLen).sum
    // per-file completion records (rows/bytes from the footer pre-flight)
    val perFile = files.zipWithIndex.map { case (f, i) =>
      Map[String, Any]("path" -> f.path, "rows" -> footers(i)._2,
        "bytes" -> footers(i)._3, "elapsed_sec" -> perFileSec(i))
    }
    Some(Map("rows_written" -> totalRows, "bytes_read" -> totalBytes,
      "bytes_written" -> bytesWritten, "files" -> perFile))
  }

  /** Copy every row group of `path` into `w` byte-for-byte. */
  private def appendTo(w: ParquetFileWriter, path: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val r = HConf.openParquet(HadoopInputFile.fromPath(new Path(path), conf))
    try r.appendTo(w) finally r.close()
  }
}
