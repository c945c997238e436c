package graft.operators

import graft.sinks.Sink
import graft.sources.Discovery.{InputFile, Parquet}
import graft.util.Par
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
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
  * Scale shape: the schema pre-flight reads FOOTERS only (KB per
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

  /** Static eligibility: option combinations that force the typed path.
    * Beyond the shared byte-path gate, bloom filters: a row-group copy
    * would silently drop the requested filters.
    */
  def eligible(cfg: Concat.Config, sink: Sink.Config): Boolean =
    BytePromote.eligible(cfg, sink, Parquet) && sink.bloomFilterCols.isEmpty

  /** Run the row-group copy if eligible; None = caller falls back to the
    * typed pipeline. Returns write metrics like [[Sink.write]].
    */
  def tryRun(spark: SparkSession, files: Seq[InputFile], cfg: Concat.Config,
      sink: Sink.Config): Option[Map[String, Any]] = {
    if (!eligible(cfg, sink) || !BytePromote.copyable(files, Parquet)) return None
    val hconf = spark.sparkContext.hadoopConfiguration
    // footer-only pre-flight: schemas must be identical and already sorted
    val footers = Par.map(files) { f =>
      val r = HConf.openParquet(HadoopInputFile.fromPath(new Path(f.path), hconf))
      try {
        val md = r.getFooter.getFileMetaData
        (md.getSchema, md.getKeyValueMetaData.asScala.toMap)
      } finally r.close()
    }
    val schema = footers.head._1
    if (!footers.forall(_._1 == schema)) return None
    val names = schema.getFields.asScala.map(_.getName)
    if (names.sorted != names || names.distinct != names) return None
    // carry footer key-value metadata (e.g. Spark's
    // org.apache.spark.sql.parquet.row.metadata) ONLY where every input
    // agrees on it: parquet MessageType equality does not imply Catalyst
    // metadata equality (varchar/char lengths, field metadata live only in
    // the Spark schema JSON), so a first-file-wins copy could mislabel rows
    // copied from later inputs. Disagreeing keys are dropped — a missing
    // Spark schema entry just makes readers infer from the parquet schema,
    // which is verified identical. The copy marker is always added.
    val footerMeta: Map[String, String] = {
      val maps = footers.map(_._2)
      val shared = maps.head.filter { case (k, v) => maps.forall(_.get(k).contains(v)) }
      shared + ("graft.concat" -> "row-group-copy")
    }
    // COMMIT PROTOCOL: BytePromote's, shared with the CSV and JSONL paths.
    // Each staged file gets one writer: the driver's single merged file
    // appends every input's row groups in discovery order (no Spark job, no
    // decode; storage-bound), a task's part appends its one input. The
    // footer is written only once every append succeeded.
    val schemaStr = schema.toString // MessageType is not serializable
    Some(BytePromote.run(spark, sink, ".parquet", files.map(_.path)) { (conf, staged) =>
      // parquet-mr's default truncation and page-checksum settings, as
      // the five-argument constructor (deprecated) passes them
      val w = new ParquetFileWriter(HadoopOutputFile.fromPath(staged, conf),
        MessageTypeParser.parseMessageType(schemaStr),
        ParquetFileWriter.Mode.OVERWRITE, RowGroupSize, MaxPadding,
        ParquetProperties.DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH,
        ParquetProperties.DEFAULT_STATISTICS_TRUNCATE_LENGTH,
        ParquetProperties.DEFAULT_PAGE_WRITE_CHECKSUM_ENABLED)
      new BytePromote.Staged {
        override def start(): Unit = w.start()
        // copy every row group of `in` byte-for-byte
        def append(fs: FileSystem, in: Path): Long = {
          val r = HConf.openParquet(HadoopInputFile.fromPath(in, conf))
          try { r.appendTo(w); r.getRecordCount } finally r.close()
        }
        override def finish(): Unit = w.end(footerMeta.asJava)
        def close(): Unit = w.close()
      }
    })
  }
}
