package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV reading with the reference's option surface
  * (`/root/reference/src/csv_in.rs:23-43`, `cli.rs:33-68`):
  *
  *   - delimiter / quote
  *   - headers on/off; when off, synthetic names `col_1..col_N` (csv_in.rs:73-78)
  *   - encoding utf8 / latin1 (csv_in.rs:80-84)
  *   - NA value LIST -> null (defaults `NA,null,\N`, cli.rs:41-43) — Spark takes
  *     ONE `nullValue`, so the list is normalized post-read with `when(isin)`
  *   - BOM stripping (csv_in.rs:158-162) — Spark's UnivocityParser handles BOM
  *   - type inference from a bounded sample (`--infer-rows`, default 1000,
  *     cli.rs:66-68). The reference's shipped reader re-infers per 64k batch
  *     (csv_in.rs:95-113) — a type-drift bug; per SURVEY §7 we infer ONCE up
  *     front with precedence i64 -> f64 -> bool -> string (csv_in.rs:171-232).
  */
object CsvSource {

  private val LongRe = "[+-]?\\d{1,19}".r
  private val DoubleRe = "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r

  /** The reference's inference precedence over a column's sampled non-null
    * values: i64 -> f64 -> bool -> string (csv_in.rs:171-232); all-null ->
    * transient NullType (widened away by the lattice). Strict numeric
    * shapes, Rust-parse-like — Java parseDouble would also admit
    * "1d"/"NaN", which the typed scan later rejects. Shared by the CSV and
    * XML samplers so both formats type identically.
    */
  private[sources] def inferColumnType(values: Seq[String]): DataType =
    if (values.isEmpty) NullType
    else if (values.forall(v => LongRe.matches(v) &&
      scala.util.Try(v.toLong).isSuccess)) LongType
    else if (values.forall(v => DoubleRe.matches(v))) DoubleType
    else if (values.forall(v => v == "true" || v == "false")) BooleanType
    else StringType

  final case class CsvOptions(
      delimiter: String = ",",
      quote: String = "\"",
      headers: Boolean = true,
      encoding: String = "UTF-8",
      naValues: Seq[String] = Seq("NA", "null", "\\N"),
      inferRows: Int = 1000,
      inferTypes: Boolean = true,
      // RFC 4180 quoted newlines, like the reference's csv crate (and this
      // repo's own univocity fallback + inference sample). True costs intra-
      // FILE split parallelism (quoted newlines make byte offsets ambiguous,
      // so Spark reads each file in one task — parallelism stays file-level,
      // which both byte fast paths use anyway); flip off for huge single
      // files known to be newline-free inside quotes
      multiLine: Boolean = true) {
    // reference parity: delimiter and quote are single characters (the Rust
    // csv crate takes a u8, csv_in.rs:23-43) — and the driver-side
    // inference sampler parses with charAt(0), so a multi-char value would
    // silently tokenize the sample differently from the Spark scan it
    // resolves the schema for. Reject up front instead.
    require(delimiter.length == 1,
      s"delimiter must be a single character (got '$delimiter')")
    require(quote.length == 1, s"quote must be a single character (got '$quote')")
  }

  def read(spark: SparkSession, path: String, opts: CsvOptions = CsvOptions()): DataFrame =
    readPaths(spark, Seq(path), opts, Some(resolveSchema(spark, path, opts)))

  /** Resolved per-file schema. Planning runs ZERO Spark jobs: the bounded
    * `--infer-rows` sample is read driver-side straight off the (Hadoop)
    * filesystem — with many input files this is the difference between
    * O(files) job round-trips and none. All-null columns carry transient
    * NullType (widened away by the lattice).
    */
  def resolveSchema(spark: SparkSession, path: String, opts: CsvOptions): StructType =
    if (!opts.inferTypes) {
      val (names, _) = sampleAndInfer(spark, path, opts)
      StructType(names.map(n => StructField(n, StringType, nullable = true)))
    } else {
      val (names, inferred) = sampleAndInfer(spark, path, opts)
      StructType(names.map(n => StructField(n, inferred(n), nullable = true)))
    }

  /** The CSV reader options of every CSV scan — the batch [[readPaths]]
    * and the `--stream` source (`StreamingConcat.planStream`) — so both
    * read each field alike. PERMISSIVE => parse failure -> null, same as
    * the reference's `.parse().ok()`.
    */
  def readerOptions(opts: CsvOptions): Map[String, String] = Map(
    "header" -> opts.headers.toString,
    "delimiter" -> opts.delimiter,
    "quote" -> opts.quote,
    // RFC 4180: a doubled quote inside a quoted field is a literal quote
    // (escape char = quote char; Spark's default backslash escaping is
    // not what CSV writers — including the reference's Rust csv crate —
    // produce)
    "escape" -> opts.quote,
    "encoding" -> opts.encoding,
    "multiLine" -> opts.multiLine.toString,
    "mode" -> "PERMISSIVE",
    "nullValue" -> opts.naValues.headOption.getOrElse(""))

  /** NA list -> null on the string columns of a CSV scan (csv_in.rs:129-131);
    * non-string columns are already nulled by the typed parse.
    */
  def naToNull(df: DataFrame, opts: CsvOptions): DataFrame =
    df.select(df.schema.fields.map { f =>
      val c = col(graft.schema.SchemaUnifier.quoted(f.name))
      if (f.dataType == StringType)
        when(c.isin(opts.naValues: _*), lit(null)).otherwise(c).as(f.name)
      else c
    }.toIndexedSeq: _*)

  /** Typed scan of one-or-many same-schema CSV files in ONE reader (one scan
    * node regardless of file count). The full scan happens once, with the
    * resolved schema, so the CSV parser produces typed columns natively.
    * A column whose sample held no value (NullType) reads as strings, as
    * the `--stream` source reads it: its values past the sample are kept.
    */
  def readPaths(spark: SparkSession, paths: Seq[String], opts: CsvOptions,
      resolvedSchema: Option[StructType] = None): DataFrame = {
    val schema = resolvedSchema.getOrElse(resolveSchema(spark, paths.head, opts))
    val parserSchema = StructType(schema.fields.map(f =>
      f.copy(dataType = if (f.dataType == NullType) StringType else f.dataType,
        nullable = true)))
    naToNull(spark.read.schema(parserSchema).options(readerOptions(opts)).csv(paths: _*), opts)
  }

  /** Driver-side bounded sample: open the file via the Hadoop FS API (works
    * for local/HDFS/S3 alike), parse up to `inferRows` records with
    * univocity (Spark's own CSV parser), and run the reference's inference
    * precedence over the sampled values. No Spark jobs.
    */
  def sampleAndInfer(spark: SparkSession, path: String,
      opts: CsvOptions): (Seq[String], Map[String, DataType]) = {
    import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file =
      if (fs.getFileStatus(hPath).isDirectory)
        fs.listStatus(hPath).map(_.getPath)
          .filter(p => Discovery.detectFormat(p.getName).contains(Discovery.Csv))
          .sortBy(_.getName).headOption
          .getOrElse(throw new IllegalArgumentException(s"no csv files under $path"))
      else hPath
    val settings = new CsvParserSettings
    settings.getFormat.setDelimiter(opts.delimiter.charAt(0))
    settings.getFormat.setQuote(opts.quote.charAt(0))
    settings.setMaxCharsPerColumn(1 << 20)
    settings.setHeaderExtractionEnabled(false)
    // sample EXACTLY what the reader will see: univocity's trimming defaults
    // would infer Long from " 42 " that Spark's typed read then nulls
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    val parser = new CsvParser(settings)
    // .csv.gz inputs: the Spark scan decompresses by extension; the sample
    // stream must match what the scan will see
    val in: java.io.InputStream =
      if (Discovery.isGzip(file.toString)) new java.util.zip.GZIPInputStream(fs.open(file))
      else fs.open(file)
    val rows = try {
      val rdr = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, opts.encoding))
      parser.beginParsing(rdr)
      val limit = opts.inferRows + (if (opts.headers) 1 else 0)
      Iterator.continually(parser.parseNext()).takeWhile(_ != null)
        .take(limit).toVector
    } finally {
      parser.stopParsing()
      in.close()
    }
    if (rows.isEmpty)
      return (Seq.empty, Map.empty)
    // BOM strip on the very first cell (csv_in.rs:158-162)
    val cleaned = {
      val h = rows.head.toVector
      val h0 = if (h.nonEmpty && h(0) != null && h(0).startsWith("﻿"))
        h.updated(0, h(0).stripPrefix("﻿")) else h
      h0.map(_.asInstanceOf[String]) +: rows.tail.map(_.toVector.map(_.asInstanceOf[String]))
    }
    val width = cleaned.map(_.length).max
    val names: Seq[String] =
      if (opts.headers)
        // a data row wider than the header gets synthetic col_N names for
        // the extra positions — padding with "" would produce duplicate
        // empty names and an unreadable schema
        cleaned.head.padTo(width, null).zipWithIndex.map {
          case (n, i) => Option(n).filter(_.nonEmpty).getOrElse(s"col_${i + 1}")
        }
      else (1 to width).map(i => s"col_$i") // csv_in.rs:73-78
    val data = if (opts.headers) cleaned.tail else cleaned
    val types = (0 until width).map { i =>
      val values = data.iterator
        .map(r => if (i < r.length) r(i) else null)
        .map(v => if (v == null || opts.naValues.contains(v)) null else v)
        .filter(_ != null).toVector
      names(i) -> inferColumnType(values)
    }.toMap
    (names, types)
  }

}
