package graft.operators

import graft.schema.SchemaUnifier
import graft.sources.{CsvSource, Discovery, JsonSource, XmlSource}
import graft.sources.Discovery.{Avro, Csv, Format, InputFile, Jsonl, Orc, Parquet, Xml}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{NullType, StructType}

/** The reference's whole dataflow as ONE lazy Catalyst plan:
  *
  *   discover -> scan -> unify schema -> align/cast -> UNION ALL
  *
  * (`/root/reference/src/pipeline.rs:31-100`). The reference hand-builds a
  * reader-thread/channel/writer-thread graph (pipeline.rs:83,102-193); on
  * Spark that collapses into a single narrow plan — file-parallelism becomes
  * partition-parallelism, back-pressure becomes task scheduling, and the plan
  * stays SHUFFLE-FREE, so it scales linearly across executors at 100 TB.
  *
  * Scale shape: per-file schemas are resolved concurrently (CSV inference is
  * a bounded driver-side sample — zero Spark jobs), then files with the SAME
  * resolved schema share one multi-path scan. 10k schema-identical parts
  * become ONE scan node, not 10k union branches — plan size and driver
  * memory stay O(distinct schemas), not O(files).
  */
object Concat {

  final case class Config(
      inputs: Seq[String],
      csv: CsvSource.CsvOptions = CsvSource.CsvOptions(),
      stringifyConflicts: Boolean = false,
      renames: Map[String, String] = Map.empty,
      include: Option[Seq[String]] = None,
      exclude: Seq[String] = Nil,
      /** CSV->CSV fast path: when every input is CSV (and this is set), read
        * all columns as strings — values pass straight from parser to writer
        * with no typed parse + re-render per cell (the measured bottleneck of
        * the conversion path). Faithful to pure streaming concatenation:
        * unification degenerates to name alignment (nothing to widen), NA
        * normalization still applies. Only the CSV sink should set this —
        * a parquet sink wants real types.
        */
      rawPassThrough: Boolean = false,
      /** Skip inputs whose footer/schema probe fails, and tolerate
        * corrupt blocks at scan time (`ignoreCorruptFiles` on the
        * columnar readers) — damaged shards are a fact of life in
        * crawled corpora, and one bad file must not kill a 100 TB run.
        * Off by default: silently dropping data is opt-in. Disables the
        * byte fast paths (a byte copy would propagate the corruption).
        */
      skipCorrupt: Boolean = false,
      discovery: Discovery.Options = Discovery.Options())

  /** `spark.read` reports every file-source column nullable RECURSIVELY
    * (`DataType.asNullable` is private): nested struct fields, array
    * elements (containsNull), and map values written as parquet `required`
    * must still probe as nullable, or two files whose `spark.read` schemas
    * are identical would unify as a spurious conflict.
    */
  private def forceNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = forceNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = forceNullable(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = forceNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Footer-only parquet schema: read the file footer and convert through
    * Spark's own parquet->Catalyst converter. `conv`/`conf` are shared
    * across a batch probe — both are read-only here and thread-safe.
    */
  private def parquetFooterSchema(path: String,
      conv: org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.types.StructType = {
    val reader = HConf.openParquet(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf))
    val msg = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    forceNullable(conv.convert(msg))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Footer-only ORC schema, via Spark's own ORC reader + ORC->Catalyst
    * converter (re-exported through [[org.apache.spark.sql.graftbridge.OrcBridge]]).
    * Same nullability normalization as the parquet probe.
    */
  private def orcFooterSchema(path: String,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.types.StructType =
    forceNullable(org.apache.spark.sql.graftbridge.OrcBridge.footerSchema(
      new org.apache.hadoop.fs.Path(path), conf))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Header-only Avro schema: a container file carries its writer schema in
    * the file HEADER, so one bounded open + Spark's own Avro->Catalyst
    * converter gives the scan schema with zero Spark jobs — the parquet/orc
    * footer-probe discipline, reading the front of the file instead of the
    * tail. Same recursive nullability normalization as the other probes.
    */
  private def avroHeaderSchema(path: String,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.types.StructType = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val in = hPath.getFileSystem(conf).open(hPath)
    val reader = new org.apache.avro.file.DataFileStream(
      in, new org.apache.avro.generic.GenericDatumReader[AnyRef]())
    val avroSchema = try reader.getSchema finally { reader.close(); in.close() }
    forceNullable(
      org.apache.spark.sql.avro.SchemaConverters.toSqlType(avroSchema).dataType)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** One file's schema — the one-file case of [[fileSchemasTry]], which
    * holds the single format dispatch.
    *
    * Per-file schema WITHOUT a per-file DataFrameReader: CSV resolves via
    * the driver-side bounded sample (zero Spark jobs); parquet reads the
    * file FOOTER directly and converts through Spark's own
    * parquet->Catalyst converter (constructed from the session conf, so
    * e.g. `nanosAsLong` behaves exactly like `spark.read`), skipping the
    * full DataSource resolution `spark.read.parquet(path).schema` pays per
    * call (~10-30 ms each — hours of sequential driver time at 10^5
    * files). Fields are forced nullable (recursively), matching what
    * `spark.read` reports for file sources.
    */
  def fileSchema(spark: SparkSession, f: InputFile,
      csv: CsvSource.CsvOptions): org.apache.spark.sql.types.StructType =
    fileSchemasTry(spark, Seq(f), csv).head.get

  /** All files' schemas, probed concurrently on the driver pool — one
    * bounded sample or footer read per file, never a reader setup. The
    * converter and Hadoop conf are built ONCE for the whole batch:
    * `newHadoopConf()` copies the full session conf per call, a per-file
    * constant cost that matters at the 10^5-file scale this path exists
    * for.
    */
  def fileSchemas(spark: SparkSession, files: Seq[InputFile],
      csv: CsvSource.CsvOptions): Seq[org.apache.spark.sql.types.StructType] =
    fileSchemasTry(spark, files, csv).map(_.get)

  /** [[fileSchemas]], but a failed probe (corrupt footer, unreadable file)
    * surfaces as a per-file `Failure` instead of killing the whole batch —
    * the `skipCorrupt` resolution path.
    */
  def fileSchemasTry(spark: SparkSession, files: Seq[InputFile],
      csv: CsvSource.CsvOptions): Seq[scala.util.Try[org.apache.spark.sql.types.StructType]] = {
    val conv = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val conf = spark.sessionState.newHadoopConf()
    graft.util.Par.map(files)(f => scala.util.Try(f.format match {
      case Csv     => CsvSource.resolveSchema(spark, f.path, csv)
      case Jsonl   => JsonSource.resolveSchema(spark, f.path,
        JsonSource.JsonOptions(inferRows = csv.inferRows)) // --infer-rows is format-shared
      case Parquet => parquetFooterSchema(f.path, conv, conf)
      case Orc     => orcFooterSchema(f.path, conf)
      case Avro    => avroHeaderSchema(f.path, conf)
      case Xml     => XmlSource.resolveSchema(spark, f.path,
        XmlSource.XmlOptions(inferRows = csv.inferRows))
    }))
  }

  /** One multi-path scan for a group of same-schema files. */
  private def readGroup(spark: SparkSession, format: Format, paths: Seq[String],
      schema: org.apache.spark.sql.types.StructType, csv: CsvSource.CsvOptions,
      skipCorrupt: Boolean = false): DataFrame =
    format match {
      case Csv     => CsvSource.readPaths(spark, paths, csv, Some(schema))
      case Parquet => spark.read
        .option("ignoreCorruptFiles", skipCorrupt.toString).parquet(paths: _*)
      case Orc     => spark.read
        .option("ignoreCorruptFiles", skipCorrupt.toString).orc(paths: _*)
      case Avro    => spark.read
        .option("ignoreCorruptFiles", skipCorrupt.toString)
        .format(Discovery.AvroClass).load(paths: _*)
      case Jsonl   => JsonSource.readPaths(spark, paths,
        JsonSource.JsonOptions(inferRows = csv.inferRows), Some(schema))
      // the XML scan has no ignoreCorruptFiles lever at the reader level;
      // a corrupt member is dropped at the skipCorrupt SCHEMA probe stage
      case Xml     => XmlSource.readPaths(spark, paths,
        XmlSource.XmlOptions(inferRows = csv.inferRows), Some(schema))
    }

  /** Discover + build the unified concat plan. Lazy — nothing big executes
    * here; CSV inference samples run concurrently on the driver.
    */
  def plan(spark: SparkSession, cfg0: Config): (Seq[InputFile], DataFrame) = {
    val files = Discovery.discover(cfg0.inputs, cfg0.discovery)
    require(files.nonEmpty, s"no inputs found in ${cfg0.inputs.mkString(", ")}")
    (files, planFor(spark, cfg0, files))
  }

  /** Full conversion pipeline (what the CLI's batch mode runs): the
    * byte-level CSV->CSV fast path when eligible ([[CsvByteConcat]]), else
    * the declarative plan + [[graft.sinks.Sink.write]]. Returns write
    * metrics either way.
    */
  def convert(spark: SparkSession, cfg: Config,
      sink: graft.sinks.Sink.Config): Map[String, Any] = {
    val files = Discovery.discover(cfg.inputs, cfg.discovery)
    require(files.nonEmpty, s"no inputs found in ${cfg.inputs.mkString(", ")}")
    CsvByteConcat.tryRun(spark, files, cfg, sink)
      .orElse(ParquetByteConcat.tryRun(spark, files, cfg, sink))
      .orElse(JsonByteConcat.tryRun(spark, files, cfg, sink))
      .getOrElse(graft.sinks.Sink.write(planFor(spark, cfg, files), sink))
  }

  /** Build the unified concat plan over already-discovered files. */
  def planFor(spark: SparkSession, cfg0: Config, files: Seq[InputFile]): DataFrame = {
    val cfg =
      if (cfg0.rawPassThrough && files.forall(_.format == Csv))
        cfg0.copy(csv = cfg0.csv.copy(inferTypes = false))
      else cfg0
    // resolve each file's schema concurrently (driver-side sample for CSV,
    // direct footer read for parquet — see fileSchemas). With skipCorrupt,
    // a failed probe drops THAT file (stderr note) instead of killing the
    // whole concat.
    val resolved: Seq[(InputFile, org.apache.spark.sql.types.StructType)] =
      files.zip(fileSchemasTry(spark, files, cfg.csv)).flatMap {
        case (f, scala.util.Success(s)) => Some((f, s))
        case (f, scala.util.Failure(e)) if cfg.skipCorrupt =>
          System.err.println(s"[concat] skipping corrupt input ${f.path}: ${e.getMessage}")
          None
        case (_, scala.util.Failure(e)) => throw e
      }
    require(resolved.nonEmpty,
      s"every input failed its schema probe: ${files.map(_.path).mkString(", ")}")
    // group contiguous-in-sort-order files by (format, schema): each group
    // is one scan, and the groups keep discovery order. WITHIN a group the
    // scan does not: Spark packs a scan's files into partitions by size,
    // largest first, so a multi-file group's rows come out in that order.
    // The byte fast paths keep discovery order.
    val groups = resolved
      .foldLeft(Vector.empty[(Format, org.apache.spark.sql.types.StructType, Vector[String])]) {
        case (acc, (f, s)) =>
          acc.lastOption match {
            case Some((fmt, schema, paths)) if fmt == f.format && schema == s =>
              acc.init :+ ((fmt, schema, paths :+ f.path))
            case _ => acc :+ ((f.format, s, Vector(f.path)))
          }
      }
    // empty-schema groups (0-byte shards, all-corrupt jsonl) contribute
    // ZERO ROWS instead of aborting the whole concat — sharded corpora
    // routinely contain empty shards, and the byte fast paths already
    // treat them as contributing nothing
    val (emptyGroups, liveGroups) = groups.partition(_._2.isEmpty)
    emptyGroups.foreach { case (fmt, _, paths) =>
      System.err.println(
        s"[concat] skipping ${paths.size} empty $fmt input(s): ${paths.mkString(", ")}")
    }
    require(liveGroups.nonEmpty,
      s"every input is empty: ${files.map(_.path).mkString(", ")}")
    val dfs = liveGroups.map { case (fmt, schema, paths) =>
      readGroup(spark, fmt, paths, schema, cfg.csv, cfg.skipCorrupt)
    }
    // a column whose sample held no value joins the type lattice as
    // NullType, as in the stream's unify over the same probes, though a
    // CSV scan reads it as strings
    val latticeSchemas = liveGroups.zip(dfs).map { case ((_, sampled, _), df) =>
      StructType(df.schema.fields.map(f =>
        if (sampled.find(_.name == f.name).exists(_.dataType == NullType))
          f.copy(dataType = NullType)
        else f))
    }
    val unified = SchemaUnifier.unify(
      latticeSchemas, cfg.stringifyConflicts, cfg.renames, cfg.include, cfg.exclude)
    dfs.map(SchemaUnifier.align(_, unified)).reduce(_ unionByName _)
  }

  def run(spark: SparkSession, cfg: Config): DataFrame = plan(spark, cfg)._2
}
