package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL (newline-delimited JSON) source — beyond the reference's CSV/parquet
  * surface, but the de-facto interchange format of LLM training corpora, so
  * the concat tool treats it as a first-class input.
  *
  * Same planning contract as [[CsvSource]]: the per-file schema comes from a
  * bounded DRIVER-SIDE sample (no Spark jobs at plan time — at 10^5 files
  * that is the difference between hours of job round-trips and none), then
  * same-schema files share one multi-path typed scan.
  *
  * Inference lattice per key, over the sampled lines, resolved through the
  * same [[graft.schema.TypeWidening]] lattice the concat unifier uses:
  * i64 -> f64 -> bool -> string (matching the CSV precedence); JSON nulls /
  * absent keys contribute nothing (all-null keys carry transient NullType,
  * widened away or projected to true null columns); nested objects/arrays
  * read as their RAW JSON text (StringType) — the concat tool's stringify
  * philosophy: structure passes through byte-faithfully and downstream
  * queries re-parse with from_json when they want it typed.
  */
object JsonSource {

  final case class JsonOptions(inferRows: Int = 1000)

  def read(spark: SparkSession, path: String, opts: JsonOptions = JsonOptions()): DataFrame =
    readPaths(spark, Seq(path), opts, Some(resolveSchema(spark, path, opts)))

  /** Resolved per-file schema from the driver-side sample. Key order is
    * first-seen across the sample — deterministic, and for sink-written
    * files it reproduces the writing frame's column order.
    */
  def resolveSchema(spark: SparkSession, path: String, opts: JsonOptions): StructType = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file =
      if (fs.getFileStatus(hPath).isDirectory)
        fs.listStatus(hPath).map(_.getPath)
          .filter(p => Discovery.detectFormat(p.getName).contains(Discovery.Jsonl))
          .sortBy(_.getName).headOption
          .getOrElse(throw new IllegalArgumentException(s"no jsonl files under $path"))
      else hPath
    // .jsonl.gz inputs: match the decompression the Spark scan applies
    val in: java.io.InputStream =
      if (Discovery.isGzip(file.toString)) new java.util.zip.GZIPInputStream(fs.open(file))
      else fs.open(file)
    val lines = try {
      val rdr = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      Iterator.continually(rdr.readLine()).takeWhile(_ != null)
        .filter(_.trim.nonEmpty).take(opts.inferRows).toVector
    } finally in.close()
    val order = scala.collection.mutable.LinkedHashMap.empty[String, Vector[DataType]]
    lines.foreach { line =>
      val node = try mapper.readTree(line) catch {
        case scala.util.control.NonFatal(_) => null // corrupt line: typed read nulls it
      }
      if (node != null && node.isObject) {
        node.properties().forEach { e =>
          val t = nodeType(e.getValue)
          t.foreach(dt => order.update(e.getKey, order.getOrElse(e.getKey, Vector.empty) :+ dt))
          if (t.isEmpty && !order.contains(e.getKey))
            order.update(e.getKey, Vector.empty) // null-only so far: remember the key
        }
      }
    }
    StructType(order.toSeq.map { case (name, types) =>
      // stringify=true never errors; Null-identity fold gives NullType for
      // a key that was only ever null (projected to a true null column)
      val dt = graft.schema.TypeWidening
        .widenAll(types, stringifyConflicts = true)
        .getOrElse(StringType)
      StructField(name, dt, nullable = true)
    })
  }

  /** JSON scalar -> lattice type; nested -> raw-text string; null -> none. */
  private def nodeType(n: com.fasterxml.jackson.databind.JsonNode): Option[DataType] =
    if (n.isNull) None
    else if (n.isBoolean) Some(BooleanType)
    // integers beyond i64 (bigints) fall through to double like the CSV
    // lattice's out-of-range numerics
    else if (n.isIntegralNumber && n.canConvertToLong) Some(LongType)
    else if (n.isNumber) Some(DoubleType)
    else if (n.isTextual) Some(StringType)
    else Some(StringType) // object / array: raw JSON text passthrough

  /** Typed scan of one-or-many same-schema JSONL files in ONE reader.
    * PERMISSIVE => corrupt line -> all-null row, scalar/type mismatch ->
    * null field, nested values under a StringType field -> raw JSON text
    * (Spark's Jackson parser emits the subtree verbatim).
    */
  def readPaths(spark: SparkSession, paths: Seq[String], opts: JsonOptions,
      resolvedSchema: Option[StructType] = None): DataFrame = {
    val schema = resolvedSchema.getOrElse(resolveSchema(spark, paths.head, opts))
    require(schema.nonEmpty, s"could not resolve a schema for ${paths.head}")
    val parserSchema = StructType(schema.fields.map(f =>
      f.copy(dataType = if (f.dataType == NullType) StringType else f.dataType,
        nullable = true)))
    val typed = spark.read
      .schema(parserSchema)
      .option("mode", "PERMISSIVE")
      .json(paths: _*)
    typed.select(schema.fields.map { f =>
      if (f.dataType == NullType) lit(null).as(f.name)
      else col(graft.schema.SchemaUnifier.quoted(f.name))
    }.toIndexedSeq: _*)
  }
}
