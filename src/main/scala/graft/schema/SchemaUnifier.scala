package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-source schema unification + per-source alignment.
  *
  * Mirrors the intended semantics of the reference's `UnifiedSchema::from_schemas`
  * (`/root/reference/src/schema.rs:76-115`) and `BatchAligner`
  * (`coercion.rs:24-107`, unwired stub in the reference — implemented for real here):
  *
  *   - union of all column names across sources (after renames)
  *   - per-column type widening via [[TypeWidening]]
  *   - final column order ALPHABETICAL (schema.rs:101-102)
  *   - every field nullable (schema.rs:107)
  *   - sources missing a column get a typed all-null column (coercion.rs:206-230)
  *
  * In Spark this is plain driver-side planning that emits `select(cast(...))`
  * per source followed by `unionByName` — one narrow Catalyst plan, no shuffle,
  * so it scales linearly with input bytes on any cluster size.
  */
object SchemaUnifier {

  final case class Unified(
      schema: StructType,
      /** original name -> unified name (identity unless renamed; schema.rs:63) */
      columnMapping: Map[String, String])

  /** Build the unified schema from per-source schemas.
    *
    * @param renames  user `--rename old=new` pairs (cli.rs:54-56)
    * @param include  `--columns` whitelist, applied post-rename (cli.rs:46-48)
    * @param exclude  `--exclude` blacklist (cli.rs:50-52)
    */
  def unify(
      schemas: Seq[StructType],
      stringifyConflicts: Boolean = false,
      renames: Map[String, String] = Map.empty,
      include: Option[Seq[String]] = None,
      exclude: Seq[String] = Nil): Unified = {
    val renamed = schemas.map { s =>
      StructType(s.fields.map(f => f.copy(name = renames.getOrElse(f.name, f.name))))
    }
    val allNames = renamed.flatMap(_.fieldNames).distinct
    val kept = allNames
      .filter(n => include.forall(_.contains(n)))
      .filterNot(exclude.contains)
      .sorted // alphabetical, schema.rs:101-102
    val fields = kept.map { name =>
      val types = renamed.flatMap(s => s.fields.find(_.name == name).map(_.dataType))
      val widened = TypeWidening.widenAll(types, stringifyConflicts) match {
        case Right(t)  => if (t == NullType) StringType else t
        case Left(err) => throw err
      }
      StructField(name, widened, nullable = true)
    }
    Unified(StructType(fields), renames)
  }

  /** Backtick-quote a column name for `col()`: a name containing a dot
    * (legal in CSV headers and JSON keys) would otherwise parse as a
    * nested-field path and fail resolution. Embedded backticks double.
    */
  def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Align one source DataFrame to the unified schema: rename, project,
    * cast (parse-failure -> null via `try_cast`, matching `.parse().ok()` at
    * coercion.rs:117-154 even under Spark's default ANSI mode), and inject
    * typed null columns for missing fields (coercion.rs:70-76, :206-230).
    */
  def align(df: DataFrame, unified: Unified): DataFrame = {
    val renamed = unified.columnMapping.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    val cols = unified.schema.fields.map { f =>
      if (renamed.columns.contains(f.name)) col(quoted(f.name)).try_cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    renamed.select(cols.toIndexedSeq: _*)
  }

  /** Full pipeline: unify schemas of all sources, align each, UNION ALL.
    * The union keeps the sources' left-to-right order (U1,
    * pipeline.rs:76-100 / README.md:77); rows inside one source keep that
    * DataFrame's partition order, which for a multi-file scan is Spark's
    * size-packed file order (largest file first), not discovery order.
    */
  def concat(
      dfs: Seq[DataFrame],
      stringifyConflicts: Boolean = false,
      renames: Map[String, String] = Map.empty,
      include: Option[Seq[String]] = None,
      exclude: Seq[String] = Nil): DataFrame = {
    require(dfs.nonEmpty, "no inputs")
    val unified = unify(dfs.map(_.schema), stringifyConflicts, renames, include, exclude)
    dfs.map(align(_, unified)).reduce(_ unionByName _)
  }
}
