package graft.queries

import graft.schema.SchemaUnifier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Q._

/** Queries exercising the reference's own operator surface (SURVEY §2.1):
  * union/concat (U1), schema unification + widening (O9/T2), projection
  * include/exclude (O6), rename (O7), alphabetical reorder (O8), casts (T3),
  * null injection (T4), NA normalization (O3).
  */
object ParityQueries {

  private def ordersStringified(df: DataFrame): DataFrame =
    df.select(
      col("o_custkey"), fmtTs(col("o_orderdate")).as("o_orderdate"), col("o_orderkey"),
      col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice"))

  /** Capture everything the CLI prints to stdout during `f`, as lines.
    * Maw prints through Scala's Console-backed println, so withOut scopes
    * the redirect to this call — nothing global is touched.
    */
  private def captureOut(f: => Unit): Seq[String] = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(f)
    new String(bos.toByteArray, "UTF-8").linesIterator.filter(_.nonEmpty).toSeq
  }

  /** The p21 CSV read-back projection: CSV cannot carry the ''-vs-NULL
    * distinction, so the string columns fold '' to NULL on both engines.
    */
  private def csvOrdersBack(s: SparkSession, path: String): DataFrame = {
    val back = graft.operators.Concat.run(s,
      graft.operators.Concat.Config(Seq(path)))
    val strCols = Set("o_orderdate", "o_orderpriority", "o_orderstatus")
    ordered(back.select(
      Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice").map(c =>
        if (strCols(c)) nullif(col(c), lit("")).as(c) else col(c)): _*))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // U1: UNION ALL concat of two sources through the unifier
    "p01_concat_union_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      ordered(ordersStringified(SchemaUnifier.concat(Seq(o, o))))
    }),
    // O7+O9: rename-driven unification of customer+supplier into one table
    "p02_schema_unify_parties" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val merged = SchemaUnifier.concat(Seq(c, sup), renames = Map(
        "c_custkey" -> "party_id", "s_suppkey" -> "party_id",
        "c_name" -> "name", "s_name" -> "name",
        "c_nationkey" -> "nationkey", "s_nationkey" -> "nationkey",
        "c_acctbal" -> "acctbal", "s_acctbal" -> "acctbal"))
      ordered(merged)
    }),
    // O6 include
    "p03_project_include" -> ((s, dir) =>
      ordered(t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"))),
    // O6 exclude
    "p04_project_exclude" -> ((s, dir) =>
      ordered(t(s, dir, "part").drop("p_name", "p_type"))),
    // O7 rename
    "p05_rename" -> ((s, dir) =>
      ordered(t(s, dir, "region").withColumnRenamed("r_name", "region_name"))),
    // O8 alphabetical reorder
    "p06_reorder_alpha" -> ((s, dir) => {
      val o = ordersStringified(t(s, dir, "orders"))
      ordered(o.select(o.columns.sorted.map(col).toIndexedSeq: _*))
    }),
    // T2/T3: lattice-driven widening casts (I32->I64, I32->F64)
    "p07_cast_widen" -> ((s, dir) =>
      ordered(t(s, dir, "nation").select(
        col("n_nationkey").cast(LongType).as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast(DoubleType).as("n_regionkey")))),
    // T4: null injection for columns missing in one source
    "p08_null_injection" -> ((s, dir) => {
      val merged = SchemaUnifier.concat(Seq(t(s, dir, "region"), t(s, dir, "nation")))
      ordered(merged)
    }),
    // O3: NA-value list -> null normalization
    "p09_na_normalize" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      ordered(d.select(col("doc_id"),
        when(col("source").isin("NA", "null", "\\N"), lit(null))
          .otherwise(col("source")).as("source")))
    }),
    // JSONL sink + source round trip through the REAL write/read path
    // (beyond-reference format: the LLM-corpus interchange format). The
    // DuckDB oracle pins the round-tripped table against the parquet
    // original, so a broken JSON escape, encode, promotion, or inference
    // step breaks the hash — including on the hostile corpus's exotic
    // whitespace/unicode/null rows.
    "p11_jsonl_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p11_jsonl_${java.lang.Integer.toHexString(dir.hashCode)}")
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("docs.jsonl").toString
      graft.sinks.Sink.write(docs,
        graft.sinks.Sink.Config(out, graft.sources.Discovery.Jsonl))
      ordered(graft.operators.Concat.run(s,
        graft.operators.Concat.Config(Seq(out)))
        .select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // ORC sink + source round trip through the REAL write/read path
    // (beyond-reference format: the other columnar warehouse format). Same
    // oracle shape as p11: the DuckDB oracle pins the round-tripped table
    // against the parquet original, so a broken ORC write, promotion, or
    // footer-schema probe breaks the hash. ORC round-trips types exactly
    // (unlike JSONL), so the full column set survives unprojected.
    "p12_orc_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p12_orc_${java.lang.Integer.toHexString(dir.hashCode)}")
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("docs.orc").toString
      graft.sinks.Sink.write(docs,
        graft.sinks.Sink.Config(out, graft.sources.Discovery.Orc))
      ordered(graft.operators.Concat.run(s,
        graft.operators.Concat.Config(Seq(out)))
        .select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // Avro sink + source round trip through the REAL write/read path
    // (beyond-reference format: the Kafka-ecosystem row format; Spark 4
    // bundles the formerly-external avro FileFormat classes minus only the
    // short-name registration — see Discovery.AvroClass). Same oracle shape
    // as p11/p12: DuckDB pins the round-tripped table against the parquet
    // original, so a broken avro write, codec, header-schema probe, or
    // Avro<->Catalyst type mapping breaks the hash. Avro unions carry the
    // null/type distinction exactly (unlike JSONL's stringly types), so the
    // full column set survives unprojected — including the hostile corpus's
    // control characters, which the binary row encoding stores verbatim.
    "p20_avro_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p20_avro_${java.lang.Integer.toHexString(dir.hashCode)}")
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("docs.avro").toString
      graft.sinks.Sink.write(docs,
        graft.sinks.Sink.Config(out, graft.sources.Discovery.Avro))
      ordered(graft.operators.Concat.run(s,
        graft.operators.Concat.Config(Seq(out)))
        .select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // XML sink + source round trip through the REAL write/read path
    // (beyond-reference format: Spark 4's native XML source — the
    // structured-record interchange format). Same oracle shape as p11/p12:
    // DuckDB pins the round-tripped table against the parquet original, so
    // a broken XML escape/encode, a type-inference drift, or a lost
    // null/empty distinction breaks the hash. Orders (ts stringified), not
    // documents: XML 1.0 cannot represent control characters, so the
    // hostile raw-text corpus is out of the format's contract by design.
    "p19_xml_roundtrip" -> ((s, dir) => {
      val o = ordersStringified(t(s, dir, "orders"))
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p19_xml_${java.lang.Integer.toHexString(dir.hashCode)}")
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("orders.xml").toString
      graft.sinks.Sink.write(o,
        graft.sinks.Sink.Config(out, graft.sources.Discovery.Xml))
      ordered(graft.operators.Concat.run(s,
        graft.operators.Concat.Config(Seq(out)))
        .select("o_custkey", "o_orderdate", "o_orderkey",
          "o_orderpriority", "o_orderstatus", "o_totalprice"))
    }),
    // In-place small-file compaction (the 100 TB maintenance primitive):
    // litter a tree with 16 tiny parts, compact it, read it back. The
    // file-count reduction is asserted INSIDE the query (driver-visible:
    // a no-op compaction errs the run) and the DuckDB oracle pins that not
    // one row or value changed across the destructive in-place swap.
    "p13_compaction" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p13_compact_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      val tree = base.resolve("docs-tree").toString
      docs.repartition(16).write.parquet(tree)
      val st = graft.operators.Compact.run(s, tree, graft.sources.Discovery.Parquet)
      require(st.filesBefore == 16 && st.filesAfter < st.filesBefore,
        s"compaction did not reduce files: ${st.filesBefore} -> ${st.filesAfter}")
      ordered(s.read.parquet(tree)
        .select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // Partition-pruned read (K4's payoff, driver-checked): documents land
    // as a lang=... hive tree, and the lang filter must prune to ONE
    // directory at planning time — PartitionFilters is asserted IN-QUERY
    // (a silent full-tree scan errs the run); the DuckDB oracle pins the
    // filtered content. At 100 TB this is the difference between reading
    // one language's slice and scanning the corpus.
    "p14_partition_pruned" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p14_part_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      val tree = base.resolve("docs-tree").toString
      graft.sinks.Sink.write(docs, graft.sinks.Sink.Config(tree,
        graft.sources.Discovery.Parquet, partitionBy = Seq("lang")))
      val back = graft.sinks.Sink.readBack(s, tree, graft.sources.Discovery.Parquet)
        .where(col("lang") === "en")
      val plan = back.queryExecution.executedPlan.toString
      require(plan.contains("PartitionFilters: [isnotnull(lang"),
        s"p14: lang filter did not reach PartitionFilters:\n${plan.take(600)}")
      ordered(back.select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // Z-order data skipping, driver-checked end to end (the one layout
    // primitive p13/p14 didn't cover in-query): lineitem lands z-ordered by
    // (l_orderkey, l_partkey), and a two-dimension POINT predicate must
    // find almost every row group's footer stats excluding it — row groups
    // whose [min,max] contain the point are counted from the parquet
    // footers and gated IN-QUERY (a layout regression errs the run, like
    // p14's PartitionFilters gate), the filter itself must reach the scan
    // as PushedFilters, and the DuckDB oracle pins the filtered content.
    // At 100 TB this is the difference between reading ~1/N of the corpus
    // and scanning all of it for multi-column selective predicates.
    "p15_zorder_skipping" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p15_zorder_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("liz.parquet").toString
      // the user-facing layout surface: --zorder-by + --roll-by-rows bound
      // rows per file so the tree lands at ~24 files/row groups at EVERY
      // fixture scale — enough for the gate to mean something, bounded so
      // the footer pass and file count stay O(1) as the fixture grows
      // floor 500: even the sf0.001 fixture (6k rows) must yield >= 8 row
      // groups or the skipping gate below cannot mean anything
      val nRows = li.count()
      graft.sinks.Sink.write(li, graft.sinks.Sink.Config(out,
        graft.sources.Discovery.Parquet,
        zorderBy = Seq("l_orderkey", "l_partkey"),
        rollByRows = Some(math.max(500L, nRows / 24))))
      // the probed point: the top corner of the 2-D domain (data-derived so
      // every fixture scale probes a real row; the oracle mirrors it with
      // scalar subqueries)
      val corner = li.orderBy(col("l_orderkey").desc, col("l_partkey").desc).limit(1).head()
      val (k1, k2) = (corner.getLong(0), corner.getLong(1))
      // footer-stat gate: row groups whose [min,max] boxes contain BOTH
      // coordinates are the ones a reader must fetch; z-ordering must leave
      // that a small minority (an unsorted layout matches nearly all)
      val hconf = s.sparkContext.hadoopConfiguration
      val dirPath = new org.apache.hadoop.fs.Path(base.toString)
      val fs = dirPath.getFileSystem(hconf)
      val parts = fs.listStatus(dirPath).map(_.getPath)
        .filter(p => p.getName.startsWith("liz-") && p.getName.endsWith(".parquet"))
      var total = 0L; var matching = 0L
      parts.foreach { p =>
        val r = graft.operators.HConf.openParquet(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          val (i1, i2) = (schema.getFieldIndex("l_orderkey"), schema.getFieldIndex("l_partkey"))
          val blocks = r.getFooter.getBlocks
          (0 until blocks.size).foreach { b =>
            total += 1
            def contains(idx: Int, v: Long): Boolean = {
              val st = blocks.get(b).getColumns.get(idx).getStatistics
              st.genericGetMin.asInstanceOf[Long] <= v &&
                v <= st.genericGetMax.asInstanceOf[Long]
            }
            if (contains(i1, k1) && contains(i2, k2)) matching += 1
          }
        } finally r.close()
      }
      require(total >= 8, s"p15: layout produced only $total row groups — gate meaningless")
      require(matching * 3 <= total,
        s"p15: z-order layout not skippable — $matching of $total row groups " +
          s"match the point predicate ($k1, $k2)")
      val back = graft.sinks.Sink.readBack(s, out, graft.sources.Discovery.Parquet)
        .where(col("l_orderkey") === k1 && col("l_partkey") === k2)
      val plan = back.queryExecution.executedPlan.toString
      require(plan.contains("PushedFilters:") && plan.contains("EqualTo(l_orderkey"),
        s"p15: point predicate did not reach the parquet scan:\n${plan.take(600)}")
      ordered(back.select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"))
    }),
    // Schema EVOLUTION across a tree's generations — the read-side story a
    // long-lived table needs: generation 1 wrote (doc_id, text), a later
    // ingest added (lang, n_chars). A mergeSchema read must present the
    // union schema with nulls for gen-1's missing columns — the same
    // widening semantics the in-memory SchemaUnifier applies (O9/T4),
    // proven here at the PARQUET FOOTER level where evolved trees actually
    // live. The oracle reproduces the union + null-fill relationally.
    "p16_schema_evolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p16_evo_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val tree = base.resolve("tree")
      java.nio.file.Files.createDirectories(tree)
      // two generations, disjoint row sets, different schemas
      docs.where(col("doc_id") % 2 === 0).select("doc_id", "text")
        .write.parquet(tree.resolve("gen=1").toString)
      docs.where(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "lang", "n_chars")
        .write.parquet(tree.resolve("gen=2").toString)
      val evolved = s.read.option("mergeSchema", "true")
        .option("basePath", tree.toString).parquet(
          tree.resolve("gen=1").toString, tree.resolve("gen=2").toString)
      ordered(evolved.select("doc_id", "text", "lang", "n_chars"))
    }),
    // Resilient ingestion (--skip-corrupt — the last §2.3 primitive pinned
    // only by a CLI spec until now): a tree of good parquet parts PLUS two
    // corrupt members — pure garbage bytes, and a TORN copy of a real part
    // (PAR1 magic, footer gone: the realistic crashed-upload artifact).
    // Corruption must be REAL (the strict read refuses the tree, asserted
    // in-query) and the skip-corrupt read must deliver exactly the good
    // rows — the DuckDB oracle pins them. At 100 TB a single torn object
    // must cost one stderr line and its own rows, never the ingest.
    "p17_resilient_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p17_resilient_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val tree = base.resolve("tree")
      docs.write.parquet(tree.toString)
      java.nio.file.Files.write(tree.resolve("zz-garbage.parquet"),
        Array.fill[Byte](512)(0x5A))
      val firstPart = {
        import scala.jdk.CollectionConverters._
        import scala.util.Using
        Using.resource(java.nio.file.Files.list(tree)) { st =>
          st.iterator().asScala.filter { p =>
            val n = p.getFileName.toString
            n.startsWith("part-") && n.endsWith(".parquet")
          }.toList.minBy(_.getFileName.toString)
        }
      }
      val head = java.nio.file.Files.readAllBytes(firstPart).take(256)
      java.nio.file.Files.write(tree.resolve("zz-torn.parquet"), head)
      val strictFailed =
        try { graft.operators.Concat.run(s,
          graft.operators.Concat.Config(Seq(tree.toString))); false }
        catch { case _: Exception => true }
      require(strictFailed, "p17: the strict read accepted a corrupt tree")
      ordered(graft.operators.Concat.run(s,
        graft.operators.Concat.Config(Seq(tree.toString), skipCorrupt = true))
        .select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // OPTIMIZE ZORDER, driver-checked end to end (round-11 verdict #4): the
    // COMPOSED maintenance pass p13 (compaction) and p15 (z-order write)
    // prove only separately — a fragmented AND unclustered tree rewritten
    // in place by compact --zorder-by. Three gates: the file count drops
    // (p13's), the post-maintenance footer stats must skip the 2-D point
    // probe (p15's row-group gate — before the rewrite every part spans
    // the whole key domain, so skipping is CREATED by the maintenance,
    // not inherited), and the DuckDB oracle pins that the destructive
    // swap changed not one row (p13's discipline). At 100 TB this is the
    // nightly OPTIMIZE job: fix fragmentation and data-skipping layout in
    // one staged, verified, lease-guarded rewrite.
    "p18_compact_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p18_czorder_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val tree = base.resolve("li-tree").toString
      // 24 tiny hash-scattered parts: the worst maintenance input —
      // fragmented, and every row group spans the full key domain
      li.repartition(24).write.parquet(tree)
      val hconf = s.sparkContext.hadoopConfiguration
      val treePath = new org.apache.hadoop.fs.Path(tree)
      val fs = treePath.getFileSystem(hconf)
      val bytes = fs.listStatus(treePath)
        .filter(f => f.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      // target ~bytes/16: enough output row groups (>= 8) for the skip
      // gate to mean something at every fixture scale, still < 24 inputs.
      // The floor is 8 KB, not 64: at sf0.001 the whole 24-part tree is
      // ~115 KB and a 64 KB floor compacts it to 2 row groups (16 KB to 7)
      // — under the gate's own >= 8 minimum (round-13 sf0.001 sweep)
      val st = graft.operators.Compact.run(s, tree,
        graft.sources.Discovery.Parquet,
        targetFileBytes = math.max(8L * 1024, bytes / 16),
        zorderBy = Seq("l_orderkey", "l_partkey"))
      require(st.filesBefore == 24 && st.filesAfter < st.filesBefore,
        s"p18: maintenance did not compact: ${st.filesBefore} -> ${st.filesAfter}")
      // p15's footer-stat gate, applied to the REWRITTEN tree: row groups
      // whose [min,max] contain both coordinates of the top-corner point
      // must be a small minority (pre-rewrite: all of them)
      val corner = li.orderBy(col("l_orderkey").desc, col("l_partkey").desc)
        .limit(1).head()
      val (k1, k2) = (corner.getLong(0), corner.getLong(1))
      val parts = fs.listStatus(treePath).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet"))
      var total = 0L; var matching = 0L
      parts.foreach { p =>
        val r = graft.operators.HConf.openParquet(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          val (i1, i2) = (schema.getFieldIndex("l_orderkey"), schema.getFieldIndex("l_partkey"))
          val blocks = r.getFooter.getBlocks
          (0 until blocks.size).foreach { b =>
            total += 1
            def contains(idx: Int, v: Long): Boolean = {
              val cs = blocks.get(b).getColumns.get(idx).getStatistics
              cs.genericGetMin.asInstanceOf[Long] <= v &&
                v <= cs.genericGetMax.asInstanceOf[Long]
            }
            if (contains(i1, k1) && contains(i2, k2)) matching += 1
          }
        } finally r.close()
      }
      require(total >= 8,
        s"p18: maintenance produced only $total row groups — gate meaningless")
      require(matching * 3 <= total,
        s"p18: rewritten layout not skippable — $matching of $total row " +
          s"groups match the point predicate ($k1, $k2)")
      ordered(s.read.parquet(tree)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"))
    }),
    // CSV sink + source round trip through the REAL write/read path — K1
    // driver-checked at last (spec-only until round 17): header-once,
    // RFC 4180 quoting, the NA string, and the sampler's type inference
    // all sit between the parquet original and the hash. Orders
    // (ts stringified) like p19: raw control-character text is out of the
    // CSV contract by design. NULLs write as the NA string ("NA") and read
    // back null; CSV cannot carry the empty-vs-null distinction
    // (Sink.rowChecksum documents the same fold), so BOTH sides fold ''
    // to NULL — the one normalization this format genuinely requires.
    "p21_csv_roundtrip" -> ((s, dir) => {
      val o = ordersStringified(t(s, dir, "orders"))
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p21_csv_${java.lang.Integer.toHexString(dir.hashCode)}")
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("orders.csv").toString
      graft.sinks.Sink.write(o,
        graft.sinks.Sink.Config(out, graft.sources.Discovery.Csv,
          naString = "NA"))
      val back = graft.operators.Concat.run(s,
        graft.operators.Concat.Config(Seq(out)))
      val strCols = Set("o_orderdate", "o_orderpriority", "o_orderstatus")
      ordered(back.select(
        Seq("o_custkey", "o_orderdate", "o_orderkey",
          "o_orderpriority", "o_orderstatus", "o_totalprice").map(c =>
          if (strCols(c)) nullif(col(c), lit("")).as(c) else col(c)): _*))
    }),
    // Rolling output (K3) driver-checked: documents rolled into `-NNNN`
    // parts by row count, the part count gated IN-QUERY (a roll that
    // produced one fat file errs the run), then read back through the
    // REAL multi-file discovery path (O1 glob + per-part reads). JSONL
    // carries null/empty/type evidence exactly, so the DuckDB oracle pins
    // the reassembled content byte-for-byte against the parquet original
    // — the roll must lose nothing at any part boundary.
    "p22_rolled_parts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p22_roll_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("docs.jsonl").toString
      graft.sinks.Sink.write(docs,
        graft.sinks.Sink.Config(out, graft.sources.Discovery.Jsonl,
          rollByRows = Some(math.max(1L, n / 6))))
      // the rolled-part contract: `docs-NNNN.jsonl` siblings, 4-7 digits
      val parts = {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.list(base)) { st =>
          st.iterator().asScala.map(_.getFileName.toString).filter { f =>
            f.startsWith("docs-") && f.endsWith(".jsonl") && {
              val idx = f.stripPrefix("docs-").stripSuffix(".jsonl")
              idx.length >= 4 && idx.length <= 7 && idx.forall(_.isDigit)
            }
          }.toList
        }
      }
      require(parts.size >= 4,
        s"p22: rolling produced ${parts.size} parts — roll-by-rows did not roll")
      ordered(graft.operators.Concat.run(s,
        graft.operators.Concat.Config(Seq(base.resolve("docs-*.jsonl").toString)))
        .select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // The CLI `--sql` surface driver-checked end to end (spec-only until
    // round 17): the unified inputs register as table `t`, the query runs
    // through the REAL Maw.execute path (parse -> concat -> SQL -> sink),
    // and the DuckDB oracle replays the same aggregate on the original
    // table. Integer-only measures (count/min/max) — the engine-exact
    // discipline for anything cross-engine-hashed.
    "p23_cli_sql" -> ((s, dir) => {
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p23_sql_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("agg.parquet").toString
      graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
        s"$dir/orders.parquet", "-o", out, "-q", "--sql",
        "SELECT o_orderpriority, COUNT(*) AS n_orders, " +
          "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key " +
          "FROM t GROUP BY o_orderpriority")))
      ordered(graft.sinks.Sink.readBack(s, out,
        graft.sources.Discovery.Parquet)
        .select("o_orderpriority", "n_orders", "min_key", "max_key"))
    }),
    // The CLI integrity-verify surface (S2) driver-checked: the conversion
    // runs through Maw with --verify, which re-reads the promoted output
    // and compares row count + order-insensitive checksum against the
    // plan side INSIDE execute (a mismatch fails the run loudly) — then
    // the DuckDB oracle pins the verified content independently. Two
    // layers: the engine's own integrity check, and the cross-engine hash.
    "p24_cli_verify" -> ((s, dir) => {
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p24_verify_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("docs.parquet").toString
      graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
        s"$dir/documents.parquet", "-o", out, "-q", "--verify")))
      ordered(graft.sinks.Sink.readBack(s, out,
        graft.sources.Discovery.Parquet)
        .select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // Plan mode + dry run (M2/M3) driver-checked: both verbs must exit
    // WITHOUT producing output (gated in-query — a --plan that writes is
    // a destructive bug on a production path), and the subsequent real
    // conversion must deliver the original exactly (the DuckDB oracle).
    "p25_cli_plan_dryrun" -> ((s, dir) => {
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p25_plan_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val out = base.resolve("docs.parquet")
      graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
        s"$dir/documents.parquet", "-o", out.toString, "-q", "--plan")))
      require(!java.nio.file.Files.exists(out),
        "p25: --plan produced output — plan mode must not write")
      graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
        s"$dir/documents.parquet", "-o", out.toString, "-q", "--dry-run")))
      require(!java.nio.file.Files.exists(out),
        "p25: --dry-run produced output — dry run must not write")
      graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
        s"$dir/documents.parquet", "-o", out.toString, "-q")))
      ordered(graft.sinks.Sink.readBack(s, out.toString,
        graft.sources.Discovery.Parquet)
        .select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // M1 progress/metrics + M4 logging driver-checked (the last CLI rows
    // that were spec-only — round-17 verdict #1, the p25 pattern applied
    // to the progress surface): a real multi-file conversion runs under
    // --json-logs, the emitted event stream is read back as a JSONL table
    // IN-QUERY and gated — every stdout line is a JSON event (M4's
    // machine-readable contract), the per-file events cover EXACTLY the
    // discovered inputs with row/byte totals matching the data (M1), the
    // progress event's totals match, and a -q rerun emits NOTHING (M4's
    // quiet contract). The converted content itself is oracle-pinned.
    "p26_cli_json_logs" -> ((s, dir) => {
      val o = ordersStringified(t(s, dir, "orders"))
      val n = o.count()
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p26_m1_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      // stage the input as ROLLED csv parts so the per-file event stream
      // is non-trivial (one event per part, like a real multi-file ingest)
      graft.sinks.Sink.write(o, graft.sinks.Sink.Config(
        base.resolve("orders.csv").toString, graft.sources.Discovery.Csv,
        rollByRows = Some(math.max(1L, n / 6))))
      val glob = base.resolve("orders-*.csv").toString
      val out = base.resolve("out.csv").toString
      val lines = captureOut {
        graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
          glob, "-o", out, "--json-logs")))
      }
      // M4: under --json-logs every stdout line is a JSON object carrying
      // an event field — a stray human-format line breaks the read
      import org.apache.spark.sql.Encoders
      val ev = s.read.json(s.createDataset(lines)(Encoders.STRING))
      require(!ev.columns.contains("_corrupt_record") &&
          ev.columns.contains("event") &&
          ev.where(col("event").isNull).isEmpty,
        s"p26: --json-logs stdout is not a pure JSON event stream: $lines")
      require(ev.where(col("event") === "start").count() == 1 &&
          ev.where(col("event") === "done").count() == 1,
        s"p26: start/done events missing: $lines")
      // M1: per-file events == the discovered inputs, exactly
      val discovered = graft.sources.Discovery
        .discover(Seq(glob)).map(_.path).toSet
      require(discovered.size >= 4,
        s"p26: staging produced only ${discovered.size} parts")
      val fileEv = ev.where(col("event") === "file")
      val evPaths = fileEv.select("path").collect().map(_.getString(0)).toSet
      require(evPaths == discovered,
        s"p26: per-file events $evPaths != discovered inputs $discovered")
      val evRows = fileEv.agg(sum("rows")).head.getLong(0)
      require(evRows == n, s"p26: per-file event rows $evRows != $n")
      require(fileEv.where(col("bytes") <= 0).isEmpty &&
          fileEv.where(col("elapsed_sec") < 0).isEmpty,
        "p26: per-file events carry non-positive bytes or negative elapsed")
      val prog = ev.where(col("event") === "progress")
        .select("rows_written", "mb_read").collect()
      require(prog.length == 1 && prog(0).getLong(0) == n &&
          prog(0).getDouble(1) > 0,
        s"p26: progress totals wrong: ${prog.toSeq} (expected rows=$n)")
      // M4: -q silences stdout COMPLETELY, json mode included
      val quiet = captureOut {
        graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
          glob, "-o", base.resolve("out_q.csv").toString, "-q", "--json-logs")))
      }
      require(quiet.isEmpty, s"p26: -q leaked stdout: $quiet")
      csvOrdersBack(s, out)
    }),
    // P1 concurrency/memory knobs driver-checked (round-17 verdict #1):
    // the execute-visible knob (--writer-buffer, which sizes the byte
    // paths' output buffers) runs at its 1 MB clamp floor vs a large
    // value, alongside --concurrency/--mem-budget through the real parse
    // path — knobs may change PERFORMANCE, never content, so the two
    // outputs must be byte-identical (a buffer-boundary bug corrupts
    // bytes and breaks this gate). --concurrency/--mem-budget act at
    // session construction (Maw.main); their arg->conf mapping is pinned
    // by MawCliSpec and waived from driver observation in COVERAGE.md.
    "p27_cli_knobs" -> ((s, dir) => {
      val o = ordersStringified(t(s, dir, "orders"))
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p27_knobs_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val in = base.resolve("orders.csv").toString
      graft.sinks.Sink.write(o, graft.sinks.Sink.Config(
        in, graft.sources.Discovery.Csv))
      val outA = base.resolve("outA.csv")
      val outB = base.resolve("outB.csv")
      graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
        in, "-o", outA.toString, "-q", "--writer-buffer", "1")))
      graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
        in, "-o", outB.toString, "-q", "--writer-buffer", "512",
        "--concurrency", "2", "--mem-budget", "256")))
      val a = java.nio.file.Files.readAllBytes(outA)
      val b = java.nio.file.Files.readAllBytes(outB)
      require(a.nonEmpty && java.util.Arrays.equals(a, b),
        s"p27: knob settings changed output content (${a.length} vs " +
          s"${b.length} bytes) — knobs must affect performance only")
      csvOrdersBack(s, outA.toString)
    }),
    // K11 serving-index CLI verbs driver-checked (round-17 verdict #1): a
    // deterministic family of versioned builds is staged through the REAL
    // VersionedTable.ensure path, --index-status's --json-logs event
    // stream is read back as a JSONL table IN-QUERY and gated against the
    // warehouse's own listing (names incl. build nonces must match
    // exactly), then --sweep-indexes runs and the post-state is gated:
    // the stale uncommitted build (aged past the in-flight grace window)
    // is swept; the newest two committed versions and the young in-flight
    // build survive. The returned (phase, version, committed) matrix is
    // fully determined by the staging, so a VALUES oracle pins it.
    "p28_cli_index_status" -> ((s, dir) => {
      val stem = s"p28idx_${java.lang.Integer.toHexString(dir.hashCode)}"
      // idempotent: wipe this stem's residue from any prior run in this
      // warehouse (locations + catalog entries), so version numbers and
      // sweep outcomes are deterministic on every rerun
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir").stripSuffix("/"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
        if (st.getPath.getName.startsWith(stem)) fs.delete(st.getPath, true) }
      s.catalog.listTables().collect().map(_.name).filter(_.startsWith(stem))
        .foreach(n => s.sql(s"DROP TABLE IF EXISTS `$n`"))
      import graft.util.VersionedTable
      def build(name: String): Unit =
        s.range(3).write.mode("overwrite").saveAsTable(name)
      VersionedTable.ensure(s, "p28idx_", stem, build) // v1
      // usable=false forces fresh builds: v2, then v3 (whose retention
      // sweeps v1 — depth 2)
      VersionedTable.ensure(s, "p28idx_", stem, build, usable = _ => false)
      VersionedTable.ensure(s, "p28idx_", stem, build, usable = _ => false)
      // two uncommitted builds: one aged past the in-flight grace window
      // (sweep fodder), one young (a live build the sweep must spare)
      val old = new org.apache.hadoop.fs.Path(wh, s"${stem}__v4_feedf00d")
      val young = new org.apache.hadoop.fs.Path(wh, s"${stem}__v5_beefcafe")
      fs.mkdirs(old); fs.mkdirs(young)
      fs.setTimes(old, System.currentTimeMillis() - 2L * 3600 * 1000, -1)
      import org.apache.spark.sql.Encoders
      def statusEvents(): DataFrame = {
        val lines = captureOut {
          graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
            "--index-status", "--json-logs")))
        }
        s.read.json(s.createDataset(lines)(Encoders.STRING))
          .where(col("event") === "index" && col("stem") === stem)
      }
      def triples(ev: DataFrame): Set[(String, Long, Boolean)] =
        ev.select("name", "version", "committed").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
      val before = triples(statusEvents())
      val expectBefore = VersionedTable.listVersions(s, stem)
        .map(v => (v.name, v.n, v.committed)).toSet
      require(before == expectBefore && before.map(_._2) == Set(2L, 3L, 4L, 5L),
        s"p28: --index-status events $before != warehouse $expectBefore")
      captureOut {
        graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
          "--sweep-indexes", "--json-logs")))
      }
      val after = triples(statusEvents())
      require(after.map(t => (t._2, t._3)) ==
          Set((2L, true), (3L, true), (5L, false)),
        s"p28: post-sweep state wrong: $after")
      import s.implicits._
      val rows = before.toSeq.map(t => ("before", t._2, if (t._3) 1L else 0L)) ++
        after.toSeq.map(t => ("after", t._2, if (t._3) 1L else 0L))
      ordered(rows.toDF("phase", "version", "committed"))
    }),
    // K8 partitioned STREAMING writes driver-checked (round-18 verdict
    // #3 — the one remaining spec-only row): documents stream through the
    // real CLI (`--stream --state --partition-by lang`) in TWO resumed
    // invocations — the second delivers a late file, so the hive tree
    // must append new rows under existing `lang=` directories and mint
    // any new ones exactly once (checkpoint-resumed, not re-ingested).
    // The tree is then read back PARTITION-PRUNED with p14's
    // PartitionFilters gate (pruning over a streaming sink's
    // `_spark_metadata`-committed tree is the 100 TB read path), and the
    // full content is oracle-pinned against the raw table.
    "p29_stream_partitioned" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"p29_k8_${java.lang.Integer.toHexString(dir.hashCode)}")
      graft.util.Fs.deleteRecursively(base.toFile)
      val in = base.resolve("in")
      java.nio.file.Files.createDirectories(in)
      val out = base.resolve("tree").toString
      val cp = base.resolve("cp").toString
      def deliver(batch: DataFrame, name: String): Unit =
        graft.sinks.Sink.write(batch, graft.sinks.Sink.Config(
          in.resolve(name).toString, graft.sources.Discovery.Parquet))
      def ingest(): Unit = captureOut {
        graft.cli.Maw.execute(s, graft.cli.Maw.parse(Seq(
          in.toString, "-o", out, "--out-format", "parquet",
          "--stream", "--state", cp, "--partition-by", "lang", "-q")))
      }
      deliver(docs.where(col("doc_id") % 2 === 0), "b1.parquet")
      ingest()
      deliver(docs.where(col("doc_id") % 2 =!= 0), "b2.parquet") // late file
      ingest() // checkpoint resume: appends, never re-ingests b1
      val back = graft.sinks.Sink.readBack(s, out, graft.sources.Discovery.Parquet)
      require(back.count() == docs.count(),
        "p29: resumed streaming tree row count != source (duplicate or lost batch)")
      // p14's gate over the STREAMING tree: the lang predicate must reach
      // PartitionFilters (directory pruning), not the row scan
      val pruned = back.where(col("lang") === "en")
      val plan = pruned.queryExecution.executedPlan.toString
      require(plan.contains("PartitionFilters: [isnotnull(lang"),
        s"p29: lang filter did not reach PartitionFilters:\n${plan.take(600)}")
      require(!pruned.isEmpty, "p29: pruned read returned nothing")
      // full-tree content (all partitions) is the oracled result; the
      // pruned read above is the plan gate
      ordered(back.select("doc_id", "text", "lang", "source", "n_chars"))
    }),
    // set-distinct union (extension beyond U1's bag concat)
    "p10_distinct_union" -> ((s, dir) => {
      val n = t(s, dir, "nation").select(col("n_regionkey").as("k"))
      val r = t(s, dir, "region").select(col("r_regionkey").as("k"))
      ordered(n.union(r).distinct())
    }))

  val oracleSql: Map[String, String] = Map(
    "p01_concat_union_all" ->
      s"""SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderkey,
         |o_orderpriority, o_orderstatus, o_totalprice
         |FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders)
         |${orderSql("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")}""".stripMargin,
    "p02_schema_unify_parties" ->
      s"""SELECT * FROM (
         |SELECT c_acctbal AS acctbal, c_mktsegment, c_name AS name, c_nationkey AS nationkey, c_custkey AS party_id FROM customer
         |UNION ALL
         |SELECT s_acctbal, CAST(NULL AS VARCHAR), s_name, s_nationkey, s_suppkey FROM supplier)
         |${orderSql("acctbal", "c_mktsegment", "name", "nationkey", "party_id")}""".stripMargin,
    "p03_project_include" ->
      s"""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         |${orderSql("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")}""".stripMargin,
    "p04_project_exclude" ->
      s"""SELECT p_partkey, p_brand, p_size, p_retailprice FROM part
         |${orderSql("p_partkey", "p_brand", "p_size", "p_retailprice")}""".stripMargin,
    "p05_rename" ->
      s"SELECT r_regionkey, r_name AS region_name FROM region ${orderSql("r_regionkey", "region_name")}",
    "p06_reorder_alpha" ->
      s"""SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderkey,
         |o_orderpriority, o_orderstatus, o_totalprice FROM orders
         |${orderSql("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")}""".stripMargin,
    "p07_cast_widen" ->
      s"""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, CAST(n_regionkey AS DOUBLE) AS n_regionkey
         |FROM nation ${orderSql("n_nationkey", "n_name", "n_regionkey")}""".stripMargin,
    "p08_null_injection" ->
      s"""SELECT * FROM (
         |SELECT CAST(NULL AS VARCHAR) AS n_name, CAST(NULL AS INTEGER) AS n_nationkey, CAST(NULL AS INTEGER) AS n_regionkey, r_name, r_regionkey FROM region
         |UNION ALL
         |SELECT n_name, n_nationkey, n_regionkey, CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER) FROM nation)
         |${orderSql("n_name", "n_nationkey", "n_regionkey", "r_name", "r_regionkey")}""".stripMargin,
    "p09_na_normalize" ->
      s"""SELECT doc_id, CASE WHEN source IN ('NA','null','\\N') THEN NULL ELSE source END AS source
         |FROM documents ${orderSql("doc_id", "source")}""".stripMargin,
    "p10_distinct_union" ->
      s"""SELECT * FROM (SELECT n_regionkey AS k FROM nation UNION SELECT r_regionkey FROM region)
         |${orderSql("k")}""".stripMargin,
    // the round trip must reproduce the parquet original byte-for-byte
    "p11_jsonl_roundtrip" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |${orderSql("doc_id")}""".stripMargin,
    "p12_orc_roundtrip" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |${orderSql("doc_id")}""".stripMargin,
    "p20_avro_roundtrip" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |${orderSql("doc_id")}""".stripMargin,
    "p19_xml_roundtrip" ->
      s"""SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderkey,
         |o_orderpriority, o_orderstatus, o_totalprice FROM orders
         |${orderSql("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")}""".stripMargin,
    "p13_compaction" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |${orderSql("doc_id")}""".stripMargin,
    "p14_partition_pruned" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE lang = 'en' ${orderSql("doc_id")}""".stripMargin,
    // union schema + null fill for the older generation's missing columns
    "p16_schema_evolution" ->
      s"""SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n_chars
         |FROM documents WHERE doc_id % 2 = 0
         |UNION ALL
         |SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 2 = 1
         |${orderSql("doc_id", "text", "lang", "n_chars")}""".stripMargin,
    // the good rows, exactly — corrupt members contribute nothing
    "p17_resilient_ingest" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |${orderSql("doc_id")}""".stripMargin,
    // the maintenance swap must preserve the full content exactly
    "p18_compact_zorder" ->
      s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity FROM lineitem
         |${orderSql("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")}""".stripMargin,
    // CSV folds '' to NULL (the format cannot carry the distinction) —
    // the oracle applies the same fold to the string columns
    "p21_csv_roundtrip" ->
      s"""SELECT o_custkey, NULLIF(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '') AS o_orderdate,
         |o_orderkey, NULLIF(o_orderpriority, '') AS o_orderpriority,
         |NULLIF(o_orderstatus, '') AS o_orderstatus, o_totalprice FROM orders
         |${orderSql("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")}""".stripMargin,
    // the reassembled rolled parts must equal the original exactly
    "p22_rolled_parts" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |${orderSql("doc_id")}""".stripMargin,
    // plan/dry-run write nothing (gated in-query); the real conversion
    // delivers the original exactly
    "p25_cli_plan_dryrun" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |${orderSql("doc_id")}""".stripMargin,
    // the --verify'd conversion must deliver the original exactly
    "p24_cli_verify" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |${orderSql("doc_id")}""".stripMargin,
    // the same integer aggregate the CLI ran over table t
    "p23_cli_sql" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
         |FROM orders GROUP BY o_orderpriority
         |${orderSql("o_orderpriority", "n_orders", "min_key", "max_key")}""".stripMargin,
    // p26's converted content == orders through the CSV fold (p21's
    // contract); the M1/M4 event-stream gates run in-query
    "p26_cli_json_logs" ->
      s"""SELECT o_custkey, NULLIF(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '') AS o_orderdate,
         |o_orderkey, NULLIF(o_orderpriority, '') AS o_orderpriority,
         |NULLIF(o_orderstatus, '') AS o_orderstatus, o_totalprice FROM orders
         |${orderSql("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")}""".stripMargin,
    // p27's knob-independence gate runs in-query; the content is the same
    // CSV round trip
    "p27_cli_knobs" ->
      s"""SELECT o_custkey, NULLIF(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '') AS o_orderdate,
         |o_orderkey, NULLIF(o_orderpriority, '') AS o_orderpriority,
         |NULLIF(o_orderstatus, '') AS o_orderstatus, o_totalprice FROM orders
         |${orderSql("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")}""".stripMargin,
    // p28's index lifecycle is fully determined by its own staging (three
    // ensure() builds -> depth-2 retention, one stale + one young
    // uncommitted, one sweep), so the expected matrix is a constant; the
    // event-stream-vs-warehouse equality gates run in-query
    "p28_cli_index_status" ->
      s"""SELECT * FROM (VALUES
         |('after',  CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
         |('after',  3, 1), ('after',  5, 0),
         |('before', 2, 1), ('before', 3, 1),
         |('before', 4, 0), ('before', 5, 0))
         |AS t(phase, version, committed)
         |${orderSql("phase", "version", "committed")}""".stripMargin,
    // K8: the resumed two-batch streaming tree must hold exactly the raw
    // table (exactly-once across the checkpoint resume; the partition
    // pruning is gated in-query, the content here)
    "p29_stream_partitioned" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |${orderSql("doc_id", "text", "lang", "source", "n_chars")}""".stripMargin,
    // the same top-corner point the Spark side derives from the data
    "p15_zorder_skipping" ->
      s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity FROM lineitem
         |WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
         |  AND l_partkey = (SELECT max(l_partkey) FROM lineitem
         |                   WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem))
         |${orderSql("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")}""".stripMargin)
}
