package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — local iteration only
    // (the driver always calls with 2 args and gets the full surface)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').filter(_.nonEmpty).toSet) else None
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    val spark = graft.util.Session.forQueries(s"local[$cpus]", cpus, "WARN")
    graft.util.FixtureSchemas.banner(spark, sfDir, "verify")
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST — it depends on nothing from the query loop, and
    // a driver wall-clock kill mid-loop must lose only the unfinished tail,
    // not (via a missing/unparseable oracle file) the whole round
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${graft.util.Json.str(k)}: ${graft.util.Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the full declared query list, so a checker can flag a query that
    // failed before writing ANY output (even rows-only ones with no oracle)
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(graft.util.Json.str)
        .mkString("[", ",", "]"))
    // Deterministic order, streaming (st*) queries FIRST: they are the
    // slowest and flakiest, and a driver-side wall-clock cut near the tail
    // of the run must land on cheap long-verified queries, not the newest
    // streaming proof (round 5 lost st06's correctness row exactly this
    // way — it iterated last in HashMap order).
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) => (if (name.startsWith("st")) 0 else 1, name) }
    ordered.foreach { case (name, fn) =>
      def attempt(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      val t0 = System.nanoTime()
      try {
        try attempt()
        catch { case first: Throwable => // one retry: transient stream/fs races
          System.err.println(s"[verify] $name attempt 1 failed (retrying): ${first.getMessage}")
          attempt()
        }
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // rows-only manifest: the declared queries WITHOUT a DuckDB oracle are
    // approximate by design (the realistic-regime ANN paths, recall-gated
    // in-query via Similarity.requireRecall) — in the driver's artifact
    // they would otherwise read as `err: "no_oracle"`, indistinguishable
    // from a crash. This sidecar records pass-by-design explicitly, with
    // the MEASURED recall the outputs carry (requireRecall appends a
    // per-query `recall` column), so the round artifact itself documents
    // both the gate and the achieved number.
    val rowsOnly = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(SparkEntry.oracleSql.contains)
      .filter(n => only.forall(_.contains(n)))
    if (rowsOnly.nonEmpty) {
      import org.apache.spark.sql.functions.{avg, min}
      val entries = rowsOnly.map { name =>
        val recall: Option[(Double, Double)] =
          try {
            val df = spark.read.parquet(s"$outDir/$name")
            if (df.columns.contains("recall")) {
              val r = df.agg(min("recall"), avg("recall")).head()
              if (r.isNullAt(0)) None else Some((r.getDouble(0), r.getDouble(1)))
            } else None
          } catch { case _: Throwable => None } // query failed -> no output
        val fields = Seq(
          "\"rows_only\": true",
          s""""recall_gate": ${graft.operators.Similarity.AnnRecallGate}""") ++
          recall.toSeq.flatMap { case (mn, av) => Seq(
            f""""measured_recall_min": $mn%.6f""",
            f""""measured_recall_mean": $av%.6f""") }
        recall.foreach { case (mn, av) => System.err.println(
          f"[verify] $name rows-only by design: recall gate ${graft.operators.Similarity.AnnRecallGate}, measured min $mn%.4f mean $av%.4f") }
        s"${graft.util.Json.str(name)}: ${fields.mkString("{", ", ", "}")}"
      }
      Files.writeString(Paths.get(s"$outDir/rows_only.json"),
        entries.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
