package graft.operators

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k of a SMALL broadcast query set
  *     against the full corpus — baseline + ground truth. One narrow pass
  *     over the corpus (broadcast nested-loop join), no corpus shuffle, so
  *     it scales to any corpus size as long as the query set stays small.
  *   - [[lshTopK]]: sign-LSH bucketed ANN with multi-probe via several
  *     independent hash tables — candidates only from matching buckets,
  *     turning all-pairs search into a bucket-local join (the scale path
  *     when the query set is large, e.g. corpus-vs-corpus).
  */
object Similarity {

  /** The recall@k floor every realistic-regime approximate ANN query
    * (s02/s03/s05) enforces in-query via [[requireRecall]] — single-sourced
    * so the verify harness's rows-only manifest records the same gate the
    * queries actually apply.
    */
  val AnnRecallGate = 0.9

  /** Exact top-k neighbors for each query vector (excluding itself).
    * `idCol` must be a key: a duplicated corpus id yields one scored row per
    * duplicate row (same contract as [[lshTopK]]).
    */
  def bruteForceTopK(
      corpus: DataFrame,       // (id, vec)
      queries: DataFrame,      // (id, vec) — must be small (broadcast)
      idCol: String,
      vecCol: String,
      k: Int = 10): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(q) // broadcast nested loop: corpus streams, queries broadcast
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VF.cosine(col("qv"), col("cv")).as("cosine"))
    cosineTopK(scored, k)
  }

  /** ANN via `tables` independent sign-LSH hash tables: a pair is a
    * candidate if it collides in ANY table. Exact cosine on candidates,
    * then top-k. Recall grows with tables; cost stays bucket-local.
    *
    * `probes` > 0 enables query-side multi-probe: each query ALSO looks in
    * the buckets at Hamming distance 1 from its own (the first `probes` bit
    * flips). For moderate-similarity neighbors (per-plane agreement p ~0.6,
    * typical when true neighbors are cosine 0.3-0.4), a near-miss by one bit
    * is the dominant failure mode, so probing multiplies per-table recall
    * ~3-4x at the cost of `probes` extra bucket lookups per query — only the
    * small query side fans out; the corpus keeps one bucket per table.
    *
    * `idCol` must be a key on both sides: candidate pairs are deduplicated
    * by (query_id, neighbor_id) before vectors re-attach, so a duplicated
    * corpus id re-expands at the verify join into one scored row per
    * duplicate row (same contract as [[bruteForceTopK]]).
    *
    * Scale note: with `numPlanes` fixed, each query's candidate list grows
    * linearly with the corpus (bucket occupancy ~ n/2^planes) — recall
    * stays high but per-query verify cost is O(n). That is acceptable for
    * batch corpus-vs-corpus passes; for a QUERY-SERVING shape at growing
    * corpus size prefer the IVF path ([[graft.operators.IvfIndex]], whose
    * `autoNlist` keeps probe cost at nprobe*sqrt(n)) — raising planes here
    * instead would thin each table's recall for mid-similarity neighbors,
    * which multi-probe only partly recovers.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 10,
      numPlanes: Int = 8,
      tables: Int = 4,
      dim: Int = 64,
      probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= numPlanes, s"probes must be in [0, $numPlanes]")
    // Candidate generation ships ONLY (id, table, bucket) — the vector stays
    // out of the xtables fan-out and is re-joined by id for the exact-cosine
    // verify, so the bucket-join shuffle carries slim fixed-width rows
    // instead of `tables` copies of every corpus vector.
    def expanded(df: DataFrame, id: String, masks: Seq[Long]): DataFrame =
      (0 until tables).foldLeft(df.select(col(idCol).as(id), col(vecCol).as("__v"))) {
        (d, t) => d.withColumn(s"b$t",
          VF.lshBucket(col("__v"), VF.hyperplanes(numPlanes, dim, seed = 42L + t)))
      }.select(col(id),
        explode(array((for { t <- 0 until tables; m <- masks } yield
          struct(lit(t).as("table"),
            col(s"b$t").bitwiseXOR(lit(m)).as("bucket"))): _*)).as("tb"))
        .select(col(id), col("tb.table"), col("tb.bucket"))
    val c = expanded(corpus, "neighbor_id", Seq(0L))
    val q = expanded(queries, "query_id", 0L +: (0 until probes).map(1L << _))
    // distinct collapses multi-table/multi-probe hits BEFORE vectors attach:
    // each surviving pair computes cosine exactly once (same value the old
    // per-collision max() produced — cosine doesn't vary by table)
    val candidates = c.join(q, Seq("table", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    // vectors attach once per surviving pair; no hint — AQE broadcasts
    // whichever side fits (the query set at s02 size, neither at
    // corpus-vs-corpus scale where both sides shuffle slim single copies)
    val scored = candidates
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), "neighbor_id")
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "query_id")
      .select(col("query_id"), col("neighbor_id"), VF.cosine(col("qv"), col("cv")).as("cosine"))
    cosineTopK(scored, k)
  }

  /** Driver-visible recall gate for the approximate paths: recall@k of
    * `approx` against the `exact` (query_id, neighbor_id) ranking, thrown
    * on regression so a recall collapse surfaces as a hard `err` in the
    * correctness gate instead of a silently-green rows-only row. Returns
    * `approx` with a per-query `recall` column appended — the MEASURED
    * quality persists into the verify artifact, so the driver's rows-only
    * record carries the number itself, not just "the 0.9 gate didn't throw".
    */
  def requireRecall(approx: DataFrame, exact: DataFrame, minRecall: Double,
      what: String): DataFrame = {
    // Both inputs are full ANN/brute-force pipelines; without caching, the
    // gate's actions plus the caller consuming the returned frame would
    // recompute them several times over. Both top-k results are tiny
    // (queries x k rows, bounded by construction), so: persist for the
    // gate's actions, then materialize the annotated rows driver-side as a
    // local relation and unpersist BOTH — no cached frames outlive the call
    // (each s02/s03 invocation used to strand one in long-lived sessions).
    val a = approx.persist()
    val truth = exact.select("query_id", "neighbor_id").persist()
    try {
      // per-query recall (queries-many rows): drives both the emitted
      // column and, summed, the global gate
      val hitsPerQ = a.select("query_id", "neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      val recallDf = truth.groupBy("query_id").agg(count(lit(1)).as("total"))
        .join(hitsPerQ, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"), col("total"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / col("total"), 6).as("recall"))
        .persist()
      try {
        val agg = recallDf.agg(sum("hits"), sum("total")).head()
        val (hits, total) = (agg.getLong(0), agg.getLong(1))
        val recall = if (total == 0) 1.0 else hits.toDouble / total
        require(recall >= minRecall,
          f"$what recall@k regressed: $recall%.3f < $minRecall%.2f vs the exact ranking")
        // collect through a fresh Dataset (the join), NOT a.collect(): a
        // caller that already forced a.queryExecution (e.g. for a plan
        // assert) pinned a physical plan WITHOUT the cache substitution,
        // and collecting through it would recompute the whole ANN pipeline
        // a second time; a new Dataset builds a new QueryExecution that
        // reads the cache
        val annotated = a.join(broadcast(recallDf.select("query_id", "recall")),
          Seq("query_id"), "left")
        val rows = annotated.collect()
        a.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), annotated.schema)
      } finally recallDf.unpersist()
    } finally { truth.unpersist(); a.unpersist() }
  }

  /** The one ANN ranking rule: per `query_id`, order by `score` DESC then
    * `neighbor_id` ASC, number the rows 1.. and keep `rank <= k`. Every
    * ANN top-k in graft goes through here (brute force, LSH, IVF, the PQ
    * candidate stage and every exact [[rerank]]), and the DuckDB oracles
    * `knnRankingOracle`, `plantedKnnOracle` and `annCdcOracle` mirror it.
    * Returns `scored`'s columns plus `rank`; callers pick their own output.
    */
  def topKPerQuery(scored: DataFrame, k: Int, score: String = "cosine"): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(score).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** [[topKPerQuery]] over exact cosine, emitted as the ANN paths' output:
    * `(query_id, neighbor_id, cosine rounded to 6 dp, rank)`.
    */
  private[operators] def cosineTopK(scored: DataFrame, k: Int): DataFrame =
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"), col("rank"))

  /** Exact re-rank of an approximate stage's `(query_id, neighbor_id)`
    * candidates: each pair joins its corpus vector (no hint — AQE picks
    * the side) and its broadcast query vector, scores exact cosine, and
    * keeps the top `k` by the one ranking rule ([[topKPerQuery]], mirrored
    * by the DuckDB oracles). Returns `(query_id, neighbor_id, cosine,
    * rank)` with cosine unrounded.
    */
  def rerank(candidates: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    topKPerQuery(candidates
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), VF.cosine(col("qv"), col("nv")).as("cosine")), k)
}
