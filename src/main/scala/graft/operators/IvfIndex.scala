package graft.operators

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a coarse k-means
  * quantizer assigns every vector to its nearest centroid cell; queries
  * probe only their `nprobe` nearest cells, turning all-pairs search into
  * cell-local joins (the FAISS IVF-Flat shape, re-expressed relationally).
  *
  * Scale design: training runs on a BOUNDED deterministic sample (first
  * `sampleSize` ids — seedless, replayable) with a fixed number of Lloyd
  * iterations; centroids are tiny and live on the driver / in the plan as
  * literals; assignment and search are narrow passes + one join keyed on
  * cell id. Everything is deterministic run-to-run.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** Persist the trained quantizer as a (cell, centroid) parquet table —
    * at corpus scale the index is trained ONCE and reused across every
    * query session; centroids are KBs regardless of corpus size.
    */
  def save(spark: org.apache.spark.sql.SparkSession, m: Model, path: String): Unit = {
    import spark.implicits._
    m.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a quantizer saved by [[save]]; cell ids restore ordering. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path)
      .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .sortBy(_.getInt(0))
    Model(rows.map(_.getSeq[Double](1).toArray))
  }

  /** Nearest-centroid id: [[graft.expressions.NearestCells]] with nprobe=1.
    * ONE plan node at any k — the earlier `least(struct(l2, id))` literal
    * tree built k expression branches per row, which blows up analysis,
    * codegen and plan size at corpus-scale k (~10^4..10^5 cells). The
    * expression's numeric contract (left-to-right double accumulation,
    * lowest-id tie-break, NaN sorts last) is bit-identical to the literal
    * formulation, so results are unchanged.
    */
  private def nearestCell(v: Column, m: Model): Column =
    element_at(VF.nearestCells(v, m.centroids, 1), 1)

  /** `nprobe` nearest cells as an array (sorted by distance, then cell id)
    * — one [[graft.expressions.NearestCells]] node regardless of k.
    */
  private def nearestCells(v: Column, m: Model, nprobe: Int): Column =
    VF.nearestCells(v, m.centroids, nprobe)

  /** Train a coarse quantizer on a deterministic STRATIFIED sample with
    * `iters` Lloyd steps. Empty cells keep their previous centroid.
    *
    * Sampling shape: take the first `ceil(sampleSize / numSplits)` rows of
    * EVERY input split (one Spark job; each task stops after its take, so
    * it reads ~one row group no matter how big the split is). A head-only
    * `limit(sampleSize)` (CollectLimit) reads less — just the first
    * split(s) — but on a corpus SORTED OR CLUSTERED BY CONTENT (the normal
    * state after a partitioned ingest) every training vector then comes
    * from one content region, the centroids all land there, and IVF recall
    * collapses at scale (the in-query recall gate would catch it as an err,
    * but a training fix beats a runtime abort). Per-split heads cover every
    * content region at O(numSplits) task cost and zero shuffles. When
    * splits outnumber `sampleSize`, only every step-th split contributes
    * (still corpus-spanning), so driver memory stays O(sampleSize).
    * Deterministic end to end: file listing order fixes the splits, each
    * head is replayable, and the driver sorts by id before centroid
    * initialization so within-split delivery order is irrelevant. Lloyd
    * runs on the driver: k-means over a few thousand vectors is
    * driver-trivial, and distributed iterations would pay whole-job latency
    * per round for kilobytes of data.
    */
  def train(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      sampleSize: Int = 2048, iters: Int = 10): Model =
    Model(lloyd(sampleVectors(emb, idCol, vecCol, sampleSize), k, iters))

  /** Deterministic corpus-spanning vector sample: the first
    * ceil(sampleSize/numSplits) rows of every step-th input split, id-sorted
    * on the driver, evenly strided down to `sampleSize`. ONE job, no
    * shuffle, replayable under task retries — shared by IVF and PQ
    * codebook training so their sampling-bias discipline cannot drift
    * apart (see [[train]]'s Scaladoc for the full rationale).
    */
  private[operators] def sampleVectors(emb: DataFrame, idCol: String,
      vecCol: String, sampleSize: Int): Array[Array[Double]] = {
    // sort key: numeric ids sort numerically (unchanged results); any other
    // id type sorts by its string rendering — a long cast under ANSI mode
    // would THROW for string ids instead of ordering them
    val idIsNumeric = emb.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val projected = emb.select(
      (if (idIsNumeric) col(idCol).cast("long") else col(idCol).cast("string")).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val rdd = projected.rdd
    val nSplits = math.max(1, rdd.getNumPartitions)
    // more splits than sample rows: sample 1 row from every step-th split
    // so the collected set stays O(sampleSize) on the driver
    val step = math.max(1, nSplits / sampleSize)
    val perSplit = math.max(1, math.ceil(sampleSize.toDouble / nSplits).toInt)
    val collected = rdd
      .mapPartitionsWithIndex { (idx, it) =>
        if (idx % step == 0) it.take(perSplit) else Iterator.empty
      }
      .collect()
    val sorted = if (idIsNumeric) collected.sortBy(_.getLong(0))
      else collected.sortBy(_.getString(0))
    // downsample by even stride over the id-sorted rows, NOT a head take —
    // a head take would re-concentrate a content-sorted corpus into its
    // low-id region, the exact bias stratification exists to remove
    val picked = if (sorted.length <= sampleSize) sorted
      else Array.tabulate(sampleSize)(i =>
        sorted((i.toLong * sorted.length / sampleSize).toInt))
    picked.map(_.getSeq[Double](1).toArray)
  }

  /** Driver-side Lloyd over the (id-sorted) sample — shared by IVF cells
    * and PQ subspace codebooks so the clustering discipline stays ONE
    * implementation: even-stride init (not the head — on an id-correlated
    * corpus the head is one content region and Lloyd cannot recover from
    * an all-in-one-cluster start; farthest-first was tried and rejected:
    * it seeds on outliers, which measurably hurt recall on unclustered
    * corpora), squared-L2 argmin with lowest-id tie-break (the same order
    * least(struct(dist, id)) imposes in [[nearestCell]] and
    * [[graft.expressions.PqEncode]] applies), empty clusters keep their
    * previous centroid.
    */
  private[operators] def lloyd(sample: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training set")
    var centroids =
      if (sample.length <= k) sample.map(_.clone())
      else Array.tabulate(k)(i => sample((i.toLong * sample.length / k).toInt).clone())
    for (_ <- 1 to iters) {
      val dim = sample.head.length
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          val cen = centroids(c)
          var d = 0.0; var i = 0
          val n = math.min(v.length, cen.length)
          while (i < n) { val t = v(i) - cen(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < math.min(v.length, dim)) { s(i) += v(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Cell count for an `n`-vector corpus: ~sqrt(n), clamped. With nlist
    * FIXED, cell occupancy — and so the rows each probe scans — grows
    * linearly with the corpus (the same degeneration the dedup family's
    * auto-sized bucket spaces guard against); at nlist = sqrt(n), per-query
    * probe cost is nprobe*sqrt(n) and stays there through corpus growth.
    * The floor keeps tiny corpora meaningfully partitioned; the cap bounds
    * the driver-side centroid table (2^17 cells x 64 dims x 8 B = 64 MB,
    * still broadcast-able) — past it, raise nprobe instead. Re-train (and
    * re-assign via [[saveAssigned]]) when the corpus outgrows the nlist it
    * was bucketed with; training cost stays O(sampleSize) regardless.
    */
  def autoNlist(n: Long, min: Int = 16, max: Int = 1 << 17): Int =
    math.min(max, math.max(min, math.round(math.sqrt(math.max(0L, n).toDouble)).toInt))

  /** Assign every vector its IVF cell (narrow, no shuffle). */
  def assign(emb: DataFrame, idCol: String, vecCol: String, m: Model): DataFrame =
    emb.withColumn("ivf_cell", nearestCell(col(vecCol), m))

  /** Top-k cosine neighbors per query, searching only each query's
    * `nprobe` nearest cells. Ties broken by neighbor id.
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      m: Model, k: Int = 10, nprobe: Int = 3): DataFrame = {
    val c = assign(corpus, idCol, vecCol, m)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("ivf_cell"))
    cellJoinTopK(c, probedQueries(queries, idCol, vecCol, m, nprobe), k)
  }

  /** Persist the ASSIGNED corpus as a parquet table bucketed (and sorted)
    * by `ivf_cell` — the 100-TB point of IVF: assignment is one narrow
    * pass paid once at ingest, and every subsequent probe reads ONLY the
    * buckets of its probed cells (bucket pruning at scan time) instead of
    * rescanning the corpus.
    */
  def saveAssigned(corpus: DataFrame, idCol: String, vecCol: String,
      m: Model, table: String, buckets: Int = 16): Unit =
    Bucketing.writeBucketed(assign(corpus, idCol, vecCol, m), table,
      "ivf_cell", buckets)

  /** Top-k over a corpus previously saved by [[saveAssigned]]. The probe
    * cells are resolved driver-side from the (small, broadcastable) query
    * set — bounded by min(model cell count, |queries| * nprobe) values — so the corpus
    * scan carries a literal `ivf_cell IN (...)` predicate that prunes
    * BUCKETS, not just row groups: the plan reads only the probed cells'
    * files regardless of corpus size.
    */
  def topKAssigned(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, idCol: String, vecCol: String,
      m: Model, k: Int = 10, nprobe: Int = 3): DataFrame = {
    // localCheckpoint: the probe side executes HERE for the driver-side cell
    // list AND inside the returned join — without materializing, a query set
    // derived from an expensive upstream pipeline would compute twice
    val q = probedQueries(queries, idCol, vecCol, m, nprobe).localCheckpoint()
    val cells = q.select("ivf_cell").distinct().collect().map(_.getInt(0)).sorted
    val c = spark.table(table)
      .where(col("ivf_cell").isin(cells.map(Int.box).toSeq: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("ivf_cell"))
    cellJoinTopK(c, q, k)
  }

  /** Query side exploded to one row per (query, probed cell). */
  private def probedQueries(queries: DataFrame, idCol: String, vecCol: String,
      m: Model, nprobe: Int): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(nearestCells(col(vecCol), m, nprobe)).as("ivf_cell"))

  /** Cell-local join + exact cosine + [[Similarity.topKPerQuery]]. */
  private def cellJoinTopK(c: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = c.join(q, Seq("ivf_cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), VF.cosine(col("qv"), col("cv")).as("cosine"))
    Similarity.cosineTopK(scored, k)
  }
}
