package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Product quantization (PQ) for embedding search — the compression half of
  * the FAISS IVF-PQ serving shape: each L2-normalized vector is split into
  * `m` contiguous subvectors, each subvector stored as the id of its
  * nearest centroid in a per-subspace codebook. A 64-dim float vector
  * (256 B) becomes `m` byte-sized codes (8 B at m=8, k<=256) — 32x
  * compression — and query-time scoring is `m` table lookups per candidate
  * (asymmetric distance / ADC) instead of a full float dot product.
  *
  * Scale design, mirroring [[IvfIndex]]:
  *   - codebooks train on a BOUNDED deterministic per-split-head sample
  *     (same corpus-spanning, shuffle-free shape as `IvfIndex.train` —
  *     see the bias discussion there) with fixed Lloyd iterations on the
  *     driver; the whole model is m*k*subDim doubles (16 KB at 8x256x8),
  *     a plan literal.
  *   - encoding is ONE narrow pass ([[graft.expressions.PqEncode]]): the
  *     codes table is the thing persisted/bucketed at ingest; the float
  *     vectors are only touched again by the exact re-rank.
  *   - ADC scoring joins the slim codes table against the broadcast
  *     per-query lookup tables ([[graft.expressions.PqAdcScore]]) — the
  *     corpus-side shuffle carries (id, m codes), never vectors.
  *   - cell pruning composes orthogonally: bucket the codes table by
  *     `ivf_cell` (as [[IvfIndex.saveAssigned]] does for floats) and the
  *     same probed-cell `IN` predicate prunes the ADC scan too.
  *
  * Ranking contract: vectors are normalized, so ADC scores approximate
  * cosine; exactness is recovered by re-ranking the top `candidates` with
  * true cosine (the s11 two-stage trick, oracled against the brute-force
  * ranking).
  */
object PqIndex {

  /** codebooks(m)(c) = centroid c of subspace m (subDim doubles). */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def subDim: Int = codebooks.head.head.length
  }

  /** Train per-subspace codebooks on the SAME deterministic per-split-head
    * sample and Lloyd discipline as `IvfIndex.train` — literally the same
    * code (`IvfIndex.sampleVectors` / `IvfIndex.lloyd`), so the sampling
    * bias and tie-break contracts cannot drift between the two trainers.
    * Vectors are L2-normalized BEFORE splitting — training, encoding, and
    * the query LUTs must all live in the same normalized space.
    */
  def train(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 256, sampleSize: Int = 2048, iters: Int = 10): Model = {
    require(m > 0 && k > 1, s"bad PQ shape m=$m k=$k")
    val sample = IvfIndex.sampleVectors(emb, idCol, vecCol, sampleSize).map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 0.0) v.map(_ / n) else v
    }
    require(sample.nonEmpty, "empty PQ training set")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { sub =>
      val subVecs = sample.map(_.slice(sub * subDim, (sub + 1) * subDim))
      IvfIndex.lloyd(subVecs, k, iters)
    }
    Model(books)
  }

  /** The m-code word for a vector — one expression node, one pass. */
  def encodeCol(v: Column, model: Model): Column =
    ColumnBridge.column(graft.expressions.PqEncode(
      ColumnBridge.expression(v), model.codebooks))

  /** (id, codes) table — what gets persisted at ingest. */
  def encode(emb: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame =
    emb.select(col(idCol), encodeCol(col(vecCol), model).as("codes"))

  /** Persist PQ codebooks as a (sub, cell, centroid) parquet table — like
    * [[IvfIndex.save]], the model is KBs regardless of corpus size and is
    * trained once per corpus, loaded per serving session.
    */
  def save(spark: org.apache.spark.sql.SparkSession, m: Model, path: String): Unit = {
    import spark.implicits._
    m.codebooks.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (cen, c) => (sub, c, cen.toSeq) }
    }.toSeq.toDF("sub", "cell", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load codebooks saved by [[save]]; (sub, cell) ids restore ordering.
    * STRICT: a torn/partial model file (missing subspace, missing cell)
    * would otherwise load with COMPACTED indices — every later encode
    * would then read the wrong codebooks and corrupt the index silently.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path)
      .select(col("sub").cast("int"), col("cell").cast("int"),
        col("centroid").cast("array<double>"))
      .collect()
    require(rows.nonEmpty, s"empty PQ model at $path")
    val grouped = rows.groupBy(_.getInt(0))
    val subs = grouped.keySet
    require(subs == (0 until subs.size).toSet,
      s"torn PQ model at $path: subspace ids ${subs.toSeq.sorted.mkString(",")} " +
        "are not contiguous from 0")
    val books = grouped.toArray.sortBy(_._1).map { case (sub, rs) =>
      val cells = rs.map(_.getInt(1)).toSet
      require(cells == (0 until rs.length).toSet,
        s"torn PQ model at $path: subspace $sub cell ids not contiguous")
      rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }
    // per-subspace contiguity alone has a hole: a torn file that drops the
    // TAIL cells of one subspace (cells k0..k-1) still reads as contiguous
    // from 0 — and a codebook with fewer cells than its siblings silently
    // encodes different code words than the original model. All subspaces
    // were trained with one k; require they still agree.
    val ks = books.map(_.length).distinct
    require(ks.length == 1,
      s"torn PQ model at $path: subspace cell counts ${books.map(_.length).mkString(",")} " +
        "disagree — one subspace lost its tail cells")
    val dims = books.flatMap(_.map(_.length)).distinct
    require(dims.length == 1,
      s"torn PQ model at $path: mixed centroid dims ${dims.mkString(",")}")
    Model(books)
  }

  /** Persist the FULL IVF-PQ index: every vector's coarse cell
    * ([[IvfIndex.assign]]) plus its PQ code word, as a parquet table
    * bucketed (and sorted) by `ivf_cell`. This is the 100-TB serving
    * layout: the table carries (id, cell, m-byte codes) — never the float
    * vectors — so a probe's bucket-pruned ADC scan reads ~corpus/16th the
    * bytes of the float layout AND only the probed cells' buckets. Both
    * narrow passes (assign + encode) happen in ONE scan at ingest.
    */
  def saveEncodedAssigned(corpus: DataFrame, idCol: String, vecCol: String,
      ivf: IvfIndex.Model, pq: Model, table: String, buckets: Int = 16,
      extraCols: Seq[String] = Nil): Unit =
    Bucketing.writeBucketed(
      IvfIndex.assign(corpus, idCol, vecCol, ivf)
        .select((col(idCol) +: col("ivf_cell") +:
          encodeCol(col(vecCol), pq).as("codes") +:
          extraCols.map(col)): _*),
      table, "ivf_cell", buckets)

  /** Encode a CDC delta for an IVF-PQ index built with the SAME frozen
    * models: upsert rows get their coarse cell and PQ code word (one
    * narrow pass — re-assignment included, so a vector whose content moved
    * cells is re-bucketed and probe pruning stays correct); delete rows
    * pass through slim. The op column survives for [[mergeAssigned]]'s
    * `mergeSnapshot` validation. Unknown ops are refused HERE — the
    * upsert/delete split below would silently drop them before
    * mergeSnapshot's own validation could see them.
    */
  def encodeDelta(delta: DataFrame, idCol: String, vecCol: String,
      ivf: IvfIndex.Model, pq: Model, opCol: String = "op"): DataFrame = {
    // BOTH refusal probes in one delta pass (round-21: the CDC loops pay
    // this guard per micro-batch — two separate limit(1) scans doubled
    // the fixed cost for one bit of information each):
    //   - an op outside upsert/delete would be silently dropped by the
    //     encode split before mergeSnapshot's own validation sees it;
    //   - a NULL-vector upsert would encode to (null cell, null codes) —
    //     merged in but outside every probed-cell IN-list, a row that
    //     EXISTS in the index yet can never be found (deletes are the only
    //     rows allowed to travel without a vector).
    val badOp = col(opCol).isNull || !col(opCol).isin("upsert", "delete")
    val nullUp = col(opCol) === "upsert" && col(vecCol).isNull
    val offending = delta.where(badOp || nullUp)
      .select(when(badOp, lit("op")).otherwise(lit("nullvec")).as("kind"))
      .limit(1).collect()
    require(!offending.exists(_.getString(0) == "op"),
      s"encodeDelta: delta carries an op outside upsert/delete — " +
        "refusing (the encode split would silently drop it)")
    require(offending.isEmpty,
      s"encodeDelta: upsert row with NULL $vecCol — it would be assigned " +
        "no cell and become unsearchable; send a delete or a real vector")
    val upIdx = IvfIndex.assign(delta.where(col(opCol) === "upsert"),
        idCol, vecCol, ivf)
      .select(col(idCol), col("ivf_cell"),
        encodeCol(col(vecCol), pq).as("codes"), col(opCol))
    val delIdx = delta.where(col(opCol) === "delete")
      .select(col(idCol), lit(null).cast("int").as("ivf_cell"),
        lit(null).cast("array<int>").as("codes"), col(opCol))
    upIdx.unionByName(delIdx)
  }

  /** Apply an encoded CDC delta ([[encodeDelta]]) to an index table written
    * by [[saveEncodedAssigned]]: one `mergeSnapshot` (left_anti + union —
    * the d15 merge shape) over the slim code rows, rewritten bucketed by
    * `ivf_cell` so SelectedBucketsCount pruning survives maintenance. The
    * float corpus is never read: maintenance cost is O(index + delta), and
    * the index is ~16-64x smaller than the vectors it serves.
    */
  def mergeAssigned(spark: org.apache.spark.sql.SparkSession, baseTable: String,
      encodedDelta: DataFrame, idCol: String, mergedTable: String,
      buckets: Int = 16): Unit =
    Bucketing.writeBucketed(
      Dedup.mergeSnapshot(spark.table(baseTable), encodedDelta, idCol),
      mergedTable, "ivf_cell", buckets)

  /** Top-`candidates` ADC candidates per query over the whole corpus: the
    * codes table is derived inline (encode pass) and scanned once.
    * `queries` must be small (collected driver-side to build the LUTs —
    * the same bounded-query-set contract as
    * `Similarity.bruteForceTopK`'s broadcast).
    */
  def adcCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, model: Model, candidates: Int = 100): DataFrame =
    adcTopCandidates(
      encode(corpus, idCol, vecCol, model)
        .select(col(idCol).as("neighbor_id"), col("codes")),
      queries, idCol, vecCol, model, candidates)

  /** The IVF-PQ SERVING probe: resolve each query's `nprobe` nearest
    * coarse cells driver-side, scan ONLY those cells' buckets of a table
    * written by [[saveEncodedAssigned]] (literal `ivf_cell IN (...)` →
    * bucket pruning at the scan, as [[IvfIndex.topKAssigned]] does for
    * floats), and ADC-score the surviving slim code rows. The float
    * vectors are never touched — exact re-rank of the returned candidates
    * is the caller's (cheap, `candidates`-bounded) step.
    */
  /** `attrFilter`: an optional metadata predicate over the index table's
    * extra columns (see [[saveEncodedAssigned]]'s `extraCols`), applied
    * INSIDE the pruned scan — filtered vector search with PRE-filter
    * semantics: rows failing the predicate never reach ADC scoring, so
    * top-k among the filtered set loses no recall to post-filtering (the
    * s10 contract, composed with the serving index). Simple predicates
    * reach the parquet scan as PushedFilters on top of the bucket pruning.
    */
  def adcCandidatesAssigned(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, idCol: String, vecCol: String,
      ivf: IvfIndex.Model, pq: Model, nprobe: Int = 3,
      candidates: Int = 100,
      attrFilter: Option[Column] = None): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val cells = queries
      .select(explode(VF.nearestCells(col(vecCol), ivf.centroids, nprobe)).as("c"))
      .distinct().collect().map(_.getInt(0)).sorted
    val pruned = spark.table(table)
      .where(col("ivf_cell").isin(cells.map(Int.box).toSeq: _*))
    val codes = attrFilter.fold(pruned)(pruned.where)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    adcTopCandidates(codes, queries, idCol, vecCol, pq, candidates)
  }

  /** ADC scoring core shared by the inline and bucketed-serving paths:
    * broadcast per-query LUTs against a slim (neighbor_id, codes) table,
    * keep the top `candidates` per query.
    */
  private def adcTopCandidates(codes: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, model: Model, candidates: Int): DataFrame = {
    val spark = codes.sparkSession
    // LUTs: luts(m)(c) = <normalized query subvector m, codebook[m][c]> —
    // computed once per query on the driver (queries x m x k doubles).
    // The id keeps ITS OWN type (a long cast would throw under ANSI for
    // string ids — the trap IvfIndex.sampleVectors documents).
    val idType = queries.schema(idCol).dataType
    val qRows = queries.select(col(idCol), col(vecCol).cast("array<double>"))
      .collect()
    val lutRows: Seq[org.apache.spark.sql.Row] = qRows.toSeq.map { r =>
      val v0 = r.getSeq[Double](1).toArray
      val n = math.sqrt(v0.map(x => x * x).sum)
      val v = if (n > 0.0) v0.map(_ / n) else v0
      val subDim = model.subDim
      val luts: Seq[Seq[Double]] = (0 until model.m).map { sub =>
        model.codebooks(sub).toSeq.map { cen =>
          var acc = 0.0; var i = 0
          while (i < subDim) {
            val idx = sub * subDim + i
            acc += (if (idx < v.length) v(idx) else 0.0) * cen(i)
            i += 1
          }
          acc
        }
      }
      org.apache.spark.sql.Row(r.get(0), luts)
    }
    import org.apache.spark.sql.types._
    val lutDf = spark.createDataFrame(
      java.util.Arrays.asList(lutRows: _*),
      StructType(Seq(StructField("query_id", idType, nullable = false),
        StructField("luts", ArrayType(ArrayType(DoubleType, containsNull = false),
          containsNull = false), nullable = false))))
    val scored = codes.crossJoin(broadcast(lutDf)) // broadcast nested loop
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        ColumnBridge.column(graft.expressions.PqAdcScore(
          ColumnBridge.expression(col("codes")),
          ColumnBridge.expression(col("luts")))).as("score"))
    Similarity.topKPerQuery(scored, candidates, score = "score")
      .select("query_id", "neighbor_id", "score")
  }
}
