package graft

import graft.operators.PqIndex
import org.apache.spark.sql.functions._

/** PQ codebook training, encoding, and ADC scoring: shape, determinism,
  * and the score formula itself (ADC == inner product of the normalized
  * query with the RECONSTRUCTED candidate, checked directly).
  */
class PqIndexSpec extends SparkSpec {

  private def emb = sf("embeddings", "/root/testdata/sf0.001")
    .select("vec_id", "embedding")

  test("model shape, code ranges, and train/encode determinism") {
    val m1 = PqIndex.train(emb, "vec_id", "embedding", m = 16, k = 64)
    val m2 = PqIndex.train(emb, "vec_id", "embedding", m = 16, k = 64)
    assert(m1.m == 16 && m1.subDim == 4)
    assert(m1.codebooks.forall(_.length <= 64))
    // deterministic end to end: same fixture -> bit-identical codebooks
    assert(m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val codes = PqIndex.encode(emb, "vec_id", "embedding", m1).collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 16 && cs.forall(c => c >= 0 && c < 64), cs.mkString(","))
    }
  }

  test("ADC score equals IP(normalized query, reconstructed candidate)") {
    val model = PqIndex.train(emb, "vec_id", "embedding", m = 16, k = 64)
    val qs = emb.where(col("vec_id") < 3)
    val cand = PqIndex.adcCandidates(emb, qs, "vec_id", "embedding", model,
      candidates = 5).collect()
    assert(cand.length == 15, s"3 queries x 5 candidates, got ${cand.length}")
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val codesById = PqIndex.encode(emb, "vec_id", "embedding", model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); if (n > 0) v.map(_ / n) else v
    }
    cand.foreach { r =>
      val (q, c, score) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val qn = normalize(vecs(q))
      // reconstruction = concatenated codebook centroids of c's codes
      val rec = codesById(c).zipWithIndex.flatMap { case (code, sub) =>
        model.codebooks(sub)(code) }
      val ip = qn.zip(rec).map { case (a, b) => a * b }.sum
      assert(math.abs(score - ip) < 1e-9, s"ADC $score != reconstructed IP $ip")
    }
  }

  test("IVF-PQ composition: bucketed codes table prunes the ADC scan to the probed cells") {
    import graft.operators.{Bucketing, IvfIndex}
    // the full IVF-PQ serving shape the operator docs promise: codes table
    // carries ivf_cell, persisted bucketed by it; an ADC probe over the
    // probed cells' IN-list reads only those buckets
    val e = emb
    val ivf = IvfIndex.train(e, "vec_id", "embedding", k = 8)
    val pq = PqIndex.train(e, "vec_id", "embedding", m = 16, k = 64)
    val table = "pqspec_ivfpq_codes"
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + s"/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      val codes = IvfIndex.assign(e, "vec_id", "embedding", ivf)
        .select(col("vec_id"), PqIndex.encodeCol(col("embedding"), pq).as("codes"),
          col("ivf_cell"))
      Bucketing.writeBucketed(codes, table, "ivf_cell", 8)
      // probe 3 queries at nprobe=2 -> at most 6 distinct cells
      val qs = e.where(col("vec_id") < 3)
      val cells = qs.select(explode(
        graft.functions.VectorFunctions.nearestCells(col("embedding"), ivf.centroids, 2)).as("c"))
        .distinct().collect().map(_.getInt(0)).sorted
      // a bare filter scan is "disabled by query planner" under
      // autoBucketedScan (nothing downstream exploits the distribution —
      // in the real serving path the cell join keeps it, see s05/s12);
      // pin the scan bucketed so the pruning contract itself is what's
      // under test here
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val pruned = spark.table(table)
        .where(col("ivf_cell").isin(cells.map(Int.box).toSeq: _*))
      val plan = pruned.queryExecution.executedPlan.toString
      val sel = graft.queries.Q.bucketScans(plan).find(_._2 == 8)
      assert(sel.isDefined, s"bucket pruning missing from the codes scan:\n${plan.take(400)}")
      assert(sel.get._1 <= cells.length,
        s"read ${sel.get._1} buckets for ${cells.length} probed cells")
      // and the pruned slice still scores: every surviving row has 16 codes
      val n = pruned.count()
      assert(n > 0 && n < e.count(), s"pruning read $n of ${e.count()} rows")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("model save/load round-trips the codebooks bit-for-bit; torn models refused") {
    val m1 = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 32)
    val path = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
      "/pqspec_model_rt"
    PqIndex.save(spark, m1, path)
    val m2 = PqIndex.load(spark, path)
    assert(m2.m == m1.m && m2.subDim == m1.subDim)
    assert(m1.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      m2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // a model missing a whole subspace would otherwise load with COMPACTED
    // sub indices and silently encode against the wrong codebooks
    val torn = path + "_torn"
    spark.read.parquet(path).where(col("sub") =!= 3)
      .write.mode("overwrite").parquet(torn)
    val e = intercept[IllegalArgumentException](PqIndex.load(spark, torn))
    assert(e.getMessage.contains("torn"), e.getMessage)
    // the subtler tear: one subspace loses its TAIL cells (k0..k-1). Cells
    // 0..k0-1 are still contiguous from 0, so the per-subspace check alone
    // passes — the cross-subspace cell-count agreement must catch it.
    val tornTail = path + "_torn_tail"
    spark.read.parquet(path).where(col("sub") =!= 3 || col("cell") < 20)
      .write.mode("overwrite").parquet(tornTail)
    val e2 = intercept[IllegalArgumentException](PqIndex.load(spark, tornTail))
    assert(e2.getMessage.contains("cell counts"), e2.getMessage)
  }

  test("encodeDelta refuses a NULL-vector upsert (it would be unsearchable)") {
    import graft.operators.IvfIndex
    val e = emb
    val ivf = IvfIndex.train(e, "vec_id", "embedding", k = 8)
    val pq = PqIndex.train(e, "vec_id", "embedding", m = 16, k = 64)
    val bad = e.where(col("vec_id") === 1).select(col("vec_id"),
      lit(null).cast(e.schema("embedding").dataType).as("embedding"),
      lit("upsert").as("op"))
    val err = intercept[IllegalArgumentException](
      PqIndex.encodeDelta(bad, "vec_id", "embedding", ivf, pq))
    assert(err.getMessage.contains("unsearchable"), err.getMessage)
  }

  test("CDC maintenance: delta re-assigned with frozen models, merged table still prunes") {
    import graft.operators.IvfIndex
    val e = emb
    val ivf = IvfIndex.train(e, "vec_id", "embedding", k = 8)
    val pq = PqIndex.train(e, "vec_id", "embedding", m = 16, k = 64)
    val baseTable = "pqspec_cdc_base"
    val mergedTable = "pqspec_cdc_merged"
    Seq(baseTable, mergedTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + s"/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    try {
      PqIndex.saveEncodedAssigned(e, "vec_id", "embedding", ivf, pq,
        baseTable, buckets = 8)
      val baseN = spark.table(baseTable).count()
      // delta: delete id 1, upsert id 0's row with id 7's VECTOR — the
      // upsert must land in 7's cell (re-assignment), not keep 0's
      val vec7 = e.where(col("vec_id") === 7)
        .select(lit(0L).as("vec_id"), col("embedding"), lit("upsert").as("op"))
      val del = e.where(col("vec_id") === 1)
        .select(col("vec_id"), lit(null).cast(e.schema("embedding").dataType)
          .as("embedding"), lit("delete").as("op"))
      val encoded = PqIndex.encodeDelta(vec7.unionByName(del),
        "vec_id", "embedding", ivf, pq)
      PqIndex.mergeAssigned(spark, baseTable, encoded, "vec_id",
        mergedTable, buckets = 8)
      val merged = spark.table(mergedTable)
      assert(merged.count() == baseN - 1) // one delete, one in-place upsert
      assert(merged.where(col("vec_id") === 1).isEmpty, "tombstone not applied")
      val cells = merged.where(col("vec_id").isin(0L, 7L))
        .select("vec_id", "ivf_cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(cells(0L) == cells(7L),
        "upsert with moved content must be RE-ASSIGNED to its new cell")
      // maintenance must preserve the layout contract: the merged table's
      // probe scan still bucket-prunes
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val pruned = merged.where(col("ivf_cell") === cells(0L))
      val plan = pruned.queryExecution.executedPlan.toString
      val sel = graft.queries.Q.bucketScans(plan).find(_._2 == 8)
      assert(sel.isDefined && sel.get._1 <= 1,
        s"merged table lost bucket pruning:\n${plan.take(400)}")
      // unknown ops are refused BEFORE the encode split can drop them
      val bad = e.where(col("vec_id") === 2)
        .select(col("vec_id"), col("embedding"), lit("UPSERT").as("op"))
      val err = intercept[IllegalArgumentException](
        PqIndex.encodeDelta(bad, "vec_id", "embedding", ivf, pq))
      assert(err.getMessage.contains("op"), err.getMessage)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      Seq(baseTable, mergedTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("an exact duplicate encodes to the same codes and tops its query's ADC ranking") {
    val dup = emb.where(col("vec_id") === 0)
      .select(lit(99999L).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(dup)
    val model = PqIndex.train(corpus, "vec_id", "embedding", m = 16, k = 64)
    val codes = PqIndex.encode(corpus, "vec_id", "embedding", model)
      .where(col("vec_id").isin(0L, 99999L)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(0L) == codes(99999L), "identical vectors must share a code word")
    val top = PqIndex.adcCandidates(corpus, corpus.where(col("vec_id") === 0),
      "vec_id", "embedding", model, candidates = 1).collect()
    assert(top.length == 1 && top.head.getLong(1) == 99999L,
      s"duplicate must top the ADC ranking, got ${top.mkString}")
  }
}
