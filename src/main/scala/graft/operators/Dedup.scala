package graft.operators

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines.
  *
  * Every near-dup variant follows the same scale-safe shape:
  *
  *   signature (narrow map) -> candidate buckets (one shuffle on bucket key)
  *   -> within-bucket pairs (bucket-local join) -> exact/approx verify
  *
  * No full cross joins anywhere; skewed buckets are capped so one hot bucket
  * can never quadratically blow up a task at 100 TB (`maxBucketSize`).
  *
  * The three families with an ingest or serving index — n-gram Jaccard,
  * perceptual simhash and the contamination window grid — each have ONE
  * geometry, fixed below. An index bakes its geometry into its rows, and
  * an incremental path equals its one-shot twin only while both band and
  * window alike, so no call site restates it.
  */
object Dedup {

  // n-gram Jaccard: word 3-gram shingles, 16 MinHash slots banded one slot
  // per band, exact-Jaccard cut at 0.5 (recall argument on ngramJaccardPairs)
  private val ShingleN = 3
  private val NumHashes = 16
  private val BandRows = 1
  private val MinJaccard = 0.5

  /** Bucket cap of the Jaccard banding and of both incremental candidate
    * joins (see [[capBuckets]]).
    */
  private val MaxBucketSize = 1000

  /** The perceptual (dHash) simhash family's geometry: 64-bit signatures,
    * combination keys over 8 blocks, pairs within Hamming distance 4. The
    * ingest index bands at it, and m05/m06 pass it to [[simhashPairs]] and
    * [[simhashPairsCollapsed]], so st24's union equals m05's pairs.
    */
  private[graft] object Perceptual {
    val MaxHamming = 4
    val Blocks = 8
    val Bits = 64
  }

  // contamination grid: 64-char windows starting every 32 chars
  private val WindowChars = 64
  private val Stride = 32

  /** Exact dedup, deterministic survivor: the minimum id per key group.
    * One hash-shuffle on the key; partial aggregation is map-side.
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(min(col(idCol)).as(idCol))

  /** Candidate pairs (idA < idB) whose MinHash signatures collide in at
    * least one of `bands` bands, with the estimated Jaccard from the full
    * signature attached. Classic shingle->minhash->band->bucket-join LSH
    * (Broder 1997 / MMDS ch.3).
    */
  def minhashPairs(
      docs: DataFrame,          // (id, text)
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      maxBucketSize: Int = 1000,
      // signature family: default xxhash64-based (fastest); pass
      // TF.minhashSignatureMd5 for the engine-portable family a DuckDB
      // oracle can recompute (d03's correctness gate)
      sigFn: (org.apache.spark.sql.Column, Int, Int) => org.apache.spark.sql.Column =
        TF.minhashSignature): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Signatures computed ONCE at full parallelism (round-20, guide §2.5):
    // the previous select-then-repartition shape computed the signature
    // walk map-side at the scan's split count — ONE task for a single-file
    // corpus — with the exchange shared by all consumers (band explode,
    // payload attach a/b). Repartitioning the slim (id, text) rows FIRST
    // runs the walk at shuffle parallelism; the localCheckpoint then plays
    // the old exchange's compute-once role for the three consumers (the
    // materialized blocks hold the same (id, sig) rows the reused exchange
    // files held, so the footprint is unchanged at any scale).
    val sig = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
      .repartition(col("id"))
      .select(col("id"), sigFn(col("__t"), shingleN, numHashes).as("sig"))
      .localCheckpoint()
    // Slim banding: only (id, band, bucket) goes through the bucket shuffle
    // and self-join — the 512B signature payload would otherwise be shuffled
    // bands× times. Payloads are re-attached per UNIQUE candidate pair.
    val candidates = pairCandidates(jaccardBand(sig, numHashes, rows),
      Seq("band", "bucket"), maxBucketSize)
    val nEqual = (0 until numHashes)
      .map(i => when(col("sigA").getItem(i) === col("sigB").getItem(i), 1).otherwise(0))
      .reduce(_ + _) // unrolled equal-position count (codegen-friendly)
    attach(candidates, sig, "sig")
      .select(col("idA"), col("idB"),
        (nEqual.cast("double") / numHashes).as("est_jaccard"))
      .where(col("est_jaccard") >= minJaccard)
  }

  /** SimHash near-dup pairs: 64-bit signature, banded into `bands` chunks —
    * any Hamming-distance<=k pair (k < bands) shares at least one exact
    * chunk (pigeonhole), so bucket-join on chunks finds all candidates;
    * then verify true Hamming distance.
    *
    * Single-chunk banding keys on `bits/bands`-bit values — a FIXED bucket
    * space (2^15 at 60/4), so occupancy grows linearly with the corpus and
    * within-bucket candidates quadratically (the d06 failure mode; worse,
    * `maxBucketSize` would eventually drop every bucket → silent recall
    * collapse). `blocks > 0` switches to combination keys (Manku et al.,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07 §3): split the
    * signature into `blocks` even chunks and key on EVERY
    * (blocks - maxHamming)-subset of them — <=maxHamming differing bits
    * dirty <=maxHamming chunks, so some subset is entirely clean and the
    * pair still collides (exact, like single-chunk banding). Keys are
    * (blocks-maxHamming)x wider — 30 bits at blocks=6, d=3 — giving a 2^30
    * bucket space: constant occupancy out to ~10^10 docs for the cost of
    * C(blocks, blocks-maxHamming) (=20) banding rows per doc instead of 4.
    * Both schemes return exactly the hamming<=maxHamming pairs, so the
    * choice is invisible to output (and to the d04 oracle).
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 1000,
      // signature width in bits + family: default 64-bit xxhash64-based;
      // pass (60, TF.simhash60) for the engine-portable md5 family (d04's
      // correctness gate)
      bits: Int = 64,
      sigFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        TF.simhash64,
      // > 0: combination-key banding over this many even chunks (scale
      // path); 0: single-chunk banding over `bands` (small-corpus path)
      blocks: Int = 0): DataFrame = {
    val sig = docs.select(col(idCol).as("id"), sigFn(col(textCol)).as("sig"))
    val banded = if (blocks > 0) simhashBandRows(sig, bits, blocks, maxHamming)
    else {
      // the pigeonhole guarantee (any pair within maxHamming shares >=1
      // exact chunk) needs even chunks covering all signature bits and more
      // chunks than allowed differing bits
      require(bits % bands == 0, s"bands must divide $bits (got $bands)")
      require(maxHamming < bands,
        s"maxHamming ($maxHamming) must be < bands ($bands) for the pigeonhole guarantee")
      val width = bits / bands
      val mask = if (width == 64) -1L else (1L << width) - 1
      val chunkKeys = (0 until bands).map(b => // unrolled: stays in codegen
        shiftright(col("sig"), b * width).bitwiseAND(mask))
      sig.select(col("id"), col("sig"), posexplode(array(chunkKeys: _*)))
        .withColumnRenamed("col", "chunk").withColumnRenamed("pos", "band")
    }
    val capped = capBuckets(banded, Seq("band", "chunk"), maxBucketSize)
    val a = capped.select(col("band"), col("chunk"), col("id").as("idA"), col("sig").as("sigA"))
    val b = capped.select(col("band"), col("chunk"), col("id").as("idB"), col("sig").as("sigB"))
    a.join(b, Seq("band", "chunk"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), TF.hamming64(col("sigA"), col("sigB")).as("hamming"))
      // hamming is a function of (sigA, sigB) alone — the same for every
      // band a pair collides in — so verify BEFORE the pair-dedup shuffle:
      // random chunk collisions (hamming >> k) die map-side instead of
      // being exchanged just to be discarded after the groupBy
      .where(col("hamming") <= maxHamming)
      .groupBy("idA", "idB").agg(min("hamming").as("hamming"))
  }

  /** Identical-signature collapse ([[semanticDedup]]'s exact-dup discipline
    * applied to hash signatures): exact-duplicate media — the dominant
    * duplicate class in web crawls (logos, spacers, re-posts) — all share
    * ONE signature, so banding them directly pairs O(cluster^2) rows inside
    * every one of the C(blocks, blocks-d) combination keys. Collapsing each
    * signature group to its min-id representative first lets the banded
    * self-join see one row per DISTINCT signature; members re-attach
    * linearly afterwards. Returns slim (id, rep, sig) membership rows,
    * rep = min(id) over the signature group (`row_number`-free window min:
    * one shuffle on the signature). NULL signatures are DROPPED — they
    * carry no content to match on, and grouping them would declare every
    * null-signature row an exact duplicate of every other (the window
    * treats NULL as one partition), where [[simhashPairs]] emits nothing
    * for them (null hamming fails the <= cut).
    */
  def collapseExactSigs(sigs: DataFrame, idCol: String, sigCol: String): DataFrame = {
    val w = Window.partitionBy(col("sig"))
    sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .where(col("sig").isNotNull)
      .withColumn("rep", min(col("id")).over(w))
  }

  /** [[simhashPairs]] with identical-signature collapse: the same
    * (idA, idB, hamming) rows, produced as within-group pairs (hamming 0,
    * one self-join on the group key — never through the banding) plus
    * representative pairs expanded back through group membership on both
    * sides. A cross-group member pair's hamming equals its reps' hamming
    * (identical signatures within a group), and each such pair appears
    * exactly once (repPairs is already pair-deduped), so no distinct is
    * needed after expansion. vs [[simhashPairs]]: banded buckets now hold
    * only distinct signatures, so a mega-cluster of exact copies can no
    * longer overflow `maxBucketSize` (it enters the band as ONE row), and
    * the C(blocks,blocks-d)-way banding multiplicity applies to reps, not
    * members. Output equals [[simhashPairs]] whenever no distinct-signature
    * bucket exceeds the cap (spec-pinned; the collapsed form can only
    * retain MORE true pairs when a cap does engage).
    */
  def simhashPairsCollapsed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 1000,
      bits: Int = 64,
      sigFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        TF.simhash64,
      blocks: Int = 0): DataFrame = {
    val sig = docs.select(col(idCol).as("id"), sigFn(col(textCol)).as("sig"))
    val members = collapseExactSigs(sig, "id", "sig")
    val reps = members.where(col("id") === col("rep")).select("id", "sig")
    val repPairs =
      simhashPairs(reps, "id", "sig", maxHamming, bands, maxBucketSize, bits, c => c, blocks)
    // within-group: every member pair of one signature group, hamming 0
    // (bit_count's IntegerType, matching TF.hamming64's output type)
    val gA = members.select(col("rep").as("__g"), col("id").as("idA"))
    val gB = members.select(col("rep").as("__g"), col("id").as("idB"))
    val within = gA.join(gB, Seq("__g")).where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), lit(0).as("hamming"))
    // cross-group: one row per rep pair, expanded through both memberships;
    // reorient since a member of group B can carry a smaller id than a
    // member of group A
    val cross = repPairs
      .join(members.select(col("rep").as("idA"), col("id").as("__mA")), Seq("idA"))
      .join(members.select(col("rep").as("idB"), col("id").as("__mB")), Seq("idB"))
      .select(least(col("__mA"), col("__mB")).as("idA"),
        greatest(col("__mA"), col("__mB")).as("idB"), col("hamming"))
    within.unionByName(cross)
  }

  /** Exact n-gram Jaccard similarity for candidate pairs, at the n-gram
    * Jaccard family's fixed geometry. Candidates come from minhash position
    * collisions (cheap); the verify step recomputes TRUE Jaccard from the
    * shingle-hash sets — no estimation error.
    *
    * Banding is one signature slot per band: a pair with true Jaccard J
    * misses all 16 bands with probability (1 - J)^16, so recall at
    * J >= 0.5 is effectively 1 (miss < 2e-5), which is how the DuckDB
    * brute-force oracle can hash-match this operator end-to-end.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the localCheckpoint keeps the text walk computed ONCE for the three
    // consumers (banding + both verify attaches), the role the shared
    // exchange played before (see minhashPairs)
    val base = jaccardPrep(docs, idCol, textCol).localCheckpoint()
    val candidates = pairCandidates(jaccardBand(base, NumHashes, BandRows),
      Seq("band", "bucket"), MaxBucketSize)
    // exact verify per candidate pair: one linear merge over the sorted
    // shingle sets (JaccardSorted) — the array_intersect/array_union
    // formulation builds two hash sets + a union array per PAIR, the hot
    // multiplier of this operator
    attach(candidates, base.select(col("id"), col("sh")), "sh")
      .select(col("idA"), col("idB"),
        TF.jaccardSorted(col("shA"), col("shB")).as("jaccard"))
      .where(col("jaccard") >= MinJaccard)
  }

  /** INCREMENTAL ingest dedup: near-dup pairs between an arriving batch
    * and the existing corpus — `(newId, blockerId, jaccard)` where the
    * blocker is an old doc or an earlier (smaller-id) new doc — WITHOUT
    * ever pairing the old corpus against itself. The candidate join's A
    * side is restricted to NEW rows, so cost is O(batch x bucket
    * occupancy) regardless of corpus size: the shape that lets a 100 TB
    * corpus absorb daily batches without an O(corpus^2) — or even
    * O(corpus x batch) brute — re-scan. At warehouse scale the old side's
    * banded signature table is PERSISTED at ingest — build it with
    * [[buildJaccardIngestIndex]] and probe with
    * [[incrementalJaccardPairsIndexed]] (same output, the corpus text is
    * never re-shingled per batch); this overload derives the old side
    * inline from `old` for one-shot use. Ids must be globally unique
    * across both inputs. Same geometry, hence the same recall, as
    * [[ngramJaccardPairs]].
    */
  def incrementalJaccardPairs(old: DataFrame, fresh: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // an id present on BOTH sides would self-pair through the old leg
    // (jaccard 1 -> the new row silently always blocked); one slim
    // bounded equi-join catches it — trivial next to the pair work
    require(old.select(col(idCol))
        .join(broadcast(fresh.select(col(idCol))), Seq(idCol))
        .limit(1).collect().isEmpty,
      "incrementalJaccardPairs: ids must be globally unique across old and " +
        "fresh — at least one id appears on both sides")
    // materialize each side's shingle+minhash walk ONCE (round-21, the
    // round-20 advice #2): each prep feeds the banding AND the verify
    // attach, and since the walk moved above the shared repartition
    // exchange, ReusedExchange no longer dedups it — without this the
    // expensive text pass ran twice per side per action. Both sides are
    // batch-sized by this overload's one-shot contract.
    val oldP = jaccardPrep(old, idCol, textCol).localCheckpoint()
    val freshP = jaccardPrep(fresh, idCol, textCol).localCheckpoint()
    incrementalCore(jaccardBand(oldP, NumHashes, BandRows), freshP,
      oldP.select(col("id"), col("sh")))
  }

  /** The two tables of the Jaccard ingest index named `index`: the banded
    * rows `<index>_band` and the shingle sets `<index>_sh`.
    */
  def jaccardIndexTables(index: String): Seq[String] =
    Seq(s"${index}_band", s"${index}_sh")

  /** Build the INGEST-SIDE dedup index [[incrementalJaccardPairsIndexed]]
    * probes: one pass over the corpus text computes shingle hashes + the
    * minhash signature, persisted as two slim parquet tables (named by
    * [[jaccardIndexTables]]) — the band table (id, band, bucket) for the
    * candidate join and the shingle table (id, sh) for the verify attach.
    * The tables are not bucketed: the probe unions the band rows with the
    * batch's and shuffles the union by (band, bucket) for the bucket cap,
    * and its attach scans the shingle table whole, so a bucket layout
    * would only cost each append a shuffle and a file per bucket.
    * Built ONCE per corpus at ingest; after that, no arriving batch ever
    * re-shingles or re-hashes the old corpus — the warehouse-scale shape
    * the inline [[incrementalJaccardPairs]] only documented. The family's
    * one geometry is baked into the table contents, and every probe and
    * append bands with the same one.
    */
  def buildJaccardIngestIndex(old: DataFrame, idCol: String, textCol: String,
      index: String): Unit = {
    val Seq(bandTable, shingleTable) = jaccardIndexTables(index)
    // one expensive text pass (shingle + minhash), two slim table writes:
    // persist() keeps the signatures in memory between the writes instead
    // of recomputing the text walk. The cache is FILLED first (count) so
    // the two writes — independent once prep is materialized — can run
    // CONCURRENTLY (guide §2.6): each write is mostly fixed commit/catalog
    // cost at small corpora and straggler tail at large ones, and the
    // second write's tasks back-fill the first's idle slots.
    val prep = jaccardPrep(old, idCol, textCol).persist()
    try {
      prep.count()
      graft.util.Par.actions(
        () => writeTable(prep.select(col("id"), col("sh")), shingleTable, "overwrite"),
        () => writeTable(jaccardBand(prep, NumHashes, BandRows), bandTable, "overwrite"))
    } finally prep.unpersist()
  }

  /** [[incrementalJaccardPairs]] against a PERSISTED ingest index
    * ([[buildJaccardIngestIndex]]): only the arriving batch is shingled and
    * banded; the old side is two slim table scans (banded rows for the
    * candidate join, shingle sets for the verify attach). Output is
    * identical to the inline overload by construction — same banding, same
    * cap, same A-side restriction, same exact verify — so the d17 oracle
    * pins both paths. Per-batch cost: O(batch text) + one linear scan of
    * the slim index, never a re-shingle of the corpus.
    *
    * Returns `(pairs, prep)`: prep is the batch's materialized
    * `(id, sh, sig)` rows, localCheckpoint'd and batch-sized by contract.
    * The ingest loops probe a batch and then append it (or its admitted
    * slice) through [[appendJaccardIngestIndex]], which takes this prep, so
    * the batch's dominant compute (the shingle+minhash text walk) runs once
    * per batch. The probe's uniqueness `require` is the family's one
    * duplicate-id guard: a batch id already in the index is refused here,
    * before anything is appended.
    */
  def incrementalJaccardPairsIndexed(spark: SparkSession, index: String,
      fresh: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val Seq(bandTable, shingleTable) = jaccardIndexTables(index)
    // materialize the batch's shingle+minhash pass ONCE (round-20): the
    // prep feeds the banding AND both sides of the verify attach, i.e.
    // 3 independent consumers — without this the text walk (the probe's
    // expensive expression work) re-ran per consumer. Batch-sized by
    // contract, so the checkpoint is slim at any corpus scale. Computed
    // FIRST so the uniqueness guard below broadcasts the checkpointed ids
    // instead of re-scanning the raw batch (round-21: one fewer batch
    // read per micro-batch).
    val freshP = jaccardPrep(fresh, idCol, textCol).localCheckpoint()
    val oldSh = spark.table(shingleTable)
    // broadcast the batch ids: the corpus side stays a narrow id-column
    // scan (never a corpus shuffle just to validate ids)
    require(oldSh.select(col("id"))
        .join(broadcast(freshP.select(col("id"))), Seq("id"))
        .limit(1).collect().isEmpty,
      "incrementalJaccardPairsIndexed: ids must be globally unique across " +
        "the indexed corpus and fresh — at least one id appears on both sides")
    (incrementalCore(spark.table(bandTable), freshP, oldSh), freshP)
  }

  /** MAINTAIN the ingest index: append a batch's ACCEPTED rows (the
    * dedup survivors — only admitted docs enter the corpus) to both index
    * tables, so the NEXT batch blocks against them. `prep` is the probe's
    * `(id, sh, sig)` frame from [[incrementalJaccardPairsIndexed]], or a
    * slice of it: the batch's text is never walked again. The existing
    * index is never rewritten: each append is one plain parquet append
    * per table, with no shuffle, adding one file per partition of `prep`
    * (one for a small batch).
    *
    * CONTRACT: `prep` must be materialized (the probe's checkpoint — the
    * two concurrent appends would otherwise race-compute it twice), and
    * its ids must have just passed the probe's uniqueness guard against
    * the SAME tables; the append does not re-check them (an id appended
    * twice would shadow-pair against itself in every later batch). `prep`
    * may derive from a foreachBatch-cloned session: the append rebinds it
    * through the main session (a saveAsTable append fed a
    * streaming-derived frame writes through the cloned session and lands
    * zero rows — the st13 lesson).
    */
  def appendJaccardIngestIndex(spark: SparkSession, index: String,
      prep: DataFrame): Unit = {
    val Seq(bandTable, shingleTable) = jaccardIndexTables(index)
    val bound = spark.createDataFrame(prep.rdd, prep.schema)
    // the two appends are independent — run them CONCURRENTLY (guide
    // §2.6, the build path's overlap; each is mostly fixed commit cost)
    graft.util.Par.actions(
      () => writeTable(bound.select(col("id"), col("sh")), shingleTable, "append"),
      () => writeTable(jaccardBand(bound, NumHashes, BandRows), bandTable, "append"))
  }

  /** Plain (unbucketed) parquet write of `df` to `table` in save `mode`:
    * no shuffle, one file per partition of `df`.
    */
  private def writeTable(df: DataFrame, table: String, mode: String): Unit =
    df.write.mode(mode).format("parquet").saveAsTable(table)

  /** Combination-key banding rows (id, sig, band, chunk) — the ONE
    * definition of the [[simhashPairs]] blocks>0 scheme, shared with the
    * SIMHASH ingest-index family's build/append/probe (a second copy
    * drifting would silently break candidate recall). The signature RIDES
    * the banding row (one long — the d06 carry-payload lesson: the Hamming
    * verify then runs inline in the candidate join, no re-attach round
    * trip).
    */
  private def simhashBandRows(sigs: DataFrame, bits: Int, blocks: Int,
      maxHamming: Int): DataFrame = {
    require(bits % blocks == 0, s"blocks must divide $bits (got $blocks)")
    require(maxHamming < blocks,
      s"maxHamming ($maxHamming) must be < blocks ($blocks) for the pigeonhole guarantee")
    val width = bits / blocks
    // width == 64 (blocks = 1): Java's shift wraps, (1L << 64) - 1 == 0
    // — every signature would collapse into one bucket
    val mask = if (width == 64) -1L else (1L << width) - 1
    val chunk = (b: Int) => shiftright(col("sig"), b * width).bitwiseAND(mask)
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    // key = hash of (combo id, the chosen chunks) — unrolled, in codegen
    val comboKeys = combos.zipWithIndex.map { case (c, i) =>
      xxhash64((lit(i) +: c.map(chunk)): _*)
    }
    sigs.select(col("id"), col("sig"), posexplode(array(comboKeys: _*)))
      .withColumnRenamed("col", "chunk").withColumnRenamed("pos", "band")
  }

  /** The perceptual family's banding rows over `(idCol, sigCol)`: NULL
    * signatures dropped (nothing to band), then [[simhashBandRows]] at the
    * family's geometry. The index build, the append and the probe all
    * band through this.
    */
  private def perceptualBandRows(sigs: DataFrame, idCol: String, sigCol: String): DataFrame =
    simhashBandRows(
      sigs.select(col(idCol).as("id"), col(sigCol).as("sig")).where(col("sig").isNotNull),
      Perceptual.Bits, Perceptual.Blocks, Perceptual.MaxHamming)

  /** Build the PERCEPTUAL/simhash ingest-side dedup index
    * [[incrementalSimhashPairsIndexed]] probes: the corpus signatures'
    * combination-key banding rows persisted as ONE slim parquet table
    * (id, sig, band, chunk). Like the Jaccard index it is not bucketed:
    * the probe semi-filters the scan by the batch's chunks, then unions
    * it with the batch's rows and shuffles the union by (band, chunk).
    * Built once per corpus at ingest; after that no arriving batch ever
    * re-decodes or re-bands the old corpus — the d17 discipline applied
    * to the m05 dHash family (round-19 verdict #5). NULL signatures are
    * dropped (nothing to band). The family's one geometry
    * ([[Perceptual]]) is baked into the table contents, and the probe and
    * the append band with the same one.
    */
  def buildSimhashIngestIndex(
      sigs: DataFrame,          // (id, sig)
      idCol: String,
      sigCol: String,
      bandTable: String): Unit =
    writeTable(perceptualBandRows(sigs, idCol, sigCol), bandTable, "overwrite")

  /** MAINTAIN the simhash ingest index: append a batch's signatures so
    * the next batch blocks against them (one plain parquet append — the
    * existing index is never rewritten). As for
    * [[appendJaccardIngestIndex]], the ids of `sigs` must have just passed
    * [[incrementalSimhashPairsIndexed]]'s uniqueness guard against the
    * same table (the append does not re-check them), and `sigs` is
    * rebound through the main session, so a checkpointed frame from a
    * foreachBatch-cloned session appends correctly.
    */
  def appendSimhashIngestIndex(spark: SparkSession, bandTable: String,
      sigs: DataFrame, idCol: String, sigCol: String): Unit =
    writeTable(perceptualBandRows(spark.createDataFrame(sigs.rdd, sigs.schema),
      idCol, sigCol), bandTable, "append")

  /** INCREMENTAL simhash near-dup pairs against the persisted band index
    * ([[buildSimhashIngestIndex]]): only the arriving batch is banded;
    * the old side is one slim scan, SEMI-FILTERED inside the scan by the
    * batch's broadcast bucket set — per-batch shuffle is
    * batch x C(blocks, blocks-maxHamming) x bucket occupancy, never
    * corpus-sized (the d17 shape: both probes share
    * [[newVsIndexCandidates]]). Old x old pairs never re-derive (the
    * candidate join's A side is batch-only). Output is oriented (least,
    * greatest, min hamming), so the UNION over batches equals the one-shot
    * [[simhashPairs]] at the [[Perceptual]] geometry for any batch split
    * (each pair surfaces when its later-arriving member's batch probes —
    * the same argument d17's oracle pins for jaccard), provided no bucket
    * cap engages on either path.
    */
  def incrementalSimhashPairsIndexed(spark: SparkSession, bandTable: String,
      fresh: DataFrame, idCol: String, sigCol: String): DataFrame = {
    // no distinct before the existence probe (round-21): limit(1)
    // short-circuits on the first match, and in the common (no-duplicate)
    // case the distinct was a full shuffle of the banding-rows index —
    // C(blocks, blocks-maxHamming) rows per corpus id — for nothing
    require(spark.table(bandTable).select(col("id").as(idCol))
        .join(broadcast(fresh.select(col(idCol))), Seq(idCol))
        .limit(1).collect().isEmpty,
      "incrementalSimhashPairsIndexed: ids must be globally unique across " +
        "the indexed corpus and fresh — at least one id appears on both sides")
    // the signature rides the candidate rows, so the Hamming verify runs
    // inline in the join stage
    newVsIndexCandidates(spark.table(bandTable),
        perceptualBandRows(fresh, idCol, sigCol), "chunk", Seq("sig"))
      .select(least(col("idA"), col("idB")).as("idA"),
        greatest(col("idA"), col("idB")).as("idB"),
        TF.hamming64(col("sigA"), col("sigB")).as("hamming"))
      .where(col("hamming") <= Perceptual.MaxHamming)
      .groupBy("idA", "idB").agg(min("hamming").as("hamming"))
  }

  /** (id, sh, sig) signature rows over one exchange — all consumers (band
    * explode, shingle attach) hang off the same shuffle so the text walk
    * happens once (see [[minhashPairs]]). The slim (id, text) rows are
    * repartitioned FIRST (round-20, guide §2.5): written
    * select-then-repartition, the shingle+minhash walk ran map-side on the
    * scan's split count — ONE task for a single-file corpus — and the
    * exchange carried the fatter (sh, sig) rows.
    */
  private def jaccardPrep(df: DataFrame, idCol: String, textCol: String): DataFrame = df
    .select(col(idCol).as("id"), col(textCol).as("__t"))
    .repartition(col("id"))
    .select(
      col("id"),
      TF.shingleHashes(col("__t"), ShingleN).as("sh"),
      TF.minhashSignature(col("__t"), ShingleN, NumHashes).as("sig"))

  /** Slim (id, band, bucket) MinHash banding rows — the ONE band-key
    * definition of the signature family: [[minhashPairs]] and
    * [[ngramJaccardPairs]] band through it, the incremental candidate join
    * bands both sides through it, and [[buildJaccardIngestIndex]] persists
    * its rows (so a second copy drifting would silently break recall
    * against every persisted index). Band hash: one flat variadic xxhash64
    * over the band's `bandRows` signature slots, UNROLLED in Scala
    * (literal getItem indices) rather than a nested higher-order transform
    * — HOFs are CodegenFallback and a lambda that slices an attribute
    * array per band turned out pathologically slow (~3ms/row); the
    * unrolled form stays inside whole-stage codegen.
    */
  private def jaccardBand(base: DataFrame, numHashes: Int, bandRows: Int): DataFrame = {
    require(numHashes % bandRows == 0, "bandRows must divide numHashes")
    val bandKeys = (0 until numHashes / bandRows).map(b =>
      xxhash64(((0 until bandRows).map(r => col("sig").getItem(bandRows * b + r)) :+ lit(b)): _*))
    base.select(col("id"), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("col", "bucket").withColumnRenamed("pos", "band")
  }

  /** The new-vs-index candidate join of both incremental probes, over
    * (id, band, `key`, `carry`...) banding rows of the old side (the
    * persisted index, or the inline overload's corpus) and the batch.
    *
    * Old rows in (band, key) groups the BATCH never lands in cannot form a
    * candidate (the A side is batch-only), and [[capBuckets]] drops whole
    * over-cap groups — so the batch's bucket set is broadcast and
    * semi-filters the old side INSIDE its scan. Retained groups keep every
    * row, so the cap (and the output) is unchanged; what changes is cost:
    * the per-batch shuffle is occupancy-bounded (batch x bands x bucket
    * size), not corpus-sized. The batch's bucket set is batch x bands rows
    * of two longs — broadcastable for any sane ingest batch.
    *
    * Returns (idA, `carry`A..., band, key) x (idB, `carry`B..., b_new)
    * candidate rows: A = NEW rows only; B = old rows, or new rows with a
    * smaller id (keep-first within the batch) — old x old never forms.
    * Pairs are NOT deduped across bands.
    */
  private def newVsIndexCandidates(oldBanded: DataFrame, freshBanded: DataFrame,
      key: String, carry: Seq[String]): DataFrame = {
    val freshBuckets = broadcast(freshBanded.select(col("band"), col(key)).distinct())
    val oldPruned = oldBanded.withColumn("is_new", lit(false))
      .join(freshBuckets, Seq("band", key), "left_semi")
    val capped = capBuckets(
      oldPruned.unionByName(freshBanded.withColumn("is_new", lit(true))),
      Seq("band", key), MaxBucketSize)
    def side(s: String) = col("id").as(s"id$s") +: carry.map(c => col(c).as(s"$c$s"))
    val a = capped.where(col("is_new"))
      .select(side("A") ++ Seq(col("band"), col(key)): _*)
    val b = capped.select(side("B") ++ Seq(col("is_new").as("b_new"), col("band"), col(key)): _*)
    a.join(b, Seq("band", key))
      .where(!col("b_new") || col("idB") < col("idA"))
  }

  /** The Jaccard incremental pair shape shared by the inline and indexed
    * paths: [[newVsIndexCandidates]] over the old side's banding rows and
    * the batch's, then exact Jaccard over the attached shingle sets.
    * `freshP` is the batch's checkpointed (id, sh, sig) prep.
    */
  private def incrementalCore(oldBanded: DataFrame, freshP: DataFrame,
      oldSh: DataFrame): DataFrame = {
    val freshSh = freshP.select(col("id"), col("sh"))
    // candidates are bounded by batch x bucket occupancy — the operator's
    // whole cost contract — so MATERIALIZE them (tiny: two longs/row) and
    // broadcast their id sets to pre-filter both payload sides. The
    // corpus-sized shingle table is then only ever narrow-SCANNED (the
    // broadcast hash filter runs inside the scan stage); the fat shingle
    // arrays that reach a shuffle are candidates-many, not corpus-many.
    // The previous union-then-attach shuffled the whole corpus shingle
    // table per batch — the x64 soak's dominant cost after the index
    // removed re-banding. (Joining the bucketed table directly instead
    // was 1.5x worse at x64: it caps the fat sort-merge at the table's
    // bucket count.)
    val candidates = newVsIndexCandidates(oldBanded,
        jaccardBand(freshP, NumHashes, BandRows), "bucket", Nil)
      .select("idA", "idB").distinct()
      .localCheckpoint()
    val bIds = broadcast(candidates.select(col("idB").as("id")).distinct())
    val aIds = broadcast(candidates.select(col("idA").as("id")).distinct())
    val shA = freshSh.join(aIds, Seq("id"), "left_semi")
      .select(col("id").as("idA"), col("sh").as("shA"))
    val shB = oldSh.unionByName(freshSh).join(bIds, Seq("id"), "left_semi")
      .select(col("id").as("idB"), col("sh").as("shB"))
    candidates.join(shA, Seq("idA")).join(shB, Seq("idB"))
      .select(col("idA"), col("idB"),
        TF.jaccardSorted(col("shA"), col("shB")).as("jaccard"))
      .where(col("jaccard") >= MinJaccard)
  }

  /** Embedding near-dup pairs: sign-LSH bucket join + exact cosine verify.
    *
    * Multi-table LSH: a pair is a candidate if its `numPlanes`-bit sign
    * bucket matches in ANY of `tables` independently-seeded tables. A pair
    * at cosine c collides per table with p = (1 - acos(c)/pi)^numPlanes, so
    * recall = 1 - (1-p)^tables; the 8x8 default gives ~99% recall at
    * c=0.95 (vs ~28% for the previous single 12-plane table) and ~1-2e-8
    * miss at c=0.999, while keeping candidates bucket-local. Fewer planes =
    * bigger buckets (more exact verifies); more tables = proportionally more
    * slim (id, band, bucket) shuffle rows — both linear, never quadratic.
    */
  def embeddingPairs(
      emb: DataFrame,           // (id, vector)
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.95,
      numPlanes: Int = 8,
      dim: Int = 64,
      tables: Int = 8,
      maxBucketSize: Int = 2000,
      // > 0 sizes the plane count from the CORPUS:
      // planes = max(numPlanes, ceil(log2(n / targetBucketSize))), capped
      // at 24. With planes FIXED, bucket occupancy grows linearly with the
      // corpus and candidate pairs grow QUADRATICALLY (the round-7 soak
      // measured d06 at 491x time for 16x input); constant occupancy keeps
      // candidates linear, so auto-sizing is the DEFAULT — pass 0 only to
      // pin an exact plane count (tests, parameter studies). Per-table
      // collision probability at cosine c is (1 - acos(c)/pi)^planes, so
      // more planes cost per-table recall — fine near c~1 (0.999-dups:
      // miss < 1e-6 at planes=24, tables=8), but at lower thresholds raise
      // `tables` along with the corpus.
      targetBucketSize: Int = 32,
      // corpus row count if the caller already knows it (>= 0): skips the
      // sizing count() job — worth passing when `emb` is a derived plan
      // (a union/filter chain) whose count is a real job, not a parquet
      // metadata read. Ignored when targetBucketSize <= 0.
      corpusSizeHint: Long = -1L): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(col("id")) // single shared exchange (see minhashPairs)
    val planes =
      if (targetBucketSize <= 0) numPlanes
      else if (corpusSizeHint >= 0L) autoPlanes(corpusSizeHint, numPlanes, targetBucketSize)
      else
        // count on the raw input, not `base`, to skip base's repartition
        // exchange. A plain parquet scan collapses to metadata; a derived
        // input (d06 passes a union-with-mutations) pays a real count job
        // — pass corpusSizeHint to avoid it
        autoPlanes(emb.count(), numPlanes, targetBucketSize)
    // one lshBucket expression per table (each a single pass over the
    // vector); posexplode to (id, v, band=table, bucket) rows. Unlike the
    // TEXT paths (pairCandidates + attach — right when the payload is an
    // unbounded document), the fixed-width vector RIDES THROUGH the bucket
    // self-join: the cosine verify then runs INLINE in the join stage
    // (candidate rows never shuffle — at high thresholds ~99% of them fail
    // verification, so shipping them to a distinct and then two attach
    // joins was the whole constant: the round-10 soak measured this at
    // 3.5x the wall of the carried form at x16, identical output), and
    // distinct dedupes only the verified survivors (~tables copies of each
    // true pair) instead of millions of candidates. Shuffle volume is
    // corpus x tables x vector-width — linear in the corpus with a width
    // constant, vs pair-count-driven volume that inherits bucket skew.
    val bucketKeys = (0 until tables).map(t =>
      VF.lshBucket(col("v"), VF.hyperplanes(planes, dim, seed = 42L + t)))
    val banded = base.select(col("id"), col("v"), posexplode(array(bucketKeys: _*)))
      .withColumnRenamed("col", "bucket").withColumnRenamed("pos", "band")
    val capped = capBuckets(banded, Seq("band", "bucket"), maxBucketSize)
    val a = capped.select(col("id").as("idA"), col("v").as("vA"),
      col("band"), col("bucket"))
    val b = capped.select(col("id").as("idB"), col("v").as("vB"),
      col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), VF.cosine(col("vA"), col("vB")).as("cosine"))
      .where(col("cosine") >= minCosine)
      .distinct()
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * k-means-cluster the embedding space, compare pairs only WITHIN a
    * cluster, and keep the lowest id of every group whose cosine exceeds
    * `minCosine`. Survivors = rows with no smaller-id within-cell
    * neighbor at cosine >= minCosine.
    *
    * Scale shape: clustering is what makes 100 TB semantic dedup
    * tractable — the all-pairs O(n^2) collapses to sum over cells of
    * O(cell^2), and `nlist ~ sqrt(n)` (the [[IvfIndex.autoNlist]]
    * default) keeps the EXPECTED cell quadratic at O(n). Training is a
    * bounded deterministic sample + driver-side Lloyd (kilobytes); the
    * assignment is a narrow map, and the fixed-width vectors CARRY
    * through the within-cell self-join so the verify runs inline in the
    * join stage (the d06 carry-payload lesson — no slim-pairs +
    * re-attach round trip). Cluster-boundary pairs are missed by design
    * — the documented SemDeDup approximation (duplicates land in the
    * same cell in practice; exact copies always do).
    *
    * HOT-CELL BOUND (the expected-case O(n) is not enough: the corpora
    * this operator exists for are duplicate-heavy, and a 10M-copy
    * cluster in one cell is ~10^13 pairs in a single task). Three layers:
    *
    *  1. EXACT-DUPLICATE COLLAPSE, semantics-preserving: group rows by
    *     the vector itself, enter only the min-id representative of each
    *     identical-vector group into the pairwise stage. A non-rep id x
    *     always has its group's rep as a smaller-id same-cell neighbor
    *     at cosine(v,v), so x is blocked iff cosine(v,v) >= minCosine
    *     (evaluated, not assumed — [[graft.expressions.CosineSim]] returns
    *     0.0 for a zero-norm vector BY CONVENTION, never NaN, so a zero
    *     vector blocks nothing, exactly like the all-pairs formulation;
    *     a NaN-returning similarity would INVERT this — Spark's ordering
    *     puts NaN above every value, so `NaN >= minCosine` is true —
    *     which is why the guard evaluates the expression instead of
    *     assuming self-similarity is 1); a rep is
    *     blocked iff a smaller-id rep in its cell qualifies (any smaller
    *     non-rep neighbor implies its even-smaller rep also qualifies,
    *     same vector). Identical-copy mega-clusters — THE degenerate
    *     case — thus cost one group-min, never a pair.
    *  2. OVERSIZED-CELL SUB-SPLIT over the surviving DISTINCT vectors: a
    *     cell with cn > maxCellSize reps is split by the low
    *     p = ceil(log2(cn/maxCellSize)) bits of a 16-plane sign-LSH
    *     signature of the vector (deterministic per vector, so what
    *     remains co-assigned stays deterministic); normal cells take
    *     p = 0 and are byte-identical to the unsplit plan. Distinct
    *     near-dup pairs split across sub-buckets are missed — the same
    *     approximation class as SemDeDup's cross-cell misses, and only
    *     in cells that were already over the bound.
    *  3. LOUD RESIDUAL GUARD: if a (cell, sub) bucket still exceeds
    *     8*maxCellSize distinct vectors (near-identical-but-unequal
    *     vectors share sign bits, so an adversarial cluster can defeat
    *     the split), `assert_true` fails the job with the occupancy in
    *     the message instead of silently hanging a task on a quadratic
    *     bucket — the capBuckets discipline, fail-loud variant.
    */
  def semanticDedup(
      emb: DataFrame,           // (id, vector)
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.95,
      nlist: Int = 0,           // 0 -> autoNlist(corpus size)
      sampleSize: Int = 2048,
      // max DISTINCT vectors entering one pairwise bucket before the
      // sub-split engages; the hard fail bound is 8x this (a residual
      // bucket task is then <= (8*maxCellSize)^2 inline cosines)
      maxCellSize: Int = 4096,
      // corpus row count if the caller already knows it (>= 0): skips
      // the nlist-sizing count() job (one full scan on derived inputs)
      corpusSizeHint: Long = -1L): DataFrame = {
    val n = if (corpusSizeHint >= 0L) corpusSizeHint else emb.count()
    val k = if (nlist > 0) nlist else IvfIndex.autoNlist(n)
    // cells are assigned on UNIT-normalized vectors: cosine is
    // scale-invariant but L2 cells are not, so a near-duplicate whose NORM
    // differs wildly (a re-scaled embedding — the round-15
    // hostile-embeddings probe planted 1e-20x and 1e18x copies) would land
    // in a different cell than its twin and silently escape the within-cell
    // pairing. Normalizing the ASSIGNMENT key collocates by direction —
    // the metric the dedup actually uses — while verification still runs
    // VF.cosine on the raw vectors. Zero-norm vectors pass through
    // unnormalized: their cosine with anything is NaN, which never crosses
    // the threshold (the docstring's blocked-set argument).
    def unit(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val nrm = VF.norm(v)
      when(nrm === 0.0, v)
        .otherwise(transform(v, x => (x / nrm).cast("float")))
    }
    val m = IvfIndex.train(
      emb.select(col(idCol), unit(col(vecCol)).as(vecCol)),
      idCol, vecCol, k, sampleSize)
    val base = emb.select(col(idCol), col(vecCol))
    // 1. identical-vector groups -> min-id rep (blocked-set equality with
    // the all-pairs form argued in the docstring)
    val wv = Window.partitionBy(col(vecCol))
    val withRep = base.withColumn("__rep", min(col(idCol)).over(wv))
    val selfBlocked = withRep
      .where(col(idCol) =!= col("__rep") &&
        VF.cosine(col(vecCol), col(vecCol)) >= minCosine)
      .select(col(idCol))
    val reps = withRep.where(col(idCol) === col("__rep"))
      .select(col(idCol), col(vecCol))
    val assigned = IvfIndex
      .assign(reps.withColumn("__unit", unit(col(vecCol))), idCol, "__unit", m)
      .drop("__unit")
    // 2. sub-split cells over the bound; p=0 (sub=0) below it
    val dim = m.centroids.headOption.map(_.length).getOrElse(0)
    val sig = VF.lshBucket(col(vecCol),
      VF.hyperplanes(16, dim, seed = 1013L))
    val wc = Window.partitionBy(col("ivf_cell"))
    val p = least(lit(16), greatest(lit(0),
      ceil(log(2.0, col("__cn").cast("double") / maxCellSize)).cast("int")))
    val subbed = assigned
      .withColumn("__cn", count(lit(1)).over(wc))
      .withColumn("__sub",
        sig.bitwiseAND(pow(lit(2.0), p).cast("long") - 1L))
      .drop("__cn")
    // 3. fail loudly if a sub-bucket is still degenerate
    val wcs = Window.partitionBy(col("ivf_cell"), col("__sub"))
    val guarded = subbed
      .withColumn("__sn", count(lit(1)).over(wcs))
      .where(assert_true(col("__sn") <= lit(8L * maxCellSize),
        concat(lit("semanticDedup: a sub-split cell still holds "),
          col("__sn"),
          lit(s" distinct vectors (> ${8L * maxCellSize}) — " +
            "near-identical distinct vectors defeated the LSH split; " +
            "lower minCosine prefiltering or raise maxCellSize " +
            "consciously"))).isNull)
      .drop("__sn")
    val a = guarded.select(col(idCol).as("idA"), col(vecCol).as("vA"),
      col("ivf_cell"), col("__sub"))
    val b = guarded.select(col(idCol).as("idB"), col(vecCol).as("vB"),
      col("ivf_cell"), col("__sub"))
    val blocked = a.join(b, Seq("ivf_cell", "__sub"))
      .where(col("idB") < col("idA") &&
        VF.cosine(col("vA"), col("vB")) >= minCosine)
      .select(col("idA").as(idCol)).distinct()
    emb.join(blocked.unionByName(selfBlocked), Seq(idCol), "left_anti")
  }

  /** Plane count giving ~`targetBucketSize` expected rows per LSH bucket
    * for an `n`-row corpus: max(floor, ceil(log2(n/target))), capped at 24
    * (2^24 buckets/table; beyond that per-table recall decays with no
    * occupancy win at any realistic corpus).
    */
  private[graft] def autoPlanes(n: Long, floor: Int, targetBucketSize: Int): Int = {
    val m = math.max(1L, n)
    val needed = math.ceil(math.log(m.toDouble / targetBucketSize) / math.log(2)).toInt
    math.min(24, math.max(floor, needed))
  }

  /** Given near-dup pairs (idA < idB), keep-first survivors: drop every id
    * that appears as the LARGER member of any pair. Single-pass
    * approximation of connected components (exact for clusters whose
    * members all pair with the minimum — the common near-dup case).
    */
  def survivors(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = pairs.select(col("idB").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware survivor selection: keep the BEST-scoring doc of each
    * exact near-dup cluster (ties broken by min id) instead of
    * [[survivors]]' keep-first — what a curation pipeline actually wants
    * when copies differ (keep the longest / highest-quality variant, drop
    * the truncated mirror). Returns the winning docs' rows plus their
    * `cluster` label.
    *
    * Shape: [[clusters]]' transitive closure (one shuffle per round,
    * O(diameter) rounds) then a single cluster-partitioned row_number
    * window — no pair joins, no per-cluster collect.
    */
  def bestSurvivors(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    // "id"/"cluster" are this API's output names (shared with [[clusters]]);
    // a caller frame already carrying them (other than idCol == "id", which
    // the rename makes a no-op) would alias ambiguously in the join below —
    // fail readably instead. idCol == "cluster" is NOT exempt: the final
    // rename-back would collide with the labels frame's own column.
    require(idCol != "cluster",
      "bestSurvivors: idCol may not be named 'cluster' (a reserved output name)")
    for (reserved <- Seq("id", "cluster") if reserved != idCol)
      require(!docs.columns.contains(reserved),
        s"bestSurvivors: input already has a '$reserved' column — rename it " +
          "(the operator outputs its own id/cluster columns)")
    val labels = clusters(docs, idCol, pairs)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc_nulls_last, col("id").asc)
    docs.withColumnRenamed(idCol, "id")
      .join(labels, Seq("id"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
      .withColumnRenamed("id", idCol)
  }

  /** Per-cluster QUOTA retention ("soft dedup"): keep the best `quota`
    * docs of each near-dup cluster instead of [[bestSurvivors]]' exactly
    * one — the published middle ground between hard dedup (quota 1 loses
    * benign paraphrase diversity) and no dedup (mega-clusters dominate the
    * training mix). Each kept row carries its within-cluster `rank`
    * (1 = best), the full `cluster_size`, and `n_kept`
    * (= min(quota, cluster_size)); `cluster_size / n_kept` is the exact
    * integer upweight a mixture sampler applies so the retained rows still
    * represent the cluster's original mass — emitted as the two integers,
    * never a float ratio, so the contract stays engine-exact.
    *
    * Shape: [[clusters]]' closure, then ONE cluster-partitioned
    * rank-limit window (`row_number <= quota` — map-side WindowGroupLimit
    * ships at most `quota` rows per cluster per partition into the
    * shuffle) plus a count over the SAME key (the label frame is
    * pair-graph-sized, not corpus-sized, at any corpus scale). No pair
    * joins, no per-cluster collect.
    */
  def quotaSurvivors(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, quota: Int): DataFrame = {
    require(quota >= 1, s"quotaSurvivors: quota must be >= 1, got $quota")
    require(idCol != "cluster",
      "quotaSurvivors: idCol may not be named 'cluster' (a reserved output name)")
    for (reserved <- Seq("id", "cluster", "rank", "cluster_size", "n_kept")
         if reserved != idCol)
      require(!docs.columns.contains(reserved),
        s"quotaSurvivors: input already has a '$reserved' column — rename it " +
          "(the operator outputs its own id/cluster/rank/size columns)")
    val labels = clusters(docs, idCol, pairs)
    val sizes = labels.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc_nulls_last, col("id").asc)
    docs.withColumnRenamed(idCol, "id")
      .join(labels, Seq("id"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= quota)
      .join(sizes, Seq("cluster"))
      .withColumn("n_kept", least(lit(quota.toLong), col("cluster_size")))
      .withColumnRenamed("id", idCol)
  }

  /** EXACT connected-component clustering of near-dup pairs: every doc
    * labeled with the minimum id reachable through the pair graph (the
    * cluster representative). This is the full transitive closure that
    * [[survivors]] approximates — A~B, B~C puts A,B,C in one cluster even
    * when A,C never paired directly.
    *
    * Shape: iterative min-label propagation (what GraphX's
    * `connectedComponents` does under the hood, here in pure DataFrame
    * ops) PLUS an adaptive pointer-jumping shortcut (label <-
    * label(label)) from round 4 on. Propagation alone converges in
    * O(component diameter) rounds, and a pathological pair CHAIN — one
    * long path, planted by adversarial corpora and produced in the wild
    * by chained near-boundary similarity — has diameter O(members),
    * which would exhaust any fixed round budget and (before round 17)
    * return silently under-merged labels. The shortcut halves remaining
    * label depth every round it runs, so convergence is O(3 + log
    * diameter): 25 rounds cover diameters past 2^20, i.e. every
    * physically possible corpus. Near-dup graphs are quasi-cliques
    * (diameter 3-4) that converge inside the plain-propagation prefix
    * and never pay the shortcut's extra label self-join (charging them
    * unconditionally cost the sf0.1 closure leg 1.9x). `localCheckpoint`
    * truncates lineage each round so the plan doesn't grow with the
    * iteration count; edges are checkpointed once and reused. The
    * convergence probe reuses the same checkpointed round output
    * (no recompute), and costs one light job per round. An exhausted
    * budget now REFUSES loudly instead of returning partial labels —
    * under-merged clusters would flow straight into survivor/quota
    * decisions downstream. The round count (0 on the driver fast path) is
    * recorded under [[graft.util.Recorder.ClusterRounds]].
    */
  def clusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 25,
      // pair rows up to which the closure runs as a driver union-find
      // (see [[SmallMergeGraphMax]]); 0 pins the distributed path (the
      // round-budget refusal contract is only exercisable there)
      smallGraphMax: Long = SmallMergeGraphMax): DataFrame = {
    // ids keep their native type: min/least give the same keep-lowest
    // semantics for any orderable id, and ANSI mode would throw on a
    // numeric cast of string ids
    val edges = pairs
      .select(col("idA").as("src"), col("idB").as("dst"))
      .unionByName(pairs.select(col("idB").as("src"), col("idA").as("dst")))
      .localCheckpoint()
    // SMALL-GRAPH FAST PATH (round-21, guide §1.2): near-dup pair graphs
    // at query scale are a few thousand rows, while every distributed
    // round below costs 2 scheduler round-trips over checkpoint writes —
    // the dominant wall of the whole closure family (d09/d12/d25/t34/m06)
    // once pair generation is banded. When the (already checkpointed)
    // edge list is provably small, run the exact min-root union-find on
    // the driver; the final docs join then builds from a LOCAL relation.
    // The count is over the materialized checkpoint (cheap), the collect
    // is bounded by the cap (never corpus-sized), and bigger graphs — or
    // non-long/null ids — take the distributed path unchanged.
    val longIds = edges.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && smallGraphMax > 0 && edges.count() <= 2L * smallGraphMax) {
      val rows = edges.collect()
      if (rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) {
        val roots = localMinRoots(rows.map(r => (r.getLong(0), r.getLong(1))))
        graft.util.Recorder.put(graft.util.Recorder.ClusterRounds, Seq(0.0))
        val labelsDf = docs.sparkSession
          .createDataFrame(roots.toSeq).toDF("id", "__c")
        return docs.select(col(idCol).as("id"))
          .join(broadcast(labelsDf), Seq("id"), "left")
          .select(col("id"), coalesce(col("__c"), col("id")).as("cluster"))
      }
    }
    // iterate ONLY over nodes the pair graph touches — a singleton's label
    // never changes, and at corpus scale near-dup members are a small
    // fraction of all docs; untouched docs rejoin as their own cluster at
    // the end (one broadcast-able join, no per-round cost)
    var labels = edges
      .select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    // the shortcut only pays off past quasi-clique diameters: near-dup
    // graphs converge in 2-3 plain rounds, and charging them an extra
    // label self-join per round cost the sf0.1 d09 leg 1.9x (measured,
    // round 17). Plain propagation runs first; if convergence drags past
    // ShortcutFrom rounds — a chain-shaped component — every later round
    // adds the jump, keeping the worst case O(ShortcutFrom + log diameter)
    val ShortcutFrom = 3
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("id").as("src"), col("cluster")), "src")
        .groupBy(col("dst").as("id")).agg(min("cluster").as("nmin"))
      // carry the previous label through the round so the convergence probe
      // reads the round's own output, not another join
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          col("cluster").as("prev"))
      // pointer-jumping shortcut: cluster <- label(cluster). Labels only
      // ever hold edge-touched node ids (min over self+neighbor labels,
      // initialized to self), so the lookup domain is labels itself; the
      // left join + coalesce is belt-and-braces, and label(y) <= y makes
      // the least() monotone-safe
      val jumped =
        if (iter < ShortcutFrom) propagated
        else {
          // materialize the propagate result ONCE before the self-join:
          // parent is propagated joined against itself, and without this
          // checkpoint the propagate join+aggregate subplan appears twice
          // in every shortcut round's plan — recomputed twice unless
          // exchange reuse happens to fire (round-17 advice)
          val prop = propagated.localCheckpoint()
          val parent = prop
            .select(col("id").as("__pid"), col("cluster").as("__pcluster"))
          prop
            .join(parent, prop("cluster") === parent("__pid"), "left")
            .select(prop("id"),
              least(prop("cluster"), coalesce(col("__pcluster"), prop("cluster")))
                .as("cluster"),
              col("prev"))
        }
      // the per-round checkpoint carries a 1-byte changed flag, not the
      // full prev label: checkpoint WIDTH is the closure's working set at
      // scale (the d25/t34 x64 soak legs sat on a spill cliff carrying a
      // third id-typed column through every round — round-17 verdict #4),
      // and the probe needs only the fact of change, not the old label
      val next = jumped
        .select(col("id"), col("cluster"),
          (col("cluster") =!= col("prev")).as("changed"))
        .localCheckpoint()
      converged = next.where(col("changed")).isEmpty
      labels = next.select(col("id"), col("cluster"))
      iter += 1
    }
    graft.util.Recorder.put(graft.util.Recorder.ClusterRounds, Seq(iter.toDouble))
    require(converged,
      s"clusters: label propagation did not converge in $maxIters rounds — " +
        "refusing to return partially merged clusters (raise maxIters; " +
        s"with $ShortcutFrom plain rounds then pointer jumping this needs " +
        s"a component diameter beyond ~2^${maxIters - ShortcutFrom}, " +
        "which indicates corrupted pair input)")
    docs.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("cluster", "__c"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("cluster"))
  }

  /** Graph size (pair rows) up to which [[clusters]] / [[closureMerge]]
    * run their closure as a union-find on the driver instead of the
    * distributed label propagation: at 16 bytes/row the collect is
    * <=1.6 MB — metadata-sized, like the bounded refusal-guard collects —
    * while the distributed path costs O(rounds) scheduler round-trips
    * (edge/label checkpoints + per-round convergence probes) that
    * dominate wall time whenever the pair graph is small. Graphs past the
    * cap take the distributed path unchanged, so the operator stays
    * scale-safe at any corpus size.
    */
  private val SmallMergeGraphMax = 100000L

  /** Exact min-root union-find over a LOCAL edge list (the small-graph
    * fast path of [[clusters]] and [[closureMerge]]): union by MIN root —
    * attaching the larger root under the smaller keeps every component's
    * root equal to its minimum id, exactly the distributed closure's
    * min-label semantics — with path compression. Returns node -> root
    * for every touched node (roots map to themselves).
    */
  private def localMinRoots(
      edges: Array[(Long, Long)]): scala.collection.Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = scala.collection.mutable.HashMap.empty[Long, Long]
    edges.foreach { case (a, b) => out(a) = find(a); out(b) = find(b) }
    out
  }

  /** INCREMENTAL cluster-closure maintenance (round-19 verdict #1): the
    * closure family (d09/d12/d25/t34) was the only index-like family
    * still rebuilt from scratch every run — and the soak's cost wall (the
    * x64 full recompute runs ~300 s). This is its CDC pairing, the
    * d17/st13 build-once discipline applied to connected components.
    * Persisted state is two slim frames:
    *
    *   - STORED labels `(id, cluster)`: one row per ingested doc, the
    *     cluster label assigned when its batch merged — APPEND-ONLY
    *     (a batch writes its own rows once; prior rows are never
    *     rewritten);
    *   - REMAP `(cluster, root)`: stored-label values whose cluster later
    *     merged into a smaller-rooted component. Bounded by cumulative
    *     cluster MERGES — an entry exists only for a label that stopped
    *     being a root — never corpus-sized, so it broadcasts at any
    *     corpus scale.
    *
    * Effective label of id = `coalesce(remap[stored[id]], stored[id])` —
    * exactly ONE lookup deep, because [[closureMerge]] composes the remap
    * EAGERLY each batch (old entries re-root through the batch's merges),
    * so the read side never chases remap chains.
    *
    * This is one batch's state transition. Inputs: the prior state, the
    * batch's ids (globally unique, disjoint from stored — the same
    * contract the ingest-index probe enforces loudly), and the batch's
    * NEW near-dup pairs (from the d17 ingest index probe: batch x corpus
    * + batch x earlier-batch rows, occupancy-bounded — old x old pairs
    * never re-derive). Only the pairs' ENDPOINT labels and the remap are
    * touched: stored is narrow-scanned under a broadcast endpoint filter,
    * never shuffled, so per-batch cost is O(batch + pairs + remap) — FLAT
    * in corpus size, where the full recompute pays O(corpus pairs +
    * closure rounds) every run. The batch's pair graph is projected onto
    * effective labels and closed EXACTLY ([[clusters]] on the label
    * quotient graph — convergence in O(new-chain diameter) rounds; prior
    * clusters never re-walk), yielding the merge map label -> strictly
    * smaller root. Returns `(storedAppend, remap')`: the batch rows'
    * labels, and the re-rooted, merge-extended remap.
    *
    * CORRECTNESS (d09's recursive-CTE oracle pins it end to end): by
    * induction, effective labels after batch k equal the
    * min-reachable-id components of the UNION of all pairs seen through
    * batch k — the union-find argument, with the remap as the
    * path-compressed parent table. At recall-1 banding parameters the
    * per-batch incremental pairs union to exactly the one-shot pair set
    * (every pair surfaces when its later-arriving member's batch merges
    * — d17's oracle pins that equivalence), so the maintained labels
    * equal the one-shot [[clusters]] for ANY batch split (st23).
    */
  def closureMerge(
      stored: DataFrame,   // (id, cluster) — prior batches' labels
      remap: DataFrame,    // (cluster, root) — accumulated merges
      batchIds: DataFrame, // one column: the arriving batch's ids
      pairs: DataFrame,    // (idA, idB) — the batch's new pairs
      // pair rows up to which the whole merge runs driver-side (see
      // [[SmallMergeGraphMax]]); 0 pins the distributed body and its
      // label propagation (tests)
      smallGraphMax: Long = SmallMergeGraphMax
  ): (DataFrame, DataFrame) = {
    val ids = batchIds.select(col(batchIds.columns.head).as("id"))
    // materialize the pair probe ONCE (round-20 optimization): `pairs` is
    // the batch's index probe — banded candidate join + exact verify, the
    // expensive subplan — and this function consumes it through several
    // independent actions (endpoint broadcasts, the label-pair build, the
    // closure's edge checkpoint). Broadcast exchanges materialize per
    // action, so without this the probe re-executed 4-5x per micro-batch
    // (measured: st23 ran 251 Spark jobs for 3 batches). The frame is
    // pair-bounded by contract — never corpus-sized — so the checkpoint
    // is slim at any scale.
    val pairsM = pairs.localCheckpoint()
    // FULL-LOCAL fast path (round-21): every frame this merge touches
    // except `stored` is bounded by contract — pairs by the probe's
    // occupancy bound, remap by cumulative merges ("broadcasts at any
    // corpus scale", i.e. collects too). The distributed body below still
    // costs ~14 scheduler round-trips per micro-batch (three checkpoints,
    // eight broadcast builds, a count and a bounded collect) that dominate
    // ingest latency at any batch size. When the pair list is provably
    // small and every id column is a long, compute endpoint labels, the
    // quotient union-find, and the recomposed remap ON THE DRIVER — the
    // corpus-sized `stored` contributes through ONE bounded
    // broadcast-semi-filtered narrow scan, exactly as before. Anything
    // bigger (or an over-cap remap, or non-long ids) falls through to the
    // distributed body unchanged.
    // only the id-carrying columns must be long — `pairs` legitimately
    // carries extra verify columns (jaccard/hamming) the merge ignores
    val allLong = (Seq(pairsM.schema("idA"), pairsM.schema("idB")) ++
      stored.schema.fields ++ remap.schema.fields ++ ids.schema.fields)
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (allLong && smallGraphMax > 0 && pairsM.count() <= smallGraphMax) {
      closureMergeLocal(stored, remap, ids, pairsM, smallGraphMax) match {
        case Some(res) => return res
        case None      => // over-cap remap or null ids — distributed body
      }
    }
    val endpoints = pairsM.select(col("idA").as("id"))
      .unionByName(pairsM.select(col("idB").as("id"))).distinct()
    // effective labels of the pair endpoints: corpus-sized stored is only
    // ever narrow-SCANNED with a broadcast semi-filter (endpoints are
    // pair-bounded); a batch endpoint has no stored row yet -> label = id
    val endpointStored = stored
      .join(broadcast(endpoints), Seq("id"), "left_semi")
    // endpoint-bounded; checkpointed so the corpus-sized stored scan above
    // runs once, not once per consumer below
    val eff = endpoints
      .join(broadcast(endpointStored), Seq("id"), "left")
      .join(broadcast(remap), Seq("cluster"), "left")
      .select(col("id"),
        coalesce(col("root"), col("cluster"), col("id")).as("eff"))
      .localCheckpoint()
    // the batch's pair graph in label space (self-loops dropped), closed
    // exactly by the house closure over the QUOTIENT graph — nodes are
    // labels, so prior cluster interiors never re-walk. Checkpointed:
    // consumed by the closure's edges AND labelNodes (2x each).
    val labelPairs = pairsM.select("idA", "idB")
      .join(broadcast(eff.select(col("id").as("idA"), col("eff").as("__la"))),
        Seq("idA"))
      .join(broadcast(eff.select(col("id").as("idB"), col("eff").as("__lb"))),
        Seq("idB"))
      .where(col("__la") =!= col("__lb"))
      .select(least(col("__la"), col("__lb")).as("idA"),
        greatest(col("__la"), col("__lb")).as("idB"))
      .distinct()
      .localCheckpoint()
    val labelNodes = labelPairs.select(col("idA").as("id"))
      .unionByName(labelPairs.select(col("idB").as("id"))).distinct()
    // (label, root) for every label whose root CHANGED this batch —
    // bounded by the batch's merges. [[clusters]] closes the quotient graph
    // under the same cap: a small graph runs its driver union-find, a
    // bigger one (or smallGraphMax = 0) the distributed label propagation.
    val merges = clusters(labelNodes, "id", labelPairs, smallGraphMax = smallGraphMax)
      .where(col("id") =!= col("cluster"))
      .select(col("id").as("__ml"), col("cluster").as("__mr"))
      // referenced three times below (remap compose, new entries, batch
      // labels)
      .localCheckpoint()
    // compose EAGERLY: old entries re-root through this batch's merges;
    // merged PRIOR roots gain their own entry (batch-id labels need none
    // — their stored rows are written post-merge below, and id
    // uniqueness means no prior stored row can carry a batch id as its
    // label). Identity entries cannot arise: a merge's root is strictly
    // below its label, and composed entries keep pointing strictly down.
    val mergesPrior = merges
      .join(broadcast(ids.withColumnRenamed("id", "__ml")), Seq("__ml"), "left_anti")
    val remapOut = remap
      .join(broadcast(merges), col("root") === col("__ml"), "left")
      .select(col("cluster"), coalesce(col("__mr"), col("root")).as("root"))
      .unionByName(
        mergesPrior.select(col("__ml").as("cluster"), col("__mr").as("root")))
    val storedAppend = ids
      .join(broadcast(merges.withColumnRenamed("__ml", "id")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__mr"), col("id")).as("cluster"))
    (storedAppend, remapOut)
  }

  /** [[closureMerge]]'s driver-side body (round-21). Exact mirror of the
    * distributed semantics, argued piece by piece:
    *   - effective label of an endpoint = coalesce(remap[stored[id]],
    *     stored[id], id) — computed from ONE broadcast-semi-filtered
    *     narrow scan of `stored` (endpoint-bounded collect) plus the
    *     collected remap;
    *   - label pairs = endpoint pairs projected onto effective labels,
    *     self-loops dropped, oriented, distinct — then the same min-root
    *     union-find [[localMinRoots]] that [[clusters]]' driver fast path
    *     uses;
    *   - merge-map keys are prior roots or batch ids, and the two sets
    *     are DISJOINT (id uniqueness: no prior stored row carries a batch
    *     id as its label), so "merges of prior roots gain their own remap
    *     entry" is a local membership test against the prior-label set —
    *     no anti-join against the batch needed;
    *   - old remap entries re-root through the batch's merges (the eager
    *     composition), so the read side stays one lookup deep.
    * Returns None — caller falls back to the distributed body — when the
    * remap exceeds the cap (collect stays bounded) or any collected id is
    * NULL. The returned remap is a LOCAL relation; storedAppend stays a
    * distributed frame over the (batch-sized) ids.
    */
  private def closureMergeLocal(stored: DataFrame, remap: DataFrame,
      ids: DataFrame, pairsM: DataFrame,
      smallGraphMax: Long): Option[(DataFrame, DataFrame)] = {
    val spark = stored.sparkSession
    val pairRows = pairsM.select(col("idA"), col("idB")).collect()
    if (pairRows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val pairL = pairRows.map(r => (r.getLong(0), r.getLong(1)))
    val remapRows = remap.limit(
      math.min(smallGraphMax + 1, Int.MaxValue.toLong).toInt).collect()
    if (remapRows.length > smallGraphMax ||
        remapRows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val remapMap = remapRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val endpoints = pairL.iterator.flatMap(p => Iterator(p._1, p._2))
      .toArray.distinct
    // the ONLY touch of corpus-sized stored: narrow scan, broadcast
    // semi-filtered to the (pair-bounded) endpoint set — same shape and
    // cost as the distributed body's endpointStored
    val epDf = spark.createDataFrame(endpoints.toSeq.map(Tuple1(_)))
      .toDF("id")
    val storedMap = stored.join(broadcast(epDf), Seq("id"), "left_semi")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def eff(x: Long): Long = storedMap.get(x) match {
      case Some(c) => remapMap.getOrElse(c, c)
      case None    => x
    }
    val labelPairs = pairL.iterator
      .map { case (a, b) => (eff(a), eff(b)) }
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toArray.distinct
    val merges = localMinRoots(labelPairs).filter { case (x, r) => r != x }
    // prior labels = effective labels of endpoints WITH a stored row;
    // merge keys outside that set are batch-id labels (disjointness above)
    val priorLabels = storedMap.iterator
      .map { case (_, c) => remapMap.getOrElse(c, c) }.toSet
    val remapOut =
      remapRows.map(r => (r.getLong(0), {
        val root = r.getLong(1); merges.getOrElse(root, root)
      })) ++
      merges.iterator.filter { case (l, _) => priorLabels(l) }
    val remapDf = spark.createDataFrame(remapOut.toSeq)
      .toDF("cluster", "root")
    val mergesDf = spark.createDataFrame(merges.toSeq).toDF("id", "__mr")
    val storedAppend = ids
      .join(broadcast(mergesDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("__mr"), col("id")).as("cluster"))
    Some((storedAppend, remapDf))
  }

  /** The maintained closure's READ side: effective labels for every
    * stored id — one broadcast left join of the corpus-sized (but slim,
    * two-column) stored frame against the merge-bounded remap, one
    * lookup deep by [[closureMerge]]'s eager composition. Output equals
    * the one-shot [[clusters]] over the union of all merged pair sets.
    * Materializing this with an empty remap IS the compaction analog
    * (fold the remap into stored) — run it when the remap approaches the
    * broadcast threshold, the same amortized discipline as
    * [[graft.operators.Bm25Index.compact]].
    */
  def closureLabels(stored: DataFrame, remap: DataFrame): DataFrame =
    stored.join(broadcast(remap), Seq("cluster"), "left")
      .select(col("id"), coalesce(col("root"), col("cluster")).as("cluster"))

  /** Slim (id, wh) window hashes on the contamination grid — the shared
    * primitive of [[substringContamination]] and [[crossContamination]].
    * Windows of 64 chars start at 0, 32, 64... while a full window fits;
    * short docs get one (truncated) window so every doc is represented.
    * Empty/null window content hashes to NULL, never md5('') — two
    * contentless docs share NOTHING. All codegen'd (sequence/substring/md5),
    * no HOF lambdas.
    */
  private def windowHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    windowHashesWithPos(docs, idCol, textCol).select("id", "wh")

  /** Exact-substring contamination signal (the "deduplicating training data"
    * window-hash technique): hash fixed-size character windows of every
    * document on a stride grid; a window whose hash occurs in MORE THAN ONE
    * document marks repeated long-form content (boilerplate, licenses,
    * copied passages) that n-gram Jaccard's whole-document view dilutes.
    *
    * Returns (id, n_windows, n_shared) — per-doc window count and how many
    * of its windows also appear elsewhere.
    *
    * Scale shape: explode to slim (id, window-hash) rows — all codegen'd
    * (sequence/substring/md5), no HOF lambdas — read ONCE, then exactly two
    * shuffles: a window partitioned on the hash marks each row shared when
    * `min(id) != max(id)` over its hash group (never a pair join, so a
    * window shared by 100k docs costs O(100k) rows, not O(100k^2) pairs),
    * and a groupBy(id) folds the flags into per-doc counts.
    */
  def substringContamination(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val windows = windowHashes(docs, idCol, textCol)
    val byHash = Window.partitionBy(col("wh"))
    windows
      .withColumn("__shared", col("wh").isNotNull &&
        min(col("id")).over(byHash) =!= max(col("id")).over(byHash))
      .groupBy("id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__shared"), 1L).otherwise(0L)).as("n_shared"))
      .select(col("id"), col("n_windows"), col("n_shared"))
  }

  /** Sub-document exact-span dedup, first-occurrence-wins — the corpus
    * REWRITE counterpart of [[substringContamination]]'s detection signal
    * (the exact-substring deduplication of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", approximated on a fixed
    * non-overlapping character grid; the reference engine has no analog —
    * this is pipeline-extension surface). Each document is cut into
    * consecutive `spanChars`-character spans (last span = remainder; the
    * grid tiles the text exactly, so an untouched doc reassembles
    * byte-identical). A span whose exact content occurs EARLIER in the
    * corpus — earlier = smaller (id, span_idx), across documents or within
    * one — is removed; survivors reassemble in span order. Documents left
    * with no surviving span (exact full duplicates, empty/NULL text) drop.
    *
    * Output: (id, n_spans, n_kept, text) — text is the rewritten document.
    *
    * Scale shape: a non-overlapping explode (rows ~= bytes/spanChars,
    * payload ~= input bytes — linear), then exactly two shuffles: a window
    * over the span fingerprint ranks occurrences by (id, span_idx) — never
    * a pair join, so boilerplate repeated 100k times costs O(100k) rows in
    * one linear-scan group, the same accepted skew shape as
    * [[substringContamination]] — and a groupBy(id) reassembles survivors.
    * Winner selection keys on md5(span) (128 bits, the d01/d10 fingerprint
    * convention; a collision needs ~2^64 distinct spans).
    *
    * Precondition: `idCol` values must be UNIQUE — winner ranking and the
    * reassembly groupBy both key on the id, so two documents sharing an id
    * would silently interleave into one corrupted text (the same contract
    * the ingest-index append enforces with its duplicate-id guard; callers
    * ingesting untrusted ids should dedupe ids first).
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanChars: Int = 100): DataFrame = {
    require(spanChars > 0, s"spanChars must be positive (got $spanChars)")
    val nSpans = ceil(length(col(textCol)).cast("double") / spanChars).cast("int")
    val spans = docs
      .select(col(idCol).as("id"), col(textCol).as("__t"), nSpans.as("__ns"))
      .where(col("__ns") > 0) // empty/NULL text: no spans, doc drops
      .select(col("id"), col("__ns"), col("__t"),
        posexplode(sequence(lit(0), col("__ns") - 1)))
      .select(col("id"), col("__ns"), col("pos").as("span_idx"),
        expr(s"substring(__t, pos * $spanChars + 1, $spanChars)").as("span"))
    firstSpanWins(spans)
  }

  /** Shared rewrite tail of [[spanDedup]] / [[cdcSpanDedup]]: over
    * (id, __ns, span_idx, span) rows, the FIRST occurrence of each exact
    * span content — first = smallest (id, span_idx) — wins; survivors
    * reassemble in span order; documents with no surviving span drop.
    * Exactly two shuffles, and the `row_number() = 1` filter triggers
    * Catalyst's rank-limit pushdown (a map-side WindowGroupLimit ships <=1
    * row per fingerprint per partition into the window shuffle, so a hot
    * boilerplate span can't skew a task).
    *
    * `minSpan > 0` exempts spans shorter than that many chars from dedup
    * (the min-match-length rule of Lee et al. 2022, §4: matching tiny
    * strings is coincidence, not duplication — without it a 1-char CDC
    * chunk like "e" would "duplicate" across unrelated documents and
    * corrupt them). Implemented by giving short spans a per-row-unique
    * fingerprint rather than a CASE over the rank, so the filter stays a
    * bare `row_number() = 1` and the map-side pushdown is preserved.
    */
  private def firstSpanWins(spans: DataFrame, minSpan: Int = 0): DataFrame = {
    val fp =
      if (minSpan <= 0) md5(col("span").cast("binary")).cast("string")
      else when(length(col("span")) >= minSpan,
          md5(col("span").cast("binary")).cast("string"))
        .otherwise(concat(lit("#"), col("id").cast("string"),
          lit(":"), col("span_idx").cast("string")))
    val byFp = Window.partitionBy(fp)
      .orderBy(col("id"), col("span_idx"))
    spans
      .withColumn("__rk", row_number().over(byFp))
      .where(col("__rk") === 1)
      .groupBy(col("id"))
      .agg(
        first(col("__ns")).cast("long").as("n_spans"),
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("span_idx"), col("span")))),
          x => x.getField("span")), "").as("text"))
      .select(col("id"), col("n_spans"), col("n_kept"), col("text"))
  }

  /** Alignment-robust sub-document exact-span dedup — [[spanDedup]] with
    * CONTENT-DEFINED span boundaries ([[graft.expressions.CdcSpans]], the
    * LBFS/rsync rolling-hash chunking) instead of a fixed character grid.
    * The grid variant's documented miss window — a duplicate span that
    * starts off the 100-char grid is invisible, and real boilerplate has
    * arbitrary prefixes — disappears: chunk boundaries depend only on the
    * content under a `window`-codepoint rolling hash, so a duplicated
    * region re-synchronizes to identical spans within one hash window of
    * its start regardless of what offset it occupies in each document.
    * Residual (inherent to CDC, documented not hidden): the one chunk
    * STRADDLING the duplicate region's start mixes unique prefix with
    * duplicate content and survives; everything past the first boundary
    * inside the region dedupes. Measured (round 15, spec "d20 straddle
    * residual"): 103 surviving chars per duplicate occurrence of a
    * 1200-char region, IDENTICAL across 20 different prefix offsets —
    * the rolling hash forgets the prefix after `window` codepoints, so
    * the residual is a constant of the region content near one expected
    * chunk (divisor) long, not a function of alignment. A two-sided trim
    * would buy back ~divisor chars per occurrence at the cost of a second
    * pass; at divisor=64 over 64-char-plus regions that's under half a
    * chunk of the region — not worth the pass.
    *
    * Same contract as [[spanDedup]]: first occurrence by (id, span_idx)
    * wins, survivors reassemble in order, fully-deduped / empty / NULL
    * docs drop, ids must be unique. Output (id, n_spans, n_kept, text).
    * Expected span length ~= `divisor` codepoints. Spans shorter than
    * `minSpan` chars never dedupe (Lee et al.'s min-match-length rule —
    * CDC occasionally emits tiny chunks, and tiny exact matches across
    * unrelated documents are coincidence, not duplication).
    *
    * Scale shape: the chunker is one narrow O(len) pass per document (a
    * Generator — no per-char explode, no extra shuffle), then the exact
    * two-shuffle [[firstSpanWins]] tail with its map-side rank-limit
    * pushdown. Linear in corpus bytes, skew-immune at the fingerprint
    * window, never a pair join.
    */
  def cdcSpanDedup(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 8, base: Int = 257, modulus: Int = 1048573,
      divisor: Int = 64, minSpan: Int = 20): DataFrame = {
    val chunks = graft.functions.TextFunctions.cdcSpans(
      col(textCol), window, base, modulus, divisor)
    val spans = docs
      .select(col(idCol).as("id"), chunks)
      .select(col("id"), col("n_spans").as("__ns"), col("span_idx"), col("span"))
    firstSpanWins(spans, minSpan)
  }

  /** Contamination SPAN INVENTORY — the artifact an excision pass applies:
    * for each train doc, the MERGED character ranges covered by stride-grid
    * windows whose hash occurs anywhere in the eval/benchmark set.
    * [[crossContamination]] answers "is this doc contaminated"; this
    * answers "which characters" — the published remediation when the
    * leaked passage is a fraction of an otherwise-good document is to
    * excise the span, not drop the doc.
    *
    * Returns (id, span_idx, span_start, span_end) — 0-based char offsets,
    * end exclusive, clamped to the doc length. OVERLAPPING AND ADJACENT
    * hit windows merge (two hits whose covered characters touch form one
    * contiguous excision region — the artifact's contract); only a real
    * uncovered character gap splits spans.
    *
    * Scale shape: eval reduces to a DISTINCT window-hash set (slim,
    * broadcast-or-hash equi-join — never a pair join), hit positions merge
    * via the gaps-and-islands window (lag + running flag-sum on the
    * per-doc position order — q56's machinery on character offsets), and
    * one groupBy((id, island)) folds each island to its span. Everything
    * is per-doc-local after the hash join.
    */
  def contaminationSpans(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val evalHashes = windowHashes(eval, idCol, textCol)
      .where(col("wh").isNotNull).select("wh").distinct()
    val trainLen = train.select(col(idCol).as("id"),
      length(col(textCol)).as("__len"))
    val hits = windowHashesWithPos(train, idCol, textCol)
      .join(evalHashes, Seq("wh"))
      .select(col("id"), (col("pos") * Stride).as("start"))
    val wOrd = Window.partitionBy("id").orderBy(col("start").asc)
    val islands = hits
      .withColumn("__prev", lag("start", 1).over(wOrd))
      // a new span starts when this window begins AFTER the previous
      // window's end — with stride < window, only a real gap in hits
      .withColumn("__new",
        when(col("__prev").isNull ||
          col("start") > col("__prev") + WindowChars, 1L).otherwise(0L))
      .withColumn("__island", sum("__new").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy("id", "__island")
      .agg(min("start").as("span_start"),
        (max("start") + WindowChars).as("__rawEnd"))
      .join(trainLen, Seq("id"))
      .select(col("id"),
        (col("__island") - 1).cast("int").as("span_idx"),
        col("span_start"),
        least(col("__rawEnd"), col("__len")).as("span_end"))
  }

  /** [[windowHashes]] keeping the grid index: (id, pos, wh). Same window
    * and null-content contract; shared so the two stay in lockstep.
    */
  private def windowHashesWithPos(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val n = length(col(textCol))
    val nWindows = greatest(
      (floor((n - WindowChars).cast("double") / Stride) + 1).cast("int"), lit(1))
    docs
      .select(col(idCol).as("id"), col(textCol).as("__t"), nWindows.as("__nw"))
      .select(col("id"), col("__t"), posexplode(sequence(lit(0), col("__nw") - 1)))
      .select(col("id"), col("pos"),
        when(length(expr(s"substring(__t, pos * $Stride + 1, $WindowChars)")) > 0,
          md5(expr(s"substring(__t, pos * $Stride + 1, $WindowChars)").cast("binary"))).as("wh"))
  }

  /** Cross-corpus decontamination — the train-vs-eval overlap check every
    * benchmark-hygiene pipeline runs before training: flag each EVAL doc by
    * how many of its stride-grid windows appear ANYWHERE in the train
    * corpus (verbatim inclusion of eval passages in training data is the
    * contamination that inflates benchmark scores).
    *
    * Returns (id, n_windows, n_contaminated) over the eval side.
    *
    * Scale shape: the train side reduces to a DISTINCT window-hash set
    * (slim, one column — at 100 TB this is the big side but the join is a
    * plain hash-partitioned equi-join on the hash, never a pair join), the
    * eval windows left-join against it, and a groupBy(id) folds hit flags
    * into per-doc counts. Window alignment caveat (inherent to stride
    * grids, not this operator): a verbatim inclusion is only guaranteed to
    * hit when it starts on the train grid; the grid's stride is half its
    * window, the usual production bound on the miss window.
    */
  def crossContamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val trainHashes = windowHashes(train, idCol, textCol)
      .where(col("wh").isNotNull).select("wh").distinct()
    windowHashes(eval, idCol, textCol)
      .join(trainHashes.withColumn("__hit", lit(1L)), Seq("wh"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
  }

  /** Alignment-robust train-vs-eval decontamination — [[crossContamination]]
    * with CONTENT-DEFINED windows ([[graft.expressions.CdcSpans]]) instead
    * of the stride grid. The grid variant's own documented caveat — "a
    * verbatim inclusion is only guaranteed to hit when it starts on the
    * train grid" — disappears: both sides chunk on content, so a copied
    * passage produces identical chunks in train and eval no matter what
    * offset it sits at in either document (the same re-synchronization
    * argument as [[cdcSpanDedup]], applied to detection instead of
    * rewrite). Chunks shorter than `minSpan` never count as contamination
    * (tiny exact matches are coincidence — the d20 rule).
    *
    * Returns (id, n_spans, n_contaminated) over the eval side: every CDC
    * span of the eval doc, and how many of its >=minSpan spans occur
    * verbatim anywhere in train. Empty/NULL eval docs drop (no spans).
    *
    * Scale shape: train reduces to a DISTINCT span-hash set (slim, one
    * column — the 100 TB side is scanned once and collapses to hashes),
    * eval spans left-join it on the hash (plain equi-join, never a pair
    * join), one groupBy(id) folds hit flags. Identical to
    * [[crossContamination]]'s shape with the chunker's narrow O(len) pass
    * in front of each side.
    */
  def cdcContamination(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      base: Int = 257,
      modulus: Int = 1048573,
      divisor: Int = 64,
      minSpan: Int = 20): DataFrame = {
    def spansOf(df: DataFrame) = df
      .select(col(idCol).as("id"),
        graft.functions.TextFunctions.cdcSpans(
          col(textCol), window, base, modulus, divisor))
    val trainHashes = spansOf(train)
      .where(length(col("span")) >= minSpan)
      .select(md5(col("span").cast("binary")).as("sh")).distinct()
    spansOf(eval)
      .select(col("id"),
        when(length(col("span")) >= minSpan,
          md5(col("span").cast("binary"))).as("sh"))
      .join(trainHashes.withColumn("__hit", lit(1L)), Seq("sh"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
  }

  /** Build the SERVING-side decontamination index [[crossContaminationIndexed]]
    * probes: the train corpus's DISTINCT stride-grid window hashes persisted
    * as one slim bucketed table keyed by the hash. At warehouse scale the
    * train side is the 100 TB corpus — scanned ONCE here; every later eval
    * set probes the slim table without re-reading train text (the d17
    * build-once discipline applied to d11's decontamination check). The
    * one contamination grid is baked into the table contents, and the
    * probe windows the eval side on the same grid.
    */
  def buildContaminationIndex(train: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int = 16): Unit =
    Bucketing.writeBucketed(
      windowHashes(train, idCol, textCol)
        .where(col("wh").isNotNull).select("wh").distinct(),
      table, "wh", buckets)

  /** [[crossContamination]] against a PERSISTED train index
    * ([[buildContaminationIndex]]): only the eval side is windowed and
    * hashed; the train side is one slim bucketed table scan, joined on its
    * own bucket key so the big side never reshuffles. Output is identical
    * to the inline overload by construction — same grid, same NULL-window
    * rule, same left-join hit counting — so one oracle pins both paths.
    */
  def crossContaminationIndexed(spark: SparkSession, table: String,
      eval: DataFrame, idCol: String, textCol: String): DataFrame =
    windowHashes(eval, idCol, textCol)
      .join(spark.table(table).withColumn("__hit", lit(1L)), Seq("wh"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))

  /** Overlap-FRACTION decontamination (d23) — the published scoring
    * discipline on top of [[crossContamination]]'s membership counts: a
    * per-eval-document contamination score (matched windows / total
    * windows) thresholded at `minFrac`, instead of flagging ANY shared
    * window. This is the distinction the GPT-3 appendix-C / Llama
    * contamination analyses draw: an eval doc that QUOTES one sentence
    * from the training set is usable (score near 0), a LEAKED eval doc is
    * not (score near 1) — membership alone cannot tell them apart.
    *
    * The threshold compares as an exact integer cross-multiply
    * (`n_contaminated * denom >= num * n_windows` for minFrac = num/denom)
    * so both engines decide identically; the reported fraction is one
    * double division, rounded. Output per eval doc: (id, n_windows,
    * n_contaminated, contamination_frac, flagged).
    *
    * Scale shape: identical to [[crossContamination]] — the fraction is a
    * projection on its one groupBy(id); no new shuffle.
    */
  def contaminationFraction(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      minFracNum: Int = 1,
      minFracDenom: Int = 2): DataFrame =
    crossContamination(train, eval, idCol, textCol)
      .select(col("id"), col("n_windows"), col("n_contaminated"),
        round(col("n_contaminated") / col("n_windows").cast("double"), 6)
          .as("contamination_frac"),
        (col("n_contaminated") * minFracDenom >= col("n_windows") * minFracNum)
          .as("flagged"))

  /** Snapshot-to-snapshot corpus diff — the incremental-refresh primitive:
    * a training corpus is rebuilt from crawls/drops regularly, and the
    * delta (what appeared, vanished, or changed) drives incremental
    * re-processing instead of a full re-run.
    *
    * Scale shape: both sides reduce to slim (id, fingerprint, marker)
    * projections — the TEXT never moves — then one full-outer equi-join
    * shuffle on the id. Output is only the delta rows ('added' /
    * 'removed' / 'changed'); at a typical refresh that is a small
    * fraction of either snapshot. Fingerprints compare NULL-safely, so a
    * NULL-text doc present in both snapshots is 'unchanged', not
    * 'changed'.
    */
  def corpusDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    def slim(df: DataFrame, fp: String, mark: String) = df.select(
      col(idCol).as("id"),
      md5(col(textCol).cast(org.apache.spark.sql.types.BinaryType)).as(fp),
      lit(1L).as(mark))
    slim(oldSnap, "fp_old", "in_old")
      .join(slim(newSnap, "fp_new", "in_new"), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("fp_old") <=> col("fp_new")), "changed")
          .otherwise("unchanged").as("status"))
      .where(col("status") =!= "unchanged")
  }

  /** CDC-style snapshot merge — the rolling-corpus maintenance primitive
    * that pairs with [[corpusDiff]]: apply a delta batch of upserts and
    * tombstones to a snapshot, by key, in ONE equi-join pass.
    *
    * `delta` carries an `opCol` with values "upsert" (insert-or-replace
    * the row) or "delete" (tombstone — the key disappears). Result =
    * snapshot rows whose key is untouched by the delta, plus the delta's
    * upsert rows (delta always wins on key collision — last-writer-wins,
    * the deterministic CDC resolution).
    *
    * Scale shape: one `left_anti` equi-join on the key (the delta side is
    * a batch — typically small enough that AQE broadcasts it; at worst one
    * slim key shuffle) + a union. No window, no pair join, no full-corpus
    * rewrite beyond what any snapshot update pays. Duplicate keys WITHIN
    * the delta are rejected loudly: silently picking one would make the
    * merge order-dependent.
    */
  def mergeSnapshot(snapshot: DataFrame, delta: DataFrame,
      idCol: String, opCol: String = "op"): DataFrame = {
    require(delta.columns.contains(opCol),
      s"mergeSnapshot: delta has no '$opCol' column")
    // typed op columns (int CDC codes etc.) would make every comparison
    // below null-out and the whole batch silently mass-delete — refuse the
    // TYPE up front, not just unexpected values
    require(delta.schema(opCol).dataType == org.apache.spark.sql.types.StringType,
      s"mergeSnapshot: '$opCol' must be a string column ('upsert'/'delete'), " +
        s"got ${delta.schema(opCol).dataType.simpleString}")
    // ONE validation pass: duplicate keys (order-dependent merge),
    // unrecognized ops, and NULL KEYS are all rejected loudly — an op like
    // "UPSERT" or null would otherwise anti-join its key out of the
    // snapshot but never re-insert it, i.e. silently DELETE under a typo;
    // a null-key row slips through BOTH merge legs (groupBy puts it in its
    // own group, and null never equi-joins), so a null-key upsert would be
    // appended as a junk snapshot row and a null-key delete would be a
    // silent no-op
    val bad = delta.groupBy(col(idCol)).agg(count(lit(1)).as("n"),
        max(when(!col(opCol).isin("upsert", "delete"), col(opCol))).as("badop"),
        max(when(col(opCol).isNull, lit("NULL"))).as("nullop"))
      .where(col("n") > 1 || col("badop").isNotNull || col("nullop").isNotNull ||
        col(idCol).isNull)
      .limit(1).collect()
    bad.headOption.foreach { r =>
      if (r.get(0) == null) throw new IllegalArgumentException(
        s"mergeSnapshot: delta carries a NULL '$idCol' key — null never " +
          "matches in the merge join, so its upsert would append a junk row " +
          "and its delete would be a silent no-op; fix the key upstream")
      else if (r.getLong(1) > 1) throw new IllegalArgumentException(
        s"mergeSnapshot: delta carries duplicate key ${r.get(0)} — " +
          "a multi-writer batch must be reduced to one row per key first")
      else throw new IllegalArgumentException(
        s"mergeSnapshot: delta key ${r.get(0)} carries unrecognized op " +
          s"'${Option(r.get(2)).getOrElse(r.get(3))}' (expected 'upsert' or 'delete')")
    }
    val untouched = snapshot.join(delta.select(col(idCol)), Seq(idCol), "left_anti")
    val upserts = delta.where(col(opCol) === "upsert").drop(opCol)
    untouched.unionByName(upserts)
  }

  /** Cap pathological buckets: drop groups larger than `maxBucketSize`
    * (a bucket that large means a degenerate signature — e.g. empty text —
    * and contributes O(size^2) pairs of near-zero value). Keeps the
    * candidate-pair stage bounded under skew at scale.
    */
  private def capBuckets(df: DataFrame, keys: Seq[String], maxBucketSize: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__bucket_n", count(lit(1)).over(w))
      .where(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
  }

  /** Distinct candidate pairs (idA < idB) from slim (id, keys...) bucket
    * rows: cap skewed buckets, self-join within bucket, dedupe pairs.
    * Shuffles only ids+keys — payloads rejoin later via [[attach]].
    */
  private def pairCandidates(banded: DataFrame, keys: Seq[String], maxBucketSize: Int): DataFrame = {
    val capped = capBuckets(banded, keys, maxBucketSize)
    val a = capped.toDF(capped.columns.map(c => if (c == "id") "idA" else c).toIndexedSeq: _*)
    val b = capped.toDF(capped.columns.map(c => if (c == "id") "idB" else c).toIndexedSeq: _*)
    a.join(b, keys)
      .where(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
  }

  /** Re-attach a payload column to both sides of a candidate-pair table:
    * pairs (idA,idB) x payload(id, col) -> (idA, idB, colA, colB).
    */
  private def attach(pairs: DataFrame, payload: DataFrame, c: String): DataFrame =
    pairs
      .join(payload.select(col("id").as("idA"), col(c).as(s"${c}A")), Seq("idA"))
      .join(payload.select(col("id").as("idB"), col(c).as(s"${c}B")), Seq("idB"))
}
