package graft

import graft.util.{IoCanary, Recorder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof soak for the dedup/ANN family: runs the banded/bucketed
  * queries (d03 minhash, d05 jaccard, d06 embedding near-dup, d09 cluster
  * closure, d10 contamination, s05 bucketed IVF) on 1x/4x/16x replicas of
  * the base corpus and reports wall time, output rows, and d09's round
  * count per scale. Near-linear time vs input for the banded paths is the
  * empirical half of the 100 TB claims (the design half is the plan-shape
  * audit in VERDICT/PLANS.md).
  *
  * Replication must NOT create cross-replica near-duplicates: identical
  * copies would form 2R-member cliques whose pair output grows as R^2 —
  * measuring quadratic OUTPUT, not operator scaling. So each replica is
  * made self-similar only:
  *   - documents: every token is salted with the replica id (`tok_rN`) —
  *     replicas share zero shingles, so all minhash/jaccard/contamination
  *     pairs stay within a replica;
  *   - embeddings: each dimension is scaled by a hash-driven factor
  *     (1 + 0.4*(hash(vec_id, r, i)-derived uniform - 0.5)) — a DIRECTION
  *     change (cosine vs the original ~0.987, and ~0.987 between any two
  *     replicas of the same vector, safely below the 0.999 near-dup
  *     threshold), unlike a scalar multiple which would keep cosine at
  *     exactly 1. The factor must be hash-driven, not a per-replica
  *     analytic function: the first soak used 1 + 0.2*sin(31r + i), and
  *     31 mod 2pi = -0.416 means replicas 15 apart differ in phase by only
  *     0.043 rad — near-identical perturbations, cosine > 0.999, and every
  *     base vector paired across ~55 of the x64 replica pairs (1.1M bogus
  *     rows, the 616x rows_ratio in the first x64 run).
  * Ids are offset by replica * 10^7 (the in-query planted mutations use
  * +10^6, so replica id ranges cannot collide with mutation ids — enforced
  * by a require on the base corpus's max id in [[replicate]]).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<base sf dir> runMain graft.ScaleSoak
  * Prints one line per (query, scale) plus a final summary table.
  */
object ScaleSoak {

  private val SoakQueries =
    Seq("d03_minhash_pairs", "d04_simhash_pairs", "d05_ngram_jaccard_pairs",
      "d06_embed_near_dup", "d09_dedup_clusters", "d10_substring_contamination",
      "s05_knn_ivf_bucketed",
      // round-9 additions: the planted full-oracle ANN paths (candidate
      // cost must grow linearly with the corpus while output stays 50
      // rows) and the UDAF top-k (scoring rows grow linearly; the partial
      // agg keeps the group shuffle at <=k pairs per group per partition)
      "s06_knn_lsh_planted", "s07_knn_ivf_planted", "s08_knn_topk_udaf",
      // streaming legs: st01 exercises windowed aggregation over 64x the
      // events (same hour windows -> output rows constant), st04 exercises
      // unbounded dedup state at 64x the key cardinality (user ids are
      // replica-offset, so distinct keys scale with the corpus), st07
      // exercises transformWithState's RocksDB store at scaled key counts
      "st01_streaming_hourly", "st04_streaming_dedup",
      "st07_transform_with_state",
      // round-9 second batch: t16's (doc,token) shuffle + token window must
      // scale linearly (replica-suffixed tokens grow the vocab with the
      // corpus); s09's output must stay labels x dim at any corpus size;
      // st10's session-window state scales with replica-offset user ids
      "t16_tfidf", "s09_embed_centroids", "st10_streaming_session",
      // d11's train-hash-set join must stay a slim equi-join: output rows
      // scale with the eval side, never quadratically
      "d11_cross_contamination",
      // round-9 third batch: t17's line-hash window state is O(distinct
      // lines) and its planted-footer doc count scales with the corpus
      // (replica ids keep parity — the stride is even); p13 measures
      // compaction throughput: 16 parts of an Nx tree rewritten in place,
      // rows verified pre-swap at every scale
      "t17_boilerplate", "p13_compaction",
      // d13's full-outer fingerprint join: delta output must scale with
      // the planted mutation rate, never with pair counts
      "d13_corpus_diff",
      // s11's coarse stage scans the whole (replicated) corpus but its
      // re-rank set stays 100/query — output pinned at 50 at any scale;
      // d14 stresses the LSH-pairs + closure chain end to end
      "s11_two_stage_knn", "d14_semantic_curation",
      // m04's frame window shares t17's shape but explodes ~5x more rows
      // per doc (one per 64-byte frame)
      "m04_frame_dedup",
      // round-10 additions: s12's serve path (first soak invocation pays
      // the per-fixture index build, so the leg measures build+probe like
      // s05 — probe cost alone is nprobe*occupancy and the output stays
      // 50 rows); s13's ADC coarse scan is one narrow pass over the codes
      // table (linear) with the re-rank set pinned at 100/query; d15's
      // merge is one left_anti key join (output scales with the corpus,
      // never with pairs); t19's profile is one Expand+shuffle whose
      // output stays 5 rows at any corpus
      "s12_knn_ivf_serve", "s13_knn_pq_adc", "d15_corpus_merge", "t19_profile",
      // st11 replays the merge as foreachBatch micro-batches: per-batch
      // cost = d15's plan + the snapshot rewrite, both linear in the corpus
      "st11_streaming_merge",
      // t20 is one TextStatsExpr walk per doc — pure narrow pass
      "t20_gopher_filter",
      // round-11 additions: p15 is the layout-write leg (z-order quantile
      // pass + clustered write + footer audit — cost must stay linear in
      // rows; its row-group gate self-adjusts via nRows/24); s14's serve
      // wall is probe-only after the first build (flat expected, like
      // s12); d16 measures index maintenance: frozen-model delta encode +
      // one left_anti merge + bucketed rewrite, linear in the index
      "p15_zorder_skipping", "s14_knn_ivfpq_serve", "d16_ann_index_cdc",
      // t21 is t19's sketch pass: same Expand-free shape, output 5 rows
      "t21_profile_approx",
      // st12 replays d16's maintenance as two foreachBatch versions:
      // per-batch cost = frozen-model encode + merge + bucketed rewrite
      "st12_ann_index_stream",
      // s15 = s14's probe plus an attribute pre-filter INSIDE the pruned
      // scan — wall should track s14's (the filter only shrinks the scan)
      "s15_knn_ivfpq_filtered",
      // d17's candidate join is batch x occupancy — replicas grow BOTH
      // sides here, so the leg should track the banded-pairs family
      // (linear), with old x old structurally absent from the plan
      "d17_incremental_dedup",
      // t22 is one narrow filter pass; output scales with kept rows
      "t22_mixture_sample",
      // round-12 additions (round-11 verdict #3): the recall-gated ANN
      // legs run at soak scale too — their in-query requireRecall gate
      // (>= 0.9 vs the exact ranking) now fires at x16 density, and the
      // measured recall lands in the CSV's recall_min column. LSH/IVF
      // recall drifts with corpus density; sf0.1-only gating left that
      // unmeasured ("s05" was already here; s02/s03 join it).
      "s02_knn_lsh", "s03_knn_ivf",
      // s16's within-cell self-join is the matrix's only deliberate
      // quadratic — the leg proves the cell bound holds as n grows
      // (nlist ~ sqrt(n), so expected cell work stays O(n)); output must
      // track survivors linearly, never pairs
      "s16_semantic_dedup",
      // round-13 addition (round-12 verdict #3): the streaming ingest loop.
      // The leg wall mixes the one-off index build (linear in corpus) with
      // the two micro-batches, so the per-batch claim — probe cost
      // occupancy-bounded, append O(admitted) — lands in the dedicated
      // ingest_batch_sec_max column (replicas grow batch AND corpus
      // together, so per-batch wall scaling ~linearly with replicas is the
      // pass signal; corpus-sized probes would scale quadratically)
      "st13_streaming_ingest_dedup",
      // round-13 addition: sub-document exact-span dedup. Replica salting
      // makes spans replica-unique, so output rows must scale linearly
      // with replicas; the leg exercises the window-over-fingerprint
      // shuffle (the operator's only wide stage besides the reassembly
      // groupBy) at growing key cardinality
      "d18_span_dedup",
      // round-13 addition: d11 through the persisted hash index. Each soak
      // scale is a fresh fixture, so the FIRST timed run pays the index
      // build (linear in corpus) and min-of-2 discards it — the recorded
      // wall is the PROBE, which must stay flat-to-d11 as eval scales and
      // never re-scan train text (plan-gate spec); measured x64: 0.38 s
      // indexed vs 0.54 s inline
      "d19_decontamination_index",
      // round-13 addition: state introspection. event_type cardinality is
      // CONSTANT (5 keys) at every scale, so state_rows must stay flat
      // while the consumed events scale — the leg separates streaming
      // fixed overhead (flat) from per-row aggregation work (linear) and
      // would catch a state-source read that scales with corpus size
      "st14_state_introspection",
      // round-14 addition: content-defined span dedup — d18's shape (two
      // shuffles, window over span fingerprint, never a pair join) with
      // the chunker's O(len) narrow pass in front; same linearity
      // expectation as d18 (replica salting keeps spans replica-unique)
      "d20_cdc_span_dedup",
      // round-14 addition: the linear quality scorer — one narrow codegen
      // pass, wall should track the scan (the matrix's cheapest text leg)
      "t23_quality_model",
      // round-14 addition: streaming decontamination. The leg scales eval
      // AND train together; the per-batch claim (probe flat in TRAIN size)
      // lands in ingest_batch_sec_max via the fixed-eval block below
      "st15_streaming_decontamination",
      // round-14 addition: CDC decontamination — crossContamination's
      // distinct-set/equi-join shape with the chunker in front of both
      // sides; wall should track d11's leg
      "d21_cdc_contamination",
      // round-14 addition: one-pass char-distribution profiling — with
      // t23, the matrix's pure narrow-scan floor
      "t24_char_distribution",
      // round-14 addition: perceptual near-dup. PNG encode+decode is the
      // linear cost; the PAIR OUTPUT is O(cluster^2) BY CONTRACT, and the
      // salted replicas form real within-replica perceptual clusters (the
      // uniform _rN token suffixes create periodic byte structure that
      // converges under 8x8 block averaging; measured: a salted copy sits
      // ~32 bits from its base, so cross-replica pairs of the same doc do
      // NOT form — the x64 blowup is within-replica cluster pairs, each
      // genuinely hamming<=4 and bounded per bucket by capBuckets). The
      // leg documents the quadratic pair regime; m06 below is the linear
      // production shape
      "m05_perceptual_dedup",
      // round-14 addition: m05's pairs closed into components — output
      // LINEAR in images (one label per image) regardless of how clustered
      // the pair graph is; wall is pair generation + O(diameter) label
      // rounds
      "m06_perceptual_clusters",
      // round-14 addition: Gopher repetition filters — one
      // RepetitionStatsExpr pass per row (per-doc hash maps, no explode),
      // wall should track the narrow-scan floor with t23/t24
      "t25_repetition_filter",
      // round-15 additions: t26 is a LangIdExpr pass over base + planted
      // unions (narrow, no shuffle beyond the sort skip); t27 is one
      // TokenCountExpr pass + t09's per-lang window (one shuffle at
      // growing lang-partition sizes); d22 is the URL-normalization
      // string pass + rank-limit window + broadcast anti join. d22's
      // replicas deliberately COLLIDE cross-replica (sources are not
      // salted and 1e7 % 500 = 0, so every replica of a base doc maps to
      // the same url_norm): survivor groups grow linearly with replicas
      // while output rows stay ~flat — exactly the mega-group regime the
      // map-side WindowGroupLimit must absorb (<=1 row per key per
      // partition into the shuffle)
      "t26_language_id", "t27_token_packing", "d22_url_dedup",
      // round-15: the composite funnel — three expression walks + the
      // blocklist CASE in one projection; wall should track the t23/t25
      // narrow-scan legs it composes
      "t28_curation_funnel",
      // round-15: the funnel at ingest — per-batch cost is the batch's
      // row-local decision + the parquet write; no corpus-wide state, so
      // the wall scales with the arriving data only. Since round 16 the
      // recorded wall EXCLUDES fixture staging (IngestLoop.land's
      // single-task writes of the whole scaled corpus — recorded and
      // subtracted, see StagedCorpusLegs), so the leg ratio reflects the
      // funnel's own cost
      "st16_streaming_curation",
      // round-16: token packing at ingest — the first genuinely
      // CROSS-BATCH-stateful leg (per-lang running totals on RocksDB,
      // query restarted between batches). State is O(langs) longs, so the
      // wall must scale with arriving rows only; same staging exclusion
      // as st16 (both batches together are the whole corpus). The
      // per-batch walls in ingest_batch_sec_max are the evidence that
      // per-batch packing cost is sized by the batch, not the corpus
      "st17_streaming_packing",
      // round-16: t29 is one NgramLmExpr pass (narrow, no shuffle — must
      // track the t23/t24 scan floor); t30 adds the regex/HOF candidate
      // validation on top of a narrow scan; d23 is d11's shape + a
      // projection (fraction) — the window join dominates; d24 is two
      // one-pass profile aggs at any corpus size (wall ~flat in rows is
      // the claim); m07 decodes 5 payload variants per 50th doc — linear
      // in its own (small) row count
      "t29_lm_perplexity", "t30_pii_luhn", "d23_contamination_fraction",
      "d24_profile_drift", "m07_media_robustness",
      // round-16 second batch: d25 is d12's closure + ONE rank-limit
      // window + a size count on the same cluster key — replica-salted
      // text keeps each mutation family replica-local (3 members), so
      // clusters and output scale linearly, never with pairs; t31 is
      // per-row integer hashing + one per-(epoch,shard) sort (output =
      // 2x corpus rows — the cheapest shuffle leg); s17's candidate pass
      // is s11's broadcast-queries corpus scan (linear) and everything
      // after is bounded by queries*m — output pinned at 50 rows at any
      // scale; st18 profiles each micro-batch into O(cols) rows — the
      // per-batch wall tracks the batch scan, and the whole corpus is
      // staged (excluded from the wall like st16/st17)
      "d25_cluster_quota", "t31_corpus_shuffle", "s17_mmr_rerank",
      "st18_streaming_profile",
      // round-16 third batch: q55 is two frame walks + an agg on ONE
      // user-partition shuffle (plan-gated) — wall tracks the event scan;
      // st19 replays it statefully (per-user ValueState, whole corpus
      // staged as two batches — staging excluded like st16-18); t32
      // composes funnel + fingerprint window + decontamination join, each
      // already soak-characterized standalone — the ledger must track
      // their sum, not multiply it
      "q55_event_funnel", "st19_streaming_funnel", "t32_disposition_ledger",
      // round-17: the rest of the user-partitioned window family joins the
      // matrix for the hot-key skew runs (SPARK_GRAFT_SOAK_SKEW=1) — q20's
      // session gaps and q56's islands both walk per-user frames, so a
      // viral user concentrates their work on one task; q57 is q55's
      // segmented two-phase form whose largest partition is capped at
      // hot/S — the wall under skew must stay within noise of uniform
      "q20_session_window", "q56_activity_islands", "q57_funnel_segmented",
      // q58 = q56's segmented recombination (interior islands roll up via
      // map-side-combined aggregation — hot-key-safe by itself; boundary
      // merge on a <= 2S-rows-per-user frame)
      "q58_islands_segmented",
      // t35 = t27's prefix sums decomposed over (lang, seg) — the
      // hot-LANG counterpart (the skew corpus's 90% lang); the carry
      // frame is langs x <=S+1 rows
      "t35_packing_segmented",
      // d26 is d11's distinct-hash equi-join + q56's island merge on the
      // hit positions — output scales with contaminated CHARS (replica
      // salting keeps eval tails replica-local), never with pairs
      "d26_contamination_spans",
      // round-17: t34 consumes d25's upweights — the same closure + quota
      // window with ONE extra per-lang aggregate on top, so its wall must
      // track d25's leg (output is O(langs) rows at any scale)
      "t34_upweighted_mixture",
      // round-17: URL admission at ingest — per-batch cost is the batch's
      // narrow normalization + one url-keyed window over (index + batch
      // best); the index is survivor-sized, so per-batch wall scales with
      // arriving data + survivors, never with pair history. Whole corpus
      // staged as two batches (staging excluded like st16-19)
      "st20_streaming_url_dedup",
      // round-18: BM25 lexical retrieval — each soak scale is a fresh
      // fixture, so the first timed run pays the build (one tokenize pass
      // + postings write, linear in corpus — the min-of-2 discards it like
      // s12/d19) and the recorded wall is the PROBE: bucket-pruned
      // postings scan + TakeOrdered, output pinned at 10 rows at any scale
      "t36_bm25_retrieval",
      // t37 = two scorers over t36's probe + the m-row fusion join — its
      // wall must track t36's (the probe dominates; the fusion is 20 rows)
      "t37_hybrid_rrf",
      // t38 = the batch-retrieval pass (4 queries x 3 terms in one plan):
      // probe wall tracks t36's at every corpus scale (the scan is the
      // union of the term IN-list; the per-query fan-out is rank-limited
      // map-side). The query-COUNT scaling claim lands in the dedicated
      // t38_qcount sweep below
      "t38_batch_retrieval",
      // t39 = phrase search over the positional index: first timed run
      // pays the build (one tokenize pass + positional postings write,
      // min-of-2 discards it like t36); the recorded wall is the PROBE —
      // a bucket-pruned scan of the phrase terms' postings + one groupBy,
      // output scales with docs containing the phrase
      "t39_phrase_search",
      // st21 = per-batch delta tokenize + APPEND-SHAPED merge (round-18
      // verdict #1: the delta postings become an immutable segment; only
      // the vocabulary-sized df and 1-row stats merge arithmetically), so
      // per-batch cost scales with the BATCH, not the accumulated index.
      // The whole corpus is staged as two batches (staging excluded like
      // st16-20). The K=8 flatness witness is the st21_multibatch_ingest
      // block below
      "st21_streaming_bm25",
      // st22 = st21's append-shaped maintenance applied to the POSITIONAL
      // index (t39's CDC pairing): per-batch cost = delta positional
      // tokenize + segment adoption + bigram-stats arithmetic merge -
      // never O(index). Whole corpus staged as two batches (staging
      // excluded like st16-21)
      "st22_streaming_phrase",
      // round-20: closure maintenance at ingest (st23) — per-batch cost
      // is O(batch + pairs + remap): the stored label table is only
      // narrow-scanned under a broadcast endpoint filter, and the label
      // quotient closure walks new-chain diameters only. The leg derives
      // its batches from the scaled corpus, so its wall grows with the
      // data; the flat-in-corpus claim lands in the st23 fixed-batch
      // block below. Whole corpus staged as three batches (staging
      // excluded like st16-22)
      "st23_streaming_closure",
      // round-20: perceptual dedup at ingest (st24) — per-batch cost is
      // the batch's decode + an occupancy-bounded probe of the persisted
      // band index (the corpus is never re-decoded); pair output is
      // O(cluster^2) by the m05 contract but replica-local (salting)
      "st24_streaming_perceptual")

  /** Legs whose stream input is the WHOLE scaled corpus: their
    * [[graft.streaming.IngestLoop.land]] staging (single-task coalesce(1)
    * writes) is test harness, not operator cost, so the recorded staging
    * total ([[Recorder.StagingSecs]]) is subtracted from the recorded wall
    * (round-15 verdict ask #7). st13/st15 stage small derived subsets and
    * keep their historical all-in walls.
    */
  private val StagedCorpusLegs =
    Set("st16_streaming_curation", "st17_streaming_packing",
      "st18_streaming_profile", "st19_streaming_funnel",
      "st20_streaming_url_dedup", "st21_streaming_bm25",
      "st22_streaming_phrase", "st23_streaming_closure",
      "st24_streaming_perceptual")

  /** The recall-gated ANN legs — the ONLY queries the post-measurement
    * probe below may re-invoke. Everything else (the eager st legs, the
    * write-legs p13/p15, the maintenance legs) executes its whole pipeline
    * at construction, so probing them would triple their soak cost and
    * double-count their streaming batches (ADVICE round-12).
    */
  private val RecallLegs =
    Set("s02_knn_lsh", "s03_knn_ivf", "s05_knn_ivf_bucketed")

  /** SPARK_GRAFT_SOAK_SKEW=1 plants a HOT KEY in the replicated corpus
    * (round-16 verdict ask #1): ~30% of events land on ONE global user id
    * across all replicas (the viral-user regime — replica offsets normally
    * scale key cardinality, which REMOVES skew by construction) and ~90%
    * of documents land on one lang. The hot shares stay fixed while the
    * corpus scales, so the hot partition grows linearly with the corpus —
    * exactly the regime that breaks key-partitioned windows (q20/q55/q56,
    * t09/t27 packing) and per-key streaming state (st19) at 100x. Compare
    * each leg's wall at the same scale against the uniform soak: the
    * skew-vs-uniform ratio, and its growth with scale, is the incident
    * signal.
    */
  private def skewMode: Boolean =
    sys.env.get("SPARK_GRAFT_SOAK_SKEW").contains("1")

  /** The planted hot user id: above every replica-offset user range
    * (64 replicas x 10^7 + base < 10^9) so no real key collides.
    */
  private val HotUserId = 9000000000L

  private def replicate(spark: SparkSession, base: String, scale: Int,
      out: java.nio.file.Path): String = {
    val dir = out.resolve(s"x$scale")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    // replica stride (10^7) must clear base ids + the largest in-query
    // id offset (+7e6, see the require below), or replica r's planted ids
    // collide with replica r+1's base range and every pair query
    // re-expands on duplicate ids
    // the guard must cover EVERY id family the replicas offset — events'
    // event_id/user_id stride by the same 10^7 below
    val evIds = spark.read.parquet(s"$base/events.parquet")
      .agg(max("event_id"), max("user_id")).head()
    // lineitem keys stride by the same 10^7 below — at a larger base scale
    // factor (sf>=10, l_orderkey up to ~6e7) replica key domains would
    // silently overlap and p15's z-order scaling signal degrade; cover them
    // in the same guard as the doc/emb/event ids
    val liKeys = spark.read.parquet(s"$base/lineitem.parquet")
      .agg(max("l_orderkey"), max("l_partkey")).head()
    val maxId = Seq(
      docs.agg(max("doc_id")).head().getLong(0),
      emb.agg(max("vec_id")).head().getLong(0),
      evIds.getLong(0), evIds.getLong(1),
      liKeys.getLong(0), liKeys.getLong(1)).max
    // 7e6: the largest in-query id offset applied to (replica-strided)
    // fixture ids — st13's batch-2 window rows at +7e6; d20/m05/m06 plant
    // at +3e6, the d-family mutations at +1e6/+2e6. A guard below the
    // true max would bless a fixture whose replica-r planted ids land in
    // replica r+1's base range (duplicate ids -> silently corrupted span
    // reassembly, merged media identities, re-expanded pair queries).
    require(maxId + 7000000L < 10000000L,
      s"base ids reach $maxId — raise the replica stride above 10^7")
    // stricter: the SMALLEST in-query offset is +1e6, so a base id >= 1e6
    // would let one replica's +1e6-planted id collide with ANOTHER base
    // doc's id inside the same replica (cross-family intra-replica clash
    // the stride guard above can't see) — keep base ids below every offset
    require(maxId < 1000000L,
      s"base ids reach $maxId — intra-replica planted-id offsets start at 10^6")
    val docParts = (0 until scale).map { r =>
      val text =
        if (r == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_r$r"))), " ")
      docs.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }
    val docsAll = docParts.reduce(_ unionByName _)
    // hot-lang skew: 90% of docs on one lang, hash-chosen so every replica
    // contributes to the hot partition (deterministic, no RNG)
    // hot-lang skew: 90% of docs on one lang (see above) PLUS a planted
    // mid-df hot TERM (round-18 verdict #7): ~4% of docs get one shared
    // literal token appended AFTER replica salting, so its df grows with
    // the corpus while staying under selectTerms' n_docs/20 cap — the df
    // cap excludes stopword-scale tokens by construction, so without the
    // plant the retrieval probes never see a hot posting list. The BM25
    // probe must then read one term whose postings concentrate in ONE
    // bucket (the q55-style hot-partition regime, lexical edition); the
    // skew-vs-uniform wall ratio of t36/t37/st21 is the incident signal.
    // One shared token cannot create cross-replica near-dup pairs: the
    // replicas differ in every OTHER token (~32-bit simhash distance, no
    // shared shingles), so the d03-d10 salting invariants hold.
    val docsOut = if (skewMode)
      docsAll.withColumn("lang",
        when(pmod(hash(col("doc_id")), lit(10)) < 9, lit("en"))
          .otherwise(col("lang")))
        .withColumn("text",
          when(col("text").isNotNull &&
              pmod(hash(col("doc_id")), lit(25)) < 1,
            concat(col("text"), lit(" hotterm0"))).otherwise(col("text")))
    else docsAll
    docsOut
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val embParts = (0 until scale).map { r =>
      val vec =
        if (r == 0) col("embedding")
        else transform(col("embedding"),
          (x, i) => (x * (lit(1.0) + lit(0.4) *
            (pmod(hash(col("vec_id"), lit(r), i), lit(10000)).cast("double") / 10000.0 - 0.5)))
            .cast("float"))
      emb.select(
        (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }
    embParts.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
    // events: ids and users offset per replica (key cardinality scales),
    // timestamps kept (same event-time windows at every scale). The st
    // queries stream `$dir/events.parquet` as a FILE via pathGlobFilter,
    // so the replica is coalesced to one part and moved to that name.
    // (ts passes through untyped here; the st queries normalize it
    // adaptively — Q.normalizeTs — whatever the fixture vintage wrote.)
    val ev = spark.read.parquet(s"$base/events.parquet")
    val evParts = (0 until scale).map { r =>
      ev.select((col("event_id") + lit(r * 10000000L)).as("event_id"), col("ts"),
        (col("user_id") + lit(r * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    val evTmp = dir.resolve("events_parts")
    val evAll = evParts.reduce(_ unionByName _)
    // hot-user skew: ~30% of non-null-user events re-keyed to ONE global
    // id across every replica — the hot partition grows with the corpus
    val evOut = if (skewMode)
      evAll.withColumn("user_id",
        when(col("user_id").isNotNull &&
            pmod(hash(col("event_id")), lit(10)) < 3, lit(HotUserId))
          .otherwise(col("user_id")))
    else evAll
    // repartition(1), NOT coalesce(1): coalesce folds the whole 64-replica
    // read+projection into the single output task; the shuffle barrier
    // keeps the upstream parallel and serializes only the final write
    evOut.repartition(1).write.mode("overwrite").parquet(evTmp.toString)
    val part = scala.util.Using.resource(java.nio.file.Files.list(evTmp)) { s =>
      s.filter(p => p.getFileName.toString.startsWith("part-")
        && p.getFileName.toString.endsWith(".parquet")).findFirst.get
    }
    java.nio.file.Files.move(part, dir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(evTmp.toFile)
    // lineitem (p15's z-order leg): keys offset per replica so the 2-D
    // (orderkey, partkey) domain GROWS with the corpus — the layout pass
    // must keep its skipping property as the key space scales, not just
    // as rows stack into the same domain. Only p15's five columns travel.
    val li = spark.read.parquet(s"$base/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
    (0 until scale).map(r => li.select(
        (col("l_orderkey") + lit(r * 10000000L)).as("l_orderkey"),
        (col("l_partkey") + lit(r * 10000000L)).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(dir.resolve("lineitem.parquet").toString)
    dir.toString
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scales = sys.env.get("SPARK_GRAFT_SOAK_SCALES")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4, 16))
    val queryFilter = sys.env.get("SPARK_GRAFT_SOAK_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(q: String) = queryFilter.forall(_.contains(q))
    val spark = Bench.session()
    val cpus = spark.sparkContext.defaultParallelism

    val tmp = java.nio.file.Files.createTempDirectory("graft-soak")
    final case class Leg(q: String, scale: Int, sec: Double, rows: Long,
        rounds: Int, recallMin: Double, batches: Long, stateRows: Long,
        walls: Seq[Double], canaryMbps: Double) {
      def ingestBatchSecMax: Double = if (walls.isEmpty) -1.0 else walls.max
    }
    // per-leg RAW-I/O canary (round-18 verdict #6): the archived uniform
    // q55 x64 leg (11.61 s) was disk weather the CSV could not express —
    // the clean rerun (4.91 s) lived only in BENCH_NOTES prose. Probe the
    // device immediately before each leg and record the MB/s next to the
    // wall, so the CSV is self-describing; a degraded first probe gets ONE
    // immediate retry (transient flush backlogs clear in seconds) and the
    // better reading is recorded — mirroring Bench's canaryBest rule.
    val canaryMin = sys.env.getOrElse("SPARK_GRAFT_CANARY_MIN", "850").toDouble
    def canary(): Double = {
      val c1 = IoCanary.probe(tmp).mbps
      if (c1 >= canaryMin) c1 else math.max(c1, IoCanary.probe(tmp).mbps)
    }
    val results = scala.collection.mutable.ArrayBuffer.empty[Leg]
    // STREAMING ATTRIBUTION (round-11 verdict #7): the st legs' x16 ratios
    // mix micro-batch fixed cost with real state growth, and the matrix's
    // worst rows (st10 5.9x, st07 5.0x) were indistinguishable from disk
    // weather. Count micro-batches and peak state rows per leg so a future
    // regression separates "more batches scheduled" from "state blew up".
    // Listener delivery is async — attribution, not a gate.
    val batchCount = new java.util.concurrent.atomic.AtomicLong
    val peakStateRows = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        batchCount.incrementAndGet()
        val sr = e.progress.stateOperators.map(_.numRowsTotal).sum
        peakStateRows.getAndUpdate(m => math.max(m, sr))
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    // One leg: a canary reading, an untimed warm-up call when `warm` (it
    // pays a once-per-fixture index build and codegen), then `runs` timed
    // runs of `body`. The wall is their minimum (with 2 runs, the first
    // pays codegen for this (leg, scale)); the rows are the first run's.
    // Each run executes the query's OWN physical plan, not count(df):
    // Catalyst prunes deterministic projections under a count, so a
    // pure-expression leg (t23..t27's one-pass scorers) would measure
    // scan+filter only (round-15 fix). The recorder and the streaming
    // counters are cleared before each timed run, so the batch walls,
    // rounds and micro-batch counts describe the last one.
    def leg(q: String, scale: Int, warm: Boolean, runs: Int)(body: => DataFrame): Leg = {
      val legCanary = canary()
      if (warm) body.count()
      val timed = (1 to runs).map { _ =>
        Recorder.clear(); batchCount.set(0); peakStateRows.set(0)
        val t0 = System.nanoTime()
        val rows = body.queryExecution.toRdd.count()
        val staging =
          if (StagedCorpusLegs.contains(q)) Recorder.get(Recorder.StagingSecs).sum
          else 0.0
        (math.max(0.0, (System.nanoTime() - t0) / 1e9 - staging), rows)
      }
      val walls = Recorder.get(Recorder.BatchWalls)
      // micro-batches: the triggers the listener saw; an st leg that chains
      // batches without a stream counts its recorded batch walls and has
      // no state store
      val (nb, sr) =
        if (!q.startsWith("st")) (-1L, -1L)
        else if (batchCount.get > 0) (batchCount.get, peakStateRows.get)
        else (walls.size.toLong, -1L)
      val rounds =
        if (q == "d09_dedup_clusters")
          Recorder.get(Recorder.ClusterRounds).headOption.fold(-1)(_.toInt)
        else -1
      Leg(q, scale, timed.map(_._1).min, timed.head._2, rounds, -1.0, nb, sr,
        walls, legCanary)
    }
    def record(l: Leg): Unit = {
      results += l
      println(f"${l.q}%-28s x${l.scale}%-3d ${l.sec}%8.2f s  rows=${l.rows}%-8d" +
        f" canary=${l.canaryMbps}%.0f" +
        (if (l.rounds >= 0) s" rounds=${l.rounds}" else "") +
        (if (l.recallMin >= 0) f" recall_min=${l.recallMin}%.3f" else "") +
        (if (l.batches >= 0) s" batches=${l.batches}" else "") +
        (if (l.stateRows >= 0) s" state_rows=${l.stateRows}" else "") +
        (if (l.walls.isEmpty) ""
         else l.walls.map(w => f"$w%.2f").mkString(" batch_walls=[", ",", "]")))
    }
    try {
      for (scale <- scales) {
        // shuffle partitions must scale with the data or large-scale sorts
        // spill 32-wide into one disk (the x64 run measured exactly that:
        // all executor threads I/O-bound in UnsafeExternalSorter.spill);
        // AQE coalesces the excess at small scales, so over-provisioning is
        // free. This mirrors production, where partitions track input size.
        spark.conf.set("spark.sql.shuffle.partitions",
          math.min(1024, cpus * scale))
        val dir = replicate(spark, base, scale, tmp)
        for (q <- SoakQueries if wanted(q)) {
          val fn = SparkEntry.queries(q)
          val l = leg(q, scale, warm = false, runs = 2)(fn(spark, dir))
          // recall-gated ANN legs ONLY: the in-query requireRecall gate
          // already fired (>= 0.9) during both timed runs at THIS scale;
          // one more evaluation surfaces the measured number into the CSV.
          // Null-guarded: a zero-row probe must record a missing recall,
          // not kill the soak run (ADVICE round-12 #3). It runs after
          // the leg read its counters: re-invoking an eager st pipeline
          // would double-count its batches (ADVICE round-12 #1).
          val recallMin =
            if (RecallLegs.contains(q)) {
              val r = fn(spark, dir).agg(min(col("recall"))).head()
              if (r.isNullAt(0)) -1.0 else r.getDouble(0)
            } else -1.0
          // d04's OUTPUT BOUND (round-11 verdict #5), derived from the
          // replica construction: replicas share zero tokens (salting), so
          // every simhash pair must be within-replica — cross-replica
          // pairs are asserted ZERO, making total output structurally
          // <= scale x max-per-replica: linear in replicas by construction.
          // Per-replica draws are HEAVY-TAILED, not tightly bounded: the
          // round-13 x16 measurement saw ratios 0.62x..5.5x of base
          // (median 1.08) — salting re-rolls every signature, and
          // near-threshold hamming pairs over the corpus's document
          // clusters flip in/out of the <=8 cut en masse per re-roll, so
          // the MAX of N draws grows with N (a 4x max cap killed the first
          // round-13 run). The robust detector for the failure this guard
          // exists for — salting systematically creating WITHIN-replica
          // similarity — is the MEDIAN ratio: a systematic break inflates
          // every salted replica, while an honest tail draw moves only the
          // max. Assert median <= 4x base; record the spread.
          if (q == "d04_simhash_pairs" && scale > 1) {
            val rep = (c: String) => floor(col(c) / 10000000L)
            val pairs = fn(spark, dir)
            val cross = pairs.where(rep("idA") =!= rep("idB")).count()
            require(cross == 0L,
              s"d04 x$scale: $cross cross-replica pairs — replica salting " +
                "broke, output is no longer structurally linear in replicas")
            val basePairs = results
              .find(l => l.q == q && l.scale == scales.head).map(_.rows)
            basePairs.filter(_ > 0).foreach { bp =>
              // pad to ALL `scale` replicas: the groupBy only sees replicas
              // with >= 1 pair, and heavy-tailed draws leave many salted
              // replicas at zero — omitting them biases the median upward
              // and can falsely trip the guard on small fixtures
              val nonZero = pairs.groupBy(rep("idA").as("rep"))
                .agg(count(lit(1)).as("n")).collect()
                .map(_.getAs[Long]("n"))
              val perRep = (nonZero ++
                Array.fill(math.max(0, scale - nonZero.length))(0L)).sorted
              val med = perRep(perRep.length / 2)
              require(med <= 4 * bp,
                s"d04 x$scale: median per-replica pair count $med " +
                  s"(> 4x the base corpus's $bp) — salting is " +
                  "systematically creating within-replica similarity")
              println(f"d04 x$scale%-3d replica-draw ratio vs base: " +
                f"median=${med.toDouble / bp}%.2f " +
                f"max=${perRep.last.toDouble / bp}%.2f")
            }
          }
          record(l.copy(recallMin = recallMin))
        }
        val pq = graft.queries.PipelineQueries
        // t38 query-count sweep (round-18 verdict #2): Q = 4/16/64
        // overlapping 3-term queries against the BASE corpus's index in
        // one batchTopK pass each — wall must grow SUB-linearly in Q (the
        // pruned postings scan is shared; only the aggregate fan-out
        // grows). Base scale only: query count is the variable here, and
        // mixing it with corpus growth would confound both reads. Legs
        // land as t38_qcount_q<Q> at scale 1 (the warm call pays the
        // index build, like s12/d19).
        // Q = 256 (round-19 verdict #7): one more decade past the
        // scan-dominated regime, where the per-(query, doc) fan-out and
        // the rank-limit shuffle become the terms that matter at serving
        // scale — wall must stay sub-linear in Q (or name the crossover)
        if (scale == scales.head && wanted("t38_qcount_probe"))
          for (nq <- Seq(4, 16, 64, 256))
            record(leg(s"t38_qcount_q$nq", scale, warm = true, runs = 2)(
              pq.t38QueryCountProbe(spark, dir, nq)))
        // K-batch BM25 ingest-chain flatness (round-18 verdict #1's
        // measurement): 8 doc-disjoint batches appended as segments; the
        // claim column is the MAX per-batch MERGE wall. Each merge is a
        // postings-table rename + a vocabulary-sized df sum + 1-row stats
        // arithmetic, so the wall must stay FLAT across batches; the
        // replaced prior-UNION-delta rewrite grew per-batch cost with the
        // accumulated index (the 5.20 -> 12.04 s x16 growth in
        // SOAK_UNIFORM_r18)
        if (wanted("st21_multibatch_ingest"))
          record(leg("st21_multibatch_ingest", scale, warm = false, runs = 1)(
            pq.st21MultiBatchIngest(spark, dir)))
        // the positional chain's K=8 soak (round-19 verdict #2): same
        // evidence shape as st21's — each merge is a postings-segment
        // rename + a bigram-stats arithmetic sum, so per-batch MERGE walls
        // stay flat except the one visible size-tiered fold (which carries
        // the _2g bigram sibling)
        if (wanted("st22_multibatch_ingest"))
          record(leg("st22_multibatch_ingest", scale, warm = false, runs = 1)(
            pq.st22MultiBatchIngest(spark, dir)))
        // st23's fixed-batch flatness probe (round-19 verdict #1's done
        // criterion): closure state over THIS scale's corpus is seeded
        // once by the one-shot d09 path (the full-recompute cost d25
        // pays every run — included in this leg's total wall), then the
        // SAME two base-fixture batches are closure-MAINTAINED against
        // it. The claim column is ingest_batch_sec_max: per-batch
        // maintenance wall (pair probe + closureMerge) flat across
        // x1/x16/x64, vs d25's ~300 s x64 full recompute. One run, like
        // st13's leg.
        if (wanted("st23_fixed_batch_maintain"))
          record(leg("st23_fixed_batch_maintain", scale, warm = false, runs = 1)(
            pq.st23FixedBatchMaintain(spark, dir, base)))
        // FIXED-batch flatness probe (round-13): the d17 soak leg derives
        // its batch from the scaled corpus, so its wall grows with the
        // batch and can't witness the indexed probe's product claim —
        // per-batch cost flat in CORPUS size. Probe every scale's index
        // with the SAME base-fixture batch; this row's ratio_vs_1x IS the
        // flatness number (≈1.0 when the claim holds). The warm call pays
        // the index build (if the d17 leg didn't already) + codegen,
        // untimed — the product cost under measurement is the probe, the
        // build is a once-per-corpus ingest cost measured by the d17 leg.
        if (wanted("d17_incremental_dedup"))
          record(leg("d17_fixed_batch_probe", scale, warm = true, runs = 2)(
            pq.d17Probe(spark, dir, base)))
        // st13's analog: the SAME two base-fixture micro-batches ingested
        // against this scale's corpus index. The leg's total wall includes
        // the per-invocation index build (linear in corpus by design); the
        // CLAIM column is ingest_batch_sec_max — per-batch cost (probe +
        // staged admitted write + bucketed append + marker) flat in corpus
        // size, linear in batch rows. One run, not min-of-2: the number
        // under test is internal per-batch wall, already amortized over
        // two batches, and a second run would pay a full corpus index
        // rebuild for a warmup the foreachBatch path doesn't need.
        if (wanted("st13_streaming_ingest_dedup"))
          record(leg("st13_fixed_batch_ingest", scale, warm = false, runs = 1)(
            pq.st13FixedBatchIngest(spark, dir, base)))
        // st15's analog: the SAME two base-fixture eval micro-batches
        // probed against this scale's train index. The leg wall includes
        // the once-per-fixture index build (linear in train, and already
        // paid when the st15 leg ran first at this scale); the CLAIM
        // column is ingest_batch_sec_max — per-batch probe wall flat in
        // TRAIN size (the index is slim/bucketed, the batch is the only
        // text windowed per arrival). One run, like st13's leg.
        if (wanted("st15_streaming_decontamination"))
          record(leg("st15_fixed_eval_probe", scale, warm = false, runs = 1)(
            pq.st15Probe(spark, dir, base)))
      }
      // summary: time and row ratios vs the 1x run for each query; also
      // persisted as CSV (SPARK_GRAFT_SOAK_OUT, default SOAK_RESULTS.csv)
      // so the numbers survive log truncation
      val header = "query, scale, sec, ratio_vs_1x, rows, rows_ratio, d09_rounds, recall_min, batches, state_rows, ingest_batch_sec_max, io_canary_mbps"
      println("\n" + header)
      val base1 = results.filter(_.scale == scales.head).map(l => l.q -> (l.sec, l.rows)).toMap
      val lines = results.map { l =>
        val (b, br) = base1(l.q)
        f"${l.q},${l.scale},${l.sec}%.2f,${l.sec / b}%.2f,${l.rows},${l.rows.toDouble / br}%.2f," +
          (if (l.rounds >= 0) l.rounds.toString else "") + "," +
          (if (l.recallMin >= 0) f"${l.recallMin}%.3f" else "") + "," +
          (if (l.batches >= 0) l.batches.toString else "") + "," +
          (if (l.stateRows >= 0) l.stateRows.toString else "") + "," +
          (if (l.ingestBatchSecMax >= 0) f"${l.ingestBatchSecMax}%.2f" else "") + "," +
          (if (l.canaryMbps >= 0) f"${l.canaryMbps}%.0f" else "")
      }
      lines.foreach(println)
      val out = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_RESULTS.csv")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (header +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    } finally {
      spark.streams.removeListener(listener)
      deleteRecursively(tmp.toFile)
      spark.stop()
    }
  }

  private def deleteRecursively(f: java.io.File): Unit =
    graft.util.Fs.deleteRecursively(f)
}
