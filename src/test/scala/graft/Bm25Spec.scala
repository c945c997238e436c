package graft

import graft.operators.Bm25Index
import graft.queries.Q
import graft.util.TableRetention
import org.apache.spark.sql.functions._

/** Pins the BM25 build-once index (t36): postings/df/stats contents on a
  * hand-checkable corpus, the probe's ranking semantics, the bucket-pruned
  * probe plan, and versioned build-once reuse.
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  // 4 scoreable docs + a NULL-text doc that must contribute nothing:
  // dl = 3, 2, 4, 2 (sum 11); df: a=2, b=2, c=2, d=1
  private def corpus = Seq(
    (1L, "a a b"), (2L, "a c"), (3L, "b b b c"), (4L, "d d"),
    (5L, null.asInstanceOf[String])).toDF("doc_id", "text")

  test("bm25: index tables carry exact integer stats; probe ranks by hand-checkable BM25") {
    val name = "bm25spec_idx"
    TableRetention.sweep(spark, "bm25spec_idx")
    Bm25Index.build(corpus, "doc_id", "text", name, buckets = 4)
    val stats = spark.table(name + "_stats").head()
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) == ((4L, 11L, 4L)),
      s"stats (n_docs, sum_dl, max_dl) wrong: $stats")
    val df = spark.table(name + "_df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == Map("a" -> 2L, "b" -> 2L, "c" -> 2L, "d" -> 1L), df)
    // dl denormalized into postings: doc 3's rows all carry dl=4
    val p3 = spark.table(name).where(col("doc_id") === 3)
      .select("token", "tf", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(p3 == Set(("b", 3L, 4L), ("c", 1L, 4L)), p3)

    // probe {b, c}: doc 3 matches both terms with the highest tf, doc 2
    // matches c with the shortest dl, doc 1 matches b once in a longer
    // doc, doc 4 matches nothing — BM25 ranks 3 > 2 > 1
    val top = Bm25Index.topK(spark, name, Seq("b", "c"), k = 10)
    val rows = top.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(3L, 2L, 1L),
      s"ranking wrong: ${rows.toSeq}")
    assert(rows.map(_._2).toSeq == Seq(2L, 1L, 1L),
      s"matched-term counts wrong: ${rows.toSeq}")
    assert(rows.map(_._3).forall(_ > 0) &&
        rows(0)._3 > rows(1)._3 && rows(1)._3 > rows(2)._3,
      s"scores not strictly decreasing: ${rows.toSeq}")
    // the probe plan prunes buckets via the literal term IN-list
    val plan = top.queryExecution.executedPlan.toString
    val sel = Q.bucketScans(plan).headOption
    assert(sel.exists { case (n, m) => n < m }, s"probe did not prune buckets: $sel")
  }

  test("plan gates: a plain unbucketed scan fails both probe gates, naming the query") {
    val d = tmpDir("plaingate").resolve("t").toString
    spark.range(20).write.parquet(d)
    val plan = spark.read.parquet(d).where(col("id") === 3L)
      .queryExecution.executedPlan.toString
    assert(Q.bucketScans(plan).isEmpty, plan)
    val lex = intercept[IllegalArgumentException](Q.requirePruned("t99", plan))
    assert(lex.getMessage.startsWith("requirement failed: t99: expected only pruned"),
      lex.getMessage)
    val ann = intercept[IllegalArgumentException](
      Q.requireCellPruned("s99", plan, probedCells = 8))
    assert(ann.getMessage.startsWith("requirement failed: s99: probe lost bucket pruning"),
      ann.getMessage)
  }

  test("bm25: deterministic term selection honors the df cap and tie-break") {
    val name = "bm25spec_terms_idx"
    TableRetention.sweep(spark, "bm25spec_terms_idx")
    Bm25Index.build(corpus, "doc_id", "text", name, buckets = 4)
    // cap df*1 <= 4 admits every token; df desc then token asc
    assert(Bm25Index.selectTerms(spark, name, nTerms = 5, dfCapDenom = 1) ==
      Seq("a", "b", "c", "d"))
    // cap df*4 <= 4 admits only df=1 tokens
    assert(Bm25Index.selectTerms(spark, name, nTerms = 5, dfCapDenom = 4) ==
      Seq("d"))
  }

  test("hybrid rrf: the two rankers disagree where they should, the fusion is exact integer math") {
    // BM25's length normalization demotes the long spammy doc that raw
    // TF-IDF promotes: doc 1 (tf_b=6, dl=16) outranks doc 2 (tf_b=3,
    // dl=3) under TF-IDF but LOSES to it under BM25 (hand-checked:
    // n=3, sum_dl=21 -> bm25 doc1 ~1.58 < doc2 ~1.79)
    val name = "bm25spec_rrf_idx"
    TableRetention.sweep(spark, name)
    Bm25Index.build(Seq(
      (1L, "b b b b b b x x x x x x x x x x"),
      (2L, "b b b"),
      (3L, "c c")).toDF("doc_id", "text"), "doc_id", "text", name, buckets = 4)
    val rows = Bm25Index.hybridRrfTopK(spark, name, Seq("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // ranks: bm25 doc2=1/doc1=2, tfidf doc1=1/doc2=2 — genuine
    // disagreement; rrf ties exactly (floor(1e6/61)+floor(1e6/62) both
    // ways = 16393+16129), doc_id breaks it
    assert(rows.toSeq == Seq((1L, 32522L, 2, 1), (2L, 32522L, 1, 2)),
      s"fusion wrong: ${rows.toSeq}")
    // non-circular arithmetic check: recompute rrf from the returned ranks
    rows.foreach { case (_, rrf, b, t) =>
      assert(rrf == 1000000L / (60 + b) + 1000000L / (60 + t))
    }
  }

  test("bm25: degenerate corpora refuse loudly — empty index, all-NULL text, stopword saturation") {
    // empty corpus: build succeeds (an explicit (0,0,0) stats row — sums
    // COALESCEd, never NULL), but every probe/selection path refuses
    // instead of silently scoring NULL (round-18 advice #1)
    val empty = "bm25spec_empty_idx"
    TableRetention.sweep(spark, empty)
    Bm25Index.build(corpus.where(col("doc_id") < 0), "doc_id", "text", empty,
      buckets = 4)
    val st = spark.table(empty + "_stats").head()
    assert((st.getLong(0), st.getLong(1), st.getLong(2)) == ((0L, 0L, 0L)),
      s"empty-corpus stats must be explicit zeros, not NULL: $st")
    val e1 = intercept[IllegalArgumentException] {
      Bm25Index.topK(spark, empty, Seq("a")).collect()
    }
    assert(e1.getMessage.contains("n_docs = 0"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Bm25Index.selectTerms(spark, empty)
    }
    assert(e2.getMessage.contains("n_docs = 0"), e2.getMessage)
    // all-NULL text is the same degenerate index (the st21 !batch.isEmpty
    // guard does not cover it — the refusal must)
    val nulls = "bm25spec_nulls_idx"
    TableRetention.sweep(spark, nulls)
    Bm25Index.build(corpus.where(col("text").isNull), "doc_id", "text", nulls,
      buckets = 4)
    val e3 = intercept[IllegalArgumentException] {
      Bm25Index.topK(spark, nulls, Seq("a")).collect()
    }
    assert(e3.getMessage.contains("n_docs = 0"), e3.getMessage)
    // stopword saturation: every token in > 1/dfCapDenom of docs -> no
    // selectable term; the refusal names the cap and the remedy
    val sat = "bm25spec_sat_idx"
    TableRetention.sweep(spark, sat)
    Bm25Index.build(Seq((1L, "the of"), (2L, "the of"), (3L, "the"))
      .toDF("doc_id", "text"),
      "doc_id", "text", sat, buckets = 4) // df: the=3/3, of=2/3
    val e4 = intercept[IllegalArgumentException] {
      Bm25Index.selectTerms(spark, sat, nTerms = 5, dfCapDenom = 2)
    }
    assert(e4.getMessage.contains("stopword-saturated") &&
      e4.getMessage.contains("dfCapDenom"), e4.getMessage)
  }

  test("bm25: overflow witness — a dl*n_docs product past Long refuses at probe") {
    // the scorer's exact-integer avgdl split computes dl*n_docs; the
    // max_dl witness in stats must refuse past ~2^63 instead of silently
    // wrapping (round-18 advice #2). Forged stats stand in for the
    // >10^9-doc corpus the fixture cannot produce.
    val name = "bm25spec_ovf_idx"
    TableRetention.sweep(spark, name)
    Bm25Index.build(corpus, "doc_id", "text", name, buckets = 4)
    Seq((1099511627776L, 1099511627776L, 16777216L)) // 2^40 docs, max_dl 2^24
      .toDF("n_docs", "sum_dl", "max_dl")
      .write.mode("overwrite").format("parquet").saveAsTable(name + "_stats")
    val e = intercept[IllegalArgumentException] {
      Bm25Index.topK(spark, name, Seq("a")).collect()
    }
    assert(e.getMessage.contains("overflows"), e.getMessage)
  }

  test("append-shaped maintenance: any batch split merges to exactly the one-shot build") {
    // one-shot reference
    val ref = "bm25spec_as_ref"
    TableRetention.sweep(spark, "bm25spec_as_")
    Bm25Index.build(corpus, "doc_id", "text", ref, buckets = 4)
    val want = Bm25Index.topK(spark, ref, Seq("a", "b", "c", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // three doc-disjoint batches appended as segments
    val base = "bm25spec_as_m"
    var prior: Option[String] = None
    Seq(0L, 1L, 2L).foreach { b =>
      val delta = s"${base}_delta"
      Bm25Index.build(corpus.where(pmod(col("doc_id"), lit(3)) === b),
        "doc_id", "text", delta, buckets = 4)
      Bm25Index.appendSegment(spark, prior, delta, s"${base}_b$b")
      prior = Some(s"${base}_b$b")
    }
    val v = prior.get
    // merged df/stats equal the one-shot tables exactly
    assert(spark.table(v + "_df").exceptAll(spark.table(ref + "_df")).isEmpty &&
      spark.table(ref + "_df").exceptAll(spark.table(v + "_df")).isEmpty,
      "merged df != one-shot df")
    assert(spark.table(v + "_stats").collect().toSeq ==
      spark.table(ref + "_stats").collect().toSeq, "merged stats != one-shot")
    // three segments, prior segments untouched (append-shaped)
    assert(spark.table(v + "_segs").count() == 3)
    val got = Bm25Index.topK(spark, v, Seq("a", "b", "c", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"segmented probe != one-shot probe:\n$got\nvs\n$want")
    // every segment scan in the probe plan prunes buckets independently
    val plan = Bm25Index.topK(spark, v, Seq("b", "c"))
      .queryExecution.executedPlan.toString
    val sels = Q.bucketScans(plan)
    assert(sels.size == 3 && sels.forall { case (n, m) => n < m },
      s"expected 3 pruned segment scans: $sels")
  }

  test("append-shaped maintenance: crash between merge and marker replays to the identical index") {
    val base = "bm25spec_crash_m"
    TableRetention.sweep(spark, base)
    val b0 = corpus.where(col("doc_id") % 2 === 0)
    val b1 = corpus.where(col("doc_id") % 2 =!= 0)
    def runBatch(batch: org.apache.spark.sql.DataFrame, prior: Option[String],
        out: String): Unit = {
      val delta = s"${base}_delta"
      Bm25Index.build(batch, "doc_id", "text", delta, buckets = 4)
      Bm25Index.appendSegment(spark, prior, delta, out)
    }
    runBatch(b0, None, s"${base}_b0") // committed (marker would land here)
    // batch 1 merges fully, then CRASHES before its marker: the ingest
    // loop replays batch 1 from the prior committed version (b0) — the
    // delta rebuild and every merge output are mode-overwrite
    runBatch(b1, Some(s"${base}_b0"), s"${base}_b1")
    runBatch(b1, Some(s"${base}_b0"), s"${base}_b1") // the replay
    val refName = s"${base}_ref"
    Bm25Index.build(corpus, "doc_id", "text", refName, buckets = 4)
    val want = Bm25Index.topK(spark, refName, Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = Bm25Index.topK(spark, s"${base}_b1", Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"replayed index != one-shot:\n$got\nvs\n$want")
    assert(spark.table(s"${base}_b1_segs").count() == 2,
      "replay must not duplicate segments")
    // in-place merge is refused, not silently truncating (advice #4)
    val e = intercept[IllegalArgumentException] {
      Bm25Index.appendSegment(spark, Some(s"${base}_b1"), s"${base}_x",
        s"${base}_b1")
    }
    assert(e.getMessage.contains("staged swap"), e.getMessage)
  }

  test("compaction policy: the compactAt-th merge folds the chain, content and replay unchanged") {
    val base = "bm25spec_tier_m"
    TableRetention.sweep(spark, base)
    val ref = s"${base}_ref"
    Bm25Index.build(corpus, "doc_id", "text", ref, buckets = 4)
    val want = Bm25Index.topK(spark, ref, Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def batch(b: Long) = corpus.where(pmod(col("doc_id"), lit(4)) === b)
    def run(b: Long, prior: Option[String]): String = {
      val delta = s"${base}_delta"
      Bm25Index.build(batch(b), "doc_id", "text", delta, buckets = 4)
      Bm25Index.appendSegment(spark, prior, delta, s"${base}_b$b",
        compactAt = 3, buckets = 4)
      s"${base}_b$b"
    }
    val v0 = run(0, None)
    val v1 = run(1, Some(v0))
    assert(spark.table(v1 + "_segs").count() == 2)
    // the 3rd merge hits compactAt=3: fold to ONE segment, then crash
    // before the marker and REPLAY it — the fold must be idempotent
    run(2, Some(v1))
    val v2 = run(2, Some(v1))
    assert(spark.table(v2 + "_segs").count() == 1,
      "compactAt merge must fold the chain to one segment")
    val v3 = run(3, Some(v2))
    assert(spark.table(v3 + "_segs").count() == 2,
      "post-fold appends grow from the folded segment")
    val got = Bm25Index.topK(spark, v3, Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"tiered chain != one-shot:\n$got\nvs\n$want")
  }

  test("positional append: any batch split merges to exactly the one-shot positional build") {
    val base = "bm25spec_posm"
    TableRetention.sweep(spark, base)
    val docs = Seq((1L, "x a b y a b"), (2L, "a a a"), (3L, "b a"),
      (4L, "a b z")).toDF("doc_id", "text")
    val ref = s"${base}_ref"
    Bm25Index.buildPositional(docs, "doc_id", "text", ref, buckets = 4)
    val wantPhrase = Bm25Index.derivePhrase(spark, ref)
    val want = Bm25Index.phraseHits(spark, ref, Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    var prior: Option[String] = None
    Seq(0L, 1L).foreach { b =>
      val delta = s"${base}_delta"
      Bm25Index.buildPositional(docs.where(col("doc_id") % 2 === b),
        "doc_id", "text", delta, buckets = 4)
      Bm25Index.appendPositionalSegment(spark, prior, delta, s"${base}_b$b")
      prior = Some(s"${base}_b$b")
    }
    val v = prior.get
    // merged bigram stats equal the one-shot sibling exactly
    assert(spark.table(v + "_2g").exceptAll(spark.table(ref + "_2g")).isEmpty &&
      spark.table(ref + "_2g").exceptAll(spark.table(v + "_2g")).isEmpty,
      "merged _2g != one-shot _2g")
    assert(Bm25Index.derivePhrase(spark, v) == wantPhrase)
    val got = Bm25Index.phraseHits(spark, v, Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == want, s"segmented phrase probe != one-shot:\n$got\nvs\n$want")
    // retention keeps the _2g sibling of kept versions (the sweep bug
    // class this test exists for: a doomed-suffix list missing _2g)
    Bm25Index.sweepVersions(spark, base, Seq(s"${base}_b0", s"${base}_b1"))
    assert(spark.catalog.tableExists(v + "_2g"),
      "kept version's _2g sibling was wrongly swept")
  }

  test("merge accepts a degenerate EMPTY state (no ingest crash loop); probes still refuse it") {
    // a non-empty first micro-batch whose docs all have NULL text is a
    // legitimate transient: the merge must COMMIT the empty version (a
    // merge-time refusal would fail the batch after the delta was
    // consumed and before the marker — an unrecoverable replay loop);
    // probes refuse until a later batch brings real text
    val base = "bm25spec_empty_m"
    TableRetention.sweep(spark, base)
    val delta = s"${base}_delta"
    Bm25Index.build(corpus.where(col("text").isNull), "doc_id", "text",
      delta, buckets = 4)
    Bm25Index.appendSegment(spark, None, delta, s"${base}_b0") // must not throw
    val e = intercept[IllegalArgumentException] {
      Bm25Index.topK(spark, s"${base}_b0", Seq("a")).collect()
    }
    assert(e.getMessage.contains("n_docs = 0"), e.getMessage)
    // recovery: the next batch brings text and the chain serves
    Bm25Index.build(corpus.where(col("text").isNotNull), "doc_id", "text",
      delta, buckets = 4)
    Bm25Index.appendSegment(spark, Some(s"${base}_b0"), delta, s"${base}_b1")
    assert(Bm25Index.topK(spark, s"${base}_b1", Seq("b", "c"))
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
  }

  test("a chain can be seeded from a MONOLITHIC one-shot build") {
    val base = "bm25spec_seed_m"
    TableRetention.sweep(spark, base)
    val mono = s"${base}_mono"
    Bm25Index.build(corpus.where(col("doc_id") <= 2), "doc_id", "text",
      mono, buckets = 4)
    val delta = s"${base}_delta"
    Bm25Index.build(corpus.where(col("doc_id") > 2), "doc_id", "text",
      delta, buckets = 4)
    Bm25Index.appendSegment(spark, Some(mono), delta, s"${base}_b0")
    val ref = s"${base}_ref"
    Bm25Index.build(corpus, "doc_id", "text", ref, buckets = 4)
    val want = Bm25Index.topK(spark, ref, Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val got = Bm25Index.topK(spark, s"${base}_b0", Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == want, s"seeded chain != one-shot:\n$got\nvs\n$want")
  }

  test("compact preserves a positional chain's full serving surface (_2g carried)") {
    val base = "bm25spec_pcpt"
    TableRetention.sweep(spark, base)
    val docs = Seq((1L, "x a b y a b"), (2L, "a a a"), (3L, "a b z"))
      .toDF("doc_id", "text")
    var prior: Option[String] = None
    Seq(0L, 1L).foreach { b =>
      val delta = s"${base}_delta"
      Bm25Index.buildPositional(docs.where(col("doc_id") % 2 === b),
        "doc_id", "text", delta, buckets = 4)
      Bm25Index.appendPositionalSegment(spark, prior, delta, s"${base}_b$b")
      prior = Some(s"${base}_b$b")
    }
    val wantPhrase = Bm25Index.derivePhrase(spark, prior.get)
    val want = Bm25Index.phraseHits(spark, prior.get, wantPhrase).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    Bm25Index.compact(spark, prior.get, s"${base}_b2", buckets = 4)
    assert(Bm25Index.derivePhrase(spark, s"${base}_b2") == wantPhrase,
      "compacted positional version lost its _2g sibling")
    val got = Bm25Index.phraseHits(spark, s"${base}_b2", wantPhrase).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == want, s"compacted phrase probe != segmented:\n$got\nvs\n$want")
  }

  test("compact + sweep: folding the segment chain preserves probes; retention drops unreferenced tables") {
    val base = "bm25spec_cpt_m"
    TableRetention.sweep(spark, base)
    var prior: Option[String] = None
    Seq(0L, 1L, 2L).foreach { b =>
      val delta = s"${base}_delta"
      Bm25Index.build(corpus.where(pmod(col("doc_id"), lit(3)) === b),
        "doc_id", "text", delta, buckets = 4)
      Bm25Index.appendSegment(spark, prior, delta, s"${base}_b$b")
      prior = Some(s"${base}_b$b")
    }
    val want = Bm25Index.topK(spark, s"${base}_b2", Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    Bm25Index.compact(spark, s"${base}_b2", s"${base}_b3")
    val got = Bm25Index.topK(spark, s"${base}_b3", Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"compacted probe != segmented probe:\n$got\nvs\n$want")
    // the compacted probe is ONE pruned scan again
    val plan = Bm25Index.topK(spark, s"${base}_b3", Seq("b", "c"))
      .queryExecution.executedPlan.toString
    assert("SelectedBucketsCount".r.findAllMatchIn(plan).size == 1,
      s"compacted probe should scan one segment:\n$plan")
    // keep-newest-2 retention: b0's trio and b0-only segments go; every
    // segment referenced by a KEPT manifest survives (b2 still references
    // the original three segments — sharing protects them)
    val swept = Bm25Index.sweepVersions(spark, base,
      Seq(s"${base}_b2", s"${base}_b3"))
    assert(swept.exists(_.contains(s"${base}_b0_df")), s"b0 df not swept: $swept")
    assert(!spark.catalog.tableExists(s"${base}_b1_stats"), "b1 stats survived")
    assert(spark.catalog.tableExists(s"${base}_b0_seg"),
      "segment referenced by kept b2 manifest was wrongly swept")
    // retire b2 as well: now the original segments are unreferenced
    val swept2 = Bm25Index.sweepVersions(spark, base, Seq(s"${base}_b3"))
    assert(swept2.exists(_.contains(s"${base}_b0_seg")), s"orphan segment kept: $swept2")
    val after = Bm25Index.topK(spark, s"${base}_b3", Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(after == want, "probe changed after retention sweep")
  }

  test("batch retrieval: per-query results equal each query's solo topK, in one rank-limited plan") {
    val name = "bm25spec_batch_idx"
    TableRetention.sweep(spark, name)
    Bm25Index.build(corpus, "doc_id", "text", name, buckets = 4)
    val queries = Seq("qa" -> Seq("a", "d"), "qb" -> Seq("b", "c"),
      "qc" -> Seq("c"))
    val got = Bm25Index.batchTopK(spark, name, queries, k = 10)
    val rows = got.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    // every query's (doc_id, rank, n_terms, score) slice must be verbatim
    // its solo probe — the batch pass changes the plan, never the scores
    queries.foreach { case (qid, terms) =>
      val solo = Bm25Index.topK(spark, name, terms, k = 10).collect()
        .zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), (i + 1).toLong, r.getLong(1),
          r.getDouble(2)) }
      assert(rows(qid).toSeq == solo.toSeq,
        s"batch slice for $qid diverges from solo topK:\n${rows(qid).toSeq}\nvs\n${solo.toSeq}")
    }
    // plan shape: ONE pruned postings scan for the term union; per-query
    // top-k as a map-side rank-limit window; no per-query loop. Count
    // scans in the FINAL adaptive plan only (the string repeats the tree
    // under "== Initial Plan ==")
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("SelectedBucketsCount".r.findAllMatchIn(plan).size == 1,
      s"batch probe must scan the postings once:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k not rank-limited map-side:\n$plan")
  }

  test("phrase search: exact adjacency, overlap, repeated-token phrases, derived top bigram") {
    val name = "bm25spec_pos_idx"
    TableRetention.sweep(spark, name)
    Bm25Index.buildPositional(Seq(
      (1L, "x a b y a b"), // "a b" twice, at starts 1 and 4
      (2L, "a a a"),       // "a a" twice (overlapping), "a b" never
      (3L, "b a"),         // reversed order must NOT match "a b"
      (4L, null.asInstanceOf[String]),
      (5L, "a")).toDF("doc_id", "text"), "doc_id", "text", name, buckets = 4)
    // bigram stats: "a b"=2 (doc 1) ties "a a"=2 (doc 2) -> gram asc wins
    assert(Bm25Index.derivePhrase(spark, name) == Seq("a", "a"))
    def hits(phrase: String*) =
      Bm25Index.phraseHits(spark, name, phrase).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // repeated-token phrase with OVERLAPPING occurrences
    assert(hits("a", "a") == Seq((2L, 2L, 0L)), hits("a", "a"))
    // plain adjacency; order matters (doc 3's "b a" must not match)
    assert(hits("a", "b") == Seq((1L, 2L, 1L)), hits("a", "b"))
    // 3-term phrase
    assert(hits("x", "a", "b") == Seq((1L, 1L, 0L)), hits("x", "a", "b"))
    // no match anywhere -> empty, not error
    assert(hits("y", "x").isEmpty)
    // the probe plan prunes buckets via the phrase-term IN-list
    val plan = Bm25Index.phraseHits(spark, name, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    val sel = Q.bucketScans(plan).headOption
    assert(sel.exists { case (n, m) => n < m }, s"phrase probe did not prune buckets: $sel")
    // degenerate: a corpus with no bigrams refuses phrase derivation loudly
    val single = "bm25spec_pos1_idx"
    TableRetention.sweep(spark, single)
    Bm25Index.buildPositional(Seq((1L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text", single, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      Bm25Index.derivePhrase(spark, single)
    }
    assert(e.getMessage.contains("no bigrams"), e.getMessage)
  }

  test("proximity search: slop=0 == phraseHits; slot displacement bounded by slop; repeated terms refused") {
    val name = "bm25spec_prox_idx"
    TableRetention.sweep(spark, name)
    Bm25Index.buildPositional(Seq(
      (1L, "a b z"),       // exact adjacency
      (2L, "a z b"),       // gap 1: slop>=1 only
      (3L, "a z z b"),     // gap 2: slop>=2 only
      (4L, "b a"),         // reversed: never (displacement is rightward)
      (5L, "a z z z b"),   // gap 3: beyond slop=2
      (6L, "a b a z b")).toDF("doc_id", "text"), // 1 exact, 2 at slop 1
      "doc_id", "text", name, buckets = 4)
    def prox(slop: Int) =
      Bm25Index.proximityHits(spark, name, Seq("a", "b"), slop).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    def exact = Bm25Index.phraseHits(spark, name, Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // slop=0 is EXACTLY the phrase probe
    assert(prox(0) == exact, s"slop=0 != phraseHits: ${prox(0)} vs $exact")
    assert(prox(0) == Seq((1L, 1L, 0L), (6L, 1L, 0L)), prox(0))
    // each extra slop admits one more displacement; order still matters
    assert(prox(1).map(_._1) == Seq(1L, 2L, 6L), prox(1))
    // doc 6 at slop=1: anchors 0 ("a b"), 2 (a@2, b@4 = 2+1+1) and
    // 3 (a@2 displaced 1... a at 2 = 3+0? no: start 3 needs a at 3 or 4)
    assert(prox(1).find(_._1 == 6L).exists(_._2 >= 2), prox(1))
    assert(prox(2).map(_._1) == Seq(1L, 2L, 3L, 6L), prox(2))
    assert(!prox(2).map(_._1).contains(5L), "slop bound not enforced")
    // the probe plan prunes buckets
    val plan = Bm25Index.proximityHits(spark, name, Seq("a", "b"), 2)
      .queryExecution.executedPlan.toString
    val sel = Q.bucketScans(plan).headOption
    assert(sel.exists { case (n, m) => n < m },
      s"proximity probe did not prune buckets: $sel")
    // repeated-term phrases refuse loudly (phantom-match hazard)
    val e = intercept[IllegalArgumentException] {
      Bm25Index.proximityHits(spark, name, Seq("a", "a"), 1)
    }
    assert(e.getMessage.contains("repeated phrase terms"), e.getMessage)
    // distinct-term phrase derivation skips repeated-token top grams
    val d = "bm25spec_proxd_idx"
    TableRetention.sweep(spark, d)
    Bm25Index.buildPositional(Seq(
      (1L, "x x x x"), (2L, "p q")).toDF("doc_id", "text"),
      "doc_id", "text", d, buckets = 4)
    assert(Bm25Index.derivePhrase(spark, d) == Seq("x", "x"))
    assert(Bm25Index.derivePhrase(spark, d, distinctTerms = true) == Seq("p", "q"))
  }

  test("hybrid rrf: both rankers share ONE cached scored frame — the probe scan runs once") {
    val name = "bm25spec_reuse_idx"
    TableRetention.sweep(spark, name)
    Bm25Index.build(corpus, "doc_id", "text", name, buckets = 4)
    val top = Bm25Index.hybridRrfTopK(spark, name, Seq("b", "c"))
    top.collect()
    val plan = top.queryExecution.executedPlan.toString
    // the shared scored frame is a cache boundary: every ranker branch is
    // an InMemoryTableScan, and all of them print the SAME cached plan
    // object — so the set of DISTINCT postings FileScan lines (expr ids
    // included) has size 1, which is the one-cache-entry / one-scan proof
    assert(plan.contains("InMemoryTableScan"),
      s"scored frame not cached — rankers would re-execute the probe:\n$plan")
    val scanLines = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains(name + "["))
      .map(_.trim.dropWhile(!_.isLetter)).toSet
    assert(scanLines.size == 1,
      s"expected ONE shared cached postings scan, saw ${scanLines.size}:\n$plan")
    assert(scanLines.head.contains("SelectedBucketsCount: 2 out of 4"),
      s"cached probe scan not bucket-pruned:\n${scanLines.head}")
  }

  test("bm25: versioned build-once — the second ensure reuses, probes match") {
    def ensure() = graft.util.VersionedTable.ensure(
      spark, "bm25sv_", "bm25sv_idx",
      build = n => Bm25Index.build(corpus, "doc_id", "text", n, buckets = 4),
      usable = n => spark.catalog.tableExists(n) &&
        spark.catalog.tableExists(n + "_df") &&
        spark.catalog.tableExists(n + "_stats"),
      siblings = Bm25Index.siblings)
    val v1 = ensure()
    val v2 = ensure()
    assert(v1 == v2, s"second ensure rebuilt: $v1 vs $v2")
    val got = Bm25Index.topK(spark, v2, Seq("b", "c")).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 2L, 1L), got)
  }

  test("hybrid rrf: a REPEATED identical probe reuses the cache entry instead of evicting it") {
    // round-19 advice #1: the second plan-identical call's persist() is a
    // CacheManager no-op (entry already cached), so unconditionally
    // unpersisting the previous frame evicted the SHARED entry — every
    // call after the first executed the probe scan twice. The registry
    // must return the cached frame when the plan is unchanged.
    val name = "bm25spec_recache_idx"
    TableRetention.sweep(spark, name)
    Bm25Index.build(corpus, "doc_id", "text", name, buckets = 4)
    Bm25Index.hybridRrfTopK(spark, name, Seq("b", "c")).collect()
    val second = Bm25Index.hybridRrfTopK(spark, name, Seq("b", "c"))
    second.collect()
    val plan = second.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"repeated probe lost the cache — the scored frame self-evicted:\n$plan")
    val scanLines = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains(name + "["))
      .map(_.trim.dropWhile(!_.isLetter)).toSet
    assert(scanLines.size == 1,
      s"repeated probe re-executes the postings scan (${scanLines.size} distinct scans):\n$plan")
    // a DIFFERENT term set is a different plan: the entry swaps (old one
    // unpersisted, new one cached) — still exactly one live entry for the
    // index, and the new probe is itself cached
    val third = Bm25Index.hybridRrfTopK(spark, name, Seq("b"))
    third.collect()
    assert(third.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "re-termed probe not cached")
  }

  test("batch hybrid: per-query slices equal the solo RRF fusion, in one scan with a rank-limit cut") {
    val name = "bm25spec_bhyb_idx"
    TableRetention.sweep(spark, name)
    // the rrf-spec corpus where the two rankers genuinely disagree, plus
    // docs matching only one query's terms
    Bm25Index.build(Seq(
      (1L, "b b b b b b x x x x x x x x x x"),
      (2L, "b b b"),
      (3L, "c c"),
      (4L, "c b x")).toDF("doc_id", "text"), "doc_id", "text", name, buckets = 4)
    val queries = Seq("qa" -> Seq("b"), "qb" -> Seq("c", "x"), "qc" -> Seq("c"))
    val got = Bm25Index.batchHybridRrfTopK(spark, name, queries, k = 10)
    val rows = got.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1 else r.getInt(4),
        if (r.isNullAt(5)) -1 else r.getInt(5)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(t =>
        (t._2, t._4, t._5, t._6)).toSeq).toMap
    // each query's (doc_id, rrf, bm25_rank, tfidf_rank) slice — in rank
    // order — must be verbatim its solo hybridRrfTopK output
    queries.foreach { case (qid, terms) =>
      val solo = Bm25Index.hybridRrfTopK(spark, name, terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3)))
        .map(t => (t._1, t._2, t._3, t._4)).toSeq
      assert(rows(qid) == solo,
        s"batch hybrid slice for $qid diverges from solo:\n${rows(qid)}\nvs\n$solo")
    }
    // plan gates: ONE pruned postings scan (both rankers ride one
    // aggregate — no self-join, no cache boundary), and the per-query
    // top-k is a map-side rank-limit window
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("SelectedBucketsCount".r.findAllMatchIn(plan).size == 1,
      s"batch hybrid must scan the postings once:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k not rank-limited map-side:\n$plan")
  }

  test("sweep releases the hybrid probe cache entry; batchTopK refuses duplicate query ids") {
    TableRetention.sweep(spark, "bm25spec_cachelc")
    // every retention path retires a probed index version and must unpin
    // its cached frame too (round-19 verdict #6 — a swept index otherwise
    // leaves one cached frame pinned for the session): a `_b<N>` chain
    // sweep, a family prefix sweep, and the CLI's warehouse-wide sweep of
    // a stale (uncommitted, aged past the grace window) versioned build
    val stale = "bm25spec_cachelc__v1_5eed"
    val paths: Seq[(String, String, () => Seq[String])] = Seq(
      ("sweepVersions", "bm25spec_cachelc_b0",
        () => Bm25Index.sweepVersions(spark, "bm25spec_cachelc", Seq.empty)),
      ("TableRetention.sweep", "bm25spec_cachelc_idx",
        () => TableRetention.sweep(spark, "bm25spec_cachelc")),
      ("VersionedTable.sweepStale", stale, () => {
        val (wh, fs) = TableRetention.warehouse(spark)
        fs.setTimes(new org.apache.hadoop.fs.Path(wh, stale),
          System.currentTimeMillis() - 2 * graft.util.VersionedTable.InFlightGraceMs, -1)
        graft.util.VersionedTable.sweepStale(spark)
      }))
    paths.foreach { case (path, name, retire) =>
      Bm25Index.build(corpus, "doc_id", "text", name, buckets = 4)
      Bm25Index.hybridRrfTopK(spark, name, Seq("b", "c")).collect()
      val before = Bm25Index.cachedProbeCount
      val swept = retire()
      assert(swept.contains(s"table:$name"), s"$path did not sweep $name: $swept")
      assert(!spark.catalog.tableExists(name), s"$path left the version table")
      assert(Bm25Index.cachedProbeCount == before - 1,
        s"$path: swept index's cache entry survived " +
          s"($before -> ${Bm25Index.cachedProbeCount})")
    }
    // duplicate query_ids merge into one logical query — refused loudly
    val name2 = "bm25spec_dupq_idx"
    TableRetention.sweep(spark, name2)
    Bm25Index.build(corpus, "doc_id", "text", name2, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      Bm25Index.batchTopK(spark, name2, Seq("q1" -> Seq("a"), "q1" -> Seq("b")))
    }
    assert(e.getMessage.contains("duplicate query_ids"), e.getMessage)
  }

  test("sweepVersions honors reader leases and never dooms a lookalike-prefix table") {
    val base = "bm25spec_lease"
    TableRetention.sweep(spark, base)
    // two versions + an UNRELATED table whose name merely starts with a
    // version name (the round-19 advice #2 prefix-greedy regex hazard)
    Seq(0L, 1L).foreach { b =>
      Bm25Index.build(corpus, "doc_id", "text", s"${base}_b$b", buckets = 4)
    }
    val lookalike = s"${base}_b0backup"
    spark.sql(s"DROP TABLE IF EXISTS `$lookalike`")
    corpus.write.mode("overwrite").format("parquet").saveAsTable(lookalike)
    // a sibling session still probing b0 leases its base location
    graft.util.VersionedTable.leaseLocation(spark, s"${base}_b0")
    val swept = Bm25Index.sweepVersions(spark, base, Seq(s"${base}_b1"))
    assert(spark.catalog.tableExists(lookalike),
      s"unrelated lookalike-prefix table was doomed: $swept")
    assert(spark.catalog.tableExists(s"${base}_b0") &&
        spark.catalog.tableExists(s"${base}_b0_df"),
      s"leased version (or its sibling) was swept: $swept")
    // release the lease: the next sweep retires b0's whole trio
    graft.util.VersionedTable.releaseLease(spark, s"${base}_b0")
    val swept2 = Bm25Index.sweepVersions(spark, base, Seq(s"${base}_b1"))
    assert(!spark.catalog.tableExists(s"${base}_b0") &&
        !spark.catalog.tableExists(s"${base}_b0_stats"),
      s"unleased version survived: $swept2")
    assert(spark.catalog.tableExists(lookalike),
      "lookalike swept on the second pass")
    spark.sql(s"DROP TABLE IF EXISTS `$lookalike`")
  }
}
