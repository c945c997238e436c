package graft

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Dedup, IvfIndex, Similarity}
import graft.util.Recorder
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Rounds of the last [[Dedup.clusters]] call since [[Recorder.clear]]; -1 if none ran. */
  private def clusterRounds: Int =
    Recorder.get(Recorder.ClusterRounds).headOption.fold(-1)(_.toInt)

  private def mkDocs(n: Int) = (1L to n).map { i =>
    (i, (0 until 80).map(j => s"w${(i * 37 + j * 13) % 500}_$j").mkString(" "))
  }

  test("exact dedup keeps min id per key") {
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("id", "text")
    val got = Dedup.exact(df, Seq("text"), "id").orderBy("id")
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(got == Seq(1L, 2L))
  }

  test("minhash pairs find planted near-dups, not unrelated docs") {
    val docs = mkDocs(50)
    val mutated = docs.take(10).map { case (i, t) =>
      (i + 1000L, t.split(" ").drop(2).mkString(" "))
    }
    val df = (docs ++ mutated).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", shingleN = 3, numHashes = 64,
      bands = 16, minJaccard = 0.5).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    (1L to 10L).foreach(i => assert(found.contains((i, i + 1000L)), s"missing pair $i"))
    assert(pairs.forall(_.getDouble(2) >= 0.5))
    assert(found.size <= 15, s"too many false positives: ${found.size}")
  }

  test("portable md5 signature family: pinned values + planted near-dups") {
    import graft.expressions.PortableHash
    // pinned against python: int.from_bytes(md5(b'hello world').digest()[:8],
    // 'little') % (2**31 - 1) — the exact value DuckDB computes as
    // md5_number_upper('hello world') % 2147483647
    assert(PortableHash.baseHash("hello world") == 1561850914L)
    assert(PortableHash.baseHash("a b c") == 495244182L)
    assert(PortableHash.baseHash("") == 1659903731L)
    // a/b constants stay in-range and are never 0 (a=0 would collapse the
    // permutation to a constant)
    (0 until 64).foreach { i =>
      assert(PortableHash.a(i) >= 1 && PortableHash.a(i) < PortableHash.P)
      assert(PortableHash.b(i) >= 0 && PortableHash.b(i) < PortableHash.P)
    }
    // portable variants find the same planted near-dups as the xxhash family
    val docs = mkDocs(50)
    val mutated = docs.take(10).map { case (i, t) =>
      (i + 1000L, t.split(" ").drop(2).mkString(" "))
    }
    val df = (docs ++ mutated).toDF("id", "text")
    val mh = Dedup.minhashPairs(df, "id", "text", shingleN = 3, numHashes = 64,
      bands = 16, minJaccard = 0.5, sigFn = TF.minhashSignatureMd5).collect()
    val mhFound = mh.map(r => (r.getLong(0), r.getLong(1))).toSet
    (1L to 10L).foreach(i => assert(mhFound.contains((i, i + 1000L)), s"minhash missing pair $i"))
    val sh = Dedup.simhashPairs(df, "id", "text", maxHamming = 8,
      bands = 12, bits = 60, sigFn = TF.simhash60).collect()
    val shFound = sh.map(r => (r.getLong(0), r.getLong(1))).toSet
    (1L to 10L).foreach(i => assert(shFound.contains((i, i + 1000L)), s"simhash missing pair $i"))
  }

  test("simhash combination-key banding returns exactly the single-chunk pairs") {
    // both schemes are pigeonhole-exact for hamming <= maxHamming, so the
    // full (idA, idB, hamming) result sets must be IDENTICAL — this is what
    // lets d04 use the scale path without touching its oracle
    val docs = mkDocs(60)
    val mutated = docs.take(15).map { case (i, t) =>
      (i + 1000L, t.split(" ").drop(1).mkString(" "))
    }
    val df = (docs ++ mutated).toDF("id", "text")
    def run(blocks: Int) =
      Dedup.simhashPairs(df, "id", "text", maxHamming = 8, bands = 12,
        bits = 60, sigFn = TF.simhash60, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet
    val single = run(0)
    val combo = run(10) // 60 bits / 10 blocks; C(10,2)=45 keys of 12 bits
    assert(single == combo, s"scheme mismatch: ${single.diff(combo)} vs ${combo.diff(single)}")
    assert(single.nonEmpty)
  }

  test("simhash blocks=1 (width 64) does not collapse signatures into one bucket") {
    // (1L << 64) wraps to 1 in Java, so a naive mask would be 0 and every
    // doc would share bucket xxhash64(0, 0) — then capBuckets silently
    // drops the single oversized bucket and exact duplicates are missed
    val docs = mkDocs(30)
    val dups = docs.take(5).map { case (i, t) => (i + 1000L, t) } // exact copies
    val df = (docs ++ dups).toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "id", "text", maxHamming = 0,
      maxBucketSize = 10, bits = 64, blocks = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (1L to 5L).foreach(i => assert(pairs.contains((i, i + 1000L)), s"missing dup pair $i"))
  }

  test("collapsed simhash pairs equal plain simhash pairs (exact-dup clusters planted)") {
    // m05/m06 v2's load-bearing claim: collapsing identical signatures to
    // their min-id rep before banding changes NOTHING about the output —
    // within-group pairs come back as hamming 0, cross-group pairs inherit
    // the rep pair's hamming, and each pair appears exactly once
    val docs = mkDocs(40)
    val exactCopies = docs.take(8).flatMap { case (i, t) =>
      Seq((i + 1000L, t), (i + 2000L, t)) // clusters of 3 identical signatures
    }
    val nearCopies = docs.take(12).map { case (i, t) =>
      (i + 3000L, t.split(" ").drop(1).mkString(" "))
    }
    // null texts yield null signatures: plain banding emits NO pairs for
    // them (null hamming fails the cut) and the collapsed form must agree
    // — not declare them exact duplicates of each other via the null
    // window partition
    val nulls = Seq((9001L, null.asInstanceOf[String]), (9002L, null.asInstanceOf[String]))
    val df = (docs ++ exactCopies ++ nearCopies ++ nulls).toDF("id", "text")
    def canon(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet
    val plain = canon(Dedup.simhashPairs(df, "id", "text", maxHamming = 8,
      bands = 12, bits = 60, sigFn = TF.simhash60, blocks = 10))
    val collapsed = canon(Dedup.simhashPairsCollapsed(df, "id", "text",
      maxHamming = 8, bands = 12, bits = 60, sigFn = TF.simhash60, blocks = 10))
    assert(plain == collapsed,
      s"collapse changed output: ${plain.diff(collapsed)} vs ${collapsed.diff(plain)}")
    // the planted exact triples must appear as hamming-0 pairs
    (1L to 8L).foreach { i =>
      assert(collapsed.contains((i, i + 1000L, "0")), s"missing within-group pair $i")
      assert(collapsed.contains((i + 1000L, i + 2000L, "0")), s"missing within-group pair $i+1000")
    }
    // and a mega-cluster of exact copies survives a bucket cap the plain
    // banding would drop: 30 identical docs with maxBucketSize=10
    val mega = (1L to 30L).map(i => (i, "same text for everyone")).toDF("id", "text")
    val megaPairs = canon(Dedup.simhashPairsCollapsed(mega, "id", "text",
      maxHamming = 0, maxBucketSize = 10, bits = 64, blocks = 1))
    assert(megaPairs.size == 30 * 29 / 2, s"mega-cluster pairs: ${megaPairs.size}")
  }

  test("survivors drops the larger member of each pair") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val pairs = Seq((1L, 3L, 0.9)).toDF("idA", "idB", "est_jaccard")
    val kept = Dedup.survivors(docs, "id", pairs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  test("clusters: transitive chains collapse to the min id, singletons keep their own") {
    val docs = (1L to 8L).map(i => (i, s"doc$i")).toDF("id", "text")
    // chain 1-2-3-4 (no direct 1~4 pair) + pair 6-7; 5 and 8 are singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("idA", "idB")
    val got = Dedup.clusters(docs, "id", pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 8L))
    // the cluster representatives coincide with keep-first survivors here
    val survivorIds = Dedup.survivors(docs, "id",
      pairs.withColumn("j", lit(1.0))).collect().map(_.getLong(0)).toSet
    assert(got.values.toSet == survivorIds)
  }

  test("clusters: a diameter-100 pair chain converges in O(log d) rounds (pointer jumping)") {
    // the adversarial shape the quasi-clique assumption misses: one long
    // PATH in the pair graph. Plain propagation needs ~diameter rounds
    // (> the 25-round budget -> silently under-merged labels before the
    // round-17 fix); pointer jumping halves label depth per round.
    // smallGraphMax = 0 pins the DISTRIBUTED path — the round budget and
    // its refusal only exist there (the driver fast path has no rounds)
    val n = 101L // nodes 0..100, diameter 100
    val docs = (0L until n).map(i => (i, s"d$i")).toDF("id", "text")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("idA", "idB")
    Recorder.clear()
    val got = Dedup.clusters(docs, "id", pairs, smallGraphMax = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L),
      s"chain must collapse to one cluster rooted at 0: ${got.toSeq.sortBy(_._1).take(10)}")
    val rounds = clusterRounds
    assert(rounds > 0 && rounds <= 13,
      s"diameter-100 chain took $rounds rounds — 3 plain + ~log2(100) jumped expected")
    // an exhausted budget REFUSES instead of returning partial labels
    val ex = intercept[IllegalArgumentException] {
      Dedup.clusters(docs, "id", pairs, maxIters = 2, smallGraphMax = 0).collect()
    }
    assert(ex.getMessage.contains("did not converge"), ex.getMessage)
  }

  test("clusters: driver union-find fast path == distributed closure (round-21)") {
    // adversarial mix: a long chain (pointer-jumping territory), a clique,
    // a 2-cluster, singletons — the fast path must label every shape
    // identically to the distributed propagation
    val n = 60L
    val docs = (0L until n).map(i => (i, s"d$i")).toDF("id", "text")
    val pairs = ((0L until 19L).map(i => (i, i + 1)) ++ // chain 0..19
      Seq((30L, 31L), (31L, 32L), (30L, 32L), // triangle
        (40L, 41L)) ++ // pair
      Seq((50L, 20L))).toDF("idA", "idB") // bridge into the chain's tail
    val fast = Dedup.clusters(docs, "id", pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Recorder.clear()
    val dist = Dedup.clusters(docs, "id", pairs, smallGraphMax = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusterRounds > 0, "distributed run must be the real one")
    assert(fast == dist, s"fast-path labels diverge: ${
      fast.toSeq.sorted.zip(dist.toSeq.sorted).filter(x => x._1 != x._2).take(5)}")
  }

  test("clusters and IVF train accept STRING ids (no ANSI cast crash)") {
    val docs = Seq(("a", "t"), ("b", "t"), ("c", "t"), ("z", "t")).toDF("id", "text")
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("idA", "idB")
    val got = Dedup.clusters(docs, "id", pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "z"))
    val emb = (1 to 20).map(i => (f"v$i%02d", Array.fill(4)(i.toFloat)))
      .toDF("id", "v")
    val m = graft.operators.IvfIndex.train(emb, "id", "v", k = 2)
    assert(m.centroids.nonEmpty)
  }

  test("substring contamination: aligned copies share windows, distinct docs share none") {
    val base = (0 until 8).map(i => s"chunk$i-" + "x" * 24).mkString // 248 chars
    val other = (0 until 8).map(i => s"other$i-" + "y" * 24).mkString
    // doc 2 = doc 1 with one char changed at pos 100 (grid stays aligned)
    val edited = base.substring(0, 99) + "Z" + base.substring(100)
    val df = Seq((1L, base), (2L, edited), (3L, other)).toDF("id", "text")
    val got = Dedup.substringContamination(df, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 248 chars -> 6 windows (starts 0,32,...,160); the pos-99 edit touches
    // the windows starting at 64 and 96 -> 4 of 6 shared for docs 1 and 2
    assert(got(1L) == ((6L, 4L)))
    assert(got(2L) == ((6L, 4L)))
    assert(got(3L) == ((6L, 0L)))
  }

  test("cross contamination: grid-aligned inclusion hits, clean/empty eval docs don't") {
    val base = (0 until 8).map(i => s"chunk$i-" + "x" * 24).mkString // 248 chars
    val other = (0 until 8).map(i => s"clean$i-" + "y" * 24).mkString
    val train = Seq((1L, base), (2L, other.substring(0, 100))).toDF("id", "text")
    val eval = Seq(
      (10L, base),                 // verbatim train doc: every window hits
      (11L, base.substring(64)),   // tail slice from a grid point (64 = 2*32)
      (12L, other),                // shares no train window (train has only
                                   // other[0:100] -> windows at 0,32 only)
      (13L, ""), (14L, null.asInstanceOf[String])) // contentless: zero hits
      .toDF("id", "text")
    val got = Dedup.crossContamination(train, eval, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(10L) == ((6L, 6L)))         // 248 chars -> 6 windows, all in train
    // 184 chars -> 4 windows at local 0,32,64,96 = train 64..127,96..159,
    // 128..191,160..223 — all on train's grid
    assert(got(11L) == ((4L, 4L)))
    // clean doc: its windows at 0,32 ARE in-grid positions but train only
    // hashed other[0:100]'s two windows 0..63, 32..95 — eval's full-length
    // windows match those two, rest miss
    assert(got(12L)._2 == 2L)
    assert(got(13L) == ((1L, 0L)) && got(14L) == ((1L, 0L)))
  }

  test("contaminationFraction: a leaked doc flags, a one-quote doc scores below threshold") {
    val base = (0 until 8).map(i => s"chunk$i-" + "x" * 24).mkString // 248 chars
    val train = Seq((1L, base)).toDF("id", "text")
    // the quoted doc embeds exactly ONE train window, grid-aligned by a
    // 32-char prefix, inside otherwise-novel text (the d23 plant shape)
    val quote = base.substring(0, 64)
    val quoted = ("q" + "p" * 31) + quote + (" novel-filler" * 12)
    val eval = Seq(
      (10L, base),            // leaked verbatim: frac 1 -> flagged
      (11L, base.substring(64)), // leaked tail: all windows hit -> flagged
      (12L, quoted))          // one quote among many windows -> unflagged
      .toDF("id", "text")
    val got = Dedup.contaminationFraction(train, eval, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(got(10L)._2 == got(10L)._1 && got(10L)._3, s"leaked verbatim: ${got(10L)}")
    assert(got(11L)._2 == got(11L)._1 && got(11L)._3, s"leaked tail: ${got(11L)}")
    assert(got(12L)._2 == 1L && !got(12L)._3,
      s"one-quote doc must score below threshold: ${got(12L)}")
    // membership (d11's rule) would have flagged all three — the fraction
    // is what distinguishes the quote
    assert(got.values.forall(_._2 > 0), "every eval doc shares at least one window")
  }

  test("best survivors: highest score wins per transitive cluster, ties by min id") {
    val docs = Seq(
      (1L, "a", 10), (2L, "b", 30), (3L, "c", 30), // one chain cluster 1~2, 2~3
      (9L, "z", 5))                                // singleton survives itself
      .toDF("id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("idA", "idB")
    val got = Dedup.bestSurvivors(docs, "id", "score", pairs)
      .select("id", "cluster", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 2 and 3 tie at 30 -> min id 2 wins; transitive closure folds 1 in
    assert(got == Set((2L, 1L, 30), (9L, 9L, 5)))
  }

  test("quota survivors: keep best N per cluster with exact upweight pair") {
    val docs = Seq(
      (1L, "a", 10), (2L, "b", 30), (3L, "c", 20), // chain cluster 1~2, 2~3
      (9L, "z", 5))                                // singleton: kept, n_kept 1
      .toDF("id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("idA", "idB")
    val got = Dedup.quotaSurvivors(docs, "id", "score", pairs, quota = 2)
      .select("id", "cluster", "rank", "cluster_size", "n_kept")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSet
    // cluster {1,2,3}: scores 30 > 20 > 10 keep ids 2,3 (ranks 1,2), drop 1;
    // size 3 with 2 kept is the upweight pair; singleton keeps itself whole
    assert(got == Set(
      (2L, 1L, 1, 3L, 2L),
      (3L, 1L, 2, 3L, 2L),
      (9L, 9L, 1, 1L, 1L)))
  }

  test("quota survivors: quota 1 kept set equals bestSurvivors") {
    val docs = Seq((1L, "a", 10), (2L, "b", 30), (3L, "c", 20), (9L, "z", 5))
      .toDF("id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("idA", "idB")
    val q1 = Dedup.quotaSurvivors(docs, "id", "score", pairs, quota = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    val best = Dedup.bestSurvivors(docs, "id", "score", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(q1 == best)
  }

  test("contamination spans: overlapping hits merge, gaps split") {
    // APERIODIC text (decimal counter — no window equals any other at a
    // different offset); eval leaks train[64..160) (grid windows 64 and
    // 96 — an overlapping pair) PLUS the adjacent train[0..64): adjacent
    // and overlapping hits both merge (chars [0,160) are contiguous, so
    // ONE excision region is the artifact), while train[128..192) leaked
    // in a second eval doc leaves the char gap... exercised separately:
    // here leak [0,64) and [128,192) only — a REAL character gap at
    // [64,128) must split the spans
    val text = (0 until 110).map(_.toString).mkString.substring(0, 200)
    val train = Seq((1L, text)).toDF("id", "text")
    val evalMerge = Seq((100L, text.substring(64, 160)), (101L, text.substring(0, 64)))
      .toDF("id", "text")
    val merged = Dedup.contaminationSpans(train, evalMerge, "id", "text")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(merged.toSeq == Seq((0, 0, 160)), merged.mkString(","))
    val evalGap = Seq((100L, text.substring(0, 64)), (101L, text.substring(128, 192)))
      .toDF("id", "text")
    val split = Dedup.contaminationSpans(train, evalGap, "id", "text")
      .orderBy("span_idx")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(split.toSeq == Seq((0, 0, 64), (1, 128, 192)), split.mkString(","))
  }

  test("contamination spans: a short doc's truncated window clamps to its length") {
    // a 50-char doc gets ONE truncated grid window; a full leak spans
    // [0, 50), not [0, 64) — the clamp is the contract
    val text = (0 until 30).map(_.toString).mkString.substring(0, 50)
    val train = Seq((1L, text)).toDF("id", "text")
    val eval = Seq((100L, text)).toDF("id", "text")
    val got = Dedup.contaminationSpans(train, eval, "id", "text")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq((0, 0, 50)), got.mkString(","))
  }

  test("bucket cap drops degenerate buckets") {
    // 60 identical docs -> one giant bucket, capped at 20 -> no pairs
    val df = (1L to 60L).map(i => (i, "same text here repeated words alpha beta gamma")).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", shingleN = 3, numHashes = 16,
      bands = 4, minJaccard = 0.9, maxBucketSize = 20)
    assert(pairs.count() == 0)
  }

  test("embedding pairs via sign-LSH find perturbed clones") {
    val vecs = (1L to 30L).map { i =>
      val v = (0 until 16).map(j => math.sin(i * 7.0 + j).toFloat)
      (i, v)
    }
    val clones = vecs.take(5).map { case (i, v) => (i + 100L, v.map(x => x * 1.001f)) }
    val df = (vecs ++ clones).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(df, "vec_id", "embedding", minCosine = 0.999,
      numPlanes = 8, dim = 16).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    (1L to 5L).foreach(i => assert(found.contains((i, i + 100L)), s"missing clone pair $i"))
  }

  test("autoPlanes keeps bucket occupancy constant as the corpus grows") {
    // floor binds at gate scale (oracle regime unchanged)...
    assert(Dedup.autoPlanes(1000L, 8, 32) == 8)
    // ...then grows ~log2 with the corpus: 16x input -> +4 planes
    assert(Dedup.autoPlanes(80000L, 8, 32) == 12)
    assert(Dedup.autoPlanes(16L * 80000L, 8, 32) == 16)
    // capped at 24 even for a trillion-row corpus; degenerate n safe
    assert(Dedup.autoPlanes(1000000000000L, 8, 32) == 24)
    assert(Dedup.autoPlanes(0L, 8, 32) == 8)
  }

  test("embedding pairs with targetBucketSize finds the same clone pairs") {
    val vecs = (1L to 30L).map { i =>
      (i, (0 until 16).map(j => math.sin(i * 7.0 + j).toFloat))
    }
    val clones = vecs.take(5).map { case (i, v) => (i + 100L, v.map(x => x * 1.001f)) }
    val df = (vecs ++ clones).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(df, "vec_id", "embedding", minCosine = 0.999,
      numPlanes = 8, dim = 16, targetBucketSize = 32).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    (1L to 5L).foreach(i => assert(found.contains((i, i + 100L)), s"missing clone pair $i"))
  }

  test("embedding pairs auto-size by default; corpusSizeHint replaces the count") {
    val vecs = (1L to 30L).map { i =>
      (i, (0 until 16).map(j => math.sin(i * 7.0 + j).toFloat))
    }
    val clones = vecs.take(5).map { case (i, v) => (i + 100L, v.map(x => x * 1.001f)) }
    val df = (vecs ++ clones).toDF("vec_id", "embedding")
    def pairKeys(got: Array[org.apache.spark.sql.Row]) =
      got.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the default call (no targetBucketSize) runs in auto-sizing mode now;
    // an exact-size hint must reproduce the counted result bit for bit
    val byCount = pairKeys(Dedup.embeddingPairs(df, "vec_id", "embedding",
      minCosine = 0.999, numPlanes = 8, dim = 16).collect())
    val byHint = pairKeys(Dedup.embeddingPairs(df, "vec_id", "embedding",
      minCosine = 0.999, numPlanes = 8, dim = 16, corpusSizeHint = 35L).collect())
    assert(byCount == byHint)
    // a million-row hint raises the plane count past the floor
    // (autoPlanes -> 15) — occupancy control — while the 0.999-cosine
    // clones still collide and pair
    val byBigHint = pairKeys(Dedup.embeddingPairs(df, "vec_id", "embedding",
      minCosine = 0.999, numPlanes = 8, dim = 16, corpusSizeHint = 1L << 20).collect())
    (1L to 5L).foreach(i =>
      assert(byBigHint.contains((i, i + 100L)), s"missing clone pair $i at 20 planes"))
  }

  test("brute-force top-k matches manual cosine ranking") {
    // ids 9 and 6 copy id 2's vector (an exact cosine tie) and sit ahead of
    // it in row order: every path must rank the tie by lower neighbor_id
    val vecs = Seq(
      (9L, Seq(0.9f, 0.1f, 0f)), (6L, Seq(0.9f, 0.1f, 0f)),
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)), (3L, Seq(0f, 1f, 0f)),
      (4L, Seq(0.8f, 0.2f, 0f)), (5L, Seq(0f, 0f, 1f)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where($"vec_id" === 1)
    def ranks(top: org.apache.spark.sql.DataFrame) =
      top.orderBy("rank").collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSeq
    val expected = Seq((2L, 1), (6L, 2), (9L, 3), (4L, 4)) // by cosine to (1,0,0), ties by id
    assert(ranks(Similarity.bruteForceTopK(df, q, "vec_id", "embedding", k = 4)) == expected)
    val everyPair = df.where($"vec_id" =!= 1)
      .select(lit(1L).as("query_id"), $"vec_id".as("neighbor_id"))
    assert(ranks(Similarity.rerank(everyPair, df, q, "vec_id", "embedding", k = 4)) == expected)
    val ivf = IvfIndex.train(df, "vec_id", "embedding", k = 2)
    assert(ranks(IvfIndex.topK(df, q, "vec_id", "embedding", ivf, k = 4, nprobe = ivf.k)) == expected)
  }

  test("LSH top-k returns a subset of true candidates with exact cosines") {
    val vecs = (1L to 100L).map { i =>
      (i, (0 until 16).map(j => math.cos(i * 3.1 + j * 1.7).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where($"vec_id" <= 3)
    val brute = Similarity.bruteForceTopK(df, q, "vec_id", "embedding", k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(df, q, "vec_id", "embedding", k = 5,
      numPlanes = 4, tables = 6, dim = 16).collect()
    assert(lsh.nonEmpty)
    // every LSH hit carries the exact cosine (spot check against brute map)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-9))
    }
  }

  test("range join: bucketed equi formulation equals the naive non-equi join") {
    import graft.operators.RangeJoin
    val events = (1 to 500).map(i => (i % 5L, i.toLong * 7 % 1000, s"e$i")).toDF("k", "t", "ev")
    val intervals = (1 to 60).map { i =>
      val s = i.toLong * 16 % 900
      (i % 5L, s, s + (i % 50), s"iv$i")
    }.toDF("k", "s", "e", "iv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("ev", "iv").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val naive = canon(RangeJoin.naive(events, intervals, Seq("k"), "t", "s", "e"))
    val bucketed = canon(RangeJoin.bucketed(events, intervals, Seq("k"), "t", "s", "e",
      c => (c / 32).cast("long")))
    assert(naive == bucketed)
    assert(naive.nonEmpty)
    // and the bucketed plan must be a hash/merge EQUI join, not nested-loop
    val plan = RangeJoin.bucketed(events, intervals, Seq("k"), "t", "s", "e",
      c => (c / 32).cast("long")).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("as-of backward join: latest right row at-or-before, nulls when none") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, 10L, "a"), (1L, 25L, "b"), (2L, 5L, "c"), (1L, 20L, "tie"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 8L, 100.0), (1L, 20L, 200.0), (1L, 30L, 300.0), (3L, 1L, 999.0))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.asofBackward(left, right, Seq("k"), "t", "rt", Seq("rt", "v"))
      .collect().map { r =>
        r.getAs[String]("tag") -> ((
          Option(r.getAs[java.lang.Long]("rt")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)))
      }.toMap
    assert(out("a") == ((Some(8L), Some(100.0))))   // 8 <= 10 < 20
    assert(out("b") == ((Some(20L), Some(200.0))))  // 20 <= 25 < 30
    assert(out("tie") == ((Some(20L), Some(200.0)))) // inclusive at equal ts
    assert(out("c") == ((None, None)))              // key 2 has no right rows
  }

  test("as-of join: NULL-timestamp right rows never match (ts >= NULL is never true)") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, java.lang.Long.valueOf(5L), "early"),
      (1L, null.asInstanceOf[java.lang.Long], "nullts")).toDF("k", "t", "tag")
    val right = Seq((1L, null.asInstanceOf[java.lang.Long], 111.0),
      (1L, java.lang.Long.valueOf(10L), 222.0)).toDF("k", "rt", "v")
    val out = AsOfJoin.asofBackward(left, right, Seq("k"), "t", "rt", Seq("rt", "v"))
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)).toMap
    // the NULL-rt row must not become the match for t=5 (no real row <= 5),
    // and a NULL-t left row matches nothing
    assert(out("early").isEmpty)
    assert(out("nullts").isEmpty)
  }

  test("helpers reject user columns colliding with reserved names") {
    import graft.operators.{RangeJoin, SkewJoin}
    val withG = Seq((1L, 2L, 3L)).toDF("k", "t", "__g")
    val plain = Seq((1L, 2L, 3L)).toDF("k", "s", "e")
    intercept[IllegalArgumentException] {
      RangeJoin.bucketed(withG, plain, Seq("k"), "t", "s", "e", c => c)
    }
    val withSalt = Seq((1L, 2L)).toDF("k", "__salt")
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(withSalt, plain, "k", 4)
    }
    intercept[IllegalArgumentException] {
      SkewJoin.twoPhaseAgg(withSalt, "k", 4, Seq(count(lit(1)).as("c")), Seq(sum(col("c")).as("n")))
    }
  }

  test("salted join equals plain join on skewed data") {
    import graft.operators.SkewJoin
    // 10k facts, 90% on one hot key
    val fact = (1 to 10000).map(i => (if (i % 10 == 0) i.toLong % 7 else 1L, i.toLong))
      .toDF("k", "v")
    val dim = Seq((0L, "zero"), (1L, "one"), (2L, "two"), (3L, "three"),
      (4L, "four"), (5L, "five"), (6L, "six")).toDF("k", "name")
    val plain = fact.join(dim, "k").groupBy("name").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = SkewJoin.saltedJoin(fact, dim, "k", salts = 8)
      .groupBy("name").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("salted join tolerates unhashable (map) columns in the default tiebreak") {
    import graft.operators.SkewJoin
    // a MapType column would make xxhash64-over-all-columns throw an
    // AnalysisException; the default disambiguator must skip it
    val fact = (1 to 100).map(i => (i.toLong % 3, i.toLong, Map("m" -> i)))
      .toDF("k", "v", "props")
    val dim = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "name")
    val plain = fact.join(dim, "k").groupBy("name").agg(sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val salted = SkewJoin.saltedJoin(fact, dim, "k", salts = 4)
      .groupBy("name").agg(sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == plain)
  }

  test("two-phase skewed aggregation equals direct aggregation") {
    import graft.operators.SkewJoin
    val df = (1 to 5000).map(i => (if (i % 100 == 0) "rare" else "hot", i.toLong)).toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("sum"), count(lit(1)).as("count"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val skewed = SkewJoin.skewedSumCount(df, "k", "v", salts = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(skewed == direct)
  }

  test("IVF index: deterministic training, cell-local search with decent recall") {
    import graft.operators.IvfIndex
    val vecs = (1L to 200L).map { i =>
      (i, (0 until 16).map(j => math.cos(i * 3.1 + j * 1.7).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where($"vec_id" <= 5)
    val m1 = IvfIndex.train(df, "vec_id", "embedding", k = 8)
    val m2 = IvfIndex.train(df, "vec_id", "embedding", k = 8)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq) // deterministic
    val ivf = IvfIndex.topK(df, q, "vec_id", "embedding", m1, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(df, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.4, f"IVF recall@5 too low: $recall%.2f")
    assert(ivf.nonEmpty && ivf.forall { case (qid, _) => qid <= 5 })
    // save/load roundtrip: the reloaded quantizer IS the trained one
    val idxPath = java.nio.file.Files.createTempDirectory("ivf").resolve("idx").toString
    IvfIndex.save(spark, m1, idxPath)
    val m3 = IvfIndex.load(spark, idxPath)
    assert(m3.centroids.map(_.toSeq).toSeq == m1.centroids.map(_.toSeq).toSeq)
  }

  test("NearestCells matches the k-wide literal least/array_sort formulation") {
    import graft.operators.IvfIndex
    val emb = sf("embeddings").select("vec_id", "embedding")
    val m = IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    // the literal-tree formulation NearestCells replaced — rebuilt here as
    // the reference semantics (lexicographic least / array_sort over
    // struct(l2, id)); the expression must be bit-identical at any nprobe
    def literalCells(v: org.apache.spark.sql.Column, nprobe: Int) = {
      val ranked = array_sort(array(m.centroids.zipWithIndex.map { case (c, i) =>
        struct(VF.l2Distance(v, typedlit(c.toSeq)).as("d"), lit(i).as("cell"))
      }.toIndexedSeq: _*))
      slice(transform(ranked, s => s.getField("cell")), 1, nprobe)
    }
    for (nprobe <- Seq(1, 4, 8)) {
      val diff = emb.select(
        VF.nearestCells($"embedding", m.centroids, nprobe).as("a"),
        literalCells($"embedding", nprobe).as("b"))
        .where(not($"a" <=> $"b")).count()
      assert(diff == 0L, s"NearestCells diverges from literal tree at nprobe=$nprobe")
    }
  }

  test("IVF assign at k=256 plans ONE ivf_nearest_cells node") {
    import graft.operators.IvfIndex
    val emb = sf("embeddings").select("vec_id", "embedding")
    val m = IvfIndex.train(emb, "vec_id", "embedding", k = 256)
    assert(m.k == 256)
    val assigned = IvfIndex.assign(emb, "vec_id", "embedding", m)
    val plan = assigned.queryExecution.analyzed.toString
    assert("ivf_nearest_cells".r.findAllIn(plan).length == 1,
      s"expected exactly one ivf_nearest_cells node, plan:\n$plan")
    assert(!plan.contains("least("), "literal least() centroid tree leaked back in")
    // analysis + execution complete in bounded time at corpus-scale k
    val cells = assigned.select("ivf_cell").distinct().count()
    assert(cells > 1 && cells <= 256)
  }

  test("NearestCells: NaN distances keep real cell ids and sort last") {
    // all-NaN distances (NaN element in the vector): ids 0..nprobe-1 in cell
    // order — the array_sort contract (NaN > +Inf, ties by id) — NOT
    // duplicate default-0 slots
    val nan = Seq((1L, Array(Float.NaN, 1.0f))).toDF("id", "v")
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(2.0, 2.0))
    val allNaN = nan.select(VF.nearestCells($"v", cents, 2).as("c"))
      .collect().head.getSeq[Int](0)
    assert(allNaN == Seq(0, 1), s"all-NaN distances must keep id order, got $allNaN")
    // one NaN-distance centroid (NaN in the centroid): sorts after every
    // finite distance but keeps its real id
    val v = Seq((1L, Array(0.0f, 0.0f))).toDF("id", "v")
    val mixed = Array(Array(Double.NaN, 0.0), Array(1.0, 0.0), Array(2.0, 0.0))
    val got = v.select(VF.nearestCells($"v", mixed, 3).as("c"))
      .collect().head.getSeq[Int](0)
    assert(got == Seq(1, 2, 0), s"NaN centroid must sort last with real id, got $got")
  }

  test("IVF bucketed assignment: probe prunes buckets, results equal topK") {
    import graft.operators.IvfIndex
    val emb = sf("embeddings").select("vec_id", "embedding")
    val q = emb.where($"vec_id" < 5)
    val m = IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    IvfIndex.saveAssigned(emb, "vec_id", "embedding", m, "ivf_assigned_test", buckets = 8)
    try {
      val fromTable = IvfIndex.topKAssigned(spark, "ivf_assigned_test", q,
        "vec_id", "embedding", m, k = 5, nprobe = 2)
      val direct = IvfIndex.topK(emb, q, "vec_id", "embedding", m, k = 5, nprobe = 2)
      val a = fromTable.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val b = direct.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(a == b, "bucketed-table probe must return exactly the direct topK result")
      // the corpus scan must carry bucket pruning: only probed cells' buckets read
      val plan = fromTable.queryExecution.executedPlan.toString
      val sel = graft.queries.Q.bucketScans(plan).find(_._2 == 8)
      assert(sel.isDefined, s"no bucket pruning in plan:\n$plan")
      assert(sel.get._1 < 8, "probe read every bucket — pruning ineffective")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_assigned_test")
  }

  test("autoNlist tracks sqrt(n) within clamps") {
    assert(IvfIndex.autoNlist(0L) == 16)
    assert(IvfIndex.autoNlist(10000L) == 100)
    assert(IvfIndex.autoNlist(1000000L) == 1000)
    // 10^12 vectors -> sqrt = 10^6, capped at 2^17
    assert(IvfIndex.autoNlist(1000000000000L) == (1 << 17))
  }

  test("int8 quantization: bounded error, sign-preserving, zero vector safe") {
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f, -1.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
    val df = vecs.toDF("id", "v")
    val got = df.select($"id", VF.quantizeI8($"v").as("q")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).map(_.toInt)).toMap
    assert(df.select(VF.quantizeI8($"v")).schema.head.dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType,
        containsNull = false)) // int8 elements ARE the storage contract
    // max|x|=1.0 -> scale 127: 0.5->64 (floor(63.5+0.5)), -0.25->-31
    // (floor(-31.75+0.5)=-32? floor(-31.25)= -32... compute: -0.25*127=-31.75;
    // +0.5 => -31.25; floor => -32), 0.125->16, -1.0->-127
    assert(got(1L) == Seq(64, -32, 16, -127))
    assert(got(2L) == Seq(0, 0, 0, 0))
    // dequantization error bound: |x - q*ma/127| <= 0.5*ma/127
    got(1L).zip(vecs.head._2).foreach { case (q, x) =>
      assert(math.abs(x - q / 127.0) <= 0.5 / 127.0 + 1e-9)
    }
  }

  test("typed TopK aggregator matches the window-based top-k") {
    import graft.functions.TopKAggregator
    import org.apache.spark.sql.functions.udaf
    val vecs = (1L to 100L).map { i =>
      (i, (0 until 16).map(j => math.cos(i * 3.1 + j * 1.7).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where($"vec_id" <= 3)
    val viaWindow = Similarity.bruteForceTopK(df, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // same scoring, aggregated with the bounded-buffer typed Aggregator
    val topk = udaf(new TopKAggregator(5))
    val scored = df.crossJoin(broadcast(q.select($"vec_id".as("query_id"), $"embedding".as("qv"))))
      .where($"query_id" =!= $"vec_id")
      .select($"query_id",
        struct(graft.functions.VectorFunctions.cosine($"qv", $"embedding").as("_1"),
          $"vec_id".as("_2")).as("sv"))
    val viaAgg = scored.groupBy("query_id")
      .agg(topk($"sv._1", $"sv._2").as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).as("rank"), $"col._2".as("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(viaAgg == viaWindow)
  }

  test("mergeSnapshot: upsert wins, tombstones delete, duplicate delta keys refused") {
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val delta = Seq((2L, "B", "upsert"), (4L, "d", "upsert"), (3L, "c", "delete"))
      .toDF("id", "v", "op")
    val merged = graft.operators.Dedup.mergeSnapshot(snap, delta, "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged == Map(1L -> "a", 2L -> "B", 4L -> "d"))
    // a delta carrying two rows for one key is order-dependent — refuse
    val dup = Seq((2L, "x", "upsert"), (2L, "y", "delete")).toDF("id", "v", "op")
    val e = intercept[IllegalArgumentException](
      graft.operators.Dedup.mergeSnapshot(snap, dup, "id"))
    assert(e.getMessage.contains("duplicate key"))
    // a NULL key slips through BOTH merge legs (its group is its own, and
    // null never equi-joins): an upsert would append a junk row, a delete
    // would be a silent no-op — refuse up front
    val nullKey = Seq((Some(2L), "x", "upsert"), (None, "y", "upsert"))
      .toDF("id", "v", "op")
    val en = intercept[IllegalArgumentException](
      graft.operators.Dedup.mergeSnapshot(snap, nullKey, "id"))
    assert(en.getMessage.contains("NULL"), en.getMessage)
    val nullDelete = Seq((Option.empty[Long], "y", "delete")).toDF("id", "v", "op")
    val ed = intercept[IllegalArgumentException](
      graft.operators.Dedup.mergeSnapshot(snap, nullDelete, "id"))
    assert(ed.getMessage.contains("NULL"), ed.getMessage)
  }

  test("incrementalJaccardPairs: batch-vs-corpus pairs, asymmetry, id-collision refused") {
    val old = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    // 10: near-dup of old 1 (drops first token); 11: unique; 12: near-dup
    // of 11 (earlier-new blocker, not old)
    val fresh = Seq((10L, "beta gamma delta epsilon"),
      (11L, "red orange yellow green blue indigo"),
      (12L, "orange yellow green blue indigo")).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.incrementalJaccardPairs(old, fresh,
      "doc_id", "text").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 1L)), s"old blocker missed: $pairs")
    assert(pairs.contains((12L, 11L)), s"earlier-new blocker missed: $pairs")
    // asymmetry: old x old pairs structurally absent, new side only as A
    assert(pairs.forall { case (a, b) => a >= 10L && (b < 10L || b < a) }, pairs)
    // id collision across sides is refused loudly (a shared id would
    // self-pair at jaccard 1 and silently always-block the new row)
    val clash = Seq((1L, "whatever text here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      graft.operators.Dedup.incrementalJaccardPairs(old, clash, "doc_id", "text"))
    assert(e.getMessage.contains("globally unique"), e.getMessage)
  }

  test("incrementalJaccardPairsIndexed == inline path on a real corpus; stale index litter swept") {
    val docs = sf("documents").select($"doc_id", $"text")
    val batch = docs.where($"doc_id" % 7 === 2)
      .select(($"doc_id" + 3000000L).as("doc_id"),
        org.apache.spark.sql.functions.expr(
          "substring(text, instr(text, ' ') + 1)").as("text"))
    val inline = graft.operators.Dedup.incrementalJaccardPairs(docs, batch,
      "doc_id", "text")
    // plant litter a "crashed" earlier build would leave: a stale-key
    // catalog table and an orphan warehouse location
    import spark.implicits._
    Seq((1L, 2, 3L)).toDF("id", "band", "bucket")
      .write.mode("overwrite").saveAsTable("dspec_band_deadbeef")
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val orphan = new java.io.File(wh, "dspec_sh_cafe")
    orphan.mkdirs()
    val live = graft.operators.Dedup.jaccardIndexTables("dspec_live")
    graft.operators.Dedup.buildJaccardIngestIndex(docs, "doc_id", "text", "dspec_live")
    val swept = graft.util.TableRetention.sweep(spark, "dspec_", live.contains)
    assert(swept.exists(_.endsWith("dspec_band_deadbeef")), swept)
    assert(swept.exists(_ == "loc:dspec_sh_cafe"), swept)
    assert(!spark.catalog.tableExists("dspec_band_deadbeef"))
    assert(!orphan.exists())
    // live index survived the sweep and serves the probe
    assert(live.forall(spark.catalog.tableExists))
    val indexed = graft.operators.Dedup.incrementalJaccardPairsIndexed(spark,
      "dspec_live", batch, "doc_id", "text")._1
    val a = inline.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = indexed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, s"indexed path diverged: only-inline=${a.diff(b).take(5)} " +
      s"only-indexed=${b.diff(a).take(5)}")
    assert(a.nonEmpty, "fixture produced no incremental pairs — test is vacuous")
    // id collision against the PERSISTED corpus is refused like the inline path
    val clash2 = docs.limit(1).select($"doc_id", $"text")
    val e2 = intercept[IllegalArgumentException](
      graft.operators.Dedup.incrementalJaccardPairsIndexed(spark,
        "dspec_live", clash2, "doc_id", "text"))
    assert(e2.getMessage.contains("globally unique"), e2.getMessage)
    // a too-short sweep prefix is refused (it would sweep unrelated tables)
    val e3 = intercept[IllegalArgumentException](
      graft.util.TableRetention.sweep(spark, "s"))
    assert(e3.getMessage.contains("too short"), e3.getMessage)
    graft.util.TableRetention.sweep(spark, "dspec_")
  }

  test("crossContaminationIndexed == inline; probe plan never re-scans the train corpus") {
    val dir = "/root/testdata/sf0.001"
    def rows(q: String) = graft.SparkEntry.queries(q)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inline = rows("d11_cross_contamination")
    val indexed = rows("d19_decontamination_index") // builds the fixture-keyed index
    assert(indexed == inline, s"indexed decontamination diverged: " +
      s"only-inline=${inline.diff(indexed).take(3)} only-indexed=${indexed.diff(inline).take(3)}")
    assert(inline.exists(_._3 > 0), "no contamination found — test is vacuous")
    // serving contract: the probe reads documents ONCE (the eval side);
    // the train text lives in the slim bucketed hash table
    import org.apache.spark.sql.functions._
    val table = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("d19_whx_")).head
    val eval = sf("documents").select($"doc_id", $"text")
      .where($"doc_id" % 7 === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"),
        expr("substring(text, 65)").as("text"))
    val plan = graft.operators.Dedup
      .crossContaminationIndexed(spark, table, eval, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(docScans == 1, s"probe plan scans documents $docScans times:\n${plan.take(800)}")
    assert(plan.contains(table), s"probe plan does not read the index table:\n${plan.take(800)}")
    graft.util.TableRetention.sweep(spark, "d19_")
  }

  test("d20 straddle residual: surviving duplicate bytes bounded near one chunk length") {
    // CDC's documented residual: the one chunk STRADDLING a duplicate
    // region's start mixes unique prefix with duplicate content and
    // survives. Quantify it (round-14 verdict #6): plant one 1200-char
    // region behind unique prefixes of 20 different lengths and measure
    // how many region chars survive per duplicate. Expected: about one
    // chunk (mean chunk length = divisor = 64 chars, geometric tail), so
    // the MEAN residual must sit near 64 and far below the region size —
    // the data that decides whether a two-sided trim is worth building.
    val rng = new scala.util.Random(20260815L)
    val region = (0 until 1200).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val docs = (0 until 20).map { i =>
      val prefix = (0 until 15 + 13 * i).map(_ => ('A' + rng.nextInt(26)).toChar).mkString
      (i.toLong, prefix + region, prefix.length)
    }
    import spark.implicits._
    val out = graft.operators.Dedup
      .cdcSpanDedup(docs.map(d => (d._1, d._2)).toDF("id", "text"), "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // doc 0 keeps everything it owns first (all spans new at min id)
    assert(out(0L).length == docs(0)._3 + 1200, s"doc 0 must keep its full text")
    val residuals = docs.tail.map { case (id, _, plen) =>
      val kept = out(id).length
      assert(kept >= plen, s"doc $id lost prefix chars: kept=$kept prefix=$plen")
      kept - plen // chars of the shared region that survived
    }
    val mean = residuals.sum.toDouble / residuals.size
    // measured: 103 chars at EVERY offset — min == max because the rolling
    // hash depends only on the last 8 codepoints, so once 8 region chars
    // have streamed the cut sequence is region-determined regardless of
    // prefix: the residual is a constant of the region's content (~one
    // expected chunk), which is the re-synchronization property itself
    info(f"straddle residual per duplicate: mean=$mean%.1f chars " +
      f"min=${residuals.min} max=${residuals.max} (region=1200, divisor=64)")
    assert(mean <= 3 * 64,
      s"mean straddle residual $mean exceeds ~3 chunk lengths: $residuals")
    assert(residuals.max < 1200 / 2,
      s"a duplicate kept over half the region: $residuals")
  }

  test("d22 url dedup: normalization merges variants, survivor by quality, blocklist drops") {
    val dir = tmpDir("urldedup")
    // doc 1 (%6==1): base url + a planted variant with case/port/slash/utm
    //   noise at HIGHER quality -> the variant must WIN the collision
    // doc 4 (%6==4): planted fragment+mixed-params variant -> its own row,
    //   utm_medium dropped, id=7 kept
    // doc 3: source src3 is blocklisted -> absent entirely
    Seq((1L, "t", "en", "srca", 50L), (4L, "t", "en", "srcb", 70L),
        (3L, "t", "en", "src3", 10L), (2L, "t", "en", "srcc", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("d22_url_dedup")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      (5000001L, "https://www.srca.example.com/p/1", 100050L), // variant won
      (4L, "https://www.srcb.example.com/p/4", 70L),
      (6000004L, "https://www.srcb.example.com/p/4?id=7", 0L), // utm gone, id kept
      (2L, "https://www.srcc.example.com/p/2", 60L)), s"got: $out")
    assert(!out.exists(_._1 == 1L), "base doc 1 must lose to its higher-quality variant")
    assert(!out.exists(_._2.contains("src3")), "blocklisted host must drop")
    // plan shape: rank-limit window (map-side WindowGroupLimit) + broadcast
    // anti join for the blocklist — the shapes that survive 100 TB
    val static = graft.util.Conf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      graft.queries.PipelineQueries.queries("d22_url_dedup")(spark, dir.toString)
        .queryExecution.executedPlan.toString
    }
    assert(static.contains("WindowGroupLimit"),
      s"survivor pick must push the rank limit map-side:\n$static")
    assert(static.contains("BroadcastHashJoin") && static.contains("LeftAnti"),
      s"blocklist must be a broadcast anti join:\n$static")
  }

  test("spanDedup: first-occurrence wins across and within docs; exact copies drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghijKLMNOPQRST"), // spans "abcdefghij","KLMNOPQRST"
      (2L, "abcdefghijZZZZ"),       // span0 loses to doc1; "ZZZZ" survives
      (3L, "abcdefghijKLMNOPQRST"), // exact copy of doc1 -> drops entirely
      (4L, "ababababababababab"),   // span0 == span1[..8] ? no: spans "ababababab","abababab"
      (5L, "qqqqqqqqqqqqqqqqqqqq"), // spans "qqqqqqqqqq","qqqqqqqqqq": within-doc dup
      (6L, ""),                     // empty -> drops
      (7L, null.asInstanceOf[String])) // null -> drops
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.spanDedup(docs, "doc_id", "text", spanChars = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 4L, 5L), out.keySet)
    assert(out(1L) == ((2L, 2L, "abcdefghijKLMNOPQRST")), out(1L)) // untouched: byte-identical
    assert(out(2L) == ((2L, 1L, "ZZZZ")), out(2L))                 // shared prefix span removed
    assert(out(4L) == ((2L, 2L, "ababababababababab")), out(4L))   // distinct spans both kept
    assert(out(5L) == ((2L, 1L, "qqqqqqqqqq")), out(5L))           // within-doc dup: first kept
  }

  test("cdcSpanDedup: untouched docs reassemble byte-identical; empty/null drop") {
    import spark.implicits._
    // unique content, varied lengths (incl. shorter than the hash window)
    val docs = (1L to 20L).map(i =>
      (i, (0 until (i * 7).toInt).map(j => s"u${i}w$j").mkString(" ")))
      .toDF("doc_id", "text") unionByName
      Seq((98L, ""), (99L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.cdcSpanDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet == (1L to 20L).toSet, out.keySet)
    val orig = docs.where($"text".isNotNull).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 20L).foreach { i =>
      val (ns, nk, text) = out(i)
      assert(ns == nk, s"doc $i lost spans with unique content: $ns vs $nk")
      assert(text == orig(i), s"doc $i did not reassemble byte-identical")
    }
  }

  test("cdcSpanDedup catches the off-grid duplicate spanDedup provably misses") {
    import spark.implicits._
    val prefix = graft.queries.PipelineQueries.cdcOffGridPrefix
    assert(prefix.length == 37, s"fixture offset drifted: ${prefix.length}")
    val base = (0 until 120).map(j => s"tok${(j * 17) % 211}x$j").mkString(" ")
    val docs = Seq(
      (1L, base),
      // the same content at offset 37 — off every 100-char grid point
      (2L, prefix + base + " tail_2")).toDF("doc_id", "text")

    // d18 (fixed 100-char grid): NO span of doc 2 matches doc 1 — the copy
    // is invisible (this is the documented miss window, pinned here)
    val grid = Dedup.spanDedup(docs, "doc_id", "text", spanChars = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val gridSpans2 = Dedup.spanDedup(docs.where($"doc_id" === 2), "doc_id", "text",
      spanChars = 100).collect().head.getLong(1)
    assert(grid(2L) == gridSpans2,
      s"grid dedup unexpectedly caught the off-grid copy (kept ${grid(2L)} of $gridSpans2)")

    // d20 (content-defined): boundaries re-synchronize inside the copied
    // region, so most of doc 2's content dedupes away; only the prefix,
    // the one straddling chunk, and the tail survive
    val cdc = Dedup.cdcSpanDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val (ns1, nk1, text1) = cdc(1L)
    assert(ns1 == nk1 && text1 == base, "doc 1 (first occurrence) must be untouched")
    val (ns2, nk2, text2) = cdc(2L)
    assert(nk2 < ns2, s"cdc dedup removed nothing from the off-grid copy ($nk2 of $ns2)")
    assert(text2.length < (prefix + base + " tail_2").length / 2,
      s"cdc dedup should remove most of the copied content, survivor is ${text2.length} " +
        s"of ${(prefix + base + " tail_2").length} chars: ${text2.take(120)}")
    assert(text2.startsWith(prefix), "the unique prefix must survive")
  }

  test("cdcSpanDedup: spans under minSpan never dedupe (min-match-length rule)") {
    import spark.implicits._
    // force a shared SHORT chunk: identical 10-char texts in two docs would
    // normally dedupe doc 2 away; with minSpan=20 both survive untouched,
    // while a shared LONG text still dedupes
    val docs = Seq(
      (1L, "tiny_same!"), (2L, "tiny_same!"),
      (3L, "long_shared_content " * 5), (4L, "long_shared_content " * 5))
      .toDF("doc_id", "text")
    val out = Dedup.cdcSpanDedup(docs, "doc_id", "text", minSpan = 20)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out.keySet.contains(1L) && out.keySet.contains(2L),
      s"short identical docs must BOTH survive: ${out.keySet}")
    assert(out(2L) == "tiny_same!", "short span must not be removed")
    assert(out.keySet.contains(3L) && !out.keySet.contains(4L),
      s"long verbatim copy must still drop: ${out.keySet}")
  }

  test("cdcContamination catches off-grid inclusions the stride grid misses") {
    import spark.implicits._
    val passage = (0 until 100).map(j => s"pw${(j * 19) % 173}n$j").mkString(" ")
    val train = Seq((1L, s"header text then $passage and a footer")).toDF("doc_id", "text")
    // eval contains the passage at a DIFFERENT, non-stride-aligned offset
    val eval = Seq((2L, s"x$passage")).toDF("doc_id", "text")
    val grid = Dedup.crossContamination(train, eval, "doc_id", "text")
      .collect().head
    assert(grid.getLong(2) == 0L,
      s"stride-grid d11 unexpectedly caught the off-phase inclusion " +
        s"(${grid.getLong(2)} windows) — fixture no longer demonstrates the caveat")
    val cdc = Dedup.cdcContamination(train, eval, "doc_id", "text")
      .collect().head
    assert(cdc.getLong(2) > 0L,
      s"cdc contamination missed the off-grid inclusion: $cdc")
    assert(cdc.getLong(2) >= cdc.getLong(1) / 2,
      s"most of the copied passage's spans should flag: $cdc")
  }

  test("CdcSpans: boundaries re-synchronize — shared suffix chunks identical past one window") {
    import spark.implicits._
    val shared = (0 until 90).map(j => s"s${(j * 13) % 83}q$j").mkString(" ")
    val chunksOf = (head: String) =>
      Seq((1L, head + shared)).toDF("doc_id", "text")
        .select(TF.cdcSpans(col("text"), 8, 257, 1048573, 64))
        .collect().map(_.getString(2)).toSeq
    val a = chunksOf("A")
    val b = chunksOf("Bxx" + "Cyy")
    // all chunks past the first boundary inside `shared` must be identical
    val commonTail = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.length
    assert(commonTail >= 1, s"no re-synchronized chunks: a=${a.size}, b=${b.size}")
    val tailChars = a.takeRight(commonTail).map(_.length).sum
    assert(tailChars > shared.length / 2,
      s"re-sync too late: only $tailChars of ${shared.length} shared chars align")
  }

  test("d17Probe at the base fixture == the d17 query's survivors") {
    // the soak flatness leg must measure THE d17 probe, not a lookalike:
    // when the index dir and the batch dir coincide, the probe's output is
    // by construction the d17 query's survivor set
    val dir = "/root/testdata/sf0.001"
    val viaQuery = graft.SparkEntry.queries("d17_incremental_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val viaProbe = graft.queries.PipelineQueries.d17Probe(spark, dir, dir)
      .collect().map(_.getLong(0)).toSet
    assert(viaProbe == viaQuery,
      s"probe diverged from d17: only-query=${viaQuery.diff(viaProbe).take(5)} " +
        s"only-probe=${viaProbe.diff(viaQuery).take(5)}")
    assert(viaProbe.nonEmpty, "fixture produced no survivors — test is vacuous")
  }

  test("st13FixedBatchIngest at the base fixture == the st13 query's admissions") {
    // same contract as the d17 probe: the soak leg must run THE st13 ingest
    // loop (probe -> staged write -> append -> marker), not a lookalike
    val dir = "/root/testdata/sf0.001"
    val viaQuery = graft.SparkEntry.queries("st13_streaming_ingest_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val viaFixed = graft.queries.PipelineQueries.st13FixedBatchIngest(spark, dir, dir)
      .collect().map(_.getLong(0)).toSet
    assert(viaFixed == viaQuery,
      s"fixed-batch ingest diverged from st13: only-query=${viaQuery.diff(viaFixed).take(5)} " +
        s"only-fixed=${viaFixed.diff(viaQuery).take(5)}")
    assert(viaFixed.nonEmpty, "fixture produced no admissions — test is vacuous")
  }

  test("st15Probe at the base fixture == st15 == d19's one-shot output") {
    // the streaming probe must be THE d19 check batched over arrivals:
    // union over micro-batches == one-shot output, and the soak's
    // fixed-eval leg must run the same loop
    val dir = "/root/testdata/sf0.001"
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1), r.getLong(2))
    val oneShot = graft.SparkEntry.queries("d19_decontamination_index")(spark, dir)
      .collect().map(key).toSet
    val streamed = graft.SparkEntry.queries("st15_streaming_decontamination")(spark, dir)
      .collect().map(key).toSet
    assert(streamed == oneShot,
      s"streamed probe diverged: only-oneshot=${oneShot.diff(streamed).take(3)} " +
        s"only-streamed=${streamed.diff(oneShot).take(3)}")
    Recorder.clear()
    val viaFixed = graft.queries.PipelineQueries.st15Probe(spark, dir, dir)
      .collect().map(key).toSet
    assert(viaFixed == streamed, "fixed-eval soak leg diverged from st15")
    assert(streamed.nonEmpty, "fixture produced no probed rows — test is vacuous")
    val walls = Recorder.get(Recorder.BatchWalls)
    assert(walls.size == 2, s"expected 2 per-batch walls, got $walls")
  }

  test("appendJaccardIngestIndex: next batch blocks against appended survivors") {
    import org.apache.spark.sql.functions.expr
    val docs = sf("documents").select($"doc_id", $"text")
    // a prior failed run's tables/locations would make saveAsTable refuse
    graft.util.TableRetention.sweep(spark, "dspeca_")
    graft.operators.Dedup.buildJaccardIngestIndex(docs, "doc_id", "text", "dspeca")
    // batch 1: near-dup mutations of every 7th doc (blocked) plus
    // genuinely-new docs (every token suffixed — all shingles change);
    // the survivors are what a real ingest admits to the corpus
    val batch1 = docs.where($"doc_id" % 7 === 2)
      .select(($"doc_id" + 3000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .unionByName(docs.where($"doc_id" % 7 === 3)
        .select(($"doc_id" + 3000000L).as("doc_id"),
          expr("array_join(transform(split(text, ' '), t -> concat(t, '_ap')), ' ')")
            .as("text")))
    val (pairs1, prep1) = graft.operators.Dedup.incrementalJaccardPairsIndexed(
      spark, "dspeca", batch1, "doc_id", "text")
    val blocked1 = pairs1.select($"idA".as("doc_id")).distinct()
    val accepted1 = batch1.join(blocked1, Seq("doc_id"), "left_anti")
    assert(accepted1.limit(1).collect().nonEmpty,
      "fixture admitted nothing — append test is vacuous")
    // append the ADMITTED slice of the probe's prep, as st13 does
    graft.operators.Dedup.appendJaccardIngestIndex(spark, "dspeca",
      prep1.join(accepted1.select($"doc_id".as("id")), Seq("id"), "left_semi"))
    // batch 2 contains near-dups of batch-1 SURVIVORS (+4e6 ids, first
    // token dropped) — only an appended index can block those
    val batch2 = accepted1
      .select(($"doc_id" + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val indexed2 = graft.operators.Dedup.incrementalJaccardPairsIndexed(spark,
      "dspeca", batch2, "doc_id", "text")._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline2 = graft.operators.Dedup.incrementalJaccardPairs(
      docs.unionByName(accepted1), batch2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed2 == inline2, s"appended index diverged from inline over " +
      s"grown corpus: only-indexed=${indexed2.diff(inline2).take(5)} " +
      s"only-inline=${inline2.diff(indexed2).take(5)}")
    // at least one batch-2 row is blocked BY an appended survivor — proof
    // the append is load-bearing, not just harmless
    assert(indexed2.exists(_._2 >= 3000000L),
      s"no batch-2 pair blocks on an appended survivor: ${indexed2.take(5)}")
    // re-ingesting appended ids is refused by the probe, the family's one
    // duplicate-id guard (they would shadow-pair forever)
    val e = intercept[IllegalArgumentException](
      graft.operators.Dedup.incrementalJaccardPairsIndexed(spark,
        "dspeca", accepted1, "doc_id", "text"))
    assert(e.getMessage.contains("globally unique"), e.getMessage)
    graft.util.TableRetention.sweep(spark, "dspeca_")
  }

  test("cosine/dot/norm math") {
    val df = Seq((Seq(1f, 2f, 2f), Seq(2f, 4f, 4f))).toDF("a", "b")
    val r = df.select(
      VF.dot($"a", $"b").as("d"), VF.norm($"a").as("n"),
      VF.cosine($"a", $"b").as("c"), VF.l2Distance($"a", $"b").as("l2")).head()
    assert(math.abs(r.getDouble(0) - 18.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 3.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 3.0) < 1e-9)
  }

  private def randVec(rnd: scala.util.Random, dim: Int): Seq[Float] =
    Seq.fill(dim)(rnd.nextGaussian().toFloat)

  test("semanticDedup: identical-copy mega-cluster collapses to one rep; " +
    "zero-vector dups (cosine 0.0 by convention) survive like the all-pairs form") {
    val rnd = new scala.util.Random(7)
    val bases = (0L until 3L).map(i => (i, randVec(rnd, 8)))
    // 20k exact copies of base 0 — the degenerate workload; pre-fix this
    // was ~2*10^8 pairs in ONE task, post-fix it is one window group
    val copies = (1L to 20000L).map(j => (1000L + j, bases.head._2))
    val zeroV = Seq.fill(8)(0f)
    val zeros = Seq((100L, zeroV), (101L, zeroV))
    val emb = (bases ++ copies ++ zeros).toDF("id", "v")
    val out = Dedup.semanticDedup(emb, "id", "v", minCosine = 0.95, nlist = 1)
      .select("id").as[Long].collect().sorted
    // survivors: the 3 distinct bases + BOTH zero-vector rows (CosineSim
    // returns 0.0 for zero norm BY CONVENTION — not NaN, which Spark would
    // order above minCosine — so a zero vector qualifies nowhere and brute
    // force keeps both)
    assert(out.toSeq == Seq(0L, 1L, 2L, 100L, 101L))
  }

  test("semanticDedup: oversized distinct-vector cell sub-splits without " +
    "losing exact-copy blocking; result equals the unsplit plan") {
    val rnd = new scala.util.Random(11)
    // dim 32: cosine of random gaussians ~ N(0, 1/32), so 0.95 is 5.4
    // sigma and the 45k organic pairs produce zero qualifiers (at dim 8
    // a handful DO pair organically — observed 3)
    val bases = (0L until 300L).map(i => (i, randVec(rnd, 32)))
    val copies = bases.take(50).map { case (i, v) => (10000L + i, v) }
    val emb = (bases ++ copies).toDF("id", "v")
    // maxCellSize=20 over 300 distinct reps in one cell -> p=4, 16 subs
    val split = Dedup.semanticDedup(emb, "id", "v", minCosine = 0.95,
      nlist = 1, maxCellSize = 20).select("id").as[Long].collect().sorted
    val unsplit = Dedup.semanticDedup(emb, "id", "v", minCosine = 0.95,
      nlist = 1).select("id").as[Long].collect().sorted
    // random gaussians don't organically pair at 0.95, so survivors are
    // exactly the 300 base ids — from BOTH plans
    assert(split.toSeq == (0L until 300L))
    assert(unsplit.toSeq == split.toSeq)
  }

  test("semanticDedup: residual occupancy guard fails loudly when " +
    "near-identical DISTINCT vectors defeat the LSH sub-split") {
    val rnd = new scala.util.Random(13)
    val u = randVec(rnd, 8)
    // 100 distinct vectors within 1e-4 of u (spacing 1e-6 is far above
    // float eps near |u0|~1, so all stay distinct): same 16-plane
    // signature, every sub-bucket collides; bound = 8*maxCellSize = 32
    val adv = (0L until 100L).map { i =>
      (i, u.updated(0, u.head + (i + 1) * 1e-6f))
    }
    val emb = adv.toDF("id", "v")
    val e = intercept[Exception] {
      Dedup.semanticDedup(emb, "id", "v", minCosine = 0.95,
        nlist = 1, maxCellSize = 4).select("id").count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("semanticDedup")),
      s"expected the semanticDedup occupancy message, got: $e")
  }

  test("incremental simhash index: pair union over batches == one-shot banded pairs") {
    val bandT = "simix_band"
    graft.util.TableRetention.sweep(spark, "simix")
    // hand-planted 64-bit signatures (all flips inside one 8-bit chunk, so
    // the pigeonhole banding provably finds every pair): hamming(1,2)=1,
    // hamming(1,3)=4, hamming(1,4)=5 (over the cut), 5 identical to 1,
    // 6 unrelated
    val base = 0x0F0F0F0F0F0F0F0FL
    val sigs = Seq(
      (1L, base),
      (2L, base ^ 0x1L),
      (3L, base ^ 0xFL),
      (4L, base ^ 0x1FL),
      (5L, base),
      (6L, 0x123456789ABCDEF0L)).toDF("id", "sig")
    val oneShot = Dedup.simhashPairs(sigs, "id", "sig",
      maxHamming = Dedup.Perceptual.MaxHamming, bits = Dedup.Perceptual.Bits,
      sigFn = c => c, blocks = Dedup.Perceptual.Blocks)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // split: {1,3,6} first, {2,4,5} second — near-dup pairs straddle
    val b1 = sigs.where(col("id").isin(1L, 3L, 6L))
    val b2 = sigs.where(col("id").isin(2L, 4L, 5L))
    // empty-seeded, then appended per batch — the uniform-loop model st24
    // runs (batch-internal pairs surface through the fresh-vs-fresh leg)
    Dedup.buildSimhashIngestIndex(b1.limit(0), "id", "sig", bandT)
    val q1 = Dedup.incrementalSimhashPairsIndexed(spark, bandT, b1, "id", "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    Dedup.appendSimhashIngestIndex(spark, bandT, b1, "id", "sig")
    val q2 = Dedup.incrementalSimhashPairsIndexed(spark, bandT, b2, "id", "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    Dedup.appendSimhashIngestIndex(spark, bandT, b2, "id", "sig")
    assert((q1 ++ q2) == oneShot,
      s"incremental union != one-shot:\n${q1 ++ q2}\nvs\n$oneShot")
    assert(q1.intersect(q2).isEmpty, "a pair surfaced in two batches")
    // re-ingesting appended ids is refused by the probe, the family's one
    // duplicate-id guard
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalSimhashPairsIndexed(spark, bandT, b1, "id", "sig")
    }
    assert(e.getMessage.contains("globally unique"), e.getMessage)
    graft.util.TableRetention.sweep(spark, "simix")
  }

  test("ingest index tables are plain: no bucket spec, one file per prep partition per append") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    def meta(t: String) = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
    def files(t: String) =
      new java.io.File(meta(t).location).listFiles().count(_.getName.startsWith("part-"))
    graft.util.TableRetention.sweep(spark, "plainix")
    val index = "plainix_jx"
    val bandT = "plainix_sim_band"
    val tables = Dedup.jaccardIndexTables(index) :+ bandT
    val docs = mkDocs(30).toDF("doc_id", "text")
    Dedup.buildJaccardIngestIndex(docs.limit(0), "doc_id", "text", index)
    Dedup.buildSimhashIngestIndex(docs.select($"doc_id".as("id"), lit(0L).as("sig")).limit(0),
      "id", "sig", bandT)
    for (k <- 0 until 3) {
      val (_, prep) = Dedup.incrementalJaccardPairsIndexed(spark, index,
        docs.where($"doc_id" % 3 === k), "doc_id", "text")
      val sigs = prep.select($"id", xxhash64($"sh").as("sig"))
      val parts = prep.rdd.getNumPartitions
      assert(parts == 1, s"a small batch's prep has $parts partitions")
      val before = tables.map(files)
      Dedup.appendJaccardIngestIndex(spark, index, prep)
      Dedup.appendSimhashIngestIndex(spark, bandT, sigs, "id", "sig")
      assert(tables.map(files) == before.map(_ + parts),
        s"append $k: files per table ${tables.zip(before)} -> ${tables.map(files)}")
    }
    assert(tables.forall(t => meta(t).bucketSpec.isEmpty),
      tables.map(t => t -> meta(t).bucketSpec))
    assert(spark.table(tables(1)).count() == 30 && spark.table(bandT).count() == 30 * 70,
      "every appended row landed")
    graft.util.TableRetention.sweep(spark, "plainix")
  }

  test("closureMerge: incremental labels == one-shot closure; remap stays composed and merge-bounded") {
    def ids(xs: Long*) = xs.toDF("id")
    def prs(xs: (Long, Long)*) = xs.toDF("idA", "idB")
    def lbls(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emptyStored = ids().select(col("id"), col("id").as("cluster"))
    val emptyRemap = ids().select(col("id").as("cluster"), col("id").as("root"))
    // batch 1: {10,20,30,40}, one pair — clusters {10,20}, {30}, {40}
    val (s1, r1) = Dedup.closureMerge(emptyStored, emptyRemap,
      ids(10, 20, 30, 40), prs((20L, 10L)))
    var stored = s1.localCheckpoint(); var remap = r1.localCheckpoint()
    assert(lbls(stored) == Map(10L -> 10L, 20L -> 10L, 30L -> 30L, 40L -> 40L))
    assert(remap.isEmpty, "no prior labels existed — remap must stay empty")
    // batch 2: node 50 bridges the 10-cluster and singleton 30 — TWO
    // prior components merge through one batch node (the incremental
    // regime); 30 stops being a root and gains the remap entry
    val (s2, r2) = Dedup.closureMerge(stored, remap, ids(50),
      prs((50L, 20L), (50L, 30L)))
    stored = stored.unionByName(s2).localCheckpoint()
    remap = r2.localCheckpoint()
    assert(lbls(s2) == Map(50L -> 10L))
    assert(lbls(remap.select("cluster", "root")) == Map(30L -> 10L))
    assert(lbls(Dedup.closureLabels(stored, remap)) ==
      Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L, 50L -> 10L)
        .updated(40L, 40L))
    // batch 3: node 5 (SMALLER than every root) attaches to 40 and 20 —
    // root changes again, so batch 2's entry (30 -> 10) must RE-ROOT to
    // (30 -> 5): the eager-composition case a lazy remap would chain on
    val (s3, r3) = Dedup.closureMerge(stored, remap, ids(5),
      prs((5L, 40L), (5L, 20L)))
    stored = stored.unionByName(s3).localCheckpoint()
    remap = r3.localCheckpoint()
    val finalLabels = lbls(Dedup.closureLabels(stored, remap))
    assert(finalLabels == Map(5L -> 5L, 10L -> 5L, 20L -> 5L, 30L -> 5L,
      40L -> 5L, 50L -> 5L), finalLabels)
    // equals the one-shot closure over the UNION of all pairs
    val oneShot = lbls(Dedup.clusters(
      ids(5, 10, 20, 30, 40, 50), "id",
      prs((20L, 10L), (50L, 20L), (50L, 30L), (5L, 40L), (5L, 20L))))
    assert(finalLabels == oneShot, s"incremental != one-shot: $finalLabels vs $oneShot")
    // the remap is COMPOSED (one lookup deep): no entry's root is itself
    // a remapped key — the read side must never chase chains
    val keys = remap.select("cluster").collect().map(_.getLong(0)).toSet
    val roots = remap.select("root").collect().map(_.getLong(0)).toSet
    assert(keys.intersect(roots).isEmpty,
      s"remap not eagerly composed: $keys vs $roots")
    // and merge-bounded: entries only for labels that stopped being roots
    assert(lbls(remap.select("cluster", "root")) ==
      Map(30L -> 5L, 10L -> 5L, 40L -> 5L), lbls(remap.select("cluster", "root")))
    // a pair-free batch appends self-labeled rows and leaves the remap be
    val (s4, r4) = Dedup.closureMerge(stored, remap, ids(99), prs())
    assert(lbls(s4) == Map(99L -> 99L))
    assert(lbls(r4.select("cluster", "root")) ==
      lbls(remap.select("cluster", "root")))
  }

  test("closureMerge: driver-local fast path == distributed body (round-21)") {
    // the same 3-batch sequence as the test above, run BOTH ways per
    // batch (smallGraphMax default = local; 0 = the distributed body),
    // asserting stored-append and remap agree row-for-row at every step —
    // including the re-rooting batch and the prior-root entry creation
    def ids(xs: Long*) = xs.toDF("id")
    def prs(xs: (Long, Long)*) = xs.toDF("idA", "idB")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var stored = ids().select(col("id"), col("id").as("cluster"))
      .localCheckpoint()
    var remap = ids().select(col("id").as("cluster"), col("id").as("root"))
      .localCheckpoint()
    val batches = Seq(
      (ids(10, 20, 30, 40), prs((20L, 10L))),
      (ids(50), prs((50L, 20L), (50L, 30L))),
      (ids(5), prs((5L, 40L), (5L, 20L))))
    for ((bIds, bPairs) <- batches) {
      val (sL, rL) = Dedup.closureMerge(stored, remap, bIds, bPairs)
      val (sD, rD) = Dedup.closureMerge(stored, remap, bIds, bPairs,
        smallGraphMax = 0)
      assert(m(sL) == m(sD), s"storedAppend diverged: ${m(sL)} vs ${m(sD)}")
      assert(m(rL.select("cluster", "root")) == m(rD.select("cluster", "root")),
        s"remap diverged: ${m(rL)} vs ${m(rD)}")
      stored = stored.unionByName(sL).localCheckpoint()
      remap = rL.localCheckpoint()
    }
  }

  test("closureMerge(smallGraphMax = 0) closes the label graph by distributed propagation") {
    // the distributed body passes its cap on to clusters, so the quotient
    // graph is closed by label propagation and the comparison above sets
    // the driver union-find against a different algorithm
    def ids(xs: Long*) = xs.toDF("id")
    val stored = ids(10, 20, 30).select(col("id"), col("id").as("cluster"))
    val remap = ids().select(col("id").as("cluster"), col("id").as("root"))
    Recorder.clear()
    val (s, _) = Dedup.closureMerge(stored, remap, ids(5),
      Seq((5L, 20L), (5L, 30L)).toDF("idA", "idB"), smallGraphMax = 0)
    assert(s.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(5L -> 5L))
    assert(clusterRounds > 0, s"label propagation ran $clusterRounds rounds")
  }
}
