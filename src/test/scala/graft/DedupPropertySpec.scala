package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop}

/** The dedup family's dual-path contracts over generated inputs: the
  * closure's driver union-find equals its distributed label propagation
  * (one-shot and per batch), the union of per-batch ingest-index pairs
  * equals the one-shot pairs, and st11's, st20's and st23's ingest loops
  * end where their one-shot twins do, for any batch split.
  */
class DedupPropertySpec extends SparkSpec {
  import spark.implicits._

  private def lbls(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** A permutation of 1..n, so id order and graph position are unrelated. */
  private def shuffledIds(n: Int): Gen[Seq[Long]] =
    Gen.listOfN(n, Gen.choose(0, Int.MaxValue))
      .map(keys => (1L to n.toLong).zip(keys).sortBy(_._2).map(_._1))

  /** Random pair graph (ids, pairs): chains, some longer than the closure's
    * plain-propagation prefix so pointer jumping runs; cliques; bridges
    * between components; untouched singletons. Pair orientation is random.
    */
  private val graphGen: Gen[(Seq[Long], Seq[(Long, Long)])] = for {
    chainLens <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.choose(2, 24)))
    cliqueSizes <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(2, 5)))
    singles <- Gen.choose(0, 4)
    ids <- shuffledIds(chainLens.sum + cliqueSizes.sum + singles)
    bounds = (chainLens ++ cliqueSizes).scanLeft(0)(_ + _)
    groups = bounds.zip(bounds.tail).map { case (from, to) => ids.slice(from, to) }
    chains = groups.take(chainLens.size)
      .flatMap(c => c.zip(c.tail))
    cliques = groups.drop(chainLens.size)
      .flatMap(c => c.combinations(2).map { case Seq(a, b) => (a, b) })
    bridges <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids))))
      .map(_.filter(p => p._1 != p._2))
    flips <- Gen.listOfN(chains.size + cliques.size + bridges.size, Gen.prob(0.5))
  } yield (ids, (chains ++ cliques ++ bridges).zip(flips)
    .map { case ((a, b), f) => if (f) (b, a) else (a, b) })

  /** Min-id connected components by BFS: the closure's reference. */
  private def components(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val label = scala.collection.mutable.Map.empty[Long, Long]
    for (root <- ids.sorted if !label.contains(root)) {
      label(root) = root
      val queue = scala.collection.mutable.Queue(root)
      while (queue.nonEmpty)
        for (y <- adj.getOrElse(queue.dequeue(), Nil) if !label.contains(y)) {
          label(y) = root; queue += y
        }
    }
    label.toMap
  }

  /** One batch index per id, over 1..`maxBatches` batches. */
  private def splitGen(n: Int, maxBatches: Int): Gen[Seq[Int]] =
    Gen.choose(1, maxBatches).flatMap(k => Gen.listOfN(n, Gen.choose(0, k - 1)))

  test("property: clusters' driver union-find == distributed propagation == BFS") {
    check(Prop.forAllNoShrink(graphGen) { case (ids, pairs) =>
      val docs = ids.toDF("id")
      val prs = pairs.toDF("idA", "idB")
      val want = components(ids, pairs)
      val driver = lbls(Dedup.clusters(docs, "id", prs))
      val dist = lbls(Dedup.clusters(docs, "id", prs, smallGraphMax = 0))
      assert(driver == want, s"driver labels != BFS for pairs $pairs")
      assert(dist == want, s"distributed labels != BFS for pairs $pairs")
      true
    })
  }

  test("property: closureMerge local == distributed at every batch; final == one-shot") {
    val gen = for {
      (ids, pairs) <- graphGen
      batchOf <- splitGen(ids.size, 3)
    } yield (ids, pairs, ids.zip(batchOf).toMap)
    check(Prop.forAllNoShrink(gen) { case (ids, pairs, batchOf) =>
      var stored = Seq.empty[(Long, Long)].toDF("id", "cluster").localCheckpoint()
      var remap = Seq.empty[(Long, Long)].toDF("cluster", "root").localCheckpoint()
      // a pair arrives with its later-arriving endpoint's batch
      for (b <- 0 to batchOf.values.max) {
        val bIds = ids.filter(batchOf(_) == b).toDF("id")
        val bPairs = pairs
          .filter { case (x, y) => math.max(batchOf(x), batchOf(y)) == b }
          .toDF("idA", "idB")
        val (sL, rL) = Dedup.closureMerge(stored, remap, bIds, bPairs)
        val (sD, rD) = Dedup.closureMerge(stored, remap, bIds, bPairs,
          smallGraphMax = 0)
        assert(lbls(sL) == lbls(sD), s"batch $b storedAppend diverged")
        assert(lbls(rL) == lbls(rD), s"batch $b remap diverged")
        stored = stored.unionByName(sL).localCheckpoint()
        remap = rL.localCheckpoint()
      }
      val got = lbls(Dedup.closureLabels(stored, remap))
      val oneShot = lbls(Dedup.clusters(ids.toDF("id"), "id", pairs.toDF("idA", "idB")))
      assert(got == oneShot, s"maintained labels != one-shot for pairs $pairs")
      true
    })
  }

  /** Planted near-dup corpus: unrelated base docs, each followed by a chain
    * of copies that drop a leading token or swap one token for a fresh one
    * (some links fall under the Jaccard cut); ids are shuffled.
    */
  private val corpusGen: Gen[Seq[(Long, String)]] = {
    val token = Gen.choose(0, 999).map(i => s"w$i")
    val mutate = (t: Seq[String]) => Gen.oneOf(
      Gen.choose(1, 3).map(t.drop),
      for (i <- Gen.choose(0, t.size - 1); w <- token) yield t.updated(i, w + "x"))
    def chain(base: Seq[String], n: Int): Gen[List[Seq[String]]] =
      if (n == 0) Gen.const(Nil)
      else mutate(base).flatMap(m => chain(m, n - 1).map(m :: _))
    for {
      bases <- Gen.choose(2, 6).flatMap(Gen.listOfN(_,
        Gen.choose(20, 30).flatMap(Gen.listOfN(_, token))))
      docs <- Gen.sequence[List[List[Seq[String]]], List[Seq[String]]](
        bases.map(b => Gen.choose(0, 3).flatMap(n => chain(b, n).map(b :: _))))
      texts = docs.flatten.map(_.mkString(" "))
      ids <- shuffledIds(texts.size)
    } yield ids.zip(texts)
  }

  test("property: per-batch Jaccard index pairs over any split == one-shot ngramJaccardPairs") {
    val index = "propjx"
    val gen = for (docs <- corpusGen; batchOf <- splitGen(docs.size, 3))
      yield (docs, batchOf)
    check(Prop.forAllNoShrink(gen) { case (docs, batchOf) =>
      graft.util.TableRetention.sweep(spark, "propjx_")
      val all = docs.toDF("doc_id", "text")
      Dedup.buildJaccardIngestIndex(all.limit(0), "doc_id", "text", index, buckets = 4)
      val perBatch = (0 to batchOf.max).flatMap { b =>
        val batch = docs.zip(batchOf).collect { case (d, `b`) => d }
          .toDF("doc_id", "text")
        val (pairs, prep) =
          Dedup.incrementalJaccardPairsIndexed(spark, index, batch, "doc_id", "text")
        val got = pairs.collect()
          .map(r => (math.min(r.getLong(0), r.getLong(1)),
            math.max(r.getLong(0), r.getLong(1)), r.getDouble(2)))
        Dedup.appendJaccardIngestIndex(spark, index, prep)
        got
      }
      val oneShot = Dedup.ngramJaccardPairs(all, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(perBatch.size == perBatch.toSet.size, "a pair surfaced in two batches")
      assert(perBatch.toSet == oneShot,
        s"incremental union != one-shot: only-incremental=${perBatch.toSet diff oneShot} " +
          s"only-one-shot=${oneShot diff perBatch.toSet}")
      graft.util.TableRetention.sweep(spark, "propjx_")
      true
    })
  }

  test("property: st23Ingest labels over any 1-3-way split == one-shot clusters") {
    // k batches, any of them possibly empty; the corpus always holds docs,
    // so at least one batch does
    val gen = for {
      docs <- corpusGen
      k <- Gen.choose(1, 3)
      batchOf <- Gen.listOfN(docs.size, Gen.choose(0, k - 1))
    } yield (docs, k, batchOf)
    check(Prop.forAllNoShrink(gen) { case (docs, k, batchOf) =>
      val batches = (0 until k).map(b =>
        docs.zip(batchOf).collect { case (d, `b`) => d }.toDF("doc_id", "text"))
      val loop = graft.streaming.IngestLoop.local(spark, "st23prop_loop", "")
      val got = lbls(graft.queries.PipelineQueries
        .st23Ingest(spark, batches, loop, "st23prop"))
      val all = docs.toDF("doc_id", "text")
      val want = lbls(Dedup.clusters(all, "doc_id",
        Dedup.ngramJaccardPairs(all, "doc_id", "text")))
      assert(got == want, s"st23 labels != one-shot for split ${batchOf.mkString(",")}: " +
        s"diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
      true
    })
  }

  /** URL corpus rows (doc_id, url, n_chars): a few hosts and paths, each
    * row one spelling of its URL that d22's normalization folds (case,
    * default port, trailing slash, utm params, fragment), with n_chars
    * ties so the doc_id tiebreak decides; one host is blocklisted.
    */
  private val urlCorpusGen: Gen[Seq[(Long, String, Long)]] = {
    val url = for {
      host <- Gen.oneOf("www.a.example.com", "www.b.example.com", "www.src3.example.com")
      path <- Gen.oneOf("/p/1", "/p/2", "")
      upper <- Gen.prob(0.3)
      port <- Gen.prob(0.3)
      slash <- Gen.prob(0.3)
      query <- Gen.oneOf("", "?utm_source=x", "?id=7&utm_medium=z", "?id=7")
      frag <- Gen.oneOf("", "#f")
    } yield {
      val h = (if (upper) "HTTPS://" + host.toUpperCase else "https://" + host) +
        (if (port) ":443" else "")
      h + path + (if (slash) "/" else "") + query + frag
    }
    for {
      n <- Gen.choose(1, 30)
      urls <- Gen.listOfN(n, url)
      nChars <- Gen.listOfN(n, Gen.choose(0L, 3L))
      ids <- shuffledIds(n)
    } yield ids.lazyZip(urls).lazyZip(nChars).toSeq
  }

  test("property: st20 over any 1-3-way split, empty batches included, == d22 survivors") {
    import graft.queries.PipelineQueries
    val gen = for {
      rows <- urlCorpusGen
      k <- Gen.choose(1, 3)
      batchOf <- Gen.listOfN(rows.size, Gen.choose(0, k - 1))
    } yield (rows, k, batchOf)
    def survivors(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    check(Prop.forAllNoShrink(gen) { case (rows, k, batchOf) =>
      val batches = (0 until k).map(b =>
        rows.zip(batchOf).collect { case (r, `b`) => r }.toDF("doc_id", "url", "n_chars"))
      val loop = graft.streaming.IngestLoop.local(spark, "st20prop_loop", "")
      val got = survivors(PipelineQueries.st20Ingest(spark, batches, loop))
      val want = survivors(PipelineQueries.d22Survivors(spark,
        rows.toDF("doc_id", "url", "n_chars")))
      assert(got == want, s"st20 != d22 for split ${batchOf.mkString(",")}: " +
        s"only-st20=${got diff want} only-d22=${want diff got}")
      true
    })
  }

  /** A documents snapshot (doc_id, text, lang, source, n_chars) and a CDC
    * delta with one row per key: upserts and tombstones of snapshot docs,
    * inserts of new ids, and tombstones of ids the snapshot never held.
    */
  private val cdcGen = for {
    n <- Gen.choose(1, 12)
    ids <- shuffledIds(n + 6)
    touched <- Gen.someOf(ids)
    ops <- Gen.listOfN(touched.size, Gen.oneOf("upsert", "delete"))
  } yield (ids.take(n).map(i => (i, s"t$i", "en", "web", i)),
    touched.toSeq.zip(ops).map { case (i, op) => (i, s"u$i", "de", "cdc", i * 2, op) })

  test("property: st11 over any 1-3-way split, empty batches included, == d15's one-shot mergeSnapshot") {
    import graft.queries.PipelineQueries
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val gen = for {
      (docs, delta) <- cdcGen
      k <- Gen.choose(1, 3)
      batchOf <- Gen.listOfN(delta.size, Gen.choose(0, k - 1))
    } yield (docs, delta, k, batchOf)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    check(Prop.forAllNoShrink(gen) { case (docs, delta, k, batchOf) =>
      val snapshot = docs.toDF(cols: _*)
      val batches = (0 until k).map(b =>
        delta.zip(batchOf).collect { case (d, `b`) => d }.toDF(cols :+ "op": _*))
      val loop = graft.streaming.IngestLoop.local(spark, "st11prop_loop", "")
      val got = rows(PipelineQueries.st11Ingest(spark, snapshot, batches, loop))
      val want = rows(Dedup.mergeSnapshot(snapshot, delta.toDF(cols :+ "op": _*), "doc_id")
        .select(cols.head, cols.tail: _*))
      assert(got == want, s"st11 != d15 for split ${batchOf.mkString(",")}: " +
        s"only-st11=${got diff want} only-d15=${want diff got}")
      true
    })
  }

  test("property: per-batch simhash index pairs over any split == one-shot simhashPairs") {
    val bandT = "propsh_band"
    // base signatures plus copies with 0-6 flipped bits: some copies fall
    // inside maxHamming = 4, some outside
    val sigsGen = for {
      bases <- Gen.choose(2, 6).flatMap(Gen.listOfN(_, Gen.choose(Long.MinValue, Long.MaxValue)))
      copies <- Gen.sequence[List[List[Long]], List[Long]](bases.map(b =>
        Gen.choose(0, 3).flatMap(Gen.listOfN(_,
          Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.choose(0, 63)))
            .map(bits => bits.foldLeft(b)((s, i) => s ^ (1L << i)))))))
      sigs = bases ++ copies.flatten
      ids <- shuffledIds(sigs.size)
      batchOf <- splitGen(sigs.size, 3)
    } yield (ids.zip(sigs), batchOf)
    check(Prop.forAllNoShrink(sigsGen) { case (sigs, batchOf) =>
      graft.util.TableRetention.sweep(spark, "propsh_")
      val all = sigs.toDF("id", "sig")
      Dedup.buildSimhashIngestIndex(all.limit(0), "id", "sig", bandT, buckets = 4)
      val perBatch = (0 to batchOf.max).flatMap { b =>
        val batch = sigs.zip(batchOf).collect { case (s, `b`) => s }.toDF("id", "sig")
        val got = Dedup.incrementalSimhashPairsIndexed(spark, bandT, batch, "id", "sig")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        Dedup.appendSimhashIngestIndex(spark, bandT, batch, "id", "sig")
        got
      }
      val oneShot = Dedup.simhashPairs(all, "id", "sig",
        maxHamming = Dedup.Perceptual.MaxHamming, bits = Dedup.Perceptual.Bits,
        sigFn = c => c, blocks = Dedup.Perceptual.Blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(perBatch.size == perBatch.toSet.size, "a pair surfaced in two batches")
      assert(perBatch.toSet == oneShot,
        s"incremental union != one-shot: only-incremental=${perBatch.toSet diff oneShot} " +
          s"only-one-shot=${oneShot diff perBatch.toSet}")
      graft.util.TableRetention.sweep(spark, "propsh_")
      true
    })
  }
}
