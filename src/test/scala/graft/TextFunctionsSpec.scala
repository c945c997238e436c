package graft

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("r")).head().getAs[T]("r")

  test("tokenCount: whitespace, empty-safe") {
    assert(one[Int](TF.tokenCount($"t"), "a b  c\t d") == 4)
    assert(one[Int](TF.tokenCount($"t"), "   ") == 0)
    assert(one[Int](TF.tokenCount($"t"), "") == 0)
  }

  test("bpeTokenCount: letter runs, digit runs, symbols") {
    assert(one[Int](TF.bpeTokenCount($"t"), "hello world42!") == 4) // hello, world, 42, !
    assert(one[Int](TF.bpeTokenCount($"t"), "") == 0)
  }

  test("quality score in [0,1]; longer clean text scores higher than junk") {
    val clean = ("the quick brown fox jumps over the lazy dog and then " * 5).trim
    val junk = "!!! ??? ### $$$ %%%"
    val qClean = one[Double](TF.qualityScore($"t"), clean)
    val qJunk = one[Double](TF.qualityScore($"t"), junk)
    assert(qClean > qJunk)
    assert(qClean >= 0 && qClean <= 1 && qJunk >= 0 && qJunk <= 1)
  }

  test("langId: stopword + CJK heuristics") {
    assert(one[String](TF.langId($"t"), "the cat is on the mat and it is warm") == "en")
    assert(one[String](TF.langId($"t"), "el perro y la casa de un amigo en la calle") == "es")
    assert(one[String](TF.langId($"t"), "der Hund und die Katze ist von den Leuten") == "de")
    assert(one[String](TF.langId($"t"), "你好世界这是中文文本") == "zh")
    assert(one[String](TF.langId($"t"), "zzz qqq xxx") == "und")
  }

  test("fingerprint: whitespace-normalization invariant, content-sensitive") {
    val a = one[Long](TF.fingerprint($"t"), "a b c")
    val b = one[Long](TF.fingerprint($"t"), "a   b\t c")
    val c = one[Long](TF.fingerprint($"t"), "a b d")
    assert(a == b)
    assert(a != c)
  }

  test("minhash signature: deterministic, near-dups agree on most positions") {
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    val near = (2 to 100).map(i => s"tok$i").mkString(" ") // drop first token
    val far = (1 to 100).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("id", "t")
      .select($"id", TF.minhashSignature($"t", 3, 64).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L)) // identical text -> identical signature
    val agreeNear = sigs(1L).zip(sigs(3L)).count { case (x, y) => x == y }
    val agreeFar = sigs(1L).zip(sigs(4L)).count { case (x, y) => x == y }
    assert(agreeNear > 48, s"near-dup agreement $agreeNear/64") // J ~ 0.97
    assert(agreeFar < 8, s"far agreement $agreeFar/64")
  }

  test("simhash: small hamming for near-dup, large for unrelated") {
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val near = (3 to 200).map(i => s"tok$i").mkString(" ")
    val far = (1 to 200).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "t")
      .select($"id", TF.simhash64($"t").as("s"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) <= 6, s"near hamming ${ham(m(1L), m(2L))}")
    assert(ham(m(1L), m(3L)) >= 15, s"far hamming ${ham(m(1L), m(3L))}")
  }

  test("textStats struct agrees with the HOF formulations on real documents") {
    val docs = sf("documents").limit(100)
      .withColumn("stats", TF.textStats($"text"))
      .withColumn("toks", TF.tokens($"text"))
    val diffs = docs.select(
      ($"stats.n_tokens" === size($"toks")).as("tok_ok"),
      (TF.qualityScoreFromStats($"stats") === TF.qualityScoreFromTokens($"text", $"toks")).as("q_ok"),
      (TF.langIdFromStats($"stats") === TF.langIdFromTokens($"text", transform($"toks", lower _))).as("l_ok"),
      ($"stats.bpe" === TF.bpeTokenCount($"text")).as("bpe_ok"))
      .collect()
    assert(diffs.forall(r => r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3)))
  }

  test("shingleHashes: count and distinctness") {
    val n = one[Seq[Long]](TF.shingleHashes($"t", 3), "a b c d e").length
    assert(n == 3) // abc bcd cde
    val short = one[Seq[Long]](TF.shingleHashes($"t", 3), "a b").length
    assert(short == 1) // whole-doc shingle
  }

  test("whitespace contract is exactly RE2 \\s across every tokenizer family") {
    // DuckDB's regexp_split_to_array('\s+') splits ONLY on [\t\n\f\r ]
    // (probed empirically): \x0B, \x1C-\x1F, U+2028, U+00A0 are TOKEN
    // characters there. Java's Character.isWhitespace and Java-regex \s
    // disagree on those — any tokenizer using them breaks oracle parity
    // on such input. This doc splits into 3 tokens iff only the space and
    // \t act as separators.
    val text = "a\u000Bb\tc\u001Cd\u2028e f\u00A0g"
    val expected = Seq("a\u000Bb", "c\u001Cd\u2028e", "f\u00A0g")
    assert(one[scala.collection.Seq[String]](TF.tokens($"t"), text).toSeq == expected)
    assert(graft.expressions.PortableHash.tokenize(text).toSeq == expected)
    assert(graft.expressions.Hash64.tokenHashes(
      org.apache.spark.unsafe.types.UTF8String.fromString(text)).length == 3)
    assert(one[Int](TF.tokenCount($"t"), text) == 3)
    val stats = Seq(text).toDF("t").select(TF.textStats($"t").as("s"))
      .select($"s.n_tokens", $"s.bpe").head()
    assert(stats.getInt(0) == 3)
    // bpe: letter runs a,b,c,d,e,f,g (7) + symbols VT, FS, LS, NBSP (4)
    assert(stats.getInt(1) == 11)
    assert(one[Int](TF.bpeTokenCount($"t"), text) == 11)
  }

  test("nfcNormalize: recomposes decomposed forms, identity on NFC and non-letters") {
    val decomposed = "cafe\u0301 nai\u0308ve" // e + combining acute, i + combining diaeresis
    val composed = "caf\u00e9 na\u00efve"
    assert(one[String](TF.nfcNormalize($"t"), decomposed) == composed)
    // already-NFC input passes through unchanged (the fast path)
    assert(one[String](TF.nfcNormalize($"t"), composed) == composed)
    assert(one[String](TF.nfcNormalize($"t"), "plain ascii 123") == "plain ascii 123")
    assert(one[String](TF.nfcNormalize($"t"), "") == "")
    // NFC makes the two forms fingerprint identically — the dedup property
    assert(one[String](md5(TF.nfcNormalize($"t").cast("binary")), decomposed) ==
      one[String](md5(TF.nfcNormalize($"t").cast("binary")), composed))
    // registered SQL surface
    graft.GraftExtensions.register(spark)
    assert(spark.sql("SELECT nfc_normalize('cafe\u0301') AS r").head().getString(0) == "caf\u00e9")
  }

  test("t16 tfidf: exact tf/df/n_docs on a hand-checked corpus; single tokenize pass") {
    // 3 docs; "b" appears in all (idf ln(1)=0), "a" in two, "x" only in doc 3 (twice)
    val dir = tmpDir("tfidf")
    Seq((1L, "a b", "en", "s", 3L), (2L, "a b", "en", "s", 3L), (3L, "x x b", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("t16_tfidf")(spark, dir.toString)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    def w(tf: Long, df: Long) = math.round(tf * math.log(4.0 / (df + 1.0)) * 1e6) / 1e6
    assert(rows == Set(
      (1L, "a", 1L, 2L, w(1, 2)), (1L, "b", 1L, 3L, 0.0),
      (2L, "a", 1L, 2L, w(1, 2)), (2L, "b", 1L, 3L, 0.0),
      (3L, "b", 1L, 3L, 0.0), (3L, "x", 2L, 1L, w(2, 1))))
    // the scale claim: the corpus is tokenized ONCE \u2014 the aggregated
    // (doc, token, tf) table is materialized and BOTH consumers (df
    // window + n_docs count) read the materialization, so the final plan
    // contains zero corpus parquet scans; df still comes from a window,
    // not a self-join diamond. Checked on the static plan (AQE respells
    // stages).
    val static = graft.util.Conf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      graft.queries.PipelineQueries.queries("t16_tfidf")(spark, dir.toString)
        .queryExecution.executedPlan.toString
    }
    val scans = "Scan parquet".r.findAllIn(static).size
    assert(scans == 0, s"t16's final plan must read the materialized tf " +
      s"table only (single tokenize pass), saw $scans corpus scans:\n$static")
    val rddScans = "Scan ExistingRDD".r.findAllIn(static).size
    assert(rddScans == 2, s"t16 should read the materialized tf table " +
      s"exactly twice (df window + n_docs count), saw $rddScans:\n$static")
    assert(static.contains("Window"), "t16 lost the window-based df attachment")
  }

  test("t23 quality model: hand-checked scores; one scan, no UDF, no operator shuffle") {
    val dir = tmpDir("qmodel")
    Seq((1L, "the cat sat on the mat and the dog ran to the door", "en", "s", 51L),
        (2L, "", "en", "s", 0L),
        (3L, null.asInstanceOf[String], "en", "s", 0L),
        (4L, "!!! ??? ;;; ###", "und", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("t23_quality_model")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getDouble(1).asInstanceOf[Any]), r.getBoolean(2))).toMap
    // doc 1 spelled out: 13 tokens (len sum 38), 0 punct chars, 5 stop_en
    // ('the' x4 + 'and' + 'on' + 'to' = 7 actually counted below), all
    // alpha, bpe = 13 — recomputed independently from the weights
    val toks = "the cat sat on the mat and the dog ran to the door".split(" ")
    val nt = toks.length.toDouble
    val stopSet = Set("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "this", "for", "on", "with", "as", "are", "was", "be", "at", "by", "not", "but")
    val z1 = -1.1 + 1.2 * math.min(nt / 100.0, 1.0) +
      0.8 * math.min(toks.map(_.length).sum / nt / 10.0, 1.0) - 2.5 * 0.0 +
      3.0 * (toks.count(stopSet) / nt) + 1.5 * 1.0 -
      0.4 * math.min(toks.length / nt / 3.0, 1.0)
    val s1 = math.round((0.5 + 0.5 * z1 / (1.0 + math.abs(z1))) * 1e6) / 1e6
    assert(out(1L) == ((s1, true)), s"doc 1: ${out(1L)} vs expected ($s1, true)")
    // empty text: every feature 0 -> z = -1.1 -> score 0.5 - 0.55/2.1
    val s2 = math.round((0.5 - 0.5 * 1.1 / 2.1) * 1e6) / 1e6
    assert(out(2L) == ((s2, false)), s"doc 2: ${out(2L)}")
    assert(out(3L) == ((null, false)), s"null text must score null/false: ${out(3L)}")
    // pure punctuation: f_punct high, no stopwords -> rejected
    assert(!out(4L)._2, s"punctuation-only doc must not pass: ${out(4L)}")

    // the serving-shape claim: ONE corpus scan, zero UDFs, and the only
    // exchange is the driver-determinism sort (AQE off for a static plan)
    val static = graft.util.Conf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      graft.queries.PipelineQueries.queries("t23_quality_model")(spark, dir.toString)
        .queryExecution.executedPlan.toString
    }
    assert("Scan parquet".r.findAllIn(static).size == 1, s"t23 must scan once:\n$static")
    assert(!static.contains("UDF") && !static.contains("Python"),
      s"t23 must be expression-only:\n$static")
    assert("Exchange".r.findAllIn(static).size == 1,
      s"t23's only exchange is the determinism sort:\n$static")
  }

  test("t24 char distribution: hand-checked Gini; degenerate vs varied text") {
    val dir = tmpDir("chardist")
    Seq((1L, "aaaa", "en", "s", 4L),          // one char: gini 0
        (2L, "abcd", "en", "s", 4L),          // uniform over 4: gini 0.75
        (3L, "", "en", "s", 0L),              // empty: 0 distinct, null gini
        (4L, null.asInstanceOf[String], "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("t24_char_distribution")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) null else r.getInt(1).asInstanceOf[Any],
        if (r.isNullAt(2)) null else r.getDouble(2).asInstanceOf[Any]))).toMap
    assert(out(1L) == ((1, 0.0)), s"repetitive text: ${out(1L)}")
    assert(out(2L) == ((4, 0.75)), s"uniform text: ${out(2L)}")
    assert(out(3L) == ((0, null)), s"empty text: ${out(3L)}")
    assert(out(4L) == ((null, null)), s"null text: ${out(4L)}")
    // astral codepoints count once, not as surrogate halves
    import org.apache.spark.sql.functions.{col, lit}
    val astral = Seq("😀😀").toDF("t")
      .select(TF.charDistribution(col("t")).as("cd"))
      .select(col("cd.n_cp"), col("cd.n_distinct"), col("cd.sum_sq")).head()
    assert((astral.getInt(0), astral.getInt(1), astral.getLong(2)) == ((2, 1, 4L)),
      s"astral handling: $astral")
  }

  test("t25 repetition filter: hand-checked fractions on repetitive vs clean docs") {
    val dir = tmpDir("repet")
    Seq(
      // 4 lines, "spam line" x3 (excess 2/4=0.5); heavy top-2-gram
      (1L, "spam line\nspam line\nspam line\nok text", "en", "s", 0L),
      // clean prose, no repetition at all
      (3L, "one two three four five six seven eight nine ten", "en", "s", 0L),
      (5L, "", "en", "s", 0L),
      (7L, null.asInstanceOf[String], "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("t25_repetition_filter")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(d1.getInt(1) == 4 && d1.getDouble(2) == 0.5,
      s"doc 1 line stats: n_lines=${d1.getInt(1)} dup_line_frac=${d1.getDouble(2)}")
    // dup_line_char_frac: "spam line" = 9 chars, excess 2 of the 3 copies,
    // line chars = 9*3 + 7 = 34 -> 18/34
    assert(d1.getDouble(3) == math.round(18.0 / 34 * 1e6) / 1e6, s"doc 1 char frac: $d1")
    assert(!d1.getBoolean(6), "repetitive doc must fail the composite")
    val d3 = out(3L)
    assert(d3.getDouble(2) == 0.0 && d3.getDouble(5) == 0.0, s"clean doc fracs: $d3")
    // 10 words = 9 two-grams, under the top-2-gram rule's applicability
    // floor — a short clean doc must PASS even though its single longest
    // 2-gram alone covers > 20% of the characters
    assert(d3.getDouble(4) > 0.20, s"fixture drifted: top2 no longer exceeds the gate: $d3")
    assert(d3.getBoolean(6), s"short clean doc must pass the composite: $d3")
    assert(out(5L).isNullAt(2) && !out(5L).getBoolean(6), "empty text: null fracs, fail")
    assert(out(7L).isNullAt(1) && !out(7L).getBoolean(6), "null text: nulls, fail")
  }

  test("t17 boilerplate: planted footers found exactly, organic lines untouched") {
    val dir = tmpDir("boiler")
    // doc 10/12 get the planted footers (even ids), 11/13 stay organic;
    // 12 and 13 share identical organic text but only 2 docs carry it
    // (< the 3-doc threshold), so it must NOT flag
    Seq((10L, "unique line alpha", "en", "s", 17L),
        (11L, "unique line beta", "en", "s", 16L),
        (12L, "shared organic line", "en", "s", 19L),
        (13L, "shared organic line", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("t17_boilerplate")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // even docs: 1 organic + 2 footer lines, and the 2 footers (present in
    // 2 even docs here, below threshold!)... with only 2 even docs the
    // footers appear in 2 docs — under the >= 3 threshold, nothing flags
    assert(out == Map(10L -> ((3L, 0L)), 11L -> ((1L, 0L)),
      12L -> ((3L, 0L)), 13L -> ((1L, 0L))))
  }

  test("t17 boilerplate: threshold crossing at 3 distinct docs") {
    val dir = tmpDir("boiler3")
    // three even docs -> footers appear in 3 distinct docs -> flagged;
    // each even doc counts exactly its 2 footer lines as boilerplate
    Seq((2L, "aa", "en", "s", 2L), (4L, "bb", "en", "s", 2L),
        (6L, "cc", "en", "s", 2L), (7L, "dd", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("t17_boilerplate")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((2L, 3L, 2L), (4L, 3L, 2L), (6L, 3L, 2L), (7L, 1L, 0L)))
  }

  test("t26 language id: planted languages recovered; expression-only plan") {
    val dir = tmpDir("langid26")
    Seq((0L, "x the table is a table x", "en", "s", 24L), // en: the+is+a
        (1L, "no markers here", "en", "s", 15L),          // nothing fires -> und
        (2L, "", "en", "s", 0L),                          // empty -> und/0/0
        (3L, null.asInstanceOf[String], "en", "s", 0L),   // null -> null struct
        (4L, " der the ", "en", "s", 9L))                 // de/en tie -> de, margin 0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("t26_language_id")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)),
         (if (r.isNullAt(2)) -1 else r.getInt(2)),
         (if (r.isNullAt(3)) -1 else r.getInt(3)))).toMap
    // base rows classify from content
    assert(out(0L) == (("en", 3, 3)), s"doc 0: ${out(0L)}") // the+is+a
    assert(out(1L) == (("und", 0, 0)), s"doc 1: ${out(1L)}")
    assert(out(2L) == (("und", 0, 0)), s"doc 2: ${out(2L)}")
    assert(out(3L) == ((null, -1, -1)), s"doc 3: ${out(3L)}")
    assert(out(4L) == (("de", 1, 0)), s"doc 4 must tie-break alphabetically: ${out(4L)}")
    // planted rows recover their language: de x(1+0%3), es x2, fr x3, zh x1, de x2
    assert(out(4000000L) == (("de", 6, 6)), s"planted de: ${out(4000000L)}")
    assert(out(4000001L) == (("es", 12, 12)), s"planted es x2: ${out(4000001L)}")
    assert(out(4000002L) == (("fr", 18, 18)), s"planted fr x3: ${out(4000002L)}")
    assert(out(4000003L) == (("zh", 6, 6)), s"planted zh: ${out(4000003L)}")
    assert(out(4000004L) == (("de", 12, 12)), s"planted de x2: ${out(4000004L)}")
    // expression-only: no UDF, and the only exchange is the determinism sort
    val static = graft.util.Conf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      graft.queries.PipelineQueries.queries("t26_language_id")(spark, dir.toString)
        .queryExecution.executedPlan.toString
    }
    assert(!static.contains("UDF") && !static.contains("Python"),
      s"t26 must be expression-only:\n$static")
    assert("Exchange".r.findAllIn(static).size == 1,
      s"t26's only exchange is the determinism sort:\n$static")
  }

  test("t27 token packing: greedy longest-prefix counts; pack boundary at 1024 tokens") {
    // vocabTokenCount unit pins first (vocab: 'the','customer','er','an'...)
    assert(one[Long](TF.vocabTokenCount($"t"), "the table") == 2L)
    assert(one[Long](TF.vocabTokenCount($"t"), "customers") == 2L)    // customer + s
    assert(one[Long](TF.vocabTokenCount($"t"), "theory xyz") == 7L)   // the,o,r,y + x,y,z
    assert(one[Long](TF.vocabTokenCount($"t"), "") == 0L)
    assert(one[Long](TF.vocabTokenCount($"t"), "   ") == 0L)
    assert(one[Long](TF.vocabTokenCount($"t"), "好的 好") == 3L)       // per-codepoint fallback
    val dir = tmpDir("tokpack")
    // 600 'big' tokens per doc -> cumulative 0/600/1200 -> packs 0,0,1
    val six = ("big " * 600).trim
    Seq((1L, six, "en", "s", 1L), (2L, six, "en", "s", 1L), (3L, six, "en", "s", 1L),
        (4L, null.asInstanceOf[String], "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("t27_token_packing")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((600L, 0L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((600L, 0L)), s"doc 2: ${out(2L)}")
    assert(out(3L) == ((600L, 1L)), s"doc 3 crosses the 1024 boundary: ${out(3L)}")
    assert(out(4L) == ((0L, 1L)), s"null text counts 0 tokens: ${out(4L)}")
  }

  test("t29 ngram LM: bigram hit, backoff, OOV, doc-start context, empty text") {
    import graft.expressions.NgramLm.{Backoff, Oov}
    def lm(text: String): (Long, Long) = {
      val r = one[org.apache.spark.sql.Row](TF.ngramLmStats($"t"), text)
      (r.getLong(0), r.getLong(1))
    }
    // 'the' at doc start: no <s>-bigram -> unigram 200 + backoff;
    // 'the table' is a bigram hit (150), cheaper than table's backoff path
    assert(lm("the table") == ((2L, (200L + Backoff) + 150L)))
    // backoff chain: 'table the' has no bigram -> both unigram + penalty
    assert(lm("table the") == ((2L, (380L + Backoff) + (200L + Backoff))))
    // OOV branch: 'customer' is deliberately outside the unigram fixture
    assert(lm("customer") == ((1L, Oov)))
    // bigram context skips empty segments (double space)
    assert(lm("the  table") == ((2L, (200L + Backoff) + 150L)))
    // contentless docs score (0, 0)
    assert(lm("") == ((0L, 0L)))
    assert(lm("   ") == ((0L, 0L)))
  }

  test("st17 streaming packing equals t27; the running sum provably crosses the batch boundary") {
    val dir = tmpDir("pack17")
    // 600 'big' tokens per doc; median split at max(4)/2=2 puts docs 1,2
    // (and the null-id doc) in batch 1, docs 3,4 in batch 2. Doc 3's pack
    // id is floor(1200/1024)=1 ONLY if batch 2 sees the carried running
    // total (a fresh state would compute floor(0/1024)=0) — and the query
    // restarts between the batches, so the carry crosses a checkpoint.
    val six = ("big " * 600).trim
    Seq((1L, six, "en", "s", 1L), (2L, six, "en", "s", 1L), (3L, six, "en", "s", 1L),
        (4L, six, "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val st = graft.queries.PipelineQueries.queries("st17_streaming_packing")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val batch = graft.queries.PipelineQueries.queries("t27_token_packing")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(st.toSeq == batch.toSeq, s"streaming diverged from batch:\n$st\nvs\n$batch")
    val byId = st.map(r => r._1 -> r._4).toMap
    assert(byId(3L) == 1L, s"doc 3 must start pack 1 from CARRIED state: $byId")
    assert(byId(4L) == 0L, "de is its own lang partition — fresh running total")
  }

  test("t28 curation funnel: each gate produces its reason; first failure wins") {
    val dir = tmpDir("funnel28")
    val kept = "x the cats sat upon the mats and the dogs run toward the door"
    Seq((1L, kept, "en", "srca", 61L),                       // all gates pass
        (2L, kept, "en", "src3", 61L),                       // blocklisted source
        (3L, "zz qq ww", "en", "srca", 8L),                  // no en markers -> language
        (4L, "z the y", "en", "srca", 7L),                   // en but 3 tokens -> gopher
        (5L, "x the dogs the dogs the dogs the dogs the dogs the dogs",
          "en", "srca", 55L),                                // dup-3-gram mass -> repetition
        (6L, "x the qq!!! ww!!! ee!!! rr!!! tt!!! yy!!! uu!!! ii!!! oo!!! pp!!! ss!!! dd!!!",
          "en", "srca", 77L),                                // score 0.35 -> quality
        (7L, null.asInstanceOf[String], "en", "srca", 0L))   // null text -> language
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("t28_curation_funnel")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(out(1L) == ((true, "kept")), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((false, "blocklist")), s"doc 2: ${out(2L)}")
    assert(out(3L) == ((false, "language")), s"doc 3: ${out(3L)}")
    assert(out(4L) == ((false, "gopher")), s"doc 4: ${out(4L)}")
    assert(out(5L) == ((false, "repetition")), s"doc 5: ${out(5L)}")
    assert(out(6L) == ((false, "quality")), s"doc 6: ${out(6L)}")
    assert(out(7L) == ((false, "language")), s"doc 7: ${out(7L)}")
    // one scan, expression-only, no shuffle beyond the determinism sort
    val static = graft.util.Conf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      graft.queries.PipelineQueries.queries("t28_curation_funnel")(spark, dir.toString)
        .queryExecution.executedPlan.toString
    }
    assert("Scan parquet".r.findAllIn(static).size == 1, s"t28 must scan once:\n$static")
    assert(!static.contains("UDF") && !static.contains("Python"),
      s"t28 must be expression-only:\n$static")
    assert("Exchange".r.findAllIn(static).size == 1,
      s"t28's only exchange is the determinism sort:\n$static")
  }

  test("st16 streaming curation equals t28 row-for-row (batch == streaming)") {
    // the funnel's gates are all row-local, so the union over micro-batches
    // must equal the one-shot decision exactly — this is what lets st16
    // share t28's oracle
    // sorted Seq, not Set: a replayed/overlapping batch would DUPLICATE
    // rows, and a set compare would collapse exactly that failure
    val dir = "/root/testdata/sf0.001"
    def rows(q: String) = graft.queries.PipelineQueries.queries(q)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
      .toSeq.sorted
    val batch = rows("t28_curation_funnel")
    val streamed = rows("st16_streaming_curation")
    assert(batch == streamed, s"diverged (${batch.size} vs ${streamed.size} rows): " +
      s"only-batch=${batch.diff(streamed).take(3)} only-streamed=${streamed.diff(batch).take(3)}")
    assert(batch.exists(_._2) && batch.exists(!_._2), "both decisions must occur")
  }

  test("s09 centroids: exact decimal-accumulated means, label x dim cardinality") {
    val dir = tmpDir("centroids")
    Seq((1L, Array(1.0f, 2.0f), 0), (2L, Array(3.0f, 5.0f), 0), (3L, Array(10.0f, 20.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    val out = graft.queries.PipelineQueries.queries("s09_embed_centroids")(spark, dir.toString)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(out == Set((0, 0, 2L, 2.0), (0, 1, 2L, 3.5), (1, 0, 1L, 10.0), (1, 1, 1L, 20.0)))
  }
}
