package graft

import graft.operators.{Concat, Multimodal}
import graft.sources.{CsvSource, Discovery}
import graft.streaming.StreamingConcat
import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class StreamingAndPlanSpec extends SparkSpec {
  import spark.implicits._

  test("streaming concat: processes available files, checkpoint makes reruns exactly-once") {
    val d = tmpDir("stream")
    writeFile(d, "in/a.csv", "k,v\n1,x\n2,y\n")
    writeFile(d, "in/b.csv", "k,v\n3,z\n")
    val out = d.resolve("out").toString
    val ckpt = d.resolve("ckpt").toString
    val cfg = Concat.Config(Seq(d.resolve("in/a.csv").toString, d.resolve("in/b.csv").toString))
    StreamingConcat.run(spark, cfg, out, Discovery.Parquet, ckpt)
    val first = spark.read.parquet(out)
    assert(first.count() == 3)
    assert(first.columns.sorted.toSeq == Seq("k", "v"))
    // rerun with the same checkpoint: nothing new -> no duplicates (the
    // reference's resumable-state intent, state.rs:89-93)
    StreamingConcat.run(spark, cfg, out, Discovery.Parquet, ckpt)
    assert(spark.read.parquet(out).count() == 3)
  }

  test("streaming concat picks up files that arrive between runs (dir input)") {
    val d = tmpDir("stream2")
    writeFile(d, "in/a.csv", "k\n1\n")
    val out = d.resolve("out").toString
    val ckpt = d.resolve("ckpt").toString
    // a DIRECTORY input = one stable streaming source; late files join it
    val cfg = Concat.Config(Seq(d.resolve("in").toString))
    StreamingConcat.run(spark, cfg, out, Discovery.Parquet, ckpt)
    assert(spark.read.parquet(out).count() == 1)
    writeFile(d, "in/a2.csv", "k\n2\n") // arrives later; same dir
    StreamingConcat.run(spark, cfg, out, Discovery.Parquet, ckpt)
    assert(spark.read.parquet(out).count() == 2) // only the new file processed
  }

  test("multimodal: real PNG encode/decode roundtrip, features, frame sampling") {
    val docs = Seq((1L, "hello multimodal world"), (2L, "bytes")).toDF("doc_id", "text")
    // PNG is lossless: javax.imageio must decode back the exact gray levels
    // the encoder sampled from the text (cyclic utf-8 bytes)
    val textBytes = "hello multimodal world".getBytes("UTF-8")
    val png = Multimodal.encodePng(textBytes)
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a), "payload is not a PNG")
    val (w, h, px) = Multimodal.decodeImage(png)
    assert((w, h) == (Multimodal.ImgW, Multimodal.ImgH))
    val wantPx = (0 until w * h).map(i => textBytes(i % textBytes.length) & 0xff)
    assert(px.toSeq == wantPx, "decoded raster diverges from the source bytes")
    // distributed path: features from the DECODED pixels, deterministic
    val media = Multimodal.fromTextPng(docs, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "payload", "meta"))
    val feats = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(feats.length == 2)
    assert(feats(0).getSeq[Double](1).length == 8)
    assert(feats(0).getSeq[Double](1) == Multimodal.pixelLaneFeatures(px).toSeq)
    assert(feats(0).getInt(2) == Multimodal.ImgW && feats(0).getInt(3) == Multimodal.ImgH)
    // non-image payloads stay opaque: no decode, null features
    val opaque = Multimodal.extractFeatures(
      Multimodal.fromText(docs, "doc_id", "text")).orderBy("media_id").collect()
    assert(opaque.forall(_.isNullAt(1)) && opaque.forall(!_.isNullAt(4)))
    val frames = Multimodal.sampleFrames(Multimodal.fromText(docs, "doc_id", "text"), n = 4)
    assert(frames.count() == 8)
    assert(frames.columns.contains("frame_idx"))
  }

  test("stateful streaming: mapGroupsWithState keeps running per-key counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Int)]
    val counts = ms.toDS().groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: String, it: Iterator[(String, Int)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          (k, n)
      }
    val q = counts.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("state_counts").start()
    try {
      ms.addData(("a", 1), ("a", 2), ("b", 1))
      q.processAllAvailable()
      ms.addData(("a", 3))
      q.processAllAvailable()
      val last = spark.table("state_counts").groupBy("_1").agg(max("_2").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(last == Map("a" -> 3L, "b" -> 1L)) // state carried across batches
    } finally q.stop()
  }

  test("stateful streaming: flatMapGroupsWithState emits 0..n rows per key per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Int)]
    // emit one row per NEW distinct value seen for the key (dedup-with-state:
    // the streaming form of incremental exact dedup); state = seen set
    val firstSeen = ms.toDS().groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (k: String, it: Iterator[(String, Int)], state: GroupState[Set[Int]]) =>
          val seen = state.getOption.getOrElse(Set.empty[Int])
          val fresh = it.map(_._2).toSeq.distinct.filterNot(seen)
          state.update(seen ++ fresh)
          fresh.iterator.map(v => (k, v))
      }
    val q = firstSeen.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("first_seen").start()
    try {
      ms.addData(("a", 1), ("a", 1), ("b", 7))
      q.processAllAvailable()
      ms.addData(("a", 1), ("a", 2), ("b", 7))
      q.processAllAvailable()
      val rows = spark.table("first_seen").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
      // duplicates within AND across batches suppressed by state
      assert(rows == Set(("a", 1), ("a", 2), ("b", 7)))
      assert(spark.table("first_seen").count() == 3)
    } finally q.stop()
  }

  test("streaming with watermark + event-time window aggregates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = ms.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("total"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_counts").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      ms.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(7), "a", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 3)
      assert(rows.length == 2) // two 5-minute windows
    } finally q.stop()
  }

  test("north star: watermarked windowed agg -> parquet sink, append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val d = tmpDir("northstar")
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = ms.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "5 minutes"), $"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("total"))
      .select($"window.start".as("window_start"), $"k", $"n", $"total")
    val q = agg.writeStream.outputMode("append")
      .format("parquet")
      .option("checkpointLocation", d.resolve("ckpt").toString)
      .start(d.resolve("out").toString)
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      ms.addData((ts(10, 1), "a", 1.0), (ts(10, 2), "a", 2.0))
      q.processAllAvailable()
      // advance the watermark far past the first window so it finalizes
      ms.addData((ts(11, 0), "a", 4.0))
      q.processAllAvailable()
      ms.addData((ts(12, 0), "a", 8.0)) // finalize the 11:00 window too
      q.processAllAvailable()
      val out = spark.read.parquet(d.resolve("out").toString)
      val rows = out.collect().map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getAs[Long]("n"), r.getAs[Double]("total"))).toSet
      // append mode emitted ONLY the watermark-finalized windows
      assert(rows.contains(("2024-01-01 10:00:00.0", 2L, 3.0)), s"got $rows")
      assert(rows.exists(_._1.startsWith("2024-01-01 11:00")), s"got $rows")
      assert(!rows.exists(_._1.startsWith("2024-01-01 12:00")), "unfinalized window leaked")
    } finally q.stop()
  }

  test("st07: transformWithState final state equals the batch GROUP BY (RocksDB store)") {
    val got = graft.queries.PipelineQueries
      .queries("st07_transform_with_state")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = sf("events")
      .select(col("user_id"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
          .cast("long").as("micros"), col("event_type"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("micros").as("m"),
        countDistinct("event_type").as("t"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, s"transformWithState state diverged from batch: got ${got.size} keys")
    // the scoped RocksDB provider must not leak into the shared session
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("st05: watermarked streaming dedup equals batch DISTINCT (bounded state)") {
    val got = graft.queries.PipelineQueries
      .queries("st05_streaming_dedup_watermark")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))).toSet
    val want = sf("events").select("user_id", "event_type").distinct()
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))).toSet
    assert(got == want, s"watermarked dedup diverged: ${got.size} vs ${want.size} keys")
  }

  test("st06: events older than the watermark are dropped, closed windows match batch") {
    val got = graft.queries.PipelineQueries
      .queries("st06_late_data_drop")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[String]("win_start"), r.getAs[String]("event_type"), r.getAs[Long]("n")))
      .toSet
    // the 30-day-early replays would land in Dec 2023 windows — already
    // closed, so they'd be EMITTED if the watermark failed to drop them
    assert(got.nonEmpty && got.forall(_._1.startsWith("2024-01")),
      "late replayed rows leaked into the append output")
    // batch expectation: hourly counts over the original events, windows
    // whose end <= max(ts) - 30 min
    val ev = graft.queries.Q.normalizeTs(sf("events"))
      .select(col("ts"), col("event_type"))
    val wmMs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime - 30 * 60 * 1000
    val want = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .where(col("window.end") <= lit(new java.sql.Timestamp(wmMs)))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, s"closed-window sets diverge: got ${got.size}, want ${want.size}")
  }

  // ---- plan-shape assertions: the things that matter at 100 TB ----

  private def explainString(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("plan: filter and projection are pushed to the parquet scan (q02)") {
    val plan = explainString(
      SparkEntry.queries("q02_filter_pushdown")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("PushedFilters:") && plan.contains("l_quantity"),
      s"no pushed filter in:\n$plan")
    // projection pruning: the scan must not read all 11 lineitem columns
    assert(!plan.contains("l_returnflag") || !plan.contains("l_comment"))
  }

  test("plan: small dimension is broadcast (q03)") {
    val plan = explainString(
      SparkEntry.queries("q03_join_broadcast_agg")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("plan: lateral top-n decorrelates to a window-group-limit, not a nested loop") {
    val plan = explainString(
      SparkEntry.queries("q39_lateral_topn")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("WindowGroupLimit"), s"lateral not decorrelated to top-k:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"lateral fell back to a nested loop:\n$plan")
  }

  test("plan: sequence packing and stratified sampling use ONE partitioned-window exchange") {
    for (q <- Seq("t09_sequence_packing", "t10_stratified_sample")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val physical = df.queryExecution.executedPlan.toString
      // one hash exchange for the per-lang window; the only other exchange is
      // the final deterministic-output range sort
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(physical).size
      assert(hashExchanges == 1, s"$q: expected 1 hash exchange, plan:\n$physical")
    }
  }

  test("plan: concat pipeline is shuffle-free (narrow, scales linearly)") {
    val d = tmpDir("planshuffle")
    val f1 = writeFile(d, "a.csv", "a,b\n1,2\n")
    val f2 = writeFile(d, "b.csv", "a,c\n3,4\n")
    val df = Concat.run(spark, Concat.Config(Seq(f1, f2)))
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"), s"concat plan shuffles:\n$physical")
  }

  test("plan: bucketed tables join with zero exchange (co-located join)") {
    import graft.operators.Bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val o = sf("orders", "/root/testdata/sf0.001")
      val l = sf("lineitem", "/root/testdata/sf0.001")
      Bucketing.writeBucketed(o.withColumnRenamed("o_orderkey", "k"), "b_orders", "k", 4)
      Bucketing.writeBucketed(l.withColumnRenamed("l_orderkey", "k"), "b_lineitem", "k", 4)
      val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem", "k")
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"), s"bucketed join still shuffles:\n$physical")
      assert(joined.count() == 6000) // every lineitem matches its order
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("plan: UDAF top-k aggregates map-side; query side broadcasts (s08)") {
    val df = SparkEntry.queries("s08_knn_topk_udaf")(spark, "/root/testdata/sf0.001")
    val physical = df.queryExecution.executedPlan.toString
    // the scale shape s08 exists for: the typed aggregator runs as a
    // PARTIAL ObjectHashAggregate before the group exchange (shuffle
    // carries <=k pairs per group per partition) and a final merge after —
    // not one post-shuffle aggregation of every scored candidate
    assert("ObjectHashAggregate".r.findAllIn(physical).size >= 2,
      s"UDAF lost two-phase aggregation:\n$physical")
    assert(physical.contains("partial_"), s"no partial (map-side) agg mode:\n$physical")
    // the scoring join streams the corpus against the broadcast query set
    assert(physical.contains("BroadcastNestedLoopJoin"),
      s"query set not broadcast for scoring:\n$physical")
  }

  test("plan: q49 injects a runtime bloom filter on the fact side; result equals plain join") {
    val df = SparkEntry.queries("q49_bloom_filter_join")(spark, "/root/testdata/sf0.001")
    // the in-query require already gates might_contain; pin the full shape
    // here: a bloom_filter_agg subquery on the dim side feeds the fact scan
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("bloom_filter_agg"), s"no bloom build side:\n$opt")
    assert(opt.contains("might_contain"), s"no bloom probe on the fact side:\n$opt")
    // exactness: the bloom is a prefilter, the hash join still verifies
    val o = sf("orders").where(col("o_orderpriority") === "1-URGENT")
    val l = sf("lineitem")
    val plain = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_lines"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == plain, "bloom-prefiltered join diverged from the plain join")
  }

  test("plan: semi/anti joins stay joins (no cartesian)") {
    for (q <- Seq("q05_semi_join", "q06_anti_join")) {
      val plan = explainString(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      assert(!plan.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("plan: q55 funnel pays ONE user-partition shuffle (windows + agg share it)") {
    val df = SparkEntry.queries("q55_event_funnel")(spark, "/root/testdata/sf0.001")
    val plan = explainString(df)
    assert(!plan.contains("CartesianProduct"))
    // both window passes AND the per-user aggregate run on the same
    // hashpartitioning(user_id) exchange; count only USER-KEYED hash
    // partitionings (a raw substring count over the whole plan would break
    // on unrelated AQE/exchange-reuse annotations without any real
    // regression — round-16 advice)
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userExchanges == 1,
      s"expected 1 user-keyed partition exchange, found $userExchanges:\n$plan")
  }

  test("q57 segmented funnel == q55, and the event-scale walk is (user, seg)-partitioned") {
    val dir = "/root/testdata/sf0.01"
    def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val q57 = rows("q57_funnel_segmented")
    val q55 = rows("q55_event_funnel")
    assert(q57 == q55, s"segmented attribution diverged: " +
      s"only-57=${(q57 -- q55).take(3)} only-55=${(q55 -- q57).take(3)}")
    // the point of the segmentation: the walk over EVENTS partitions by
    // (user_id, seg) — the hot user's history splits across segments —
    // while only the users x <=S summary frame partitions by user alone
    val plan = explainString(SparkEntry.queries("q57_funnel_segmented")(spark, dir))
    assert("windowspecdefinition\\(user_id#\\d+L?, seg#".r.findFirstIn(plan).isDefined,
      s"no (user_id, seg)-partitioned window in plan:\n${plan.take(2000)}")
  }

  test("q58 segmented islands == q56, and the event-scale walk is (user, seg)-partitioned") {
    val dir = "/root/testdata/sf0.01"
    def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val q58 = rows("q58_islands_segmented")
    val q56 = rows("q56_activity_islands")
    assert(q58 == q56, s"segmented islands diverged: " +
      s"only-58=${(q58 -- q56).take(3)} only-56=${(q56 -- q58).take(3)}")
    val plan = explainString(SparkEntry.queries("q58_islands_segmented")(spark, dir))
    assert("windowspecdefinition\\(user_id#\\d+L?, seg#".r.findFirstIn(plan).isDefined,
      s"no (user_id, seg)-partitioned window in plan:\n${plan.take(2000)}")
  }

  test("t35 segmented packing == t27, and the doc-scale walk is (lang, seg)-partitioned") {
    val dir = "/root/testdata/sf0.01"
    def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2), r.getLong(3))).toSet
    val t35 = rows("t35_packing_segmented")
    val t27 = rows("t27_token_packing")
    assert(t35 == t27, s"segmented packing diverged: " +
      s"only-35=${(t35 -- t27).take(3)} only-27=${(t27 -- t35).take(3)}")
    val plan = explainString(SparkEntry.queries("t35_packing_segmented")(spark, dir))
    assert("windowspecdefinition\\(lang#\\d+, seg#".r.findFirstIn(plan).isDefined,
      s"no (lang, seg)-partitioned window in plan:\n${plan.take(2000)}")
  }

  test("st19: the carried state changes outcomes (carry-less per-batch attribution converts fewer)") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.01"
    val st19 = SparkEntry.queries("st19_streaming_funnel")(spark, dir)
      .agg(sum("n_conversions")).head().getLong(0)
    // one-shot q55 must agree (the shared oracle pins this against DuckDB
    // too; here it guards the contrast below against fixture drift)
    val oneShot = SparkEntry.queries("q55_event_funnel")(spark, dir)
      .agg(sum("n_conversions")).head().getLong(0)
    assert(st19 == oneShot, s"streaming $st19 != one-shot $oneShot")
    // carry-less contrast: q55's window walks with the frames ADDITIONALLY
    // partitioned by st19's batch half — what a stateless per-batch pass
    // would compute. If this equals st19, the batch boundary never cut a
    // chain and the ValueState carry is untested dead weight.
    val ev = graft.queries.Q.events(spark, dir)
      .where(col("user_id").isNotNull &&
        col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val wu = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val halved = ev
      .withColumn("rn", row_number().over(wu))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      .withColumn("half", expr("CASE WHEN rn <= n div 2 THEN 0 ELSE 1 END"))
    val w = Window.partitionBy("user_id", "half")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryless = halved
      .withColumn("lv", last(when(col("event_type") === "view", col("ts")),
        ignoreNulls = true).over(w))
      .withColumn("lc", last(when(col("event_type") === "click",
        struct(col("ts").as("ct"), col("lv").as("vt"))),
        ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase" &&
        coalesce(expr("lc.ct >= ts - INTERVAL 24 HOUR"), lit(false)) &&
        coalesce(expr("lc.vt >= lc.ct - INTERVAL 24 HOUR"), lit(false)))
      .count()
    assert(carryless < st19,
      s"carry-less $carryless should convert strictly fewer than stateful $st19")
  }

  test("q56 islands: partition the per-user event count, spans fit the gap rule") {
    val rows = SparkEntry.queries("q56_activity_islands")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val events = graft.queries.Q.events(spark, "/root/testdata/sf0.001")
      .where(col("user_id").isNotNull)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (u, nIslands, maxEvents, maxSpan) =>
      assert(nIslands >= 1 && maxEvents >= 1)
      // the busiest island cannot exceed the user's total events, and a
      // k-event island spans at most (k-1) maximal gaps
      assert(maxEvents <= events(u), s"user $u busiest island > total events")
      assert(maxSpan <= (maxEvents - 1).max(0) * 8L * 3600 * 1000000 ||
        maxEvents < events(u), // a longer span must belong to another island
        s"user $u span $maxSpan breaks the gap rule for a $maxEvents-event island")
    }
  }

  test("t33 mixture plan: shares floor-sum to <= 1000, targets drive epochs") {
    val rows = SparkEntry.queries("t33_mixture_plan")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getInt(4), r.getLong(5)))
    assert(rows.map(_._1).toSet == Set("en", "de", "es", "fr", "zh"))
    // milli-shares are floor divisions: they sum to at most 1000 and no
    // lower than 1000 - langs (each floor drops < 1 milli)
    val shareSum = rows.map(_._3).sum
    assert(shareSum <= 1000 && shareSum > 1000 - rows.length,
      s"share_millis sum $shareSum outside the floor envelope")
    rows.foreach { case (lang, tokens, share, pct, epochs) =>
      assert(tokens > 0, s"$lang has no tokens in the fixture")
      // epochs_millis ~ pct/100 * total/tokens: a lang holding MORE than
      // its target share needs < 1 epoch, and vice versa
      if (share > pct * 10L) assert(epochs <= 1000L, s"$lang over-represented but epochs $epochs > 1x")
      if (share < pct * 10L - 10) assert(epochs >= 1000L, s"$lang under-represented but epochs $epochs < 1x")
    }
  }

  test("st20 streaming url admission: cross-batch upsert replaces admitted state; == one-shot d22") {
    val dir = "/root/testdata/sf0.001"
    def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val st20 = rows("st20_streaming_url_dedup")
    val d22 = rows("d22_url_dedup")
    assert(st20 == d22, s"streaming admission diverged from one-shot d22: " +
      s"only-st20=${(st20 -- d22).take(3)} only-d22=${(d22 -- st20).take(3)}")
    // the replacement path genuinely fired: the +5e6 variants arrive in
    // batch 2 AFTER their colliding base rows were admitted in batch 1,
    // and win on quality — so survivors in [5e6, 6e6) prove the persisted
    // index was UPDATED, not append-only-skipped
    val replaced = st20.filter(r => r._1 >= 5000000L && r._1 < 6000000L)
    assert(replaced.nonEmpty,
      "no +5e6 variant survived — the cross-batch replacement path never ran")
    // and the replaced urls have exactly one survivor (the upsert, not a
    // duplicate admission)
    val byUrl = st20.groupBy(_._2)
    assert(byUrl.values.forall(_.size == 1), "duplicate url_norm admitted")
  }

  /** Rows of `streamed` and `oneShot` on the fixture [[sf]] reads by
    * default (sf0.001) are equal as sets and non-empty — the batch ==
    * streaming equality the two queries' shared DuckDB oracle asserts.
    */
  private def assertStreamedEqualsOneShot(streamed: String, oneShot: String): Unit = {
    val dir = new java.io.File(new java.net.URI(sf("documents").inputFiles.head)).getParent
    def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSet
    val got = rows(streamed)
    val want = rows(oneShot)
    assert(got == want, s"$streamed diverged from $oneShot: " +
      s"only-$streamed=${(got -- want).take(3)} only-$oneShot=${(want -- got).take(3)}")
    assert(want.nonEmpty, s"$oneShot returned no rows — the pin is vacuous")
  }

  test("st21 streaming bm25 maintenance == one-shot t36") {
    assertStreamedEqualsOneShot("st21_streaming_bm25", "t36_bm25_retrieval")
  }

  test("st22 streaming positional maintenance == one-shot t39") {
    assertStreamedEqualsOneShot("st22_streaming_phrase", "t39_phrase_search")
  }

  test("st24 streaming perceptual pairs == one-shot m05") {
    assertStreamedEqualsOneShot("st24_streaming_perceptual", "m05_perceptual_dedup")
  }

  test("t34 upweighted mixture: quota upweights restore clipped-cluster mass") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("t34_upweighted_mixture")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // the planted corpus is base + two dropped-word generations: every base
    // doc heads a size-3 cluster clipped to quota 2, so the upweighted mass
    // must STRICTLY exceed the raw kept mass overall (that excess is what a
    // sampler loses if it reads d25's rows without the upweight)
    val rawTotal = rows.map(_._4).sum
    val upTotal = rows.map(_._5).sum
    assert(upTotal > rawTotal * 1000L,
      s"upweighted $upTotal must exceed raw*1000 ${rawTotal * 1000L} — quota clipped nothing?")
    // per lang the upweight can only add mass (every factor >= 1)
    rows.foreach { case (lang, _, _, raw, up, _) =>
      assert(up >= raw * 1000L, s"$lang: upweighted $up < raw*1000 ${raw * 1000L}")
    }
    // represented rows must reconstruct the planted corpus size: each
    // cluster contributes ~cluster_size*1000 millis, each kept row's floor
    // div loses < 1000/n_kept <= 1000 millis… bounded by 2 per row in the
    // integer construction (cluster_size*1000 is divisible by n_kept=1;
    // only n_kept=2 floors, losing <= 1 milli per row)
    val nPlanted = sf("documents", dir).count() * 3
    val repTotal = rows.map(_._3).sum
    val keptRows = rows.map(_._2).sum
    assert(repTotal <= nPlanted * 1000L && repTotal >= nPlanted * 1000L - keptRows,
      s"represented $repTotal should reconstruct ${nPlanted * 1000L} within floor slack")
    // milli-shares floor-sum to <= 1000 (t33's envelope)
    val shareSum = rows.map(_._6).sum
    assert(shareSum <= 1000 && shareSum > 1000 - rows.length, s"share sum $shareSum")
  }

  test("t32 disposition ledger: every stage populated, stage implies disposition") {
    val rows = SparkEntry.queries("t32_disposition_ledger")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byStage = rows.groupBy(_._3)
    assert(Set("funnel", "dedup", "decontamination", "kept").subsetOf(byStage.keySet),
      s"missing stages: got ${byStage.keySet}")
    // stage and disposition agree: funnel rows carry a gate name, dedup
    // rows are 'duplicate', decontamination rows 'contaminated', kept kept
    val gates = Set("blocklist", "language", "gopher", "repetition", "quality")
    assert(byStage("funnel").forall(r => gates(r._2)))
    assert(byStage("dedup").forall(_._2 == "duplicate"))
    assert(byStage("decontamination").forall(_._2 == "contaminated"))
    assert(byStage("kept").forall(_._2 == "kept"))
    // every planted clone (+1e6 id) either matches its original's funnel
    // fate or loses dedup to it — a clone can never be 'kept' while its
    // original is also kept (identical text cannot survive twice)
    val byId = rows.map(r => r._1 -> r._2).toMap
    val bothKept = rows.filter(_._1 >= 1000000L)
      .filter(r => byId(r._1) == "kept" && byId.get(r._1 - 1000000L).contains("kept"))
    assert(bothKept.isEmpty, s"clone and original both kept: $bothKept")
  }

  test("st18 streaming profile: baseline batch never drifts, planted regression does") {
    val rows = SparkEntry.queries("st18_streaming_profile")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getBoolean(6))).toMap
    assert(rows.size == 8, s"expected 4 columns x 2 batches, got ${rows.size}")
    // batch 1 is the running baseline: no prior profile, so drift is
    // FALSE for every column by contract
    assert(rows.filter(_._1._2 == 1L).values.forall(!_), "baseline batch drifted")
    // batch 2's planted text degradation (doc_id % 5 -> NULL, a 20% null
    // rate against a ~0% running rate) must alert — and ONLY text
    val drifted = rows.filter(_._2).keys.toSet
    assert(drifted == Set(("text", 2L)),
      s"expected exactly the planted text drift, got $drifted")
  }
}
