package graft.queries

import graft.util.Conf.withConf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Q._

/** Relational core (SURVEY §2.2 extension): filter, joins (broadcast /
  * shuffle / semi / anti), aggregation (hash, distinct, rollup, cube),
  * window functions, sort/limit, set ops, event-time windowing, JSON
  * extraction. All hash-checked against DuckDB.
  */
object RelationalQueries {

  /** Rank + group-size frame for the exact-percentile formulation (q22,
    * q47): NULL values must not enter rank or n — the built-in
    * `percentile()` (and DuckDB `quantile_cont`) skip NULL inputs, while
    * row_number/count would rank them first and shift every percentile.
    * A group whose EVERY value is NULL keeps one null-rank carrier row,
    * so it stays in the output with NULL percentiles — `percentile()`'s
    * (and the oracle GROUP BY's) behavior; silently dropping the group
    * was the round-16 hostile-relational review find (the same
    * group-domain class as q47's old EqualTo join).
    */
  private def rankedForPct(df: DataFrame, group: String, v: Column): DataFrame = {
    val slim = df.select(col(group), v)
    val nonNull = slim.where(v.isNotNull)
      .withColumn("rn", row_number().over(
        Window.partitionBy(group).orderBy(v.asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(group)))
    val vName = slim.columns(1)
    val allNull = slim.select(col(group)).distinct()
      .join(nonNull.select(col(group).as("__g")).distinct(),
        col(group) <=> col("__g"), "left_anti")
      .select(col(group), lit(null).cast(slim.schema(vName).dataType).as(vName),
        lit(null).cast("int").as("rn"), lit(null).cast("long").as("n"))
    nonNull.unionByName(allNull)
  }

  /** Exact interpolated percentile over a [[rankedForPct]] frame, as a
    * conditional aggregation (no per-group value buffering): replicates
    * `percentile()`'s arithmetic ((hi-pos)*vlo + (pos-lo)*vhi with
    * pos = (n-1)*p) bit-identically while rows stay distributed (the
    * window sort spills; the built-in is an ImperativeAggregate whose
    * buffer holds EVERY group value — an executor OOM at 100x scale).
    */
  private def exactPct(v: Column, p: Double): Column = {
    val pos = (col("n") - 1).cast("double") * lit(p)
    val lo = floor(pos)
    val hi = ceil(pos)
    val vlo = max(when(col("rn") === lo + 1, v))
    val vhi = max(when(col("rn") === hi + 1, v))
    val posA = max(pos); val loA = max(lo); val hiA = max(hi)
    when(hiA === loA, vlo)
      .otherwise((hiA - posA) * vlo + (posA - loA) * vhi)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style pricing summary: partial-agg-friendly hash aggregate
    "q01_pricing_summary" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      // spread the single-row-group scan before the exact decimal
      // accumulation (round-21, guide §2.5) — the partial aggregation is
      // the query's whole cost and otherwise runs on ONE task; dsum/davg
      // are order-independent by construction so the result is unchanged
      ordered(spread(l
        .filter(col("l_shipdate").cast(DateType) <= lit(java.sql.Date.valueOf("1998-09-02")))
        .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax"), col("l_orderkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")))
    }),
    // predicate + projection pushdown to the parquet scan
    "q02_filter_pushdown" -> ((s, dir) =>
      ordered(t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 &&
          col("l_shipdate").cast(DateType) >= lit(java.sql.Date.valueOf("1997-01-01")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))),
    // broadcast hash join: small dim broadcast, no shuffle of the fact side
    "q03_join_broadcast_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      ordered(o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue")))
    }),
    // multi-join star query (region x nation x customer x orders x lineitem)
    "q04_multi_join_revenue" -> ((s, dir) => {
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      ordered(l
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines")))
    }),
    // left-semi join (EXISTS)
    "q05_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      ordered(c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"))
    }),
    // left-anti join (NOT EXISTS)
    "q06_anti_join" -> ((s, dir) => {
      val p = t(s, dir, "part"); val l = t(s, dir, "lineitem")
      ordered(p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
        .select("p_partkey", "p_name"))
    }),
    // ranking window: top-3 orders per customer
    "q07_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ordered(t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn"))
    }),
    // analytic window: running per-customer total (exact decimal accumulation)
    "q08_window_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ordered(t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 6))).over(w).cast("double").as("running_total")))
    }),
    // global top-k (sort + limit)
    "q09_topk_orders" -> ((s, dir) =>
      ordered(t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice"))),
    // keyset-style pagination: ORDER BY ... LIMIT ... OFFSET (SQL OFFSET
    // is Spark 3.4+/4.x surface; the plan stays a single global-limit
    // take, not a full-sort materialization). Page 3 of 10-row pages over
    // the q09 ordering.
    // Sequential-pattern FUNNEL attribution — the match_recognize shape no
    // prior query covers: a purchase CONVERTS when the user's most recent
    // prior click happened within 24 hours AND that click's most recent
    // prior view happened within 24 hours of the click (last-touch
    // attribution over strictly (ts, event_id)-ordered events; fixture
    // spacing makes 24 h populate both branches — 246 of 1981 purchases
    // convert at sf0.01). Two window passes over ONE (user) shuffle: pass
    // 1 annotates every row with the last view ts; pass 2 carries the
    // last click as a STRUCT (its ts + its attributed view ts) so
    // purchase rows read the whole chain from a single frame — no
    // self-joins, no per-user collect; at any event volume the cost is
    // one hash partition by user and two frame walks. NULL user_id events
    // are excluded — per-user attribution needs a user (st02's
    // dead-letter rule).
    "q55_event_funnel" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val ev = events(s, dir)
        .where(col("user_id").isNotNull &&
          col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_id", "ts", "event_type")
      val withView = ev.withColumn("last_view_ts",
        last(when(col("event_type") === "view", col("ts")),
          ignoreNulls = true).over(w))
      val withClick = withView.withColumn("last_click",
        last(when(col("event_type") === "click",
          struct(col("ts").as("click_ts"), col("last_view_ts").as("view_ts"))),
          ignoreNulls = true).over(w))
      ordered(withClick
        .where(col("event_type") === "purchase")
        .select(col("user_id"),
          (coalesce(expr("last_click.click_ts >= ts - INTERVAL 24 HOUR"), lit(false)) &&
            coalesce(expr("last_click.view_ts >= last_click.click_ts - INTERVAL 24 HOUR"),
              lit(false))).as("converted"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("converted"), 1L).otherwise(0L)).as("n_conversions")))
    }),
    // q55's semantics with the per-user MEGA-PARTITION removed — the named
    // fix for the hot-key regime (round-17 skew probe): a viral user
    // carrying 30% of events makes q55's user-partitioned frame walk one
    // task's problem. q57 computes the SAME last-touch attribution in two
    // phases over ts-contiguous SEGMENTS:
    //   1. frame walks partitioned by (user_id, seg) — the hot user's
    //      history splits across S=32 segments, so no partition exceeds
    //      ~1/S of the hot key;
    //   2. a carry pass over the per-(user, seg) SUMMARY frame (<= S rows
    //      per user, users x S total — orders of magnitude below events):
    //      the segment-entry state (last view; last click with its view
    //      resolved against the view carry) via two ignore-nulls walks
    //      over seg order;
    //   3. per-row effective state = seg-local else carried, exactly the
    //      state q55's single walk reads — last-touch state is an
    //      associative "latest non-null wins" fold, so segmentation is
    //      exact, not approximate. Segment = fixed ts-range bucket (one
    //      bounded min/max agg), contiguous by construction.
    // q55's oracle is reused VERBATIM: same output, pinned cross-engine.
    "q57_funnel_segmented" -> ((s, dir) => {
      val S = 32
      val windowUs = 24L * 3600 * 1000000
      val ev0 = events(s, dir)
        .where(col("user_id").isNotNull &&
          col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val mm = ev0.agg(min("ts_us"), max("ts_us")).head()
      val lo = if (mm.isNullAt(0)) 0L else mm.getLong(0)
      val hi = if (mm.isNullAt(1)) 0L else mm.getLong(1)
      // divide-based bucketing (no multiply — a wide ts span cannot
      // overflow); segLen >= 1 so the empty/degenerate corpus is seg 0
      val segLen = math.max(1L, (hi - lo) / S + 1)
      val ev = ev0.withColumn("seg", ((col("ts_us") - lo) / segLen).cast("long"))
      val wSeg = Window.partitionBy("user_id", "seg")
        .orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      // phase 1: q55's walks, seg-local (view_ts may be null if the
      // click's view lives in an earlier segment — resolved in phase 3)
      val local = ev
        .withColumn("lv", last(when(col("event_type") === "view", col("ts_us")),
          ignoreNulls = true).over(wSeg))
        .withColumn("lc", last(when(col("event_type") === "click",
          struct(col("ts_us").as("click_ts"), col("lv").as("view_ts"))),
          ignoreNulls = true).over(wSeg))
      // per-(user, seg) END state: the last view's ts (views are ordered,
      // so max == last) and the last click's struct (max_by event order)
      val segSummary = local.groupBy("user_id", "seg").agg(
        max(when(col("event_type") === "view", col("ts_us"))).as("fin_view"),
        max_by(when(col("event_type") === "click",
            struct(col("ts_us").as("click_ts"), col("lv").as("view_ts"))),
          when(col("event_type") === "click",
            struct(col("ts_us"), col("event_id")))).as("fin_click"))
      // phase 2: the carry over seg order — a users x <=S frame
      val wCarry = Window.partitionBy("user_id").orderBy(col("seg").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val carried = segSummary
        .withColumn("carry_view", last(col("fin_view"), ignoreNulls = true).over(wCarry))
        .withColumn("fin_click_res", when(col("fin_click").isNotNull,
          struct(col("fin_click.click_ts").as("click_ts"),
            coalesce(col("fin_click.view_ts"), col("carry_view")).as("view_ts"))))
        .withColumn("carry_click",
          last(col("fin_click_res"), ignoreNulls = true).over(wCarry))
        .select("user_id", "seg", "carry_view", "carry_click")
      // phase 3: effective state = seg-local (view gaps resolved against
      // the carry) else carried — exactly q55's single-walk state
      val joined = local.join(carried, Seq("user_id", "seg"))
        .withColumn("eff_click", coalesce(
          when(col("lc").isNotNull,
            struct(col("lc.click_ts").as("click_ts"),
              coalesce(col("lc.view_ts"), col("carry_view")).as("view_ts"))),
          col("carry_click")))
      ordered(joined
        .where(col("event_type") === "purchase")
        .select(col("user_id"),
          (coalesce(col("eff_click.click_ts") >= col("ts_us") - windowUs, lit(false)) &&
            coalesce(col("eff_click.view_ts") >= col("eff_click.click_ts") - windowUs,
              lit(false))).as("converted"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("converted"), 1L).otherwise(0L)).as("n_conversions")))
    }),
    // Gaps-and-islands sessionization — the classic SQL shape q20's
    // built-in session window approximates from the streaming side, here
    // EXACT and relational: per user, maximal runs of events whose
    // consecutive gaps stay within 8 hours (lag + running flag-sum assign
    // the island id), rolled up to the per-user activity profile
    // (n_islands, busiest island, longest island span). All integer
    // (epoch micros); the two windows and the two aggregations share ONE
    // user-partition shuffle like q55. NULL user_id dead-lettered.
    "q56_activity_islands" -> ((s, dir) => {
      val gapUs = 8L * 3600 * 1000000
      val wOrd = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val ev = events(s, dir).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val islands = ev
        .withColumn("__prev", lag("ts_us", 1).over(wOrd))
        .withColumn("__new", when(col("__prev").isNull ||
          col("ts_us") - col("__prev") > gapUs, 1L).otherwise(0L))
        .withColumn("island", sum("__new").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ordered(islands.groupBy("user_id", "island")
        .agg(count(lit(1)).as("n_events"),
          (max("ts_us") - min("ts_us")).as("span_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          max("n_events").as("max_island_events"),
          max("span_us").as("max_island_span_us")))
    }),
    // q56's islands with the per-user mega-partition removed (q57's
    // segmentation applied to the OTHER window family member): island
    // stats form a monoid (count, min_ts, max_ts merge associatively), so
    // per-(user, seg) islands computed locally are EXACTLY recombinable:
    //   - interior islands (neither first nor last in their segment) are
    //     final — their per-user rollup is a plain AGGREGATION, which
    //     map-side partial-aggregation makes hot-key-safe by itself;
    //   - boundary islands (first/last per segment, <= 2S rows per user)
    //     merge across segment boundaries by the same gap rule on a tiny
    //     summary frame — if interior islands separate a segment's first
    //     and last, the in-stream >8h gaps make their direct min/max
    //     distance exceed the threshold, so adjacency never false-merges.
    // q56's oracle is reused verbatim: same output, any segmentation.
    "q58_islands_segmented" -> ((s, dir) => {
      val S = 32
      val gapUs = 8L * 3600 * 1000000
      val ev0 = events(s, dir).where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val mm = ev0.agg(min("ts_us"), max("ts_us")).head()
      val lo = if (mm.isNullAt(0)) 0L else mm.getLong(0)
      val hi = if (mm.isNullAt(1)) 0L else mm.getLong(1)
      val segLen = math.max(1L, (hi - lo) / S + 1)
      val ev = ev0.withColumn("seg", ((col("ts_us") - lo) / segLen).cast("long"))
      val wSeg = Window.partitionBy("user_id", "seg")
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val local = ev
        .withColumn("__prev", lag("ts_us", 1).over(wSeg))
        .withColumn("__new", when(col("__prev").isNull ||
          col("ts_us") - col("__prev") > gapUs, 1L).otherwise(0L))
        .withColumn("island", sum("__new").over(
          wSeg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val perIsland = local.groupBy("user_id", "seg", "island")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("min_ts"), max("ts_us").as("max_ts"))
        .withColumn("__nisl", max("island").over(
          Window.partitionBy("user_id", "seg")))
      val isBoundary = col("island") === 1L || col("island") === col("__nisl")
      // interior rollup: plain per-user aggregation (map-side combined)
      val interior = perIsland.where(!isBoundary)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          max("n_events").as("max_ev"),
          max(col("max_ts") - col("min_ts")).as("max_span"))
      // boundary merge: gaps-and-islands AGAIN, on <= 2S rows per user
      val wB = Window.partitionBy("user_id")
        .orderBy(col("seg").asc, col("island").asc)
      val chains = perIsland.where(isBoundary)
        .withColumn("__pmax", lag("max_ts", 1).over(wB))
        .withColumn("__cnew", when(col("__pmax").isNull ||
          col("min_ts") - col("__pmax") > gapUs, 1L).otherwise(0L))
        .withColumn("chain", sum("__cnew").over(
          wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "chain")
        .agg(sum("n_events").as("n_events"),
          min("min_ts").as("min_ts"), max("max_ts").as("max_ts"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          max("n_events").as("max_ev"),
          max(col("max_ts") - col("min_ts")).as("max_span"))
      ordered(interior.unionByName(chains)
        .groupBy("user_id")
        .agg(sum("n_islands").as("n_islands"),
          max("max_ev").as("max_island_events"),
          max("max_span").as("max_island_span_us")))
    }),
    "q54_limit_offset" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("q54_orders")
      ordered(s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM q54_orders
          |ORDER BY o_totalprice DESC, o_orderkey ASC
          |LIMIT 10 OFFSET 20""".stripMargin))
    }),
    // rollup grouping sets
    "q10_rollup" -> ((s, dir) =>
      ordered(t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total")))),
    // cube grouping sets
    "q11_cube" -> ((s, dir) =>
      ordered(t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n")))),
    // distinct aggregation
    "q12_count_distinct" -> ((s, dir) =>
      ordered(t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_customers"), count(lit(1)).as("n_orders")))),
    // set ops
    "q13_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
      ordered(c.intersect(sup))
    }),
    "q14_except" -> ((s, dir) => {
      val n = t(s, dir, "nation").select(col("n_nationkey").as("k"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
      ordered(n.except(sup))
    }),
    // multiset (bag) semantics: INTERSECT ALL / EXCEPT ALL keep duplicate
    // multiplicities, unlike the set-based q13/q14
    "q42_set_ops_all" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
      ordered(c.intersectAll(sup).groupBy("k").agg(count(lit(1)).as("n_inter"))
        .join(c.exceptAll(sup).groupBy("k").agg(count(lit(1)).as("n_except")),
          Seq("k"), "full")
        .select(col("k"), col("n_inter"), col("n_except")))
    }),
    // RANGE frame: per-customer totals over orders within +/-30 DAYS of each
    // order date — a value-based frame a ROWS frame can't express. The order
    // key is an epoch-DAY integer (timezone-free on both engines); the sum
    // accumulates in decimal inside the frame for order-independence
    "q43_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).as("od"), col("o_totalprice"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("od"))
        .rangeBetween(-30, 30)
      ordered(o.select(col("o_custkey"), col("o_orderkey"),
        count(lit(1)).over(w).as("n_near"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).over(w)
          .cast("double").as("near_total")))
    }),
    // event-time tumbling window aggregation (batch form)
    "q15_events_hourly" -> ((s, dir) =>
      ordered(events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value")))),
    // JSON property extraction + aggregation
    "q16_json_extract" -> ((s, dir) => {
      ordered(t(s, dir, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))) }),
    // approximate distinct (HLL++): the raw estimate is engine-specific, so
    // the oracle-checkable contract is (a) the EXACT distinct count — which
    // DuckDB reproduces — and (b) an in-query assertion that the HLL
    // estimate lands within its error envelope (default rsd 0.05; 3-sigma
    // ~= 15%). approx_ok=false would hash-mismatch the oracle's literal
    // TRUE, so the driver gate pins the estimate's quality, not its exact
    // engine-specific value.
    "q17_approx_distinct" -> ((s, dir) =>
      ordered(t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_distinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * lit(0.15)).as("approx_ok")))),
    // sliding event-time windows (1h window, 30m slide -> 2 windows/event)
    "q19_sliding_window" -> ((s, dir) =>
      ordered(events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(fmtTs(col("window.start")).as("window_start"), col("event_type"),
          col("n"), col("total_value")))),
    // session windows (30-minute inactivity gap) per user — oracled via
    // the DuckDB gaps-and-islands formulation (lag -> new-session flag ->
    // cumulative sum), which reproduces session-merge semantics exactly
    "q20_session_window" -> ((s, dir) =>
      ordered(events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), fmtTs(col("session_window.start")).as("session_start"),
          col("n_events")))),
    // SQL surface: GROUPING SETS via spark.sql
    "q21_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      ordered(s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin))
    }),
    // as-of (backward) join: each error event matched to the same user's
    // latest purchase at-or-before it — checked against DuckDB's native
    // ASOF JOIN
    "q26_asof_join" -> ((s, dir) => {
      import graft.operators.AsOfJoin
      val ev = events(s, dir)
      val errors = ev.where(col("event_type") === "error").select("user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      ordered(AsOfJoin.asofBackward(errors, purchases, Seq("user_id"), "ts", "p_ts",
          Seq("p_ts", "p_value"))
        .select(col("user_id"), fmtTs(col("ts")).as("error_ts"),
          fmtTs(col("p_ts")).as("purchase_ts"), col("p_value")))
    }),
    // range/interval join via the granule-bucketed equi formulation:
    // errors landing within 1 hour after a purchase by the same user
    "q27_range_join" -> ((s, dir) => {
      import graft.operators.RangeJoin
      val ev = events(s, dir)
      val errors = ev.where(col("event_type") === "error").select("user_id", "ts")
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      ordered(RangeJoin.bucketed(errors, windows, Seq("user_id"),
          "ts", "w_start", "w_end",
          c => (unix_micros(c) / lit(1800000000L)).cast(LongType))
        .groupBy("user_id").agg(count(lit(1)).as("n_errors_after_purchase")))
    }),
    // value-window breadth: first/last/nth over an explicit running frame.
    // last_value over the DEFAULT frame (up to CURRENT ROW) and nth_value's
    // null-until-nth behavior are the cross-engine traps this pins; the
    // frame is made explicit so both engines compute the same thing
    "q48_value_windows" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ordered(t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("latest_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order")))
    }),
    // analytic window breadth: lag/lead/ntile/percent_rank in one pass
    "q25_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      ordered(t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pr")))
    }),
    // exact percentiles (linear interpolation — identical in both engines),
    // as a two-pass distributed formulation: rank + group size via one
    // partitioned window, then interpolate between the two bracketing ranks
    // with conditional aggregation. The built-in percentile() is an
    // ImperativeAggregate that buffers EVERY group value in its aggregation
    // buffer — with 3 o_orderstatus groups one buffer holds ~half of all
    // orders, an executor OOM at 100x scale; here rows stay distributed
    // (the window sort spills) and the interpolation replicates
    // percentile()'s exact arithmetic ((hi-pos)*vlo + (pos-lo)*vhi with
    // pos = (n-1)*p), so results are bit-identical
    "q22_percentiles" -> ((s, dir) => {
      val v = col("o_totalprice")
      val ranked = rankedForPct(t(s, dir, "orders"), "o_orderstatus", v)
      ordered(ranked.groupBy("o_orderstatus")
        .agg(exactPct(v, 0.5).as("p50"), exactPct(v, 0.9).as("p90"),
          exactPct(v, 0.99).as("p99")))
    }),
    // approximate percentile (the T-Digest-style sketch family, like q17's
    // HLL): the estimate is engine-specific, so the oracle contract is the
    // EXACT interpolated median (DuckDB quantile_cont reproduces it) plus
    // an in-query assertion that percentile_approx lands within 5% — a
    // false would hash-mismatch the oracle's literal TRUE. At accuracy
    // 10000 the rank error is <= n/10000 rows, far inside the envelope;
    // unlike exact percentile() the sketch is a bounded-memory mergeable
    // aggregate, the 100 TB path.
    "q47_approx_percentile" -> ((s, dir) => {
      val v = col("o_totalprice")
      // exact + approx in ONE aggregation over the ranked frame: the old
      // exact-JOIN-approx form dropped the NULL group key (a name join
      // uses EqualTo, not <=>) — the hostile corpus plants a NULL-status
      // order whose group must survive, as DuckDB's GROUP BY keeps it
      val ranked = rankedForPct(t(s, dir, "orders"), "o_orderstatus", v)
      ordered(ranked.groupBy("o_orderstatus")
        .agg(exactPct(v, 0.5).as("p50_exact"),
          percentile_approx(v, lit(0.5), lit(10000)).as("p50_approx"))
        .select(col("o_orderstatus"), col("p50_exact"),
          // an all-null group has NULL exact AND approx medians — vacuously
          // inside the envelope, matching the oracle's literal TRUE
          coalesce(abs(col("p50_approx") - col("p50_exact")) <=
            abs(col("p50_exact")) * lit(0.05), lit(true)).as("approx_ok")))
    }),
    // scalar string function breadth
    "q23_string_funcs" -> ((s, dir) =>
      ordered(t(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        length(col("c_name")).as("name_len"),
        substring(col("c_mktsegment"), 1, 3).as("seg3"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey").cast("string")).as("tag"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked")))),
    // scalar date/time function breadth (avoiding dow-convention mismatches)
    "q24_date_funcs" -> ((s, dir) =>
      ordered(t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        date_format(date_add(col("o_orderdate").cast(DateType), 30), "yyyy-MM-dd").as("due")))),
    // correlated scalar subquery (TPC-H Q17 flavor): small-quantity orders
    // revenue, threshold = per-part average (exact decimal accumulation so
    // the correlated threshold is engine-independent)
    "q28_correlated_subquery" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q28")
      ordered(s.sql(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
          |FROM lineitem_q28 l1
          |WHERE l_quantity < 0.2 * (
          |  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
          |  FROM lineitem_q28 l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin))
    }),
    // pivot (wide conditional aggregation): order value by priority x status
    "q29_pivot" -> ((s, dir) =>
      ordered(t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice"))))),
    // unpivot / melt: wide metric columns -> long (metric, value) rows.
    // Narrow per-row op — no shuffle; scales linearly.
    "q30_unpivot" -> ((s, dir) =>
      ordered(t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "value"))),
    // theta (non-equi) join: broadcast nested loop over a small dim —
    // the only join shape where BNLJ is the right plan
    "q31_theta_join" -> ((s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("a"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("b"))
      ordered(n1.join(broadcast(n2), col("a") < col("b")))
    }),
    // uncorrelated scalar subquery: orders above 1.5x the global average
    // (exact decimal accumulation makes the threshold engine-independent)
    "q32_uncorrelated_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_q32")
      ordered(s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders_q32
          |WHERE o_totalprice > 1.5 * (
          |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
          |  FROM orders_q32)""".stripMargin))
    }),
    // array higher-order functions (transform/aggregate/filter over token
    // arrays) — integer arithmetic, so results are exact on both engines
    "q33_array_hof" -> ((s, dir) => {
      import graft.functions.{TextFunctions => TF}
      val toks = TF.tokens(col("text"))
      ordered(t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        aggregate(transform(toks, x => length(x)), lit(0), (a, b) => a + b).as("sum_token_len"),
        array_max(transform(toks, x => length(x))).as("max_token_len"),
        size(array_distinct(toks)).as("n_distinct_tokens")))
    }),
    // ranking-function breadth: rank / dense_rank / cume_dist (row_number,
    // lag/lead/ntile/percent_rank are covered by q07/q25)
    "q35_rank_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc)
      ordered(t(s, dir, "orders").select(
        col("o_orderstatus"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(cume_dist().over(w), 6).as("cd")))
    }),
    // scalar math-function breadth (transcendentals rounded: libm vs DuckDB
    // may differ in the last ulp)
    "q36_math_funcs" -> ((s, dir) =>
      ordered(t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - lit(0.05)).as("abs_d"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          // domain guards, same rule both engines: sqrt of a negative is
          // NaN on Spark but an ERROR in DuckDB (ln likewise for <= 0) —
          // the hostile corpus plants negative and zero measures, and
          // NULL-outside-the-domain is the one portable contract
          round(when(col("l_quantity") >= 0, sqrt(col("l_quantity"))), 6).as("sq"),
          round(when(col("l_extendedprice") > 0, log(col("l_extendedprice"))), 6).as("ln_p"),
          pmod(col("l_orderkey"), lit(7)).as("m7"),
          signum(col("l_discount") - lit(0.05)).as("sgn")))),
    // left outer join: enrichment shape every real pipeline uses — customers
    // keep their row (null order columns) when no order matches
    "q37_left_outer_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      val o = t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
      ordered(c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice")))
    }),
    // full outer join: per-status order counts per customer, customers
    // appearing on either side survive with nulls on the missing side
    "q38_full_outer_join" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val f = ord.where(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey").as("k_f")).agg(count(lit(1)).as("n_f"))
      val o = ord.where(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey").as("k_o")).agg(count(lit(1)).as("n_o"))
      ordered(f.join(o, col("k_f") === col("k_o"), "full")
        .select(coalesce(col("k_f"), col("k_o")).as("o_custkey"), col("n_f"), col("n_o")))
    }),
    // LATERAL correlated table subquery: per-customer top-2 orders by price.
    // Catalyst decorrelates the LATERAL limit into a ranked window under the
    // hood; the SQL surface is the point (DuckDB runs the same text)
    "q39_lateral_topn" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_q39")
      t(s, dir, "orders").createOrReplaceTempView("orders_q39")
      ordered(s.sql(
        """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
          |FROM customer_q39 c,
          |LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders_q39
          |  WHERE o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
          |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin))
    }),
    // array aggregation: collect_set is unordered by contract, so the
    // deterministic (and oracle-able) form is sort_array(collect_set(..))
    "q46_array_agg" -> ((s, dir) =>
      ordered(t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(sort_array(collect_set(col("o_orderpriority"))).as("priorities"),
          countDistinct(col("o_orderpriority")).as("n_distinct"))
        .select(col("o_orderstatus"),
          concat_ws("|", col("priorities")).as("priorities"), col("n_distinct")))),
    // null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys MATCH
    // each other, unlike plain = which drops them — the semantics dimension
    // tables with absent codes need
    "q44_null_safe_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(nullif(pmod(col("o_orderkey"), lit(7)), lit(3)).as("k"))
      val sup = t(s, dir, "supplier")
        .select(nullif(pmod(col("s_suppkey"), lit(7)), lit(3)).as("sk"))
      ordered(o.join(sup, o("k") <=> sup("sk"))
        .groupBy("k").agg(count(lit(1)).as("n")))
    }),
    // EXISTS / NOT EXISTS correlated subqueries in SQL text (the declarative
    // form of semi/anti joins q05/q06)
    "q45_exists_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_q45")
      t(s, dir, "orders").createOrReplaceTempView("orders_q45")
      ordered(s.sql(
        """SELECT
          |  (SELECT COUNT(*) FROM customer_q45 c
          |   WHERE EXISTS (SELECT 1 FROM orders_q45 o
          |                 WHERE o.o_custkey = c.c_custkey
          |                   AND o.o_totalprice > 100000)) AS with_big_order,
          |  (SELECT COUNT(*) FROM customer_q45 c
          |   WHERE NOT EXISTS (SELECT 1 FROM orders_q45 o
          |                     WHERE o.o_custkey = c.c_custkey)) AS no_orders""".stripMargin))
    }),
    // recursive CTE (Spark 4 WITH RECURSIVE): generate the month spine from
    // min to max order date, LEFT JOIN per-month order counts — empty months
    // surface as 0, which only a generated spine can do. The date bounds are
    // resolved ONCE up front and injected as literals: a subquery in the
    // recursive step is re-planned per iteration (measured: ~80 extra scans
    // of orders, 14s at sf0.1), and a literal-bounded spine is also the only
    // formulation that scales — the recursion itself then touches no data
    // The recursion runs under the default cteRecursionLevelLimit (100):
    // the limit is re-read at EXECUTION time, so a scoped set/restore around
    // this builder would be dead by the time the returned plan runs (and a
    // bare set would leak into later queries sharing the session). Instead
    // the spine length is checked eagerly against the limit — a >100-month
    // spine fails here with a clear message instead of deep in execution.
    "q41_recursive_cte" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_q41")
      val b = s.sql(
        """SELECT date_format(min(o_orderdate), 'yyyy-MM-01') AS mn,
          |       date_format(max(o_orderdate), 'yyyy-MM-01') AS mx
          |FROM orders_q41""".stripMargin).collect()(0)
      val (mn, mx) = (b.getString(0), b.getString(1))
      require(mn != null && mx != null,
        "q41: orders table is empty — no month spine to generate")
      val months = {
        val Array(y0, m0, _) = mn.split("-").map(_.toInt)
        val Array(y1, m1, _) = mx.split("-").map(_.toInt)
        (y1 - y0) * 12 + (m1 - m0) + 1
      }
      val limit = s.conf.get("spark.sql.cteRecursionLevelLimit", "100").toInt
      // strict <: whether Spark counts the final empty recursion step as a
      // level is version-dependent, so the exact-boundary spine is rejected
      // eagerly too rather than risking a deep execution-time failure
      require(months < limit,
        s"q41 month spine needs $months iterations but cteRecursionLevelLimit=$limit; " +
          "raise the conf session-wide before running")
      ordered(s.sql(
        s"""WITH RECURSIVE months(m) AS (
           |  SELECT CAST('$mn' AS TIMESTAMP)
           |  UNION ALL
           |  SELECT m + INTERVAL 1 MONTH FROM months
           |  WHERE m < CAST('$mx' AS TIMESTAMP))
           |SELECT date_format(m, 'yyyy-MM') AS month, count(o_orderkey) AS n
           |FROM months LEFT JOIN orders_q41
           |  ON date_trunc('MONTH', o_orderdate) = m
           |GROUP BY m""".stripMargin))
    }),
    // the skew machinery made driver-visible: deterministic salted join
    // (fact salt in [0,8), dim replicated per salt) must produce exactly
    // the plain-join aggregate the oracle computes
    "q40_salted_join_agg" -> ((s, dir) => {
      import graft.operators.SkewJoin
      val fact = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_extendedprice"))
      val dim = t(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      ordered(SkewJoin.saltedJoin(fact, dim, "l_suppkey", salts = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue")))
    }),
    // linear-regression / correlation aggregates from EXACT decimal moments.
    // The built-ins (corr, regr_slope, covar_samp) accumulate doubles in
    // partition order — not reproducible across engines or even across two
    // runs with different partitioning. Summing the five moments through
    // DECIMAL accumulation (one map-side-combinable pass, same shuffle as
    // any groupBy) makes every derived statistic a pure IEEE expression on
    // identical inputs: bit-stable at any scale, and the formulation DuckDB
    // can mirror exactly.
    "q50_regression_aggs" -> ((s, dir) => {
      // spread the single-row-group scan before the six exact decimal
      // accumulators (round-21, guide §2.5) — order-independent, so the
      // regression outputs are unchanged
      val m = spread(t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"),
          col("l_orderkey"))
        .groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sx"),
        dsum(col("l_extendedprice")).as("sy"),
        dsum(col("l_quantity") * col("l_extendedprice")).as("sxy"),
        dsum(col("l_quantity") * col("l_quantity")).as("sxx"),
        dsum(col("l_extendedprice") * col("l_extendedprice")).as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      val vary = col("n") * col("syy") - col("sy") * col("sy")
      // zero-variance guards: a single-row group (the hostile corpus
      // plants a NULL-returnflag group of one) has varx = 0, where slope/
      // corr are mathematically undefined — NULL on both engines, instead
      // of Spark's ANSI divide-by-zero abort vs DuckDB's inf/NaN
      ordered(m.select(col("l_returnflag"), col("n"),
        round(when(varx > 0, cov / varx), 6).as("slope"),
        round(when(varx > 0,
          (col("sy") - (cov / varx) * col("sx")) / col("n")), 6).as("intercept"),
        round(when(varx > 0 && vary > 0,
          cov / (sqrt(varx) * sqrt(vary))), 6).as("corr")))
    }),
    // Semi-structured VARIANT (Spark 4's native JSON type): props parses
    // ONCE into the binary variant encoding and typed paths extract from
    // it — at scale this replaces per-access JSON re-parsing (q16's
    // get_json_object re-tokenizes the string per call) with one parse
    // and O(1) typed field reads. try_variant_get returns NULL on type
    // mismatch like the oracle's json_extract casts.
    "q53_variant" -> ((s, dir) => {
      // try_parse_json, not parse_json: malformed props must yield a null
      // VARIANT (the hostile corpus plants 'not json'), matching the
      // oracle's json_valid guard — parse_json aborts the whole scan
      val k = try_variant_get(try_parse_json(col("props")), "$.k", "long")
      ordered(t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")))
    }),
    // Count-min sketch heavy hitters — the q17/q47 pattern for frequency
    // estimation: the EXACT per-key counts are what the oracle checks, and
    // the sketch (a fixed-size mergeable structure — the thing you CAN
    // compute over 100 TB in one pass where exact per-key maps blow up on
    // high-cardinality keys) is verified in-query against its
    // (overestimate-only, eps*N) error contract. The per-key probe loop is
    // driver-side but bounded by the distinct key count of the output
    // (event types, a handful).
    "q52_count_min" -> ((s, dir) => {
      // non-null keys only, on BOTH sides: countMinSketch NPEs on a null
      // key (found by the hostile-events probe) and a null "key" has no
      // frequency-estimation meaning — the dead-letter rule again
      val ev = t(s, dir, "events").where(col("event_type").isNotNull)
      val exact = ordered(ev.groupBy("event_type").agg(count(lit(1)).as("n")))
      val sketch = ev.stat.countMinSketch(
        col("event_type"), eps = 0.001, confidence = 0.99, seed = 42)
      val total = sketch.totalCount()
      exact.collect().foreach { r =>
        val (k, n) = (r.getString(0), r.getLong(1))
        val est = sketch.estimateCount(k)
        require(est >= n && est <= n + (0.001 * total).ceil.toLong,
          s"q52: sketch estimate $est for '$k' outside [$n, n + eps*N] (N=$total)")
      }
      exact
    }),
    // parquet aggregate pushdown — the 100 TB scan-elimination trick for
    // table-stat queries: MIN/MAX/COUNT with no filter answer from row-group
    // FOOTER STATISTICS alone, reading zero data pages (at 100 TB that is
    // the difference between a metadata operation and a full-table scan).
    // Needs the DSv2 parquet source + aggregatePushdown, both scoped;
    // `PushedAggregation` is asserted IN-QUERY so a silent fallback to a
    // full scan errs the run instead of quietly costing 5 orders of
    // magnitude more I/O. The DuckDB oracle computes the same stats the
    // slow way — footer stats must agree exactly with the data.
    "q51_agg_pushdown" -> ((s, dir) => {
      val df = withConf(s, "spark.sql.sources.useV1SourceList" -> "",
          "spark.sql.parquet.aggregatePushdown" -> "true") {
        val q = t(s, dir, "lineitem").agg(
          count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        // force planning inside the conf scope (same trick as q49)
        q.queryExecution.executedPlan
        q
      }
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregation: [COUNT(*)"),
        s"q51: aggregates were not pushed to the parquet footer scan:\n${plan.take(800)}")
      df
    }),
    // runtime bloom-filter join — the 100 TB shuffle-join prefilter: the
    // selectively-filtered dim side builds a bloom filter at runtime and the
    // fact side drops non-matching rows BEFORE its shuffle, turning a
    // full-fact exchange into a ~hit-rate-sized one. Spark's
    // InjectRuntimeFilter only fires on shuffle joins past size thresholds
    // meant for real clusters, so the fixture-scoped confs force the same
    // plan here, and `might_contain` is asserted IN-QUERY — a silent loss of
    // the filter is a hard err, not a quiet perf cliff. Results are exact
    // regardless (the bloom is a prefilter; the hash join still verifies),
    // so the plain-join DuckDB oracle hash-checks it.
    "q49_bloom_filter_join" -> ((s, dir) => {
      val df = withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
        val o = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_orderdate")
        val l = t(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val q = ordered(l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_lines"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue")))
        // force planning inside the conf scope (QueryExecution caches
        // its phases, so the driver's later action reuses this plan)
        q.queryExecution.executedPlan
        q
      }
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("might_contain"),
        "q49: runtime bloom filter was not injected into the fact scan")
      df
    }),
    // map functions: JSON -> map<string,long>, explode to (key, value) rows,
    // aggregate per key (map_keys/map_values/element_at family)
    "q34_map_funcs" -> ((s, dir) => {
      val m = from_json(col("props"), MapType(StringType, LongType))
      ordered(t(s, dir, "events")
        .select(col("event_type"), explode(m))
        .groupBy("event_type", "key")
        .agg(count(lit(1)).as("n"), sum("value").as("sum_v"),
          min("value").as("min_v"), max("value").as("max_v")))
    }),
    // typed Dataset API: case-class rows + groupByKey/mapGroups
    "q18_typed_mapgroups" -> ((s, dir) => {
      import s.implicits._
      // o_custkey IS NOT NULL on both engines: the typed encoder's Long
      // field asserts non-null (hostile corpus plants a NULL custkey), and
      // per-customer stats need a customer — st02's dead-letter rule
      val ds = t(s, dir, "orders")
        .where(col("o_custkey").isNotNull)
        .select("o_orderkey", "o_custkey", "o_totalprice").as[OrderSlim]
      val stats = ds.groupByKey(_.o_custkey).mapGroups { (k, it) =>
        // Option measure: COUNT(*) counts every row, MAX skips NULLs —
        // SQL's aggregate null semantics, replayed imperatively
        var n = 0L
        var mx = Option.empty[Double]
        it.foreach { o =>
          n += 1
          o.o_totalprice.foreach(p => if (mx.forall(p > _)) mx = Some(p))
        }
        (k, n, mx)
      }.toDF("o_custkey", "n_orders", "max_price")
      ordered(stats)
    }))

  /** o_totalprice is Option: the hostile corpus plants a NULL measure, and
    * a bare Double encoder asserts non-null at scan time.
    */
  final case class OrderSlim(o_orderkey: Long, o_custkey: Long, o_totalprice: Option[Double])

  /** q55's replay — shared verbatim by q55 (single user-partition walk)
    * and q57 (segmented two-phase): both compute the same attribution.
    */
  private val funnelOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, ts, event_type FROM events
       |  WHERE user_id IS NOT NULL
       |    AND event_type IN ('view', 'click', 'purchase')),
       |v AS (
       |  SELECT *, last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
       |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
       |  FROM ev),
       |c AS (
       |  SELECT *, last_value(CASE WHEN event_type = 'click'
       |      THEN {'click_ts': ts, 'view_ts': last_view_ts} END IGNORE NULLS)
       |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
       |  FROM v)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       |  CAST(COALESCE(SUM(CASE WHEN
       |      COALESCE(last_click.click_ts >= ts - INTERVAL 24 HOUR, FALSE)
       |      AND COALESCE(last_click.view_ts >= last_click.click_ts - INTERVAL 24 HOUR, FALSE)
       |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_conversions
       |FROM c WHERE event_type = 'purchase' GROUP BY user_id
       |${orderSql("user_id", "n_purchases", "n_conversions")}""".stripMargin

  /** q56's replay — identical lag + explicit-ROWS running flag-sum
    * (DuckDB's default ORDER BY frame is RANGE, which would group tied
    * instants — the ROWS spelling is load-bearing) and the same two
    * rollups. Shared verbatim by q56 (single user-partition walk) and
    * q58 (segmented recombination): both compute the same islands.
    */
  private val islandsOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
       |  WHERE user_id IS NOT NULL),
       |f AS (
       |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
       |      OR ts_us - lag(ts_us) OVER w > ${8L * 3600 * 1000000}
       |    THEN 1 ELSE 0 END AS newi
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
       |isl AS (
       |  SELECT user_id, event_id, ts_us,
       |    SUM(newi) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM f),
       |per_island AS (
       |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS span_us
       |  FROM isl GROUP BY user_id, island)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
       |  MAX(n_events) AS max_island_events,
       |  MAX(span_us) AS max_island_span_us
       |FROM per_island GROUP BY user_id
       |${orderSql("user_id", "n_islands", "max_island_events", "max_island_span_us")}""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${dsumSql("l_quantity")} AS sum_qty,
         |${dsumSql("l_extendedprice")} AS sum_base_price,
         |${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |${davgSql("l_quantity")} AS avg_qty,
         |${davgSql("l_extendedprice")} AS avg_price,
         |${davgSql("l_discount")} AS avg_disc,
         |COUNT(*) AS count_order
         |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |${orderSql("l_returnflag", "l_linestatus")}""".stripMargin,
    "q02_filter_pushdown" ->
      s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         |WHERE l_quantity > 45 AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
         |${orderSql("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")}""".stripMargin,
    "q03_join_broadcast_agg" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ${orderSql("c_mktsegment")}""".stripMargin,
    "q04_multi_join_revenue" ->
      s"""SELECT r_name, n_name, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue, COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ${orderSql("r_name", "n_name")}""".stripMargin,
    "q05_semi_join" ->
      s"""SELECT c_custkey, c_name FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         |${orderSql("c_custkey", "c_name")}""".stripMargin,
    "q06_anti_join" ->
      s"""SELECT p_partkey, p_name FROM part
         |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
         |${orderSql("p_partkey", "p_name")}""".stripMargin,
    "q07_window_topk" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
         |SELECT o_custkey, o_orderkey, o_totalprice,
         |ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC NULLS FIRST) AS rn
         |FROM orders) WHERE rn <= 3
         |${orderSql("o_custkey", "o_orderkey", "o_totalprice", "rn")}""".stripMargin,
    "q08_window_running_sum" ->
      s"""SELECT o_custkey, o_orderkey,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         |FROM orders ${orderSql("o_custkey", "o_orderkey", "running_total")}""".stripMargin,
    "q09_topk_orders" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q54_limit_offset" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 20""".stripMargin,
    // identical lag + explicit-ROWS running flag-sum (DuckDB's default
    // ORDER BY frame is RANGE, which would group tied instants — the ROWS
    // spelling is load-bearing) and the same two rollups
    "q56_activity_islands" -> islandsOracle,
    // the segmented form recombines the same islands exactly (island
    // stats are a monoid; boundary merges by the same gap rule) — one
    // oracle pins both plans
    "q58_islands_segmented" -> islandsOracle,
    // the same two IGNORE-NULLS frame walks and the same struct carry —
    // last_value over ROWS UNBOUNDED PRECEDING..1 PRECEDING mirrors
    // Spark's last(..., ignoreNulls) exactly under the total
    // (ts, event_id) order
    "q55_event_funnel" -> funnelOracle,
    // the segmented two-phase form computes IDENTICAL output (last-touch
    // state is an associative latest-non-null fold), so the one oracle
    // pins both plans — and any segmentation bug lands as a hash diff
    "q57_funnel_segmented" -> funnelOracle,
    "q10_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |${orderSql("o_orderstatus", "o_orderpriority", "n")}""".stripMargin,
    "q11_cube" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |${orderSql("l_returnflag", "l_linestatus", "n")}""".stripMargin,
    "q12_count_distinct" ->
      s"""SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
         |FROM orders GROUP BY o_orderstatus ${orderSql("o_orderstatus")}""".stripMargin,
    "q13_intersect" ->
      s"""SELECT * FROM (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier)
         |${orderSql("k")}""".stripMargin,
    "q14_except" ->
      s"""SELECT * FROM (SELECT n_nationkey AS k FROM nation EXCEPT SELECT s_nationkey FROM supplier)
         |${orderSql("k")}""".stripMargin,
    "q15_events_hourly" ->
      s"""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00:00') AS hour,
         |event_type, COUNT(*) AS n, ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2 ${orderSql("hour", "event_type", "n")}""".stripMargin,
    // json_valid guard: Spark's get_json_object returns NULL on malformed
    // JSON while DuckDB's json_extract_string THROWS — the hostile events
    // corpus plants a 'not json' props to keep this aligned
    "q16_json_extract" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(CASE WHEN json_valid(props)
         |    THEN json_extract_string(props, '$$.k') END AS BIGINT)) AS BIGINT) AS sum_k
         |FROM events GROUP BY event_type ${orderSql("event_type")}""".stripMargin,
    // the exact column is the cross-engine contract; approx_ok mirrors the
    // in-query HLL error-envelope assert (Spark emits false -> hash breaks)
    "q17_approx_distinct" ->
      s"""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS approx_ok
         |FROM lineitem GROUP BY l_returnflag ${orderSql("l_returnflag", "exact_parts", "approx_ok")}""".stripMargin,
    "q28_correlated_subquery" ->
      s"""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
         |FROM lineitem l1
         |WHERE l_quantity < 0.2 * (
         |  SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    "q18_typed_mapgroups" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
         |FROM orders WHERE o_custkey IS NOT NULL
         |GROUP BY o_custkey ${orderSql("o_custkey", "n_orders", "max_price")}""".stripMargin,
    "q29_pivot" ->
      s"""SELECT o_orderpriority,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS "F",
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS "O",
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS "P"
         |FROM orders GROUP BY o_orderpriority ${orderSql("o_orderpriority")}""".stripMargin,
    "q30_unpivot" ->
      s"""SELECT l_orderkey, l_linenumber, metric, value FROM (
         |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
         |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
         |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
         |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
         |${orderSql("l_orderkey", "l_linenumber", "metric", "value")}""".stripMargin,
    "q31_theta_join" ->
      s"""SELECT n1.n_nationkey AS a, n2.n_nationkey AS b
         |FROM nation n1 JOIN nation n2 ON n1.n_nationkey < n2.n_nationkey
         |${orderSql("a", "b")}""".stripMargin,
    "q32_uncorrelated_subquery" ->
      s"""SELECT o_orderkey, o_totalprice FROM orders
         |WHERE o_totalprice > 1.5 * (
         |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) FROM orders)
         |${orderSql("o_orderkey", "o_totalprice")}""".stripMargin,
    "q33_array_hof" ->
      s"""WITH d AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> length(x) > 0) AS toks
         |  FROM documents)
         |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
         |-- empty list: list_sum([]) is NULL where Spark's aggregate seeds 0
         |-- -> COALESCE; but NULL text must STAY NULL (Spark's aggregate
         |-- over a NULL array is NULL), so the COALESCE is gated on toks
         |CAST(CASE WHEN toks IS NOT NULL
         |  THEN COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
         |END AS INTEGER) AS sum_token_len,
         |CAST(list_max(list_transform(toks, x -> length(x))) AS INTEGER) AS max_token_len,
         |CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens
         |FROM d ${orderSql("doc_id")}""".stripMargin,
    "q35_rank_funcs" ->
      s"""SELECT o_orderstatus, o_orderkey,
         |CAST(rank() OVER w AS INTEGER) AS rnk,
         |CAST(dense_rank() OVER w AS INTEGER) AS drnk,
         |round(cume_dist() OVER w, 6) AS cd
         |FROM orders
         |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC)
         |${orderSql("o_orderstatus", "o_orderkey", "rnk", "drnk", "cd")}""".stripMargin,
    "q36_math_funcs" ->
      s"""SELECT l_orderkey, l_linenumber,
         |abs(l_discount - 0.05) AS abs_d,
         |CAST(floor(l_extendedprice) AS BIGINT) AS fl,
         |CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
         |round(CASE WHEN l_quantity >= 0 THEN sqrt(l_quantity) END, 6) AS sq,
         |round(CASE WHEN l_extendedprice > 0 THEN ln(l_extendedprice) END, 6) AS ln_p,
         |CAST(l_orderkey % 7 AS BIGINT) AS m7,
         |CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn
         |FROM lineitem ${orderSql("l_orderkey", "l_linenumber", "abs_d")}""".stripMargin,
    "q37_left_outer_join" ->
      s"""SELECT c_custkey, c_name, o_orderkey, o_totalprice
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |${orderSql("c_custkey", "c_name", "o_orderkey", "o_totalprice")}""".stripMargin,
    "q38_full_outer_join" ->
      s"""SELECT COALESCE(f.k, o.k) AS o_custkey, f.n_f AS n_f, o.n_o AS n_o FROM
         |(SELECT o_custkey AS k, COUNT(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) f
         |FULL OUTER JOIN
         |(SELECT o_custkey AS k, COUNT(*) AS n_o FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) o
         |ON f.k = o.k
         |${orderSql("o_custkey", "n_f", "n_o")}""".stripMargin,
    // FILTER + COALESCE mirror Spark's collect_set contract exactly: null
    // elements never enter the set, and an all-null group joins to the
    // EMPTY string, not NULL (the hostile corpus plants that group)
    "q46_array_agg" ->
      s"""SELECT o_orderstatus,
         |  COALESCE(array_to_string(list_sort(list(DISTINCT o_orderpriority)
         |    FILTER (WHERE o_orderpriority IS NOT NULL)), '|'), '') AS priorities,
         |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct
         |FROM orders GROUP BY o_orderstatus
         |${orderSql("o_orderstatus", "priorities", "n_distinct")}""".stripMargin,
    "q44_null_safe_join" ->
      s"""SELECT a.k, COUNT(*) AS n FROM
         |(SELECT nullif(o_orderkey % 7, 3) AS k FROM orders) a
         |JOIN (SELECT nullif(s_suppkey % 7, 3) AS sk FROM supplier) b
         |ON a.k IS NOT DISTINCT FROM b.sk
         |GROUP BY a.k ${orderSql("k", "n")}""".stripMargin,
    "q45_exists_subquery" ->
      s"""SELECT
         |  (SELECT COUNT(*) FROM customer c
         |   WHERE EXISTS (SELECT 1 FROM orders o
         |                 WHERE o.o_custkey = c.c_custkey
         |                   AND o.o_totalprice > 100000)) AS with_big_order,
         |  (SELECT COUNT(*) FROM customer c
         |   WHERE NOT EXISTS (SELECT 1 FROM orders o
         |                     WHERE o.o_custkey = c.c_custkey)) AS no_orders""".stripMargin,
    "q42_set_ops_all" ->
      s"""SELECT k, n_inter, n_except FROM
         |(SELECT k, COUNT(*) AS n_inter FROM
         |  (SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier)
         | GROUP BY k) a
         |FULL JOIN
         |(SELECT k, COUNT(*) AS n_except FROM
         |  (SELECT c_nationkey AS k FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier)
         | GROUP BY k) b USING (k)
         |${orderSql("k", "n_inter", "n_except")}""".stripMargin,
    "q43_range_frame" ->
      s"""SELECT o_custkey, o_orderkey,
         |  COUNT(*) OVER w AS n_near,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS near_total
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey
         |  ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) NULLS FIRST
         |  RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING)
         |${orderSql("o_custkey", "o_orderkey", "n_near", "near_total")}""".stripMargin,
    "q41_recursive_cte" ->
      s"""WITH RECURSIVE months(m) AS (
         |  SELECT date_trunc('month', (SELECT min(o_orderdate) FROM orders))
         |  UNION ALL
         |  SELECT m + INTERVAL 1 MONTH FROM months
         |  WHERE m < date_trunc('month', (SELECT max(o_orderdate) FROM orders)))
         |SELECT strftime(m, '%Y-%m') AS month, count(o_orderkey) AS n
         |FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
         |GROUP BY m ${orderSql("month", "n")}""".stripMargin,
    "q40_salted_join_agg" ->
      s"""SELECT s.s_nationkey AS s_nationkey, COUNT(*) AS n,
         |${dsumSql("l.l_extendedprice")} AS revenue
         |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |GROUP BY 1 ${orderSql("s_nationkey", "n", "revenue")}""".stripMargin,
    // the same exact-moment formulation, so every derived double is the
    // same IEEE expression over the same decimal-accumulated inputs
    "q50_regression_aggs" ->
      s"""WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS sx, ${dsumSql("l_extendedprice")} AS sy,
         |  ${dsumSql("l_quantity * l_extendedprice")} AS sxy,
         |  ${dsumSql("l_quantity * l_quantity")} AS sxx,
         |  ${dsumSql("l_extendedprice * l_extendedprice")} AS syy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |  ROUND(CASE WHEN n * sxx - sx * sx > 0
         |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
         |  ROUND(CASE WHEN n * sxx - sx * sx > 0
         |    THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END, 6) AS intercept,
         |  ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
         |    THEN (n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) END, 6) AS corr
         |FROM m ${orderSql("l_returnflag")}""".stripMargin,
    "q52_count_min" ->
      s"""SELECT event_type, COUNT(*) AS n FROM events
         |WHERE event_type IS NOT NULL
         |GROUP BY 1 ${orderSql("event_type", "n")}""".stripMargin,
    "q53_variant" ->
      s"""WITH j AS (SELECT event_type,
         |  CAST(CASE WHEN json_valid(props)
         |    THEN json_extract(props, '$$.k') END AS BIGINT) AS k FROM events)
         |SELECT event_type, COUNT(k) AS n,
         |CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
         |FROM j GROUP BY 1 ${orderSql("event_type")}""".stripMargin,
    "q51_agg_pushdown" ->
      s"""SELECT COUNT(*) AS n, MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
         |MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty FROM lineitem""".stripMargin,
    "q49_bloom_filter_join" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_lines,
         |${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY 1 ${orderSql("month", "n_lines", "revenue")}""".stripMargin,
    "q39_lateral_topn" ->
      s"""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         |FROM customer c,
         |LATERAL (
         |  SELECT o_orderkey, o_totalprice FROM orders
         |  WHERE o_custkey = c.c_custkey
         |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
         |WHERE c.c_mktsegment = 'BUILDING'
         |${orderSql("c_custkey", "o_orderkey", "o_totalprice")}""".stripMargin,
    "q34_map_funcs" ->
      s"""WITH kv AS (
         |  SELECT event_type, unnest(json_keys(props)) AS key, props FROM events
         |  WHERE json_valid(props))
         |SELECT event_type, key, COUNT(*) AS n,
         |CAST(SUM(CAST(json_extract_string(props, '$$.' || key) AS BIGINT)) AS BIGINT) AS sum_v,
         |CAST(MIN(CAST(json_extract_string(props, '$$.' || key) AS BIGINT)) AS BIGINT) AS min_v,
         |CAST(MAX(CAST(json_extract_string(props, '$$.' || key) AS BIGINT)) AS BIGINT) AS max_v
         |FROM kv GROUP BY event_type, key ${orderSql("event_type", "key")}""".stripMargin,
    // sliding window = union of the two 30m-aligned tumbling assignments
    "q19_sliding_window" ->
      s"""SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
         |COUNT(*) AS n, ${dsumSql("value")} AS total_value FROM (
         |  SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) * 1800000000) AS ws, event_type, value FROM events
         |  UNION ALL
         |  SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) * 1800000000 - 1800000000) AS ws, event_type, value FROM events
         |) GROUP BY 1, 2 ${orderSql("window_start", "event_type", "n")}""".stripMargin,
    // gaps-and-islands: a session starts where the gap since the previous
    // event (same user) is >= 30 min; cumulative sum of start flags = session
    // id; then min(ts)/count per session — exactly session_window's merge rule
    // (an event extends the session while ts < previous end = prev_ts + gap)
    "q20_session_window" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         |f AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST) IS NULL
         |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST) >= INTERVAL 30 MINUTE
         |  THEN 1 ELSE 0 END AS ns FROM e),
         |g AS (SELECT user_id, ts,
         |  SUM(ns) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM f)
         |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |COUNT(*) AS n_events
         |FROM g GROUP BY user_id, sid
         |${orderSql("user_id", "session_start", "n_events")}""".stripMargin,
    "q21_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |${orderSql("o_orderstatus", "o_orderpriority", "n")}""".stripMargin,
    "q27_range_join" ->
      s"""SELECT e.user_id AS user_id, COUNT(*) AS n_errors_after_purchase
         |FROM (SELECT user_id, ts FROM events WHERE event_type = 'error') e
         |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
         |ON e.user_id = p.user_id
         |AND CAST(e.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
         |AND CAST(e.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP) + INTERVAL 1 HOUR
         |GROUP BY e.user_id ${orderSql("user_id", "n_errors_after_purchase")}""".stripMargin,
    // tie contract: on right rows tied at (user_id, ts), Spark's AsOfJoin
    // picks the max payload struct deterministically while DuckDB's ASOF
    // keeps an arbitrary tied row — the compare is sound because purchase
    // events are unique per (user_id, ns-timestamp) in the fixture (and in
    // the soak's replicas, whose user ids are offset per replica)
    "q26_asof_join" ->
      s"""SELECT e.user_id AS user_id,
         |strftime(CAST(e.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS error_ts,
         |strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |p.value AS p_value
         |FROM (SELECT * FROM events WHERE event_type = 'error') e
         |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
         |ON e.user_id = p.user_id AND e.ts >= p.ts
         |ORDER BY user_id NULLS FIRST, error_ts NULLS FIRST, purchase_ts NULLS FIRST, p_value NULLS FIRST""".stripMargin,
    "q25_window_analytics" ->
      s"""SELECT o_custkey, o_orderkey,
         |lag(o_orderkey, 1) OVER w AS prev_order,
         |lead(o_orderkey, 1) OVER w AS next_order,
         |CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         |round(percent_rank() OVER w, 6) AS pr
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST)
         |${orderSql("o_custkey", "o_orderkey", "prev_order", "next_order", "quartile", "pr")}""".stripMargin,
    "q22_percentiles" ->
      s"""SELECT o_orderstatus,
         |quantile_cont(o_totalprice, 0.5) AS p50,
         |quantile_cont(o_totalprice, 0.9) AS p90,
         |quantile_cont(o_totalprice, 0.99) AS p99
         |FROM orders GROUP BY o_orderstatus ${orderSql("o_orderstatus")}""".stripMargin,
    "q48_value_windows" ->
      s"""SELECT o_custkey, o_orderkey,
         |first_value(o_orderkey) OVER w AS first_order,
         |last_value(o_orderkey) OVER w AS latest_order,
         |nth_value(o_orderkey, 2) OVER w AS second_order
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey
         |             ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |${orderSql("o_custkey", "o_orderkey", "first_order", "latest_order", "second_order")}""".stripMargin,
    // the exact interpolated median is the cross-engine contract; approx_ok
    // mirrors the in-query sketch error-envelope assert (q17 pattern)
    "q47_approx_percentile" ->
      s"""SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS p50_exact, TRUE AS approx_ok
         |FROM orders GROUP BY o_orderstatus ${orderSql("o_orderstatus", "p50_exact", "approx_ok")}""".stripMargin,
    "q23_string_funcs" ->
      s"""SELECT c_custkey, upper(c_name) AS name_upper, length(c_name) AS name_len,
         |substring(c_mktsegment, 1, 3) AS seg3,
         |concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS tag,
         |lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
         |regexp_replace(c_name, '[0-9]', '#', 'g') AS masked
         |FROM customer ${orderSql("c_custkey")}""".stripMargin,
    "q24_date_funcs" ->
      s"""SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS y,
         |CAST(month(o_orderdate) AS INTEGER) AS m,
         |CAST(day(o_orderdate) AS INTEGER) AS d,
         |CAST(quarter(o_orderdate) AS INTEGER) AS q,
         |strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due
         |FROM orders ${orderSql("o_orderkey")}""".stripMargin)
}
