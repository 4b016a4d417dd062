package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Classic relational operators over the star schema: scan+pushdown,
  * group-by aggregation, multi-way broadcast joins, semi/anti joins,
  * window ranking, top-N. These are the Spark-first re-expressions of the
  * reference's projection/filter/join/aggregation inventory
  * (SURVEY §2.2–§2.6, §2.9): every pandas `merge`/`groupby`/`sort_values`
  * site maps to a declarative plan Catalyst can push down and reorder.
  *
  * Conventions shared with the DuckDB oracles (driver hash-compare):
  *  - every double aggregate is `round(x, 4)` on both sides (partial
  *    aggregation order differs between engines, exact doubles won't match);
  *  - counts stay BIGINT on both sides (DuckDB `sum(BIGINT)` would be
  *    HUGEINT — always cast);
  *  - each result carries a deterministic total order via its key columns.
  */
object ClassicQueries {

  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1-style pricing summary: groupBy + sum/avg/count with a pushed
    * date filter. Reference analogue: A3 runtime-per-day style aggregation. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-style shipping priority: 3-way join, filter on both fact
    * sides, aggregate, deterministic top-N.
    *
    * Scale notes: orders⋈customer runs first so the most selective
    * predicate (c_mktsegment) cuts the build side before the lineitem
    * join; customer/orders grow with SF so no forced broadcast — AQE
    * downgrades to broadcast at runtime when the filtered side fits.
    * Top-N cut happens on the UNROUNDED revenue (with l_orderkey
    * tie-break) so the cut point can't flip at a rounding boundary
    * between engines; rounding is presentation-only. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-30").cast("timestamp")
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue_raw"))
      .orderBy(col("revenue_raw").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"),
        round(col("revenue_raw"), 4).as("revenue"))
  }

  /** TPC-H Q5-style local-supplier revenue: 6-way join.
    *
    * Scale notes: only the FIXED-SIZE dimensions (nation 25 rows, region
    * 5 rows) get broadcast hints. customer and supplier grow linearly
    * with SF — a forced broadcast of either OOMs at cluster scale, so
    * they join shuffled and AQE picks the runtime strategy (VERDICT r1
    * perf finding). supplier is pre-cut to the ASIA nations (broadcast
    * semi of nation⋈region) before the fact join. */
  def regionalRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val asiaNations = n.join(broadcast(r),
      col("n_regionkey") === col("r_regionkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Left-semi join (EXISTS): customers that placed an urgent order,
    * counted per market segment. Reference analogue: J8 semi-join of events
    * whose CO survived aggregation (`App/etl/transform/mes_etl.py:246`). */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Left-anti join (NOT EXISTS): parts with no lineitem shipped in a
    * window. Reference analogue: D3 anti-membership brandcode union
    * (`ref/RCO_Overall_orchestrator.R:564-567`). */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
    p.join(l, col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_brand"), col("p_type"))
      .orderBy(col("p_partkey"))
  }

  /** Window ranking: top-2 orders by totalprice per customer (row_number
    * with deterministic tie-break). Reference analogue: D2 most-frequent
    * brandcode pick (`App/etl/extract/data_from_mdc.py:280-283`). */
  def topOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("totalprice"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("o_custkey"), col("rank"))
  }

  /** Backward as-of join via [[TemporalJoins.asofBackward]]: each
    * purchase event picks up the user's most recent view at-or-before
    * it. The right side is pre-aggregated to one row per (user, ts) —
    * the determinism contract every as-of engine shares (a duplicate
    * instant has no "latest"). Oracle = DuckDB's native `ASOF LEFT
    * JOIN`, so the gate proves the merged-stream window IS as-of
    * semantics. Reference analogue: the J7 interval/as-of lookups
    * (`App/etl/transform/mes_etl.py:204-213`), here as the generic
    * reusable operator. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
    TemporalJoins.asofBackward(purchases, views,
        on = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        asofTsCol = "view_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value"), 4).as("purchase_value"),
        col("view_ts"), round(col("view_value"), 4).as("view_value"))
      .orderBy(col("event_id"))
  }

  /** [[asofJoin]] recomputed through the time-sliced two-pass
    * operator ([[TemporalJoins.asofBackwardSliced]], 1-week slices) —
    * the hot-key-safe formulation, gate-checked against the SAME
    * DuckDB native ASOF oracle to prove the slicing is invisible in
    * the result. */
  def asofJoinSliced(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
    TemporalJoins.asofBackwardSliced(purchases, views,
        on = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        sliceWidthSec = 7L * 86400L, asofTsCol = "view_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value"), 4).as("purchase_value"),
        col("view_ts"), round(col("view_value"), 4).as("view_value"))
      .orderBy(col("event_id"))
  }

  /** Nearest as-of join: each purchase picks up the view CLOSEST in
    * time, either direction, ties to the earlier one (pandas
    * `merge_asof(direction='nearest')`). DuckDB has no native nearest
    * ASOF, so the oracle is the argmin formulation — rank the user's
    * views by absolute time distance (ties by earlier view) and keep
    * the first. */
  def asofJoinNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
    TemporalJoins.asofNearest(purchases, views,
        on = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        asofTsCol = "view_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value"), 4).as("purchase_value"),
        col("view_ts"), round(col("view_value"), 4).as("view_value"))
      .orderBy(col("event_id"))
  }

  /** [[asofJoinNearest]] recomputed through the hot-key-safe sliced
    * composition ([[TemporalJoins.asofNearestSliced]], 1-week slices),
    * gate-checked against the SAME argmin oracle. */
  def asofJoinNearestSliced(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
    TemporalJoins.asofNearestSliced(purchases, views,
        on = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        sliceWidthSec = 7L * 86400L, asofTsCol = "view_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value"), 4).as("purchase_value"),
        col("view_ts"), round(col("view_value"), 4).as("view_value"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of join: each purchase picks up the user's NEXT view
    * at-or-after it — [[asofJoin]]'s mirror, gate-checked against
    * DuckDB `ASOF LEFT JOIN … ON l.ts <= r.ts`. */
  def asofJoinFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
    TemporalJoins.asofForward(purchases, views,
        on = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        asofTsCol = "view_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value"), 4).as("purchase_value"),
        col("view_ts"), round(col("view_value"), 4).as("view_value"))
      .orderBy(col("event_id"))
  }

  /** Point-in-interval range join via [[TemporalJoins.intervalJoinPoints]]:
    * events landing in each order's first week (key = customer), counted
    * per order. The oracle is the naive inequality join — which in Spark
    * would be a broadcast-nested-loop; the operator's bucketized
    * equi-join computes the same relation shuffle-joined (asserted in
    * TemporalJoinsSpec). 1-day buckets ≈ the 7-day interval length / 7. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val iv = o.select(col("o_orderkey"), col("o_custkey").as("user_id"),
      col("o_orderdate").as("win_start"),
      (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("win_end"))
    val matched = TemporalJoins.intervalJoinPoints(
        points = ev, intervals = iv, on = Seq("user_id"),
        pointTime = "ts", startCol = "win_start", endCol = "win_end",
        bucketWidthSec = 86400L)
      .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n_events"))
    o.select(col("o_orderkey"))
      .join(matched, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("o_orderkey"))
  }

  /** Point-side LEFT range join: every event keeps the order windows
    * containing it, or survives once with a NULL key — the
    * `joinType = "left"` flavor, where containment rides in the join
    * condition so the plan stays an equi-join on (user, day-bucket)
    * and the outer nulls survive. */
  def rangeJoinLeft(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val iv = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey").as("user_id"),
        col("o_orderdate").as("win_start"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("win_end"))
    TemporalJoins.intervalJoinPoints(
        points = ev, intervals = iv, on = Seq("user_id"),
        pointTime = "ts", startCol = "win_start", endCol = "win_end",
        bucketWidthSec = 86400L, joinType = "left")
      .select(col("event_id"), col("o_orderkey"))
      .orderBy(col("event_id"), col("o_orderkey"))
  }

  /** Interval-overlap join via [[TemporalJoins.intervalJoinIntervals]]:
    * per user, 4-hour error windows × 1-hour click windows that
    * overlap. Oracle = the naive inequality join; the operator emits
    * each overlapping pair exactly once from a bucketed equi-join
    * (first-shared-bucket trick, no distinct). */
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        col("ts").as("es"),
        (col("ts") + expr("INTERVAL 4 HOURS")).as("ee"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("cs"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("ce"))
    TemporalJoins.intervalJoinIntervals(errs, clicks, Seq("user_id"),
        "es", "ee", "cs", "ce", bucketWidthSec = 3600L)
      .select(col("error_id"), col("click_id"))
      .orderBy(col("error_id"), col("click_id"))
  }

  /** Trailing 30-day rolling aggregate per customer: an event-time RANGE
    * window (`rangeBetween` on epoch seconds), the declarative form of
    * the reference's cumulative per-key walks (SURVEY §2.7 W8). One
    * shuffle on the key, linear per partition; ties on the date enter
    * the frame together so the result is order-independent. */
  def rollingRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
      .rangeBetween(-30L * 86400L, 0L)
    o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum(col("o_totalprice")).over(w), 4).as("rev_30d"),
        count(lit(1)).over(w).as("n_orders_30d"))
      .orderBy(col("o_orderkey"))
  }

  /** ROLLUP subtotal lattice over (returnflag, linestatus) — the OLAP
    * subtotal shape (partial aggregates reuse the same shuffle; Spark
    * plans one Expand + one aggregate, not one job per level). Rolled-up
    * levels are surfaced as the sentinel 'ALL' on BOTH engines so the
    * hash compare never meets a NULL-ordering difference. */
  def rollupSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  /** Pivot: quantity by returnflag × linestatus as a wide table, with
    * the pivot values ENUMERATED (`pivot(col, values)`) — the form that
    * skips the extra distinct-values job and keeps the pivot a single
    * groupBy at any scale. Oracle = conditional aggregation. */
  def pivotSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 4))
      .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
      .orderBy(col("l_returnflag"))
  }

  /** Revenue per order priority through [[SkewJoin.saltedEquiJoin]]
    * (salts=8): the gate oracle is the PLAIN join, so the green cell
    * proves salting is row-identical — the operator exists for the hot
    * keys AQE can't split (streaming plans, bucketed exchanges-free
    * layouts, post-filter skew); semantics must not move when it's
    * swapped in. */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    // project BEFORE salting: the salt hashes the whole projected row,
    // so an unpruned frame would pin all 11 lineitem columns into the
    // scan (caught by the Explain audit — ReadSchema is 3 columns now)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    SkewJoin.saltedEquiJoin(li, o, Seq("l_orderkey"), salts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  /** Generic gap sessionization over the event stream (per-user 30-min
    * gap) via [[TemporalJoins.sessionizeByGap]]. The RCO
    * `rco_sessionize` query exercises the reference's full trigger
    * semantics; this entry gates the GENERIC API against a plain
    * lag+running-sum SQL twin. */
  def gapSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    TemporalJoins.sessionizeByGap(ev, Seq("user_id"), "ts", gapSec = 1800L)
      .orderBy(col("event_id"))
  }

  /** [[gapSessions]] recomputed through the time-sliced two-pass
    * operator (1-day slices) — gate-checked against the SAME lag+
    * running-sum SQL twin to prove the slicing is invisible. */
  def gapSessionsSliced(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    TemporalJoins.sessionizeByGapSliced(ev, Seq("user_id"), "ts",
        gapSec = 1800L, sliceWidthSec = 86400L)
      .orderBy(col("event_id"))
  }

  /** CUBE lattice over (returnflag, linestatus) — [[rollupSummary]]'s
    * full-lattice sibling: cube adds the (ALL, linestatus) slices a
    * rollup's hierarchy skips. Same single-Expand single-aggregate
    * plan (one shuffle for all 4 grouping sets), same 'ALL' sentinel
    * convention so the hash compare never meets NULL ordering. */
  def cubeSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  /** Analytic-function family over one window: ntile quartiles,
    * percent_rank and cume_dist of each order inside its customer's
    * history. The ORDER BY is made a TOTAL order (price, then key) so
    * every one of the three functions is tie-deterministic across
    * engines — percent_rank/cume_dist degenerate to closed forms of
    * row_number, whose integer arithmetic is bit-exact everywhere.
    * One shuffle on o_custkey feeds all three. */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Exact interpolated percentiles (SQL percentile_cont semantics)
    * per group: quartiles of l_quantity and the median price. The
    * quantity quartiles are bit-exact across engines by construction —
    * integer-valued data and DYADIC percentile fractions (.25/.5/.75)
    * make every interpolation step exact in binary. Exact percentiles
    * buffer each group's values; at 100 TB swap in
    * `approx_percentile` (t-digest-style mergeable sketch, same call
    * shape) — the exact form is the oracle-checkable fixture. */
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(percentile(col("l_quantity"), lit(0.25)), 4).as("qty_p25"),
        round(percentile(col("l_quantity"), lit(0.5)), 4).as("qty_p50"),
        round(percentile(col("l_quantity"), lit(0.75)), 4).as("qty_p75"),
        round(median(col("l_extendedprice")), 4).as("price_median"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** IQR winsorization: per-group exact p25/p75 (dyadic fractions —
    * bit-exact cross-engine, the [[percentiles]] convention), every
    * value clamped into [p25, p75], and the clipped distribution
    * summarized. The bounds frame is group-count-sized and broadcast
    * into the clamp scan — two passes over the fact table, no
    * row-expanding join, the standard robust-clipping shape for
    * outlier-resistant aggregates at any scale. */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val bounds = li.groupBy(col("l_returnflag").as("flag"))
      .agg(percentile(col("l_extendedprice"), lit(0.25)).as("lo"),
        percentile(col("l_extendedprice"), lit(0.75)).as("hi"))
    li.join(broadcast(bounds), col("l_returnflag") === col("flag"))
      .withColumn("w",
        least(greatest(col("l_extendedprice"), col("lo")), col("hi")))
      .groupBy(col("l_returnflag"))
      .agg(
        round(min(col("lo")), 4).as("p25"),
        round(min(col("hi")), 4).as("p75"),
        round(avg(col("w")), 4).as("w_avg"),
        count(when(col("l_extendedprice") < col("lo"), lit(1)))
          .as("n_clip_lo"),
        count(when(col("l_extendedprice") > col("hi"), lit(1)))
          .as("n_clip_hi"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** [[asofJoin]] with the staleness `tolerance` engaged (1 hour): a
    * view older than an hour before the purchase is nulled out, the
    * purchase row survives unmatched. Gates the tolerance projection
    * itself — previously spec-only — against DuckDB ASOF + an explicit
    * µs staleness CASE. */
  def asofJoinTol(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
    TemporalJoins.asofBackward(purchases, views,
        on = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        tolerance = Some(3600L), asofTsCol = "view_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value"), 4).as("purchase_value"),
        col("view_ts"), round(col("view_value"), 4).as("view_value"))
      .orderBy(col("event_id"))
  }

  /** Z-value computation of [[ZOrder]] gated cross-engine: every event
    * gets its Morton key from (user_id, value) bucketized 8 bits each
    * against the global min/max. The layout itself (repartitionByRange
    * + sortWithinPartitions) is row-invisible by construction — what
    * the gate CAN check is that the curve key is deterministic and
    * engine-independent, which is what makes the clustered layout
    * reproducible. */
  def zorderValue(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val bounds = ev.agg(
      min(col("user_id")).as("umin"), max(col("user_id")).as("umax"),
      min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    ev.crossJoin(broadcast(bounds))
      .select(col("event_id"),
        ZOrder.zValue(Seq(
          ZOrder.minMaxBucket(col("user_id"), col("umin"), col("umax"), 8),
          ZOrder.minMaxBucket(col("value"), col("vmin"), col("vmax"), 8)),
          8).as("zv"))
      .orderBy(col("event_id"))
  }

  /** Multi-column DISTINCT aggregation: distinct parts, suppliers and
    * orders per returnflag in ONE aggregate — Spark plans a single
    * Expand (one row per distinct-column) + two-phase aggregate, so
    * adding distinct columns multiplies rows, not passes. The
    * count(DISTINCT) shape the reference's tally paths approximate
    * with drop_duplicates + count (SURVEY §2.6). */
  def countDistinct2(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_partkey")).as("n_parts"),
        count_distinct(col("l_suppkey")).as("n_supps"),
        count_distinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Bag-semantics set operations: customers with urgent orders
    * INTERSECT / EXCEPT customers with failed-status orders, by key.
    * `intersect`/`except` are DISTINCT-set semantics on both engines
    * (Spark plans left-semi/anti over deduped inputs — same shuffle
    * shape as a semi-join plus the distinct). */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val failed = o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    val both = urgent.intersect(failed)
      .select(col("o_custkey"), lit("both").as("kind"))
    val urgentOnly = urgent.except(failed)
      .select(col("o_custkey"), lit("urgent_only").as("kind"))
    both.unionByName(urgentOnly)
      .orderBy(col("kind"), col("o_custkey"))
  }

  /** Semi-structured extraction: the events table's `props` column is
    * a JSON string; parse it with a TYPED schema (`from_json` — one
    * declared struct, not per-path `get_json_object` re-parses) and
    * aggregate the extracted field per event type. At scale the parse
    * is a per-row projection inside whole-stage codegen; declaring the
    * schema keeps it one parse per row however many fields are read. */
  def jsonExtractAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("from_json(props, 'k BIGINT')").getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  /** Dense daily resample via [[Resample.timeBins]]: per-user 1-day
    * bins between each user's first and last event, zeros where no
    * event landed — the gap-filling downsample a sparse groupBy can't
    * produce. `bin_sec` stays epoch seconds so the hash compare never
    * meets a timezone-construction difference. */
  def resampleDense(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
    Resample.timeBins(ev, Seq("user_id"), "ts", "value",
        widthSec = 86400L)
      .select(col("user_id"),
        col("bin_start").cast("timestamp").cast("long").as("bin_sec"),
        col("n_events"), round(col("sum_value"), 4).as("sum_value"))
      .orderBy(col("user_id"), col("bin_sec"))
  }

  /** Three-stage ordered funnel over the event stream via the generic
    * [[Funnel]] operator: first view, first click strictly AFTER that
    * view, first purchase strictly AFTER that click, counted as users
    * reaching each stage — one shuffle however many stages (see
    * [[Funnel]] for the plan shape). */
  def funnel(s: SparkSession, dir: String): DataFrame =
    Funnel.counts(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .select(col("n_view"), col("n_click").as("n_click_after_view"),
        col("n_purchase").as("n_purchase_after_click"),
        col("n_entities").as("n_users"))

  /** Arbitrary GROUPING SETS lattice — the slices a rollup/cube
    * hierarchy CANNOT express: per-returnflag totals and
    * per-linestatus totals in one aggregate, no grand total, no
    * cross product. Same single-Expand single-shuffle plan as
    * [[rollupSummary]]/[[cubeSummary]], same 'ALL' sentinel so the
    * hash compare never meets NULL ordering. */
  def groupingSetsSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  /** Fixed-width histogram of order totals: bucket = floor(price/w)
    * clamped into [0, nBuckets). Constant bounds keep the bucket id a
    * single IEEE operation on both engines (no data-dependent min/max
    * round-trip); the histogram is one groupBy on a computed key —
    * map-side combinable, O(buckets) result at any scale. */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    val width = 50000.0
    val nBuckets = 12
    Tables.orders(s, dir)
      .select((least(greatest(floor(col("o_totalprice") / width), lit(0)),
        lit(nBuckets - 1))).cast("long").as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("sum_price"))
      .orderBy(col("bucket"))
  }

  /** Two-pass z-score outlier screen per event type — the numeric
    * data-cleaning shape of a training pipeline (clip/flag rows far
    * from their group's distribution): pass 1 aggregates per-type
    * mean/stddev (O(types) rows, broadcast), pass 2 flags each row
    * against its type's threshold — a map-side projection, so the
    * screen is one aggregate + one scan at any scale. Output is the
    * per-type audit (counts, not rows) to keep the gate result
    * bounded. */
  def outliers(s: SparkSession, dir: String): DataFrame =
    outlierAudit(Tables.events(s, dir)
      .select(col("event_type"), col("value")))

  /** DataFrame half of [[outliers]] (unit-tested on hand-built frames
    * in ClassicAnalyticsSpec). The flag count is a TOTAL function — a
    * NULL flag (singleton group: stddev_samp = NULL; or a NULL value)
    * counts 0, exactly like the oracle's `CASE … ELSE 0` — so a group
    * with no decidable rows reports 0, never NULL. */
  def outlierAudit(ev: DataFrame): DataFrame = {
    val stats = ev.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"),
        stddev_samp(col("value")).as("sigma"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("is_out",
        abs(col("value") - col("mu")) > lit(2.0) * col("sigma"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
        round(max(col("mu")), 4).as("mu"),
        round(max(col("sigma")), 4).as("sigma"))
      .orderBy(col("event_type"))
  }

  /** Session-path mining: gap sessions ([[TemporalJoins.sessionizeByGap]],
    * 30 min) reduced to one row per session carrying its first events'
    * type sequence — the "what do users do in a session" table. The
    * path is built by sorting each session's collected (ts, id, type)
    * structs INSIDE the aggregate (`sort_array` over `collect_list` —
    * deterministic however partials merge) and slicing the first 5;
    * per-session event counts are bounded by the session gap, so the
    * collect is bounded too. */
  def sessionPaths(s: SparkSession, dir: String): DataFrame =
    sessionPathsOf(Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type")))
      .orderBy(col("user_id"), col("session_id"))

  /** DataFrame half of [[sessionPaths]] (unit-tested on hand-built
    * frames in ClassicAnalyticsSpec). */
  def sessionPathsOf(ev: DataFrame): DataFrame = {
    TemporalJoins.sessionizeByGap(ev, Seq("user_id"), "ts", gapSec = 1800L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("event_type"))))
          .as("evs"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start"),
        array_join(transform(slice(col("evs"), 1, 5),
          e => e.getField("event_type")), ">").as("path"))
  }

  /** Cohort retention: users grouped by the week of their FIRST event
    * (the cohort), counted by how many weeks later they were still
    * active — the retention-curve table of an event warehouse. The
    * first-event time is a whole-partition window min (same one
    * exchange as [[funnel]]); weeks are integer epoch-day arithmetic
    * so the bucket id is engine-exact; the final distinct-user count
    * per (cohort, offset) is one aggregate. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val week = (c: org.apache.spark.sql.Column) =>
      floor(c.cast("timestamp").cast("long") / lit(7L * 86400L))
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"))
      .withColumn("first_ts", min(col("ts")).over(w))
      .select(col("user_id"), week(col("first_ts")).as("cohort_week"),
        (week(col("ts")) - week(col("first_ts"))).as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Columns [[tableProfile]] profiles; shared with the oracle SQL so
    * the two lists cannot drift. */
  val ProfileCols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Per-column profile of the lineitem measures — one row per column
    * with count / nulls / exact distinct / min / max
    * ([[TableProfile.profile]]). */
  def tableProfile(s: SparkSession, dir: String): DataFrame =
    TableProfile.profile(Tables.lineitem(s, dir), ProfileCols)

  /** SCD-Type-2 dimension history from the orders changelog: one row
    * per (customer, tracked-attribute version) with a half-open
    * validity interval ([[Scd2.fromChangelog]]). o_orderkey is the
    * unique per-instant tiebreak; o_totalprice rides along untracked
    * (its value is the version-opening record's). */
  def scd2Orders(s: SparkSession, dir: String): DataFrame =
    Scd2.fromChangelog(Tables.orders(s, dir),
        keys = Seq("o_custkey"), time = "o_orderdate",
        seqCol = "o_orderkey",
        attrs = Seq("o_orderstatus", "o_orderpriority"))
      .select("o_custkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice", "valid_from", "valid_to", "is_current")

  /** Bloom-pruned fact⋈dim join ([[BloomJoin.inner]]): lineitem joined
    * to a selectively filtered orders subset, the big side pruned at
    * the scan by a bloom over the dim keys before any exchange.
    * Semantics are EXACTLY the plain join's (the bloom only removes
    * guaranteed non-members; the equi-join removes its false
    * positives), which is what the oracle asserts. */
  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F" &&
        col("o_totalprice") > 400000.0)
    BloomJoin.inner(Tables.lineitem(s, dir), dim,
      "l_orderkey", "o_orderkey")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("month"))
  }

  /** Edit-distance similarity self-join ([[FuzzyJoin.selfJoin]]) over
    * customer names at k=1: every pair of customers whose names are
    * one edit apart, via the rarest-q-gram prefix-filter join — never
    * the n² cross join the oracle runs. */
  /** k=1 goes through the deletion-neighborhood join: sequential
    * customer ids are exactly the saturating key space where the
    * q-gram path's per-gram df grows with SF (first sf0.1 bench run
    * measured it at 120 s; selfJoin1 ≡ selfJoin row-identical by
    * FuzzyJoinSpec's seq-ids differential). */
  def fuzzyJoin(s: SparkSession, dir: String): DataFrame =
    FuzzyJoin.selfJoin1(Tables.customer(s, dir), "c_custkey", "c_name")
      .orderBy(col("id_a"), col("id_b"))

  /** k=2 edit-distance self-join via the two-deletion FastSS
    * neighborhood ([[FuzzyJoin.selfJoin2]]) — the oracle brute-forces
    * DuckDB's levenshtein over the cross join, so the gate proves the
    * blocking loses nothing at radius 2. */
  def fuzzyJoin2(s: SparkSession, dir: String): DataFrame =
    FuzzyJoin.selfJoin2(Tables.customer(s, dir), "c_custkey", "c_name")
      .orderBy(col("id_a"), col("id_b"))

  /** Triangle count over the synthetic order graph (same edge
    * construction as [[pageRank]]) by DEGREE-ORDERED orientation —
    * the standard trick that makes triangle enumeration scale: orient
    * every undirected edge from its (degree, id)-smaller endpoint to
    * the larger, so each triangle is counted exactly once from its
    * minimum vertex AND the wedge join's fan-out per vertex is
    * bounded by the ORIENTED out-degree, which degree-ordering caps
    * at O(√m) even on power-law graphs (a hub's edges all point INTO
    * it, so the hub never enumerates its quadratic wedge set). Three
    * scans + two equi-joins; no all-pairs stage. */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    val nc = Tables.customer(s, dir).count()
    val raw = Tables.orders(s, dir)
      .filter(col("o_custkey").isNotNull)
      .select(col("o_custkey").as("a"),
        pmod(col("o_orderkey") * 131 + 7, lit(nc)).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = raw.select(col("u").as("node"))
      .unionByName(raw.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    def ranked(side: String, out: String) = deg
      .select(col("node").as(side), col("deg").as(s"deg_$out"))
    val withDeg = raw
      .join(ranked("u", "u"), Seq("u")).join(ranked("v", "v"), Seq("v"))
    // consumed three times (two wedge sides + the closing probe)
    val oriented = CacheScope.pin(withDeg.select(
      when(col("deg_u") < col("deg_v") ||
          (col("deg_u") === col("deg_v") && col("u") < col("v")),
        struct(col("u").as("s"), col("v").as("d")))
        .otherwise(struct(col("v").as("s"), col("u").as("d")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
      .join(deg.select(col("node").as("d"), col("deg").as("dd")),
        Seq("d")))
    // wedges from the common smallest vertex; (deg, id) order on the
    // endpoints avoids the mirror wedge; close with the oriented edge
    val w1 = oriented.select(col("s").as("a"), col("d").as("b"),
      col("dd").as("deg_b"))
    val w2 = oriented.select(col("s").as("a"), col("d").as("c"),
      col("dd").as("deg_c"))
    val wedges = w1.join(w2, Seq("a"))
      .filter(col("deg_b") < col("deg_c") ||
        (col("deg_b") === col("deg_c") && col("b") < col("c")))
    val closing = oriented.select(col("s").as("b"), col("d").as("c"))
    wedges.join(closing, Seq("b", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-user merge of overlapping activity intervals
    * `[ts, ts + value sec]` — the gaps-and-islands coverage primitive
    * (machine downtime unions, user activity spans): one shuffle on
    * the entity key, one ordered frame scan to mark island heads
    * (interval start past the running max end), one aggregate.
    * Timestamps second-truncated BEFORE ordering (cross-engine ns/µs
    * rule); the running-max comparison is on exact doubles both
    * engines derive identically (one add per row). */
  def intervalMerge(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("st"), col("event_id"))
    val prevMax = max(col("en")).over(w.rowsBetween(
      Window.unboundedPreceding, -1))
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(date_trunc("second", col("ts")))
          .cast("double").as("st"), col("value"))
      .withColumn("en", col("st") + col("value"))
      .withColumn("head",
        (prevMax.isNull || col("st") > prevMax).cast("long"))
      .withColumn("island",
        sum(col("head")).over(w.rowsBetween(
          Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("n_in_island"),
        min(col("st")).as("is_st"), max(col("en")).as("is_en"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("n_in_island")).as("n_intervals"),
        round(sum(col("is_en") - col("is_st")), 3).as("covered_sec"))
      .orderBy(col("user_id"))
  }

  /** Core order and fixed peel-round cap of [[kcore]], shared with
    * the unrolled DuckDB twin. */
  val KCoreK = 3
  val KCoreRounds = 16

  /** k-core decomposition (Seidman 1983; the Batagelj–Zaveršnik peel
    * re-expressed as bounded synchronous rounds): the maximal
    * subgraph in which every surviving node keeps degree >= k, found
    * by repeatedly deleting under-degree nodes. Same hashed
    * orders→customers edge synthesis as [[triangles]].
    *
    * Each round is one equi-join of the static (pinned) undirected
    * edge list against the shrinking survivor set plus a map-side-
    * combined degree count — no all-pairs stage, the survivor frame
    * is node-sized, and lineage is CUT per round (localCheckpoint,
    * [[LlmText.clustersFromPairs]]'s discipline — the survivor set
    * appears twice per round, so an uncut loop doubles the plan).
    * Synchronous peeling removes ALL under-k nodes per round, so the
    * round count is the peel DEPTH — small on dense graphs, bounded
    * at [[KCoreRounds]] so the DuckDB twin (the same rounds unrolled
    * as MATERIALIZED CTEs, the BpeTrainSql idiom) stays finite.
    * Rounds past the fixpoint are no-ops, so both engines agree
    * whether the fixture converges early (the spec asserts it does)
    * or runs to the cap. Output: surviving nodes + in-core degree. */
  def kcore(s: SparkSession, dir: String): DataFrame = {
    val nc = Tables.customer(s, dir).count()
    val base = Tables.orders(s, dir)
      .filter(col("o_custkey").isNotNull)
      .select(col("o_custkey").as("a"),
        pmod(col("o_orderkey") * 131 + 7, lit(nc)).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
    kcoreOf(base.distinct(), KCoreK, KCoreRounds,
      CacheScope.pinWidth(base))
  }

  /** DataFrame half of [[kcore]] (edges `u`/`v`, canonical or not) —
    * shared with the spec's hand-computed fixtures. Returns the
    * k-core after at most `maxRounds` synchronous peels. `width`
    * (scan-derived by the caller) sizes the edge pin; <= 0 derives it
    * from `edges` itself. */
  private[graft] def kcoreOf(edges: DataFrame, k: Int,
      maxRounds: Int, width: Int = 0): DataFrame = {
    // Width-adapted edge pin (r19, the CacheScope.pinWidth contract):
    // the doubled edge list used to cache at its raw plan width (2x
    // the upstream shuffle width — 64 partitions at bench SF), so
    // every round's map-side stage scheduled 64 tasks whose per-task
    // constant dwarfed the row work (the entry ran 2x FASTER on 8
    // cores than 32). Pin hash(x) at the scan-derived width and
    // materialize BEFORE the round plans compile (an unmaterialized
    // cached adaptive plan reports unknown partitioning), so every
    // round's surv join is exchange-free on the edge side.
    val w = if (width > 0) width else CacheScope.pinWidth(edges)
    val und = CacheScope.pin(
      edges.select(col("u").as("x"), col("v").as("y"))
        .unionByName(edges.select(col("v").as("x"), col("u").as("y")))
        .repartition(w, col("x")))
    und.count()
    def coreDeg(surv: DataFrame): DataFrame = und
      .join(surv.select(col("node").as("x")), Seq("x"))
      .join(surv.select(col("node").as("y")), Seq("y"))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    var surv = CacheScope.track(
      und.select(col("x").as("node")).distinct().localCheckpoint(true))
    var n = surv.count()
    var rounds = 0
    var done = n == 0L
    var hasDeg = false // surv carries a round-computed deg column
    while (rounds < maxRounds && !done) {
      rounds += 1
      // keep the round's degrees in the checkpoint (r18): on the
      // fixpoint exit the set did not change, so the degrees computed
      // THIS round are already the final core degrees — the closing
      // coreDeg pass below only runs on a maxRounds (non-fixpoint)
      // exit instead of always
      val next = CacheScope.track(
        coreDeg(surv).filter(col("deg") >= k)
          .select(col("x").as("node"), col("deg"))
          .localCheckpoint(true))
      val m = next.count()
      done = m == n // removal-only: equal count = equal set = fixpoint
      CacheScope.release(surv) // superseded round checkpoint: blocks die now
      surv = next
      n = m
      hasDeg = true
    }
    val withDeg =
      if (done && hasDeg) surv.select(col("node"), col("deg"))
      else coreDeg(surv)
        .select(col("x").as("node"), col("deg"))
    withDeg
      .select(col("node"), col("deg").cast("long").as("core_deg"))
      .orderBy(col("node"))
  }

  /** Hop cap of [[bfs]], shared with the unrolled DuckDB twin. */
  val BfsDepth = 4

  /** Fixed-depth BFS / k-hop reachability from a deterministic seed
    * set (`node % 100 = 0`) over the [[triangles]] edge synthesis —
    * the canonical iterative-graph frontier primitive (feature
    * neighborhoods, blast-radius queries, influence hops). Each round
    * expands the FRONTIER only (one equi-join of the pinned
    * undirected edge list against the frontier, distinct, anti-join
    * against everything visited), so per-round cost is frontier-edge
    * bounded, never |V|²; the visited and frontier frames cut lineage
    * per round. Early exit on an exhausted frontier matches the
    * DuckDB twin's fixed [[BfsDepth]]-round unroll because
    * post-exhaustion rounds add nothing. Output: (node, dist) for
    * every node within [[BfsDepth]] hops of a seed, minimal hop
    * distance by construction (a node is claimed by the FIRST round
    * that reaches it). */
  def bfs(s: SparkSession, dir: String): DataFrame = {
    val nc = Tables.customer(s, dir).count()
    val base = Tables.orders(s, dir)
      .filter(col("o_custkey").isNotNull)
      .select(col("o_custkey").as("a"),
        pmod(col("o_orderkey") * 131 + 7, lit(nc)).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
    bfsOf(base.distinct(), BfsDepth, CacheScope.pinWidth(base))
  }

  /** DataFrame half of [[bfs]] (edges `u`/`v`), seeds `node % 100 = 0`
    * among the graph's nodes. `width` sizes the edge pin as in
    * [[kcoreOf]]. */
  private[graft] def bfsOf(edges: DataFrame, depth: Int,
      width: Int = 0): DataFrame = {
    // Width-adapted edge pin + upfront materialization — same
    // rationale and same measured pathology as [[kcoreOf]] (r19).
    val w = if (width > 0) width else CacheScope.pinWidth(edges)
    val und = CacheScope.pin(
      edges.select(col("u").as("x"), col("v").as("y"))
        .unionByName(edges.select(col("v").as("x"), col("u").as("y")))
        .repartition(w, col("x")))
    und.count()
    val seed = CacheScope.track(
      und.select(col("x").as("node")).distinct()
        .filter(pmod(col("node"), lit(100L)) === 0)
        .withColumn("dist", lit(0L))
        .localCheckpoint(true))
    // The visited set is the UNION of the per-round frontier
    // checkpoints — kept as a lazy union over those (already
    // materialized) frames instead of re-checkpointing the
    // accumulated union every round (r18): the union rewrite was a
    // second full materialization per round whose input grows with
    // the reached set, and the anti-join consumes a ≤depth-wide
    // union of cached frames just as well. Round frames stay alive
    // until the result is consumed (they ARE the result).
    var rounds = List(seed)
    var frontier = seed.select(col("node"))
    var d = 0
    var exhausted = frontier.isEmpty
    while (d < depth && !exhausted) {
      d += 1
      val visited = rounds.map(_.select(col("node")))
        .reduce(_ unionByName _)
      val next = CacheScope.track(
        und.join(frontier.select(col("node").as("x")), Seq("x"))
          .select(col("y").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("dist", lit(d.toLong))
          .localCheckpoint(true))
      exhausted = next.isEmpty
      if (!exhausted) {
        rounds ::= next
        frontier = next.select(col("node"))
      } else {
        CacheScope.release(next) // empty probe frame
      }
    }
    rounds.reduce(_ unionByName _).orderBy(col("node"))
  }

  /** Pair-count floor of [[itemCooccur]]. */
  val CooccurMin = 5

  /** Hyperactive-basket cap of [[itemCooccur]] / [[itemsets3]] /
    * [[CooccurIngest]]: users with more distinct items than this are
    * dropped BEFORE the per-user pair join. Generous vs any organic
    * basket (the bench corpus maxes at 67); what it excludes is the
    * bot/crawler key whose basket squares on a single shuffle
    * partition — 10⁶ items would fan out 10¹² pairs on one key. */
  val MaxBasket = 1000

  /** Drop users whose distinct-item count exceeds `maxBasket` — the
    * 100 TB guard of the per-user pair self-join (quadratic in BASKET
    * size, so one hyperactive key dominates the whole shuffle), the
    * same df-cap rationale as the n-gram index. Hyperactive baskets
    * carry no similarity signal (a user holding everything relates
    * nothing). NOT silent: the dropped-user count is measured (one
    * map-side-combined aggregate over the already-distinct `ui`) and
    * logged; when nothing is over the cap the input is returned
    * unchanged, so capped ≡ uncapped below the cap by construction. */
  private def capBaskets(ui: DataFrame, maxBasket: Int,
      op: String): DataFrame = {
    require(maxBasket >= 1, s"$op: maxBasket must be >= 1, got $maxBasket")
    val over = ui.groupBy(col("user_id"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBasket)
      .select(col("user_id"))
    val nOver = over.count()
    if (nOver == 0L) ui
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$op: dropped $nOver hyperactive user(s) with > $maxBasket " +
          "distinct items before the pair join (no similarity signal; " +
          "unbounded quadratic fan-out on one shuffle key otherwise)")
      // `over` is the hyperactive tail — tiny by construction, so the
      // anti-join broadcasts
      ui.join(broadcast(over), Seq("user_id"), "left_anti")
    }
  }

  /** Item–item co-occurrence (the collaborative-filtering /
    * market-basket primitive — "users who touched X also touched Y"):
    * for every pair of `props.k` items sharing a user, the number of
    * DISTINCT users holding both, plus the Jaccard over the two
    * items' user sets. The per-user self-join fans out quadratically
    * in BASKET size, never corpus size — the classic formulation; the
    * 100 TB guard is [[capBaskets]] (drop hyperactive users before
    * the join). Jaccard denominators are counted over the SAME capped
    * population, so the output is exactly the uncapped answer on the
    * corpus minus the dropped users. `co >= CooccurMin` floors the
    * output to pairs with support. */
  /** Distinct (user, item) interactions from the events props JSON —
    * the shared base of [[itemCooccur]] and [[itemsets3]]. Pinned
    * hash(user_id) at the scan-derived width and materialized up
    * front (r19, the CacheScope.pinWidth contract): the distinct
    * output used to cache at full shuffle width, so each of the
    * per-user self-join's map stages scheduled 32 tasks over 73k
    * rows at bench SF (the entry ran 1.7x FASTER on 8 cores than
    * 32); the pinned hash(user_id) partitioning also makes the
    * self-join and the capBaskets audit exchange-free on the ui
    * side once the pin is materialized.
    *
    * [[itemCooccur]] ONLY — [[itemsets3]] deliberately keeps the
    * plain full-width pin (r19 negative results, do not retry): its
    * triple generation is genuinely compute-bound (~88 CPU-s partial
    * -agg stage over 28M instances at bench SF, ~383 output rows per
    * ui row), so the scan-derived width SERIALIZED it (3.7 -> 8.7 s
    * at width 1) and even a full-width repartition+count pin paid
    * its extra job/exchange with no offsetting save (3.89 -> 4.36 s
    * same-session A/B); the pair-COUNT shape here fans out only ~24x
    * and is per-task-overhead-bound, where the narrow pin wins. */
  private def uiNarrow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("props").isNotNull)
      .select(col("user_id"),
        expr("from_json(props, 'k BIGINT')").getField("k").as("item"))
      .filter(col("item").isNotNull)

  private def uiPinned(s: SparkSession, dir: String): DataFrame = {
    val narrow = uiNarrow(s, dir)
    val ui = CacheScope.pin(narrow.distinct()
      .repartition(CacheScope.pinWidth(narrow), col("user_id")))
    ui.count()
    ui
  }

  def itemCooccur(s: SparkSession, dir: String,
      maxBasket: Int = MaxBasket): DataFrame =
    itemCooccurOf(uiPinned(s, dir), maxBasket)

  /** DataFrame half of [[itemCooccur]] (`ui` = distinct
    * `(user_id, item)`, pre-pinned) — shared with the cap spec's
    * synthetic hyperactive-user fixtures. */
  private[graft] def itemCooccurOf(uiRaw: DataFrame,
      maxBasket: Int = MaxBasket): DataFrame = {
    val ui = capBaskets(uiRaw, maxBasket, "itemCooccur")
    val perItem = ui.groupBy(col("item"))
      .agg(count(lit(1)).as("n_users"))
    // (user, item) is distinct, so count(*) per pair IS the distinct
    // user count
    val pairs = ui.select(col("user_id"), col("item").as("item_a"))
      .join(ui.select(col("user_id"), col("item").as("item_b")),
        Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= CooccurMin)
    pairs
      .join(perItem.select(col("item").as("item_a"),
        col("n_users").as("na")), Seq("item_a"))
      .join(perItem.select(col("item").as("item_b"),
        col("n_users").as("nb")), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("co"),
        round(col("co") / (col("na") + col("nb") - col("co")), 4)
          .as("jaccard"))
      .orderBy(col("item_a"), col("item_b"))
  }

  /** Frequent 3-itemsets (Apriori level 2→3, Agrawal & Srikant 1994):
    * item triples held by at least [[CooccurMin]] distinct users.
    * The scale move is the ANTIMONOTONICITY prune: a triple can only
    * be frequent if all three of its pairs are, so per-user triple
    * enumeration starts from frequent-PAIR instances and candidate
    * triples are semi-joined against the frequent-pair set before the
    * support count — per-user fan-out is bounded by the user's
    * frequent-pair instances, not basket³. The DuckDB twin is the
    * direct (unpruned) enumeration: the prune is lossless by the
    * Apriori property, so both produce the identical set — the oracle
    * double-checks the prune itself. Hyperactive baskets are dropped
    * by [[capBaskets]] before any pair/triple enumeration — the
    * triple fan-out is cubic in basket size, so the cap matters here
    * even more than in [[itemCooccur]]. */
  def itemsets3(s: SparkSession, dir: String,
      maxBasket: Int = MaxBasket): DataFrame =
    itemsets3Of(CacheScope.pin(uiNarrow(s, dir).distinct()), maxBasket)

  /** DataFrame half of [[itemsets3]] — shared with the cap spec. */
  private[graft] def itemsets3Of(uiRaw: DataFrame,
      maxBasket: Int = MaxBasket): DataFrame = {
    val ui = capBaskets(uiRaw, maxBasket, "itemsets3")
    // (r18 negative result, kept as the measured decision: PINNING the
    // per-user pair-instance frame so the self-join runs once REGRESSED
    // the entry 4.7 -> 5.8 s — materializing 1.76M cached rows costs
    // more than re-running the broadcast-shaped join, and the cache
    // blocks displace the hot ui/freqPairs frames. The recompute
    // below is the cheaper plan at both measured scales.)
    val freqPairs = CacheScope.pin(
      ui.select(col("user_id"), col("item").as("item_a"))
        .join(ui.select(col("user_id"), col("item").as("item_b")),
          Seq("user_id"))
        .filter(col("item_a") < col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("co"))
        .filter(col("co") >= CooccurMin)
        .select(col("item_a"), col("item_b")))
    // per-user instances of frequent (a, b) pairs — the pruned base
    val ab = ui.select(col("user_id"), col("item").as("item_a"))
      .join(ui.select(col("user_id"), col("item").as("item_b")),
        Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .join(freqPairs, Seq("item_a", "item_b"), "left_semi")
    ab.join(ui.select(col("user_id"), col("item").as("item_c")),
        Seq("user_id"))
      .filter(col("item_b") < col("item_c"))
      // remaining two Apriori prunes: (a,c) and (b,c) must be frequent
      .join(freqPairs.select(col("item_a"), col("item_b").as("item_c")),
        Seq("item_a", "item_c"), "left_semi")
      .join(freqPairs.select(col("item_a").as("item_b"),
        col("item_b").as("item_c")), Seq("item_b", "item_c"), "left_semi")
      .groupBy(col("item_a"), col("item_b"), col("item_c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= CooccurMin)
      .orderBy(col("item_a"), col("item_b"), col("item_c"))
  }

  private val RollN = 20
  private val RollMinWin = 10
  private val RollZ = 3.0

  /** Rolling per-user anomaly screen: each event's value is z-scored
    * against that user's TRAILING window (the previous [[RollN]]
    * events — never the row itself, so an anomaly cannot mask itself),
    * flagged when |z| > [[RollZ]] with at least [[RollMinWin]] prior
    * observations. The windowed twin of the global [[outlierAudit]]:
    * per-entity baselines drift, so a fixed global band both misses
    * local spikes and false-flags naturally-high users. One shuffle on
    * user_id + an ordered frame scan; output is anomaly-sized.
    * Timestamps are second-truncated BEFORE ordering on both sides —
    * the parquet carries ns precision Spark truncates to µs, so raw-ts
    * ordering could disagree across engines; (second, event_id) cannot.
    * The z-score is rounded to 4 decimals before the threshold compare
    * so both engines flag the identical set. */
  def rollingAnomaly(s: SparkSession, dir: String): DataFrame =
    rollingAnomalyOf(Tables.events(s, dir))
      .orderBy(col("event_id"))

  /** DataFrame half of [[rollingAnomaly]] (shared with the streaming
    * twin's differential spec). */
  def rollingAnomalyOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-RollN, -1)
    events
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts"), col("value"))
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("n_win", count(col("value")).over(w))
      .filter(col("n_win") >= RollMinWin && col("sd") > 0)
      .withColumn("z",
        round((col("value") - col("mu")) / col("sd"), 4))
      .filter(abs(col("z")) > RollZ)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("z"))
  }

  /** The rolling-anomaly window/threshold constants, shared with
    * [[graft.streaming.StreamingRollingAnomaly]]. */
  val RollingN: Int = RollN
  val RollingMinWin: Int = RollMinWin
  val RollingZ: Double = RollZ

  /** Compare columns of [[tableDiff]] — shared with the oracle SQL so
    * the changed-cols attribution order matches by construction. */
  private val DiffCols = Seq("o_orderstatus", "o_totalprice",
    "o_orderpriority")

  /** Snapshot CDC derivation ([[SnapshotDiff.diff]]): `before` is the
    * orders table minus every 7th key (so those keys diff as inserts),
    * `after` perturbs status on key%3==0 and totalprice on key%5==0
    * (updates, with column attribution; %15 hits both). Deletes are
    * exercised in the spec (here the after side is a superset).
    * changed_cols is emitted comma-joined — the driver hash-compares
    * strings, not arrays. */
  def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val before = o.filter(col("o_orderkey") % 7 =!= 0)
    val after = o
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 3 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 1.05)
          .otherwise(col("o_totalprice")))
    SnapshotDiff.diff(before, after, Seq("o_orderkey"), DiffCols)
      .select(col("o_orderkey"), col("op"),
        array_join(col("changed_cols"), ",").as("changed"))
      .orderBy(col("o_orderkey"))
  }

  /** Data-quality audit suite over the star schema: fused per-table
    * conditional-aggregate passes ([[QualityChecks.audit]]) plus two
    * referential-integrity joins, unioned into one sorted report.
    * Thresholds are chosen so the report carries BOTH passing and
    * failing rows (l_quantity caps at 50 in the data, the check says
    * 40; o_orderstatus 'P' is deliberately not accepted). */
  def qualityAudit(s: SparkSession, dir: String): DataFrame = {
    import QualityChecks._
    val orders = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    report(
      audit(orders, "orders", Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 1000000.0),
        AcceptedValues("o_orderstatus", Seq("O", "F")))),
      audit(li, "lineitem", Seq(
        NotNull("l_orderkey"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        InRange("l_quantity", 1.0, 40.0),
        InRange("l_discount", 0.0, 0.1))),
      refIntegrity(li, "lineitem", "l_orderkey",
        orders, "orders", "o_orderkey"),
      refIntegrity(Tables.customer(s, dir), "customer", "c_nationkey",
        Tables.nation(s, dir), "nation", "n_nationkey"),
      // holds by construction (o_orderkey is unique)
      fdCheck(orders, "orders", Seq("o_orderkey"), "o_orderstatus"),
      // fails: an order's lines ship on many dates
      fdCheck(li, "lineitem", Seq("l_orderkey"), "l_shipdate"))
  }

  /** Entity resolution over a derived key column with a real cluster
    * structure: 300 entities ("E" + zero-padded multiple of 11 — any
    * two clean keys are >= 2 edits apart), each with ~5 member rows of
    * which some carry a 1-edit typo (appended 'x' or 'E'->'z'), so an
    * entity is recoverable only TRANSITIVELY through its clean hub.
    * The oracle is a recursive-CTE connected component over the same
    * levenshtein<=1 edge set. */
  def entityRes(s: SparkSession, dir: String): DataFrame = {
    val named = Tables.customer(s, dir)
      .filter(col("c_custkey").isNotNull)
      .withColumn("__clean", concat(lit("E"),
        lpad((col("c_custkey") % 300 * 11).cast("string"), 6, "0")))
      // variant selector must VARY within an entity (members are 300
      // apart and 300 ≡ 0 mod 3, so c%3 would give every member the
      // same variant): floor(c/300)%3 walks clean/x/z across members.
      .withColumn("__v", floor(col("c_custkey") / 300) % 3)
      .withColumn("__nm",
        when(col("__v") === 1, concat(col("__clean"), lit("x")))
          .when(col("__v") === 2,
            concat(lit("z"), expr("substring(__clean, 2)")))
          .otherwise(col("__clean")))
    EntityResolution.resolve(named, "c_custkey", "__nm", k = 1)
      .withColumnRenamed("canonical", "canonical_name")
      .orderBy(col("c_custkey"))
  }

  /** CDC roundtrip through the gate: derive the changelog with
    * [[SnapshotDiff.diffFull]] from the same before/after construction
    * as [[tableDiff]], APPLY it back to `before` with
    * [[SnapshotDiff.applyChanges]], and let DuckDB compute `after`
    * directly — any defect in either derivation or application breaks
    * row parity. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val before = o.filter(col("o_orderkey") % 7 =!= 0)
    val after = o
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 3 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 1.05)
          .otherwise(col("o_totalprice")))
    val changes = SnapshotDiff.diffFull(before, after,
      Seq("o_orderkey"), DiffCols)
    SnapshotDiff.applyChanges(before, changes, Seq("o_orderkey"),
      DiffCols).orderBy(col("o_orderkey"))
  }

  private val PrIters = 10
  private val PrScale = 7

  /** PageRank over a deterministic synthetic citation graph derived
    * from orders (src = customer, dst = a hash of the order key into
    * the customer id space — SF-independent logic both engines can
    * compute). Per-iteration quantization to [[PrScale]] decimals is
    * what makes the 10-round float fixpoint cross-engine exact. */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    val nc = Tables.customer(s, dir).count()
    val edges = Tables.orders(s, dir)
      .filter(col("o_custkey").isNotNull)
      .select(col("o_custkey").as("src"),
        pmod(col("o_orderkey") * 131 + 7, lit(nc)).as("dst"))
    PageRank.run(edges, iters = PrIters, scale = PrScale)
      .orderBy(col("node"))
  }

  /** Distribution drift between the [[cdcApply]] before/after
    * snapshots: categorical PSI/KL on the status column (the injected
    * 'X' is a real new-category shift) and fixed-width-binned numeric
    * drift on the price column. */
  def drift(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val before = o.filter(col("o_orderkey") % 7 =!= 0)
    val after = o
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 3 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 1.05)
          .otherwise(col("o_totalprice")))
    Drift.categorical(before, after, "o_orderstatus")
      .withColumn("kind", lit("status"))
      .unionByName(Drift
        .numeric(before, after, "o_totalprice", 0.0, 600000.0, 12)
        .withColumn("kind", lit("price")))
      .orderBy(col("kind"), col("value"))
  }

  /** Record linkage: the clean customer registry against a dirty feed
    * (every third name typo'd — char dropped / appended / substituted
    * by position parity). Exact ed<=1 crosswalk via the deletion
    * blocking; brute levenshtein cross-join oracle. */
  def fuzzyLink(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val dirty = cust.select(
      (col("c_custkey") + lit(1000000L)).as("d_id"),
      when(col("c_custkey") % 3 =!= 0, col("c_name"))
        .when(col("c_custkey") % 2 === 0,
          expr("substring(c_name, 2)"))
        .otherwise(concat(col("c_name"), lit("q"))).as("d_name"))
    FuzzyJoin.join1(cust, "c_custkey", "c_name", dirty, "d_id", "d_name")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: `P(next type | type)` — the journey-analysis shape
    * (what do users do after a cart?). One lead window per user
    * (ordered by ts, event_id — tie-deterministic), then a
    * vocabulary-sized count aggregate; probabilities are
    * count/row-total rounded 6. Terminal events (no next) drop. */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("event_type"))
      .agg(sum(col("n")).as("t"))
    pairs.join(totals, Seq("event_type"))
      .select(col("event_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("t").cast("double"), 6)
          .as("p"))
      .orderBy(col("event_type"), col("next_type"))
  }

  /** Time-based train/test split with an EMBARGO gap (leakage guard
    * for forecasting data: rows within `EmbargoDays` before the
    * cutoff belong to neither side, so lookback features computed on
    * train can't peek across the boundary). Cutoff = max ts minus 30
    * days, embargo 3 days — both derived IN-PLAN from the data so the
    * rule is SF-independent. */
  def timeSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val stats = ev.agg(max(col("ts")).as("mx"))
    ev.crossJoin(broadcast(stats))
      .withColumn("cutoff",
        col("mx") - expr("INTERVAL 30 DAYS"))
      .withColumn("split",
        when(col("ts") < col("cutoff") - expr("INTERVAL 3 DAYS"),
          lit("train"))
          .when(col("ts") >= col("cutoff"), lit("test"))
          .otherwise(lit("embargo")))
      .select(col("event_id"), col("split"))
      .orderBy(col("event_id"))
  }

  /** Robust outlier screen: median / MAD instead of mean / stddev
    * (the [[outliers]] z-score family breaks down when the outliers
    * themselves inflate the stddev — MAD has a 50% breakdown point).
    * Modified z = 0.6745·(x − med)/MAD, |z| > 3.5 (Iglewicz–Hoaglin).
    * Two exact dyadic medians (bit-exact cross-engine like
    * [[percentiles]]), group frame broadcast into the scan both
    * times. */
  def outliersMad(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val med = o.groupBy(col("o_orderpriority").as("prio"))
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("med"))
    val withMed = o.join(broadcast(med),
      col("o_orderpriority") === col("prio"))
    val mad = withMed.groupBy(col("prio").as("prio2"))
      .agg(percentile(abs(col("o_totalprice") - col("med")), lit(0.5))
        .as("mad"))
    withMed.join(broadcast(mad), col("prio") === col("prio2"))
      .withColumn("z",
        lit(0.6745) * (col("o_totalprice") - col("med")) / col("mad"))
      .groupBy(col("o_orderpriority"))
      .agg(round(min(col("med")), 4).as("med"),
        round(min(col("mad")), 4).as("mad"),
        count(when(abs(col("z")) > 3.5, lit(1))).as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Gini concentration index of per-customer revenue within each
    * market segment — the inequality measure that quantifies
    * "how skewed is this key?" (the same number a skew-join planner
    * wants before choosing salting). Rank formulation over the
    * ascending sort: `G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n`, ties broken by
    * customer id so the rank is cross-engine exact. One aggregate to
    * customer grain, one window per segment, one segment aggregate. */
  def giniRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(col("o_totalprice")).as("x"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("x"), col("c_custkey"))
    rev.withColumn("i", row_number().over(w).cast("double"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(lit(2.0) * sum(col("i") * col("x")) /
          (count(lit(1)) * sum(col("x"))) -
          (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"))
      .orderBy(col("c_mktsegment"))
  }

  val queries: Map[String, Q] = Map(
    "cls_gini" -> (giniRevenue _),
    "cls_outliers_mad" -> (outliersMad _),
    "cls_markov" -> (markovTransitions _),
    "cls_time_split" -> (timeSplit _),
    "cls_fuzzy_link" -> (fuzzyLink _),
    "cls_drift" -> (drift _),
    "cls_pagerank" -> (pageRank _),
    "cls_cdc_apply" -> (cdcApply _),
    "cls_entity_res" -> (entityRes _),
    "cls_quality_audit" -> (qualityAudit _),
    "cls_winsorize" -> (winsorize _),
    "cls_bloom_join" -> (bloomJoin _),
    "cls_fuzzy_join" -> (fuzzyJoin _),
    "cls_fuzzy_join2" -> (fuzzyJoin2 _),
    "cls_rolling_anomaly" -> (rollingAnomaly _),
    "cls_triangles" -> (triangles _),
    "cls_kcore" -> (kcore _),
    "cls_bfs" -> (bfs _),
    "cls_item_cooccur" ->
      ((s: SparkSession, d: String) => itemCooccur(s, d)),
    "cls_itemsets3" ->
      ((s: SparkSession, d: String) => itemsets3(s, d)),
    "cls_interval_merge" -> (intervalMerge _),
    "cls_table_diff" -> (tableDiff _),
    "cls_table_profile" -> (tableProfile _),
    "cls_scd2" -> (scd2Orders _),
    "cls_retention" -> (retention _),
    "cls_funnel" -> (funnel _),
    "cls_grouping_sets" -> (groupingSetsSummary _),
    "cls_histogram" -> (histogram _),
    "cls_outliers" -> (outliers _),
    "cls_session_paths" -> (sessionPaths _),
    "cls_resample" -> (resampleDense _),
    "cls_json_agg" -> (jsonExtractAgg _),
    "cls_count_distinct" -> (countDistinct2 _),
    "cls_setops" -> (setOps _),
    "cls_zorder" -> (zorderValue _),
    "cls_cube" -> (cubeSummary _),
    "cls_window_funcs" -> (windowFuncs _),
    "cls_percentiles" -> (percentiles _),
    "cls_asof_tol" -> (asofJoinTol _),
    "cls_gap_sessions" -> (gapSessions _),
    "cls_gap_sliced" -> (gapSessionsSliced _),
    "cls_skew_join" -> (skewJoin _),
    "cls_asof_join" -> (asofJoin _),
    "cls_asof_sliced" -> (asofJoinSliced _),
    "cls_asof_nearest" -> (asofJoinNearest _),
    "cls_asof_nearest_sliced" -> (asofJoinNearestSliced _),
    "cls_asof_join_fwd" -> (asofJoinFwd _),
    "cls_range_join" -> (rangeJoin _),
    "cls_range_left" -> (rangeJoinLeft _),
    "cls_interval_overlap" -> (intervalOverlap _),
    "cls_rolling_revenue" -> (rollingRevenue _),
    "cls_rollup" -> (rollupSummary _),
    "cls_pivot" -> (pivotSummary _),
    "cls_pricing_summary" -> (pricingSummary _),
    "cls_shipping_priority" -> (shippingPriority _),
    "cls_regional_revenue" -> (regionalRevenue _),
    "cls_semi_join" -> (semiJoin _),
    "cls_anti_join" -> (antiJoin _),
    "cls_top_orders_per_customer" -> (topOrdersPerCustomer _))

  /** 16-term bit-interleave of the two 8-bit buckets — the DuckDB
    * transcription of [[ZOrder.zValue]] at bits=8, k=2. */
  private val zInterleaveSql: String =
    (0 until 8).flatMap(i => Seq(
      s"(((ub >> $i) & 1) << ${2 * i})",
      s"(((vb >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  /** The [[kcore]] peel unrolled to [[KCoreRounds]] MATERIALIZED CTEs
    * (the BpeTrainSql idiom — plain CTEs would inline the edge scan
    * once per round per reference). Rounds past the fixpoint re-derive
    * the same survivor set, so the final round equals Spark's
    * early-exited loop. */
  private val kcoreSql: String = {
    val rounds = (1 to KCoreRounds).map { r =>
      s"""s$r AS MATERIALIZED (SELECT x AS node FROM und
         JOIN s${r - 1} sa ON und.x = sa.node
         JOIN s${r - 1} sb ON und.y = sb.node
         GROUP BY x HAVING count(*) >= $KCoreK)"""
    }.mkString(",\n       ")
    s"""WITH raw AS MATERIALIZED (SELECT DISTINCT
         least(o_custkey, d) AS u, greatest(o_custkey, d) AS v
       FROM (SELECT o_custkey,
           (o_orderkey * 131 + 7) % (SELECT count(*) FROM customer)
             AS d
         FROM orders WHERE o_custkey IS NOT NULL)
       WHERE o_custkey <> d),
       und AS MATERIALIZED (
         SELECT u AS x, v AS y FROM raw
         UNION ALL SELECT v, u FROM raw),
       s0 AS MATERIALIZED (SELECT DISTINCT x AS node FROM und),
       $rounds
       SELECT x AS node, CAST(count(*) AS BIGINT) AS core_deg
       FROM und
       JOIN s$KCoreRounds fa ON und.x = fa.node
       JOIN s$KCoreRounds fb ON und.y = fb.node
       GROUP BY x ORDER BY node"""
  }

  /** The [[bfs]] frontier expansion unrolled to [[BfsDepth]] rounds
    * (same idiom as [[kcoreSql]]); an exhausted frontier makes the
    * remaining rounds no-ops, matching Spark's early exit. */
  private val bfsSql: String = {
    val rounds = (1 to BfsDepth).map { d =>
      s"""f$d AS MATERIALIZED (
         SELECT DISTINCT und.y AS node FROM und
         JOIN f${d - 1} ON und.x = f${d - 1}.node
         ANTI JOIN v${d - 1} ON und.y = v${d - 1}.node),
       v$d AS MATERIALIZED (
         SELECT node, dist FROM v${d - 1}
         UNION ALL SELECT node, $d AS dist FROM f$d)"""
    }.mkString(",\n       ")
    s"""WITH raw AS MATERIALIZED (SELECT DISTINCT
         least(o_custkey, d) AS u, greatest(o_custkey, d) AS v
       FROM (SELECT o_custkey,
           (o_orderkey * 131 + 7) % (SELECT count(*) FROM customer)
             AS d
         FROM orders WHERE o_custkey IS NOT NULL)
       WHERE o_custkey <> d),
       und AS MATERIALIZED (
         SELECT u AS x, v AS y FROM raw
         UNION ALL SELECT v, u FROM raw),
       v0 AS MATERIALIZED (
         SELECT node, 0 AS dist FROM
           (SELECT DISTINCT x AS node FROM und)
         WHERE node % 100 = 0),
       f0 AS MATERIALIZED (SELECT node FROM v0),
       $rounds
       SELECT node, CAST(dist AS BIGINT) AS dist FROM v$BfsDepth
       ORDER BY node"""
  }

  /** One UNION ALL arm per profiled column — generated from the same
    * [[ProfileCols]] list the Spark query uses. */
  private val tableProfileSql: String =
    ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
        count(*) - count($c) AS n_nulls,
        count(DISTINCT $c) AS n_distinct,
        CAST(min($c) AS DOUBLE) AS min_val,
        CAST(max($c) AS DOUBLE) AS max_val
      FROM lineitem"""
    }.mkString("\nUNION ALL\n")

  /** Window transcription of the three SCD2 passes: instant dedup by
    * highest o_orderkey, null-safe change collapse (IS DISTINCT FROM
    * per tracked attribute), interval assembly via lead(). */
  private val scd2Sql: String =
    """WITH d AS (
      SELECT * FROM (
        SELECT o_custkey, o_orderdate, o_orderstatus, o_orderpriority,
          o_totalprice,
          row_number() OVER (PARTITION BY o_custkey, o_orderdate
            ORDER BY o_orderkey DESC) AS rn
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL)
      WHERE rn = 1),
    v AS (
      SELECT *,
        (o_orderstatus IS DISTINCT FROM lag(o_orderstatus) OVER w
         OR o_orderpriority IS DISTINCT FROM lag(o_orderpriority) OVER w)
          AS chg
      FROM d WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate))
    SELECT o_custkey, o_orderstatus, o_orderpriority, o_totalprice,
      o_orderdate AS valid_from,
      lead(o_orderdate) OVER w2 AS valid_to,
      lead(o_orderdate) OVER w2 IS NULL AS is_current
    FROM v WHERE chg
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate)"""

  /** One CTE per PageRank round (recursive CTEs cannot aggregate in
    * the recursive term, so the fixpoint is UNROLLED — generated from
    * the same [[PrIters]]/[[PrScale]] the Spark query uses; `1.0-0.85`
    * is spelled, not folded, so both engines bind the identical
    * double). */
  private def pageRankSql: String = {
    val rounds = (1 to PrIters).map { i =>
      s"""pr$i AS (SELECT n.node,
         round((1.0 - 0.85) / (SELECT n FROM par) +
               0.85 * coalesce(s.c, 0.0), $PrScale) AS r
         FROM nodes n LEFT JOIN (
           SELECT e.dst, sum(p.r / o.od) AS c
           FROM pr${i - 1} p JOIN outdeg o ON p.node = o.src
                JOIN edges e ON e.src = o.src
           GROUP BY e.dst) s ON n.node = s.dst)"""
    }.mkString(",\n")
    s"""WITH edges AS (SELECT o_custkey AS src,
           (o_orderkey * 131 + 7) % (SELECT count(*) FROM customer)
             AS dst
         FROM orders WHERE o_custkey IS NOT NULL),
       nodes AS (SELECT DISTINCT node FROM
         (SELECT src AS node FROM edges
          UNION ALL SELECT dst FROM edges)),
       -- N must be the DISTINCT EDGE-NODE population, the same N
       -- PageRank.run computes (ADVICE r12: count(customer) only
       -- coincides while pmod dst coverage saturates every residue)
       par AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS od
         FROM edges GROUP BY 1),
       pr0 AS (SELECT node, round(1.0 / (SELECT n FROM par), $PrScale)
         AS r FROM nodes),
       $rounds
       SELECT node, r AS "rank" FROM pr$PrIters ORDER BY node"""
  }

  val oracles: Map[String, String] = Map(
    "cls_gini" ->
      """WITH rev AS (SELECT c_mktsegment, c_custkey,
           sum(o_totalprice) AS x
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2),
       rk AS (SELECT c_mktsegment, x,
           CAST(row_number() OVER (PARTITION BY c_mktsegment
             ORDER BY x, c_custkey) AS DOUBLE) AS i
         FROM rev)
       SELECT c_mktsegment, count(*) AS n_customers,
         round(2.0 * sum(i * x) / (count(*) * sum(x))
           - (count(*) + 1.0) / count(*), 6) AS gini
       FROM rk GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "cls_outliers_mad" ->
      """WITH med AS (SELECT o_orderpriority AS prio,
           quantile_cont(o_totalprice, 0.5) AS med
         FROM orders GROUP BY 1),
       mad AS (SELECT o_orderpriority AS prio2,
           quantile_cont(abs(o_totalprice - med), 0.5) AS mad
         FROM orders JOIN med ON o_orderpriority = prio GROUP BY 1)
       SELECT o_orderpriority,
         round(min(med), 4) AS med,
         round(min(mad), 4) AS mad,
         count(CASE WHEN abs(0.6745 * (o_totalprice - med) / mad) > 3.5
               THEN 1 END) AS n_outliers,
         count(*) AS n
       FROM orders JOIN med ON o_orderpriority = prio
                   JOIN mad ON o_orderpriority = prio2
       GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "cls_markov" ->
      """WITH pr AS (SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS next_type
         FROM events),
       pc AS (SELECT event_type, next_type, count(*) AS n
         FROM pr WHERE next_type IS NOT NULL GROUP BY 1, 2),
       tt AS (SELECT event_type, sum(n) AS t FROM pc GROUP BY 1)
       SELECT pc.event_type, pc.next_type, pc.n,
         round(CAST(pc.n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS p
       FROM pc JOIN tt USING (event_type)
       ORDER BY event_type, next_type""",
    "cls_time_split" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events)
       SELECT event_id,
         CASE WHEN ts < (SELECT m FROM mx) - INTERVAL 30 DAY
                        - INTERVAL 3 DAY THEN 'train'
              WHEN ts >= (SELECT m FROM mx) - INTERVAL 30 DAY
                THEN 'test'
              ELSE 'embargo' END AS split
       FROM events ORDER BY event_id""",
    "cls_fuzzy_link" ->
      """WITH dirty AS (SELECT c_custkey + 1000000 AS d_id,
           CASE WHEN c_custkey % 3 <> 0 THEN c_name
                WHEN c_custkey % 2 = 0 THEN substr(c_name, 2)
                ELSE c_name || 'q' END AS d_name
         FROM customer)
       SELECT a.c_custkey AS id_a, b.d_id AS id_b,
         CAST(levenshtein(a.c_name, b.d_name) AS BIGINT) AS dist
       FROM customer a JOIN dirty b
         ON abs(length(a.c_name) - length(b.d_name)) <= 1
       WHERE levenshtein(a.c_name, b.d_name) <= 1
       ORDER BY id_a, id_b""",
    "cls_drift" ->
      """WITH bef AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
       aft AS (SELECT
           CASE WHEN o_orderkey % 3 = 0 THEN 'X'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.05
                ELSE o_totalprice END AS o_totalprice
         FROM orders),
       sb AS (SELECT coalesce(CAST(o_orderstatus AS VARCHAR), '__null')
           AS value, count(*) AS n FROM bef GROUP BY 1),
       sa AS (SELECT coalesce(CAST(o_orderstatus AS VARCHAR), '__null')
           AS value, count(*) AS n FROM aft GROUP BY 1),
       scells AS (SELECT coalesce(sb.value, sa.value) AS value,
           coalesce(sb.n, 0) AS n_before, coalesce(sa.n, 0) AS n_after
         FROM sb FULL OUTER JOIN sa ON sb.value = sa.value),
       stot AS (SELECT CAST(sum(n_before) AS DOUBLE) AS tb,
           CAST(sum(n_after) AS DOUBLE) AS ta,
           CAST(count(*) AS DOUBLE) AS nv FROM scells),
       pb AS (SELECT CASE WHEN o_totalprice IS NULL THEN NULL
           WHEN o_totalprice < 0.0 THEN -1
           WHEN o_totalprice >= 600000.0 THEN 12
           ELSE CAST(floor((o_totalprice - 0.0) / 50000.0) AS BIGINT)
           END AS b FROM bef),
       pa AS (SELECT CASE WHEN o_totalprice IS NULL THEN NULL
           WHEN o_totalprice < 0.0 THEN -1
           WHEN o_totalprice >= 600000.0 THEN 12
           ELSE CAST(floor((o_totalprice - 0.0) / 50000.0) AS BIGINT)
           END AS b FROM aft),
       pb2 AS (SELECT coalesce(CAST(b AS VARCHAR), '__null') AS value,
           count(*) AS n FROM pb GROUP BY 1),
       pa2 AS (SELECT coalesce(CAST(b AS VARCHAR), '__null') AS value,
           count(*) AS n FROM pa GROUP BY 1),
       pcells AS (SELECT coalesce(pb2.value, pa2.value) AS value,
           coalesce(pb2.n, 0) AS n_before, coalesce(pa2.n, 0) AS n_after
         FROM pb2 FULL OUTER JOIN pa2 ON pb2.value = pa2.value),
       ptot AS (SELECT CAST(sum(n_before) AS DOUBLE) AS tb,
           CAST(sum(n_after) AS DOUBLE) AS ta,
           CAST(count(*) AS DOUBLE) AS nv FROM pcells)
       SELECT * FROM (
         SELECT value, n_before, n_after,
           round(((CAST(n_before AS DOUBLE) + 0.5) / (tb + 0.5 * nv)
                - (CAST(n_after AS DOUBLE) + 0.5) / (ta + 0.5 * nv))
             * ln(((CAST(n_before AS DOUBLE) + 0.5) / (tb + 0.5 * nv))
                / ((CAST(n_after AS DOUBLE) + 0.5) / (ta + 0.5 * nv))),
             6) AS psi_term,
           round(((CAST(n_before AS DOUBLE) + 0.5) / (tb + 0.5 * nv))
             * ln(((CAST(n_before AS DOUBLE) + 0.5) / (tb + 0.5 * nv))
                / ((CAST(n_after AS DOUBLE) + 0.5) / (ta + 0.5 * nv))),
             6) AS kl_term,
           'status' AS kind
         FROM scells, stot
         UNION ALL
         SELECT value, n_before, n_after,
           round(((CAST(n_before AS DOUBLE) + 0.5) / (tb + 0.5 * nv)
                - (CAST(n_after AS DOUBLE) + 0.5) / (ta + 0.5 * nv))
             * ln(((CAST(n_before AS DOUBLE) + 0.5) / (tb + 0.5 * nv))
                / ((CAST(n_after AS DOUBLE) + 0.5) / (ta + 0.5 * nv))),
             6),
           round(((CAST(n_before AS DOUBLE) + 0.5) / (tb + 0.5 * nv))
             * ln(((CAST(n_before AS DOUBLE) + 0.5) / (tb + 0.5 * nv))
                / ((CAST(n_after AS DOUBLE) + 0.5) / (ta + 0.5 * nv))),
             6),
           'price'
         FROM pcells, ptot)
       ORDER BY kind, value""",
    "cls_pagerank" -> pageRankSql,
    "cls_cdc_apply" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN 'X'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.05
                ELSE o_totalprice END AS o_totalprice,
           o_orderpriority
         FROM orders ORDER BY o_orderkey""",
    "cls_entity_res" ->
      """WITH RECURSIVE base AS (
           SELECT c_custkey AS id,
             CASE WHEN (c_custkey // 300) % 3 = 1 THEN nm0 || 'x'
                  WHEN (c_custkey // 300) % 3 = 2
                    THEN 'z' || substr(nm0, 2)
                  ELSE nm0 END AS nm
           FROM (SELECT c_custkey,
                   'E' || lpad(CAST(c_custkey % 300 * 11 AS VARCHAR),
                               6, '0') AS nm0
                 FROM customer WHERE c_custkey IS NOT NULL)),
         pairs AS (
           SELECT a.id AS ia, b.id AS ib
           FROM base a JOIN base b ON a.id < b.id
           WHERE abs(length(a.nm) - length(b.nm)) <= 1
             AND levenshtein(a.nm, b.nm) <= 1),
         edges AS (SELECT ia AS s, ib AS d FROM pairs
                   UNION SELECT ib, ia FROM pairs),
         reach AS (
           SELECT id AS s, id AS d FROM base
           UNION
           SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         comp AS (SELECT s AS c_custkey, min(d) AS entity_id
                  FROM reach GROUP BY s)
       SELECT c.c_custkey, c.entity_id, b.nm AS canonical_name
       FROM comp c JOIN base b ON c.entity_id = b.id
       ORDER BY c.c_custkey""",
    "cls_quality_audit" ->
      """WITH o AS (SELECT count(*) AS total,
           count(CASE WHEN o_custkey IS NULL THEN 1 END) AS v_nn,
           count(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
             - count(DISTINCT o_orderkey) AS v_uq,
           count(CASE WHEN o_totalprice < 0.0
                        OR o_totalprice > 1000000.0 THEN 1 END) AS v_rg,
           count(CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O','F') THEN 1 END) AS v_av
         FROM orders),
       l AS (SELECT count(*) AS total,
           count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS v_nn,
           count(CASE WHEN l_orderkey IS NOT NULL
                       AND l_linenumber IS NOT NULL THEN 1 END)
             - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey,
                  l_linenumber FROM lineitem WHERE l_orderkey IS NOT NULL
                  AND l_linenumber IS NOT NULL)) AS v_uq,
           count(CASE WHEN l_quantity < 1.0
                        OR l_quantity > 40.0 THEN 1 END) AS v_rg1,
           count(CASE WHEN l_discount < 0.0
                        OR l_discount > 0.1 THEN 1 END) AS v_rg2
         FROM lineitem),
       ri1 AS (SELECT count(*) AS total,
           count(CASE WHEN c.l_orderkey IS NOT NULL
                       AND p.o_orderkey IS NULL THEN 1 END) AS v
         FROM lineitem c LEFT JOIN
           (SELECT DISTINCT o_orderkey FROM orders
            WHERE o_orderkey IS NOT NULL) p
           ON c.l_orderkey = p.o_orderkey),
       ri2 AS (SELECT count(*) AS total,
           count(CASE WHEN c.c_nationkey IS NOT NULL
                       AND p.n_nationkey IS NULL THEN 1 END) AS v
         FROM customer c LEFT JOIN
           (SELECT DISTINCT n_nationkey FROM nation
            WHERE n_nationkey IS NOT NULL) p
           ON c.c_nationkey = p.n_nationkey),
       fd1 AS (SELECT count(CASE WHEN n > 1 THEN 1 END) AS v,
           count(*) AS total FROM
         (SELECT o_orderkey, count(DISTINCT coalesce(
            CAST(o_orderstatus AS VARCHAR), '__null')) AS n
          FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1)),
       fd2 AS (SELECT count(CASE WHEN n > 1 THEN 1 END) AS v,
           count(*) AS total FROM
         (SELECT l_orderkey, count(DISTINCT coalesce(
            CAST(l_shipdate AS VARCHAR), '__null')) AS n
          FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1))
       SELECT * FROM (
         SELECT 'orders' AS table_name, 'not_null' AS "check",
           'o_custkey' AS target, v_nn AS violations, total,
           v_nn = 0 AS passed FROM o
         UNION ALL SELECT 'orders', 'unique', 'o_orderkey', v_uq,
           total, v_uq = 0 FROM o
         UNION ALL SELECT 'orders', 'in_range', 'o_totalprice', v_rg,
           total, v_rg = 0 FROM o
         UNION ALL SELECT 'orders', 'accepted_values', 'o_orderstatus',
           v_av, total, v_av = 0 FROM o
         UNION ALL SELECT 'lineitem', 'not_null', 'l_orderkey', v_nn,
           total, v_nn = 0 FROM l
         UNION ALL SELECT 'lineitem', 'unique',
           'l_orderkey,l_linenumber', v_uq, total, v_uq = 0 FROM l
         UNION ALL SELECT 'lineitem', 'in_range', 'l_quantity', v_rg1,
           total, v_rg1 = 0 FROM l
         UNION ALL SELECT 'lineitem', 'in_range', 'l_discount', v_rg2,
           total, v_rg2 = 0 FROM l
         UNION ALL SELECT 'lineitem', 'ref_integrity',
           'l_orderkey->orders.o_orderkey', v, total, v = 0 FROM ri1
         UNION ALL SELECT 'customer', 'ref_integrity',
           'c_nationkey->nation.n_nationkey', v, total, v = 0 FROM ri2
         UNION ALL SELECT 'orders', 'functional_dep',
           'o_orderkey->o_orderstatus', v, total, v = 0 FROM fd1
         UNION ALL SELECT 'lineitem', 'functional_dep',
           'l_orderkey->l_shipdate', v, total, v = 0 FROM fd2)
       ORDER BY table_name, "check", target""",
    "cls_bloom_join" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F' AND o_totalprice > 400000
         GROUP BY 1 ORDER BY month""",
    "cls_fuzzy_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY id_a, id_b""",
    "cls_fuzzy_join2" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 2
         ORDER BY id_a, id_b""",
    "cls_triangles" ->
      """WITH raw AS (SELECT DISTINCT
           least(o_custkey, d) AS u, greatest(o_custkey, d) AS v
         FROM (SELECT o_custkey,
             (o_orderkey * 131 + 7) % (SELECT count(*) FROM customer)
               AS d
           FROM orders WHERE o_custkey IS NOT NULL)
         WHERE o_custkey <> d),
       deg AS (SELECT node, count(*) AS deg FROM (
           SELECT u AS node FROM raw UNION ALL SELECT v FROM raw)
         GROUP BY 1),
       oriented AS (SELECT
           CASE WHEN (du.deg, r.u) < (dv.deg, r.v) THEN r.u ELSE r.v
             END AS s,
           CASE WHEN (du.deg, r.u) < (dv.deg, r.v) THEN r.v ELSE r.u
             END AS d
         FROM raw r JOIN deg du ON du.node = r.u
                    JOIN deg dv ON dv.node = r.v),
       od AS (SELECT o.s, o.d, dd.deg AS dd
         FROM oriented o JOIN deg dd ON dd.node = o.d),
       wedges AS (SELECT w1.a, w1.b, w2.c FROM
           (SELECT s AS a, d AS b, dd AS deg_b FROM od) w1
         JOIN (SELECT s AS a, d AS c, dd AS deg_c FROM od) w2
           USING (a)
         WHERE (w1.deg_b, w1.b) < (w2.deg_c, w2.c))
       SELECT count(*) AS n_triangles
       FROM wedges SEMI JOIN oriented
         ON wedges.b = oriented.s AND wedges.c = oriented.d""",
    "cls_kcore" -> kcoreSql,
    "cls_bfs" -> bfsSql,
    "cls_item_cooccur" ->
      s"""WITH ui AS MATERIALIZED (SELECT DISTINCT user_id,
           CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         FROM events
         WHERE user_id IS NOT NULL AND props IS NOT NULL
           AND json_extract(props, '$$.k') IS NOT NULL),
       per AS MATERIALIZED (
         SELECT item, count(*) AS n_users FROM ui GROUP BY 1),
       p AS (SELECT a.item AS item_a, b.item AS item_b,
           count(*) AS co
         FROM ui a JOIN ui b
           ON a.user_id = b.user_id AND a.item < b.item
         GROUP BY 1, 2 HAVING count(*) >= $CooccurMin)
       SELECT item_a, item_b, CAST(co AS BIGINT) AS co,
         round(co / (na.n_users + nb.n_users - co), 4) AS jaccard
       FROM p JOIN per na ON na.item = p.item_a
              JOIN per nb ON nb.item = p.item_b
       ORDER BY item_a, item_b""",
    // direct (unpruned) triple enumeration: identical to the Spark
    // side's Apriori-pruned plan by the antimonotonicity property —
    // the oracle double-checks the prune is lossless
    "cls_itemsets3" ->
      s"""WITH ui AS MATERIALIZED (SELECT DISTINCT user_id,
           CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         FROM events
         WHERE user_id IS NOT NULL AND props IS NOT NULL
           AND json_extract(props, '$$.k') IS NOT NULL)
       SELECT a.item AS item_a, b.item AS item_b, c.item AS item_c,
         CAST(count(*) AS BIGINT) AS support
       FROM ui a
       JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
       JOIN ui c ON b.user_id = c.user_id AND b.item < c.item
       GROUP BY 1, 2, 3 HAVING count(*) >= $CooccurMin
       ORDER BY 1, 2, 3""",
    "cls_interval_merge" ->
      """WITH e AS (SELECT event_id, user_id,
           CAST(epoch(date_trunc('second', ts)) AS DOUBLE) AS st,
           CAST(epoch(date_trunc('second', ts)) AS DOUBLE) + value
             AS en
         FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
       m AS (SELECT *,
           max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max
         FROM e),
       h AS (SELECT *,
           CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0
             END AS head
         FROM m),
       isl AS (SELECT *,
           sum(head) OVER (PARTITION BY user_id ORDER BY st, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island
         FROM h),
       g AS (SELECT user_id, island, count(*) AS n_in_island,
           min(st) AS is_st, max(en) AS is_en
         FROM isl GROUP BY 1, 2)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
         CAST(sum(n_in_island) AS BIGINT) AS n_intervals,
         round(sum(is_en - is_st), 3) AS covered_sec
       FROM g GROUP BY 1 ORDER BY user_id""",
    "cls_rolling_anomaly" ->
      s"""WITH e AS (SELECT event_id, user_id,
           date_trunc('second', ts) AS ts, value
         FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
       w AS (SELECT event_id, user_id, ts, value,
           avg(value) OVER win AS mu,
           stddev_samp(value) OVER win AS sd,
           count(value) OVER win AS n_win
         FROM e WINDOW win AS (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN $RollN PRECEDING AND 1 PRECEDING))
       SELECT event_id, user_id, ts, value,
         round((value - mu) / sd, 4) AS z
       FROM w
       WHERE n_win >= $RollMinWin AND sd > 0
         AND abs(round((value - mu) / sd, 4)) > $RollZ
       ORDER BY event_id""",
    "cls_table_diff" ->
      """WITH bef AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
           o_orderpriority FROM orders WHERE o_orderkey % 7 <> 0),
       aft AS (SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN 'X'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.05
                ELSE o_totalprice END AS o_totalprice,
           o_orderpriority
         FROM orders),
       j AS (SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'I'
                WHEN a.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           CASE WHEN b.o_orderkey IS NULL OR a.o_orderkey IS NULL
                THEN 'o_orderstatus,o_totalprice,o_orderpriority'
                ELSE array_to_string(list_filter([
                  CASE WHEN b.o_orderstatus IS DISTINCT FROM
                    a.o_orderstatus THEN 'o_orderstatus' END,
                  CASE WHEN b.o_totalprice IS DISTINCT FROM
                    a.o_totalprice THEN 'o_totalprice' END,
                  CASE WHEN b.o_orderpriority IS DISTINCT FROM
                    a.o_orderpriority THEN 'o_orderpriority' END],
                  x -> x IS NOT NULL), ',') END AS changed
         FROM bef b FULL OUTER JOIN aft a ON b.o_orderkey = a.o_orderkey)
       SELECT o_orderkey, op, changed FROM j
       WHERE op <> 'U' OR changed <> ''
       ORDER BY o_orderkey""",
    "cls_table_profile" -> tableProfileSql,
    "cls_scd2" -> scd2Sql,
    "cls_retention" ->
      """WITH f AS (SELECT user_id, ts,
           min(ts) OVER (PARTITION BY user_id) AS first_ts
         FROM events),
       wk AS (SELECT user_id,
           (epoch_us(first_ts) // 1000000) // 604800 AS cohort_week,
           (epoch_us(ts) // 1000000) // 604800
             - (epoch_us(first_ts) // 1000000) // 604800 AS week_offset
         FROM f)
       SELECT cohort_week, week_offset,
         count(DISTINCT user_id) AS n_users
       FROM wk GROUP BY cohort_week, week_offset
       ORDER BY cohort_week, week_offset""",
    "cls_funnel" ->
      """WITH s1 AS (SELECT user_id, event_type, ts,
           min(CASE WHEN event_type = 'view' THEN ts END)
             OVER (PARTITION BY user_id) AS t1
         FROM events),
       s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
             THEN ts END) OVER (PARTITION BY user_id) AS t2
         FROM s1),
       s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
             THEN ts END) OVER (PARTITION BY user_id) AS t3
         FROM s2),
       u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
         FROM s3 GROUP BY user_id)
       SELECT count(t1) AS n_view, count(t2) AS n_click_after_view,
         count(t3) AS n_purchase_after_click, count(*) AS n_users
       FROM u""",
    "cls_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
         coalesce(l_linestatus, 'ALL') AS linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         count(*) AS n_rows
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY returnflag, linestatus""",
    "cls_histogram" ->
      """SELECT CAST(least(greatest(floor(o_totalprice / 50000.0), 0), 11)
           AS BIGINT) AS bucket,
         count(*) AS n_orders,
         round(sum(o_totalprice), 4) AS sum_price
         FROM orders GROUP BY 1 ORDER BY bucket""",
    "cls_outliers" ->
      """WITH st AS (SELECT event_type, avg(value) AS mu,
           stddev_samp(value) AS sigma
         FROM events GROUP BY event_type)
       SELECT e.event_type, count(*) AS n_rows,
         CAST(sum(CASE WHEN abs(e.value - st.mu) > 2.0 * st.sigma
              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         round(max(st.mu), 4) AS mu,
         round(max(st.sigma), 4) AS sigma
       FROM events e JOIN st USING (event_type)
       GROUP BY e.event_type ORDER BY e.event_type""",
    "cls_session_paths" ->
      """WITH sess AS (SELECT event_id, user_id, ts, event_type,
           CAST(sum(CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         FROM (SELECT event_id, user_id, ts, event_type,
                 lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_ts
               FROM events))
       SELECT user_id, session_id, count(*) AS n_events,
         min(ts) AS session_start,
         array_to_string(
           (list(event_type ORDER BY ts, event_id, event_type))[1:5],
           '>') AS path
       FROM sess GROUP BY user_id, session_id
       ORDER BY user_id, session_id""",
    "cls_resample" ->
      """WITH k AS (SELECT user_id,
           (epoch_us(ts) // 1000000) // 86400 AS b, value
         FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       sparse AS (SELECT user_id, b, count(*) AS n, sum(value) AS sv
         FROM k GROUP BY user_id, b),
       span AS (SELECT user_id, min(b) AS b0, max(b) AS b1
         FROM k GROUP BY user_id),
       uni AS (SELECT user_id, unnest(generate_series(b0, b1)) AS b
         FROM span)
       SELECT u.user_id, u.b * 86400 AS bin_sec,
         CAST(coalesce(s.n, 0) AS BIGINT) AS n_events,
         round(coalesce(s.sv, 0), 4) AS sum_value
       FROM uni u LEFT JOIN sparse s
         ON u.user_id = s.user_id AND u.b = s.b
       ORDER BY u.user_id, bin_sec""",
    "cls_json_agg" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
         round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4)
           AS avg_k,
         min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
         max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "cls_count_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(DISTINCT l_orderkey) AS n_orders,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "cls_setops" ->
      """SELECT o_custkey, 'both' AS kind FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         UNION ALL
         SELECT o_custkey, 'urgent_only' AS kind FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         ORDER BY kind, o_custkey""",
    "cls_zorder" ->
      s"""WITH b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
         min(value) AS vmin, max(value) AS vmax FROM events),
       x AS (SELECT event_id,
         CASE WHEN user_id IS NULL THEN NULL
           WHEN CAST(umax AS DOUBLE) - CAST(umin AS DOUBLE) = 0 THEN 0
           ELSE least(255, greatest(0, CAST(floor(
             (CAST(user_id AS DOUBLE) - CAST(umin AS DOUBLE))
             / (CAST(umax AS DOUBLE) - CAST(umin AS DOUBLE)) * 256)
             AS BIGINT))) END AS ub,
         CASE WHEN value IS NULL THEN NULL
           WHEN CAST(vmax AS DOUBLE) - CAST(vmin AS DOUBLE) = 0 THEN 0
           ELSE least(255, greatest(0, CAST(floor(
             (CAST(value AS DOUBLE) - CAST(vmin AS DOUBLE))
             / (CAST(vmax AS DOUBLE) - CAST(vmin AS DOUBLE)) * 256)
             AS BIGINT))) END AS vb
         FROM events CROSS JOIN b)
       SELECT event_id, $zInterleaveSql AS zv
       FROM x ORDER BY event_id""",
    "cls_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
         coalesce(l_linestatus, 'ALL') AS linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         count(*) AS n_rows
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "cls_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
           ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "cls_winsorize" ->
      """WITH b AS (SELECT l_returnflag AS flag,
           quantile_cont(l_extendedprice, 0.25) AS lo,
           quantile_cont(l_extendedprice, 0.75) AS hi
         FROM lineitem GROUP BY 1)
       SELECT l_returnflag,
         round(min(lo), 4) AS p25,
         round(min(hi), 4) AS p75,
         round(avg(least(greatest(l_extendedprice, lo), hi)), 4)
           AS w_avg,
         count(CASE WHEN l_extendedprice < lo THEN 1 END) AS n_clip_lo,
         count(CASE WHEN l_extendedprice > hi THEN 1 END) AS n_clip_hi,
         count(*) AS n
       FROM lineitem JOIN b ON l_returnflag = flag
       GROUP BY l_returnflag ORDER BY l_returnflag""",
    "cls_percentiles" ->
      """SELECT l_returnflag, l_linestatus,
         round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25,
         round(quantile_cont(l_quantity, 0.5), 4) AS qty_p50,
         round(quantile_cont(l_quantity, 0.75), 4) AS qty_p75,
         round(median(l_extendedprice), 4) AS price_median
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "cls_asof_tol" ->
      """SELECT l.event_id, l.user_id, l.ts,
         round(l.value, 4) AS purchase_value,
         CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
              THEN r.ts END AS view_ts,
         CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
              THEN round(r.view_value, 4) END AS view_value
         FROM (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS view_value
                         FROM events WHERE event_type = 'view'
                         GROUP BY user_id, ts) r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "cls_gap_sessions" ->
      """SELECT event_id, user_id, ts,
         CAST(sum(CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         FROM (SELECT event_id, user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_ts
               FROM events)
         ORDER BY event_id""",
    "cls_gap_sliced" ->
      """SELECT event_id, user_id, ts,
         CAST(sum(CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         FROM (SELECT event_id, user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_ts
               FROM events)
         ORDER BY event_id""",
    "cls_skew_join" ->
      """SELECT o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "cls_asof_join" ->
      """SELECT l.event_id, l.user_id, l.ts,
         round(l.value, 4) AS purchase_value,
         r.ts AS view_ts, round(r.view_value, 4) AS view_value
         FROM (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS view_value
                         FROM events WHERE event_type = 'view'
                         GROUP BY user_id, ts) r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "cls_asof_sliced" ->
      """SELECT l.event_id, l.user_id, l.ts,
         round(l.value, 4) AS purchase_value,
         r.ts AS view_ts, round(r.view_value, 4) AS view_value
         FROM (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS view_value
                         FROM events WHERE event_type = 'view'
                         GROUP BY user_id, ts) r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "cls_asof_nearest" ->
      """SELECT event_id, user_id, ts, purchase_value, view_ts, view_value
         FROM (SELECT l.event_id, l.user_id, l.ts,
                 round(l.value, 4) AS purchase_value,
                 r.ts AS view_ts, round(r.view_value, 4) AS view_value,
                 row_number() OVER (PARTITION BY l.event_id
                   ORDER BY abs(epoch_us(l.ts) - epoch_us(r.ts)), r.ts
                 ) AS rk
               FROM (SELECT event_id, user_id, ts, value FROM events
                     WHERE event_type = 'purchase') l
               LEFT JOIN (SELECT user_id, ts, max(value) AS view_value
                          FROM events WHERE event_type = 'view'
                          GROUP BY user_id, ts) r
                 ON l.user_id = r.user_id)
         WHERE rk = 1 ORDER BY event_id""",
    "cls_asof_nearest_sliced" ->
      """SELECT event_id, user_id, ts, purchase_value, view_ts, view_value
         FROM (SELECT l.event_id, l.user_id, l.ts,
                 round(l.value, 4) AS purchase_value,
                 r.ts AS view_ts, round(r.view_value, 4) AS view_value,
                 row_number() OVER (PARTITION BY l.event_id
                   ORDER BY abs(epoch_us(l.ts) - epoch_us(r.ts)), r.ts
                 ) AS rk
               FROM (SELECT event_id, user_id, ts, value FROM events
                     WHERE event_type = 'purchase') l
               LEFT JOIN (SELECT user_id, ts, max(value) AS view_value
                          FROM events WHERE event_type = 'view'
                          GROUP BY user_id, ts) r
                 ON l.user_id = r.user_id)
         WHERE rk = 1 ORDER BY event_id""",
    "cls_asof_join_fwd" ->
      """SELECT l.event_id, l.user_id, l.ts,
         round(l.value, 4) AS purchase_value,
         r.ts AS view_ts, round(r.view_value, 4) AS view_value
         FROM (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS view_value
                         FROM events WHERE event_type = 'view'
                         GROUP BY user_id, ts) r
           ON l.user_id = r.user_id AND l.ts <= r.ts
         ORDER BY l.event_id""",
    "cls_range_join" ->
      """SELECT o_orderkey, count(e.event_id) AS n_events
         FROM orders o LEFT JOIN events e
           ON e.user_id = o.o_custkey
          AND e.ts >= o.o_orderdate
          AND e.ts < o.o_orderdate + INTERVAL 7 DAY
         GROUP BY o_orderkey ORDER BY o_orderkey""",
    "cls_range_left" ->
      """SELECT e.event_id, o.o_orderkey
         FROM events e LEFT JOIN orders o
           ON e.user_id = o.o_custkey
          AND e.ts >= o.o_orderdate
          AND e.ts < o.o_orderdate + INTERVAL 7 DAY
         ORDER BY e.event_id, o.o_orderkey""",
    "cls_interval_overlap" ->
      """SELECT e.event_id AS error_id, c.event_id AS click_id
         FROM (SELECT user_id, event_id, ts AS es,
                 ts + INTERVAL 4 HOUR AS ee
               FROM events WHERE event_type = 'error') e
         JOIN (SELECT user_id, event_id, ts AS cs,
                 ts + INTERVAL 1 HOUR AS ce
               FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id AND e.es < c.ce AND c.cs < e.ee
         ORDER BY error_id, click_id""",
    "cls_rolling_revenue" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
         round(sum(o_totalprice) OVER w, 4) AS rev_30d,
         count(*) OVER w AS n_orders_30d
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "cls_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
         coalesce(l_linestatus, 'ALL') AS linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         count(*) AS n_rows
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "cls_pivot" ->
      """SELECT l_returnflag,
         round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4)
           AS qty_f,
         round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4)
           AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "cls_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "cls_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1998-06-30'
           AND l_shipdate > TIMESTAMP '1998-06-30'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, l_orderkey
         LIMIT 10""",
    "cls_regional_revenue" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem, orders, customer, supplier, nation, region
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
         GROUP BY n_name ORDER BY n_name""",
    "cls_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                       AND o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "cls_anti_join" ->
      """SELECT p_partkey, p_brand, p_type FROM part
         WHERE NOT EXISTS (SELECT 1 FROM lineitem
           WHERE l_partkey = p_partkey
             AND l_shipdate < TIMESTAMP '1996-01-01')
         ORDER BY p_partkey""",
    "cls_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS totalprice,
                rank
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rank
               FROM orders) WHERE rank <= 2
         ORDER BY o_custkey, rank""")
}
