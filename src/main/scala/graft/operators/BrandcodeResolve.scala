package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Before/after brandcode per CO — the as-of/interval lookup cluster
  * (SURVEY §2.5 J7 + §2.7 W6; `ref/RCO_MES_ETL.R:177-229`,
  * `App/etl/transform/mes_etl.py:156-221`).
  *
  * Reference semantics, per CO (ordered within LINE):
  *  - exploration bounds: previous CO's end (or CO start − 60 min for
  *    the line's first CO) and next CO's start (or CO end + 60 min for
  *    the line's last CO);
  *  - Current_BRANDCODE = brandcode of the LAST full-log event with
  *    START ∈ (prev_end, co_start], preferring events whose uptime
  *    start (START − UPTIME·60s) is strictly before co_start; '' if the
  *    window is empty;
  *  - Next_BRANDCODE = brandcode of the FIRST event (by START) with
  *    uptime start ∈ (co_start, next_start) whose brandcode differs from
  *    Current; = Current if the window has events but none differ; ''
  *    if the window is empty;
  *  - Brandcode_Status = 'Not Changed' iff Current == Next, else 'OK'.
  *
  * Spark-first reformulation (SURVEY §4 item 2) — the reference does
  * this with an O(COs × events) driver loop; a naive range join is
  * O(n·m) per line. Both lookups instead become LINEAR merged-stream
  * window scans, one shuffle each, by exploiting two invariants:
  *
  *  1. "last event with START ≤ co_start" is an as-of: union events and
  *     CO boundaries into one stream ordered by (t, kind) per LINE
  *     (events sort before COs at equal t, matching the inclusive ≤)
  *     and take `last(..., ignoreNulls)` over the preceding rows. The
  *     lower bound (> prev_end) only decides emptiness, so it becomes a
  *     post-hoc comparison. The uptime-start preference collapses to a
  *     point rule: uptime_start < co_start fails ONLY for an event AT
  *     co_start with UPTIME == 0 (us = START − UPTIME·60 ≤ START ≤
  *     co_start, with equality requiring both equalities); D1 dedup
  *     guarantees at most one event per (LINE, t), so that event — when
  *     it exists — is exactly the stream row before the CO row, and the
  *     "previous qualifying" fallback is the same window ending 2 rows
  *     back.
  *  2. The Next windows (co_start_i, co_start_{i+1}) are DISJOINT per
  *     line, so each event's owning CO is "latest CO with co_start <
  *     uptime_start" — another as-of (CO rows sort after events at
  *     equal t, matching the strict >), followed by one upper-bound
  *     filter (binds only for each line's last CO) and a groupBy(CO)
  *     with `min(struct(START, dtid, brand))` for the first differing
  *     brandcode.
  *
  * Keep in sync with [[BrandcodeResolveSql]] — which deliberately does
  * NOT mirror this plan: the oracle replays the reference's per-CO
  * loops as correlated subqueries, so the gate independently checks the
  * reformulation, not just the transcription.
  */
object BrandcodeResolve {

  /** @param coAgg   [[CoAggregate]] output
    * @param fullLog full (un-CO-filtered) deduped downtime log
    * @return coAgg keys + CO_StartTime, Current/Next_BRANDCODE,
    *         Brandcode_Status */
  def apply(coAgg: DataFrame, fullLog: DataFrame): DataFrame = {
    val wLine = Window.partitionBy("LINE").orderBy("CO_Start_EPOCH")
    // W6: neighbor bounds with the reference's 60-min edge defaults —
    // partitioning by LINE makes the cross-line sentinel checks of the
    // reference (`ref/RCO_MES_ETL.R:182-195`) the null/first/last case.
    val nbr = coAgg
      .select("CO_Identifier", "LINE", "CO_StartTime", "CO_Start_EPOCH",
        "CO_End_EPOCH")
      .withColumn("next_co_start",
        coalesce(lead(col("CO_Start_EPOCH"), 1).over(wLine),
          col("CO_End_EPOCH") + 3600))
      .withColumn("prev_co_end",
        coalesce(lag(col("CO_End_EPOCH"), 1).over(wLine),
          col("CO_Start_EPOCH") - 3600))

    val ev = fullLog.select(
      col("LINE"), col("START_EPOCH"), col("dtid"),
      col("BRANDCODE").as("ev_brand"), col("UPTIME").as("ev_uptime"),
      (col("START_EPOCH") - col("UPTIME") * 60).as("us"))

    // ---- Current pass: stream keyed at event START / CO start.
    val curStream = ev
      .select(col("LINE"), col("START_EPOCH").as("t"), lit(0).as("kind"),
        col("dtid"), col("ev_brand"), col("ev_uptime"))
      .unionByName(
        nbr.select(col("LINE"), col("CO_Start_EPOCH").as("t"),
          lit(1).as("kind"), lit(null).cast("long").as("dtid"),
          lit(null).cast("string").as("ev_brand"),
          lit(null).cast("double").as("ev_uptime"),
          col("CO_Identifier"), col("prev_co_end")),
        allowMissingColumns = true)

    val w = Window.partitionBy("LINE").orderBy(col("t"), col("kind"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp2 = w.rowsBetween(Window.unboundedPreceding, -2)
    val evBrand = when(col("kind") === 0, col("ev_brand"))
    val evT = when(col("kind") === 0, col("t"))

    val zeroUpAtBoundary = col("s_any") === col("t") && col("u_any") === 0
    val current = curStream
      .withColumn("b_any", last(evBrand, ignoreNulls = true).over(wc))
      .withColumn("s_any", last(evT, ignoreNulls = true).over(wc))
      .withColumn("u_any",
        last(when(col("kind") === 0, col("ev_uptime")), ignoreNulls = true)
          .over(wc))
      .withColumn("b_pref", last(evBrand, ignoreNulls = true).over(wp2))
      .withColumn("s_pref", last(evT, ignoreNulls = true).over(wp2))
      .filter(col("kind") === 1)
      .withColumn("t1_b",
        when(zeroUpAtBoundary, col("b_pref")).otherwise(col("b_any")))
      .withColumn("t1_s",
        when(zeroUpAtBoundary, col("s_pref")).otherwise(col("s_any")))
      .withColumn("Current_BRANDCODE",
        when(col("t1_s").isNotNull && col("t1_s") > col("prev_co_end"),
          col("t1_b"))
          .when(col("s_any").isNotNull && col("s_any") > col("prev_co_end"),
            col("b_any"))
          .otherwise(lit("")))
      .select(col("CO_Identifier"), col("Current_BRANDCODE"))

    // one row per CO; consumed by the Next stream AND the final join —
    // cut so the Current pass (union + two window sorts) runs once; a
    // pin over a cut `coAgg` stops matching once a consumer's self-join
    // re-instances that leaf, and each consumer would recompute it
    val co = CacheScope.cut(nbr.join(current, Seq("CO_Identifier")))

    // ---- Next pass: stream keyed at event uptime-start / CO start.
    val nextStream = ev
      .select(col("LINE"), col("us").as("t"), lit(0).as("kind"),
        col("dtid"), col("ev_brand"), col("START_EPOCH"))
      .unionByName(
        co.select(col("LINE"), col("CO_Start_EPOCH").as("t"),
          lit(1).as("kind"), lit(null).cast("long").as("dtid"),
          lit(null).cast("string").as("ev_brand"),
          lit(null).cast("double").as("START_EPOCH"),
          col("CO_Identifier"), col("next_co_start"),
          col("Current_BRANDCODE")),
        allowMissingColumns = true)

    val w2 = Window.partitionBy("LINE")
      .orderBy(col("t"), col("kind"), col("dtid"))
    val wc2 = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def coVal(c: String) = when(col("kind") === 1, col(c))

    val assigned = nextStream
      .withColumn("co_id", last(coVal("CO_Identifier"), true).over(wc2))
      .withColumn("co_next", last(coVal("next_co_start"), true).over(wc2))
      .withColumn("co_cur", last(coVal("Current_BRANDCODE"), true).over(wc2))
      .filter(col("kind") === 0 && col("co_id").isNotNull &&
        col("t") < col("co_next"))

    val nextAgg = assigned
      .groupBy(col("co_id").as("CO_Identifier"))
      .agg(
        count(lit(1)).as("n_win"),
        min(when(col("ev_brand") =!= col("co_cur"),
          struct(col("START_EPOCH"), col("dtid"), col("ev_brand"))))
          .as("fd"))

    co.join(nextAgg, Seq("CO_Identifier"), "left")
      .withColumn("Next_BRANDCODE",
        when(col("n_win").isNull, lit(""))
          .otherwise(coalesce(col("fd.ev_brand"), col("Current_BRANDCODE"))))
      .withColumn("Brandcode_Status",
        when(col("Current_BRANDCODE") === col("Next_BRANDCODE"),
          "Not Changed").otherwise("OK"))
      .select("CO_Identifier", "LINE", "CO_StartTime", "Current_BRANDCODE",
        "Next_BRANDCODE", "Brandcode_Status")
  }
}

/** DuckDB twin of [[BrandcodeResolve]] — correlated-subquery transcription
  * of the reference's per-CO loops (`ref/RCO_MES_ETL.R:203-227`), NOT the
  * Spark merged-stream plan, so the two derivations check each other. */
object BrandcodeResolveSql {

  /** CTE chain `nbr … bc` over existing `dt` and `agg` CTEs. */
  val bcCte: String =
    """nbr AS (SELECT *,
      coalesce(lead(CO_Start_EPOCH) OVER lw, CO_End_EPOCH + 3600)
        AS next_co_start,
      coalesce(lag(CO_End_EPOCH) OVER lw, CO_Start_EPOCH - 3600)
        AS prev_co_end
      FROM agg WINDOW lw AS (PARTITION BY LINE ORDER BY CO_Start_EPOCH)),
    ful AS (SELECT LINE, BRANDCODE, START_EPOCH, dtid,
      START_EPOCH - UPTIME * 60 AS us FROM dt),
    cur AS (SELECT n.*, coalesce((
        SELECT f.BRANDCODE FROM ful f
        WHERE f.LINE = n.LINE AND f.START_EPOCH > n.prev_co_end
          AND f.START_EPOCH <= n.CO_Start_EPOCH
        ORDER BY (CASE WHEN f.us < n.CO_Start_EPOCH THEN 1 ELSE 0 END) DESC,
          f.START_EPOCH DESC, f.dtid DESC
        LIMIT 1), '') AS Current_BRANDCODE
      FROM nbr n),
    nxt AS (SELECT c.*,
      (SELECT count(*) FROM ful f WHERE f.LINE = c.LINE
         AND f.us > c.CO_Start_EPOCH AND f.us < c.next_co_start) AS n_win,
      (SELECT f.BRANDCODE FROM ful f WHERE f.LINE = c.LINE
         AND f.us > c.CO_Start_EPOCH AND f.us < c.next_co_start
         AND f.BRANDCODE <> c.Current_BRANDCODE
         ORDER BY f.START_EPOCH, f.dtid LIMIT 1) AS fd
      FROM cur c),
    bc AS (SELECT *,
      CASE WHEN n_win = 0 THEN ''
           ELSE coalesce(fd, Current_BRANDCODE) END AS Next_BRANDCODE
      FROM nxt)"""
}
