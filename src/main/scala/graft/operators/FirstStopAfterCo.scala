package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First unplanned stop after each CO + total uptime till the next CO
  * (SURVEY §2.3 F10, §2.7 W8/W9, §2.6 A9;
  * `ref/RCO_subETL_First_Stop_after_CO.R`).
  *
  * Reference semantics, per CO (per line, ordered by CO start):
  *  - window = [CO_EndTime, next CO's CO_StartTime); for the line's last
  *    CO, [CO_EndTime, CO_EndTime + 30 days);
  *  - over ALL full-log events in the window (start order), accumulate
  *    `Uptime_cumul` (running UPTIME — R-authoritative; the Python port
  *    accumulates only DOWNTIME, a documented divergence, SURVEY §7.4b);
  *  - the first event with Planned_Stop_Check=0, Idle_Check=0 and not
  *    excluded is the CO's first-stop row (a CO may have none);
  *  - Total_Uptime_till_Next_CO = sum(UPTIME) over ALL window events,
  *    plus — when a next CO exists — the UPTIME of the next CO's first
  *    event (`ref/RCO_subETL_First_Stop_after_CO.R:69-83`), rounded to 2.
  *
  * Spark-first reformulation: the reference is a triple-nested driver
  * loop (line × CO × event). The windows [end_i, start_{i+1}) are
  * DISJOINT per line (end_{i+1} ≥ start_{i+1} = window i's upper
  * bound), so each event's owning CO is "latest CO with start ≤ event
  * start, provided event start ≥ that CO's end and < its upper bound" —
  * an as-of assignment over one merged stream per LINE (CO boundary
  * rows sort before events at equal t, matching the inclusive lower
  * bound), then plain windows/aggregates keyed by CO_Identifier. Linear,
  * two shuffles, holds at any scale.
  *
  * Keep in sync with [[FirstStopAfterCoSql]] (which transcribes the
  * reference loops as lateral/correlated subqueries instead — the gate
  * checks the reformulation independently).
  */
object FirstStopAfterCo {

  val ThirtyDaysSec = 30 * 86400

  /** CO bound rows: coAgg + win_hi + the next CO's first-event uptime. */
  private[operators] def bounds(coAgg: DataFrame): DataFrame = {
    val wLine = Window.partitionBy("LINE").orderBy("CO_Start_EPOCH")
    coAgg
      .select("CO_Identifier", "LINE", "CO_Start_EPOCH", "CO_End_EPOCH",
        "first_ev_UPTIME")
      .withColumn("win_hi",
        coalesce(lead(col("CO_Start_EPOCH"), 1).over(wLine),
          col("CO_End_EPOCH") + ThirtyDaysSec))
      .withColumn("next_first_ev_UPTIME",
        lead(col("first_ev_UPTIME"), 1).over(wLine))
  }

  /** Events of the full log, each assigned to the CO whose after-window
    * contains it (dropped if none), with running Uptime_cumul. */
  def assignedStops(coAgg: DataFrame, fullLog: DataFrame): DataFrame = {
    val co = bounds(coAgg)
    // Merged stream: CO rows (kind 0) sort BEFORE events (kind 1) at
    // equal t — the window's lower bound is INCLUSIVE in the reference
    // (`START_TIME >= CO_EndTime`… keyed here on CO start for the as-of;
    // an event at exactly the next CO's start belongs to that next CO).
    val stream = co
      .select(col("LINE"), col("CO_Start_EPOCH").as("t"), lit(0).as("kind"),
        lit(null).cast("long").as("dtid"), col("CO_Identifier"),
        col("CO_End_EPOCH"), col("win_hi"))
      .unionByName(
        fullLog.select(col("LINE"), col("START_EPOCH").as("t"),
          lit(1).as("kind"), col("dtid"), col("downtime_id"),
          col("START_TIME"), col("DOWNTIME"), col("UPTIME"),
          col("BRANDCODE"), col("CAUSE_LEVELS_1_NAME"),
          col("CAUSE_LEVELS_2_NAME"), col("CAUSE_LEVELS_3_NAME"),
          col("CAUSE_LEVELS_4_NAME"), col("Fault"), col("OPERATOR_COMMENT"),
          col("Planned_Stop_Check"), col("Idle_Check"), col("isExcluded")),
        allowMissingColumns = true)

    val w = Window.partitionBy("LINE").orderBy(col("t"), col("kind"),
      col("dtid"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def coVal(c: String) = when(col("kind") === 0, col(c))

    val assigned = stream
      .withColumn("co_id", last(coVal("CO_Identifier"), true).over(wc))
      .withColumn("co_end", last(coVal("CO_End_EPOCH"), true).over(wc))
      .withColumn("co_hi", last(coVal("win_hi"), true).over(wc))
      .filter(col("kind") === 1 && col("co_id").isNotNull &&
        col("t") >= col("co_end") && col("t") < col("co_hi"))

    val wCo = Window.partitionBy("co_id").orderBy(col("t"), col("dtid"))
    assigned.withColumn("Uptime_cumul",
      sum(col("UPTIME")).over(
        wCo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** First_Stop_after_CO_Data: one row per CO that has an unplanned,
    * non-idle, non-excluded stop in its window.
    * @param assigned optionally a pre-materialized [[assignedStops]]
    *                 (both outputs share it; see `RcoEtl.Spine`). */
  def firstStops(coAgg: DataFrame, fullLog: DataFrame,
      assigned: Option[DataFrame] = None): DataFrame = {
    val wCo = Window.partitionBy("co_id").orderBy(col("t"), col("dtid"))
    assigned.getOrElse(assignedStops(coAgg, fullLog))
      .filter(col("Planned_Stop_Check") === 0 && col("Idle_Check") === 0 &&
        !col("isExcluded"))
      .withColumn("__rn", row_number().over(wCo))
      .filter(col("__rn") === 1)
      .select(col("START_TIME"), round(col("DOWNTIME"), 2).as("DOWNTIME"),
        round(col("UPTIME"), 2).as("UPTIME"),
        round(col("Uptime_cumul"), 2).as("Uptime_cumul"), col("Fault"),
        col("CAUSE_LEVELS_1_NAME"), col("CAUSE_LEVELS_2_NAME"),
        col("CAUSE_LEVELS_3_NAME"), col("CAUSE_LEVELS_4_NAME"),
        col("BRANDCODE"), col("OPERATOR_COMMENT"), col("LINE"),
        col("downtime_id"), col("co_id").as("CO_Identifier"))
  }

  /** Total_Uptime_till_Next_CO per CO (A9), joined back onto every CO. */
  def uptimeTillNextCo(coAgg: DataFrame, fullLog: DataFrame,
      assigned: Option[DataFrame] = None): DataFrame = {
    val winUptime = assigned.getOrElse(assignedStops(coAgg, fullLog))
      .groupBy(col("co_id").as("CO_Identifier"))
      .agg(sum(col("UPTIME")).as("__win_uptime"))
    bounds(coAgg)
      .join(winUptime, Seq("CO_Identifier"), "left")
      .select(col("CO_Identifier"), col("LINE"),
        round(coalesce(col("__win_uptime"), lit(0.0)) +
          coalesce(col("next_first_ev_UPTIME"), lit(0.0)), 2)
          .as("Total_Uptime_till_Next_CO"))
  }
}

/** DuckDB twin of [[FirstStopAfterCo]] — lateral/correlated transcription
  * of the reference's per-CO loops over existing `dt` and `agg` CTEs. */
object FirstStopAfterCoSql {

  /** `nb2`, `fstop`, `tot` CTEs. `fstop` = first-stop rows; `tot` = per-CO
    * totals. */
  val fsCte: String =
    s"""nb2 AS (SELECT *,
      coalesce(lead(CO_Start_EPOCH) OVER lw,
        CO_End_EPOCH + ${FirstStopAfterCo.ThirtyDaysSec}) AS win_hi,
      lead(first_ev_UPTIME) OVER lw AS next_first_ev_UPTIME
      FROM agg WINDOW lw AS (PARTITION BY LINE ORDER BY CO_Start_EPOCH)),
    fstop AS (SELECT n.CO_Identifier, n.LINE, s.* FROM nb2 n, LATERAL (
      SELECT * FROM (
        SELECT d.START_TIME, d.DOWNTIME, d.UPTIME, d.BRANDCODE,
          d.CAUSE_LEVELS_1_NAME, d.CAUSE_LEVELS_2_NAME,
          d.CAUSE_LEVELS_3_NAME, d.CAUSE_LEVELS_4_NAME,
          d.Fault, d.OPERATOR_COMMENT,
          d.downtime_id, d.dtid, d.START_EPOCH,
          d.Planned_Stop_Check, d.Idle_Check, d.isExcluded,
          sum(d.UPTIME) OVER (ORDER BY d.START_EPOCH, d.dtid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS Uptime_cumul
        FROM dt d WHERE d.LINE = n.LINE
          AND d.START_EPOCH >= n.CO_End_EPOCH
          AND d.START_EPOCH < n.win_hi)
      WHERE Planned_Stop_Check = 0 AND Idle_Check = 0 AND NOT isExcluded
      ORDER BY START_EPOCH, dtid LIMIT 1) s),
    tot AS (SELECT n.CO_Identifier, n.LINE,
      round(coalesce((SELECT sum(d.UPTIME) FROM dt d
          WHERE d.LINE = n.LINE AND d.START_EPOCH >= n.CO_End_EPOCH
            AND d.START_EPOCH < n.win_hi), 0)
        + coalesce(n.next_first_ev_UPTIME, 0), 2)
        AS Total_Uptime_till_Next_CO
      FROM nb2 n)"""
}
