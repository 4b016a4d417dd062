package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gantt timeline generation (SURVEY §2.8 G1–G4 + §2.7 W11;
  * `ref/RCO_subETL_Gantt_Data_generator.R:28-360`,
  * `App/etl/transform/machine_level.py:40-361`).
  *
  * For every (CO, machine), the reference walks the machine's downtime
  * events inside [CO start − 5 min, CO end + `minutesAfter`] and emits
  * plot points: a window-opening point, ±1s uptime bracket points around
  * each event (skipped for uptimes < 2s), downtime start/end points
  * (skipped for downtimes ≤ 1s), and window-closing points — with a
  * data-dependent "previous emitted point + 1s" rule and a final clamp
  * to the window end. Status codes: non-constraint pass 2=down/3=up;
  * constraint pass 1=CO event, 1.7=planned, 2.3=unplanned, 4=idle.
  *
  * Spark-first reformulation of the reference's triple loop:
  *  - (G1/G2) CO×event window assignment is a (LINE, time-bucket)
  *    equi-join with a range filter — Gantt windows of adjacent COs can
  *    overlap, so the disjoint-window as-of trick does not apply and an
  *    event may legitimately appear under several COs (as in the
  *    reference). The coarse bucket key bounds per-partition pairing by
  *    window width instead of history length — see [[assign]].
  *  - The "previous emitted point" recurrence collapses to a prefix
  *    scan: each event's LAST emitted point time is a pure function of
  *    the event row (`ownTime`), so "previous emitted time" =
  *    `last(ownTime, ignoreNulls)` over the preceding events — one
  *    window pass, no sequential state.
  *  - Point emission is an array-of-structs built with `when` guards +
  *    one `explode` (built-in Generator, SURVEY §2.12) — 0–4 points per
  *    event plus per-group opening/closing rows from an aggregate.
  *  - (W11) the start-time monotonic correction is lead/lag windows
  *    over (CO, machine, seq).
  *
  * Deterministic deviations from the reference (SURVEY §7.4: where the
  * reference depends on frame order, we define a total order):
  *  - events order within a window is (START_EPOCH, dtid);
  *  - the W11 guard `time > prev_time + 1` uses the ORIGINAL previous
  *    point time within the same (CO, machine) group, not the
  *    possibly-already-mutated global predecessor row.
  *
  * All times are epoch-second doubles; minute→second conversions round-
  * trip exactly like the reference (`x*60` … `/60`) so the DuckDB twin
  * [[GanttGenerateSql]] reproduces bit-identical doubles.
  */
object GanttGenerate {

  val MinutesBefore = 5
  /** `Minutes_to_take_Machine_data_after_CO` site parameter. */
  val MinutesAfter = 15

  private val wCoM = Window.partitionBy("CO_Identifier", "MACHINE")

  /** Canonical constraint-machine log: the configured constraint
    * machines (F1) + the J6 CO-event flag from the session log (left
    * join + fill 0, `App/etl/transform/machine_level.py:212-215`).
    * Single construction point shared by the query wiring and RcoEtl —
    * the SQL twin is [[GanttGenerateSql.consCte]]. */
  def constraintLog(fullLog: DataFrame, sessionized: DataFrame,
      machineSuffixes: Seq[String]): DataFrame =
    SitePredicates.constraintFilter(fullLog, machineSuffixes)
      .join(sessionized.select(col("LINE"), col("downtime_id")).distinct()
        .withColumn("CO_Event", lit(1)),
        Seq("LINE", "downtime_id"), "left")
      .na.fill(0, Seq("CO_Event"))

  /** Coarse time-bucket width for [[assign]]'s join key (seconds). Gantt
    * windows are minutes-to-hours wide (CO duration + 20 min of pads), so
    * 6 h keeps the per-interval replication at ~1–2 buckets. */
  val BucketSeconds = 21600L

  /** Range-join stops to CO Gantt windows (G1 window filter:
    * event end > window start AND event start < window end).
    *
    * The join key is (LINE, coarse time bucket), not LINE alone: on a
    * full-history log a per-LINE join pairs |COs| × |events| per line
    * before the range filter — the history-length blowup, not a
    * window-width one. Both sides replicate each interval to every
    * `BucketSeconds` bucket it overlaps (`sequence` + `explode`; ~1–2
    * buckets for these widths), and each qualifying (event, CO) pair is
    * emitted exactly once: by the bucket containing the overlap's start
    * `greatest(START_EPOCH, min_t)` — that instant lies inside both
    * intervals, so exactly one replicated pair of copies matches the
    * guard. Per-partition pairing is then bounded by window width per
    * bucket, independent of history length. */
  def assign(coAgg: DataFrame, stops: DataFrame): DataFrame = {
    val W = lit(BucketSeconds)
    def buckets(lo: Column, hi: Column) =
      explode(sequence(floor(lo / W), floor(hi / W)))
    val co = coAgg.select(col("CO_Identifier"), col("LINE"),
      (col("CO_Start_EPOCH") - MinutesBefore * 60).as("min_t"),
      (col("CO_End_EPOCH") + MinutesAfter * 60).as("max_t"))
      .withColumn("__bkt", buckets(col("min_t"), col("max_t")))
    stops
      .withColumn("__bkt", buckets(col("START_EPOCH"), col("END_EPOCH")))
      .join(co, Seq("LINE", "__bkt"))
      .filter(col("END_EPOCH") > col("min_t") &&
        col("START_EPOCH") < col("max_t") &&
        col("__bkt") === floor(greatest(col("START_EPOCH"), col("min_t")) / W))
      .drop("__bkt")
  }

  /** Point-emission kernel shared by both passes.
    *
    * One linear pipeline (r19): the group-closing pair and the final
    * clamp ride the SAME per-row point array instead of a separate
    * aggregate + union + post-explode window. `own_time` is by
    * construction the time of the LAST point its row emits, so the
    * group's final emitted point is fully described by one
    * full-frame window aggregate over the already-sorted partition:
    * `max(struct(rn, own_time))` over emitting rows gives (last
    * emitting rn, its time). The closing pair attaches to the
    * group's last row as two more conditional array slots, and the
    * clamp rewrites the final element of the last emitting row's
    * array in place (clamp and closing are mutually exclusive:
    * overrun ⇒ no closing pair). This removes, per Gantt table: the
    * closing-pair aggregate job, the union (which discarded the
    * (CO, MACHINE) partitioning), the post-explode max(seq) window
    * pass over the full point table, and the `ranked` pin (single
    * consumer now — nothing to share). The emitted (t, s, pk, seq)
    * multiset is IDENTICAL — GanttPropertySpec's differential
    * transcription and the rco_gantt oracle pin it.
    *
    * @param statusCol per-event downtime status (2 for non-constraint;
    *                  1/1.7/2.3/4 for the constraint pass) */
  def points(assigned: DataFrame, statusCol: Column): DataFrame = {
    val wRn = wCoM.orderBy(col("START_EPOCH"), col("dtid"))
    // not pinned: the frame has one consumer here, the bench clears
    // its cache before every rep, and RcoEtl.load checkpoints each
    // table's frame for its probe+write pair; a pin would only nest
    // this plan inside every Gantt plan built on it
    val ranked = assigned
      .withColumn("st", statusCol.cast("double"))
      // project BEFORE the per-(CO, machine) sort: the assigned stream
      // carries every log column (comments, causes, attribution
      // strings) but the point kernel needs only these — the window
      // sort otherwise pays the full row width
      .select(col("CO_Identifier"), col("LINE"), col("MACHINE"),
        col("min_t"), col("max_t"), col("START_EPOCH"), col("END_EPOCH"),
        col("DOWNTIME"), col("UPTIME"), col("dtid"), col("downtime_id"),
        col("st"))
      .withColumn("rn", row_number().over(wRn))
      .withColumn("dt_sec", col("DOWNTIME") * 60)
      .withColumn("up_sec", col("UPTIME") * 60)
      .withColumn("prev_up_end", col("START_EPOCH") - col("up_sec"))
      .withColumn("case_a",
        col("rn") === 1 && col("min_t") < col("START_EPOCH") &&
          col("min_t") > col("prev_up_end"))
      // time of the LAST point this event emits (null = emits none)
      .withColumn("own_time",
        when(col("rn") === 1,
          when(col("dt_sec") > 1, col("END_EPOCH"))
            .when(col("case_a"), col("START_EPOCH"))
            .otherwise(col("min_t")))
          .otherwise(
            when(col("dt_sec") > 1, col("END_EPOCH"))
              .when(col("up_sec") >= 2, col("START_EPOCH") - 1)))
      .withColumn("last_prev",
        last(col("own_time"), ignoreNulls = true)
          .over(wRn.rowsBetween(Window.unboundedPreceding, -1)))
      // group summary, same exchange+sort (full-frame aggregates over
      // wCoM plan as additional Window passes, no second shuffle):
      // (last emitting rn, its own_time) — null when no row emits —
      // and the group's last rn, the closing pair's anchor. The
      // struct max picks the greatest rn among EMITTING rows (the
      // FILTER of the old max_by): a null own_time row contributes
      // no struct.
      .withColumn("__lf",
        max(when(col("own_time").isNotNull,
          struct(col("rn"), col("own_time")))).over(wCoM))
      .withColumn("__max_rn", max(col("rn")).over(wCoM))

    def pt(t: Column, s: Column, pk: Column, seq: Column) =
      struct(t.as("t"), s.as("s"), pk.as("pk"), seq.cast("long").as("seq"))
    val pk = col("downtime_id")
    val three = lit(3.0)

    // emitted points of THIS row (nulls filtered below)
    val slots = array(
      // rn=1: window-opening point (status 3 when the boundary cuts
      // the first event's preceding uptime, else the event status)
      when(col("rn") === 1,
        pt(col("min_t"), when(col("case_a"), three).otherwise(col("st")),
          pk, lit(10))),
      // rn=1 case A: uptime bracket end + event start
      when(col("case_a"), pt(col("START_EPOCH") - 1, three, pk, lit(11))),
      when(col("case_a"), pt(col("START_EPOCH"), col("st"), pk, lit(12))),
      when(col("rn") === 1 && col("dt_sec") > 1,
        pt(col("END_EPOCH"), col("st"), pk, lit(13))),
      // rn>1: uptime bracket (previous emitted point + 1s, start − 1s)
      when(col("rn") > 1 && col("up_sec") >= 2,
        pt(col("last_prev") + 1, three, pk, col("rn") * 10)),
      when(col("rn") > 1 && col("up_sec") >= 2,
        pt(col("START_EPOCH") - 1, three, pk, col("rn") * 10 + 1)),
      // rn>1: downtime start/end
      when(col("rn") > 1 && col("dt_sec") > 1,
        pt(col("START_EPOCH"), col("st"), pk, col("rn") * 10 + 2)),
      when(col("rn") > 1 && col("dt_sec") > 1,
        pt(col("END_EPOCH"), col("st"), pk, col("rn") * 10 + 3)),
      // closing uptime pair (+1s after the group's final point, max_t)
      // — on the group's LAST row, when the final point does not
      // overrun the window (a no-emission group has null __lf: the
      // null comparison keeps both slots null, like the old
      // `last_final <= max_t` filter on a null aggregate)
      when(col("rn") === col("__max_rn") &&
        col("__lf.own_time") <= col("max_t"),
        pt(col("__lf.own_time") + 1, three, lit(""),
          (col("__max_rn") + 1) * 10)),
      when(col("rn") === col("__max_rn") &&
        col("__lf.own_time") <= col("max_t"),
        pt(col("max_t"), three, lit(""), (col("__max_rn") + 1) * 10 + 1)))
    val emitted = filter(slots, x => x.isNotNull)
    // clamp: this row emitted the group's final point (the group-max
    // seq lives in the last array element of the last EMITTING row —
    // own_time is that element's t by construction) and it overruns
    // max_t; closing slots are null then (own_time > max_t), so the
    // last element is the overrunning point itself
    val isClampRow = col("rn") === col("__lf.rn") &&
      col("__lf.own_time") > col("max_t")
    val arr = when(isClampRow,
      transform(emitted, (x, i) =>
        when(i === size(emitted) - 1,
          pt(col("max_t"), x.getField("s"), x.getField("pk"),
            x.getField("seq")))
          .otherwise(x)))
      .otherwise(emitted)

    ranked.select(
      col("CO_Identifier"), col("LINE"), col("MACHINE"), col("max_t"),
      explode(arr).as("p"))
      .select(col("CO_Identifier"), col("LINE"), col("MACHINE"),
        col("max_t"), col("p.t").as("t"), col("p.s").as("s"),
        col("p.pk").as("pk"), col("p.seq").as("seq"))
  }

  /** W11 start-time monotonic correction + NA-status fill. */
  def corrected(pts: DataFrame): DataFrame = {
    val wSeq = wCoM.orderBy(col("seq"))
    pts
      .withColumn("s", coalesce(col("s"), lit(2.3)))
      .withColumn("__lead_t", lead(col("t"), 1).over(wSeq))
      .withColumn("__lead_s", lead(col("s"), 1).over(wSeq))
      .withColumn("__lag_t", lag(col("t"), 1).over(wSeq))
      .withColumn("StartTime",
        when(col("__lead_t").isNotNull && col("__lag_t").isNotNull &&
          col("t") >= col("__lead_t") && col("s") =!= col("__lead_s") &&
          col("t") > col("__lag_t") + 1, col("t") - 1)
          .otherwise(col("t")))
      .select(col("CO_Identifier"), col("LINE").as("Line"),
        col("MACHINE").as("Machine"), col("seq"), col("StartTime"),
        col("s").as("Downtime_Status"), col("pk").as("downtime_id"))
  }

  /** Constraint status: 1=CO event, 1.7=planned, 2.3=unplanned, 4=idle
    * (`ref/RCO_subETL_Gantt_Data_generator.R:285`). */
  val constraintStatus: Column =
    when(col("CO_Event") === 1, 1.0)
      .when(col("Planned_Stop_Check") === 1, 1.7)
      .when(col("Idle_Check") === 0, 2.3)
      .otherwise(4.0)

  /** Restrict the constraint log to single-constraint lines — the
    * constraint pass and the G3 removal only apply there
    * (`ref/RCO_subETL_Gantt_Data_generator.R:243,388-405`); a
    * multi-constraint line keeps ALL its machines in the
    * non-constraint pass. `constraintCounts` = (LINE,
    * Number_of_Constraints); None ⇒ every line is single-constraint. */
  private def singleConstraintLog(constraintLog: DataFrame,
      constraintCounts: Option[DataFrame]): DataFrame =
    constraintCounts match {
      case None => constraintLog
      case Some(cc) => constraintLog.join(
        broadcast(cc.filter(col("Number_of_Constraints") === 1)
          .select(col("LINE"))),
        Seq("LINE"), "left_semi")
    }

  /** Per-row status column name carried by [[taggedLog]]. */
  val StatusCol = "__gantt_st"

  /** The machine log with the G3 split and the G2 status folded into
    * ONE frame: single-constraint lines' constraint machines carry the
    * constraint status codes (their rows come from the constraint log,
    * which has the J6 CO-event flag), every other row carries status 2.
    * The two passes' (CO, machine) groups are disjoint by construction
    * — the non-constraint side anti-joins the constraint machines away
    * (G3) — so ONE assignment join + ONE point-kernel pass over this
    * union is exactly the union of the reference's two passes, at half
    * the window sorts and half the assignment shuffles. */
  def taggedLog(machineLog: DataFrame, constraintLog: DataFrame,
      constraintCounts: Option[DataFrame] = None): DataFrame = {
    val consLog = singleConstraintLog(constraintLog, constraintCounts)
    val constraintMachines = consLog
      .select(col("LINE"), col("MACHINE")).distinct()
    val keep = machineLog.columns.map(col)
    machineLog
      .join(constraintMachines, Seq("LINE", "MACHINE"), "left_anti")
      .select((keep :+ lit(2.0).as(StatusCol)).toSeq: _*)
      .unionByName(
        consLog.select((keep :+ constraintStatus.as(StatusCol)).toSeq: _*))
  }

  /** One shared window assignment for BOTH Gantt outputs: [[assign]]
    * over the [[taggedLog]]. An orchestrator computing Gantt_Data AND
    * Event_Log_for_Gantt pins this once — the assignment join is the
    * Gantt chain's expensive stage and both tables derive from it. */
  def assignedTagged(coAgg: DataFrame, machineLog: DataFrame,
      constraintLog: DataFrame,
      constraintCounts: Option[DataFrame] = None): DataFrame =
    assign(coAgg, taggedLog(machineLog, constraintLog, constraintCounts))

  /** Gantt_Data from a (possibly shared) [[assignedTagged]] frame. */
  def ganttDataFromAssigned(assigned: DataFrame): DataFrame =
    corrected(points(assigned, col(StatusCol)))

  /** Event_Log_for_Gantt from the same frame. */
  def eventLogFromAssigned(assigned: DataFrame): DataFrame = {
    val cols = Seq("START_TIME", "DOWNTIME", "UPTIME", "Fault",
      "CAUSE_LEVELS_1_NAME", "CAUSE_LEVELS_2_NAME", "CAUSE_LEVELS_3_NAME",
      "CAUSE_LEVELS_4_NAME", "BRANDCODE", "OPERATOR_COMMENT",
      "LINE", "MACHINE", "downtime_id", "CO_Identifier")
    assigned.select(cols.map(col): _*)
      // reference round-trips minutes→seconds→minutes then rounds
      .withColumn("DOWNTIME", round(col("DOWNTIME") * 60 / 60, 2))
      .withColumn("UPTIME", round(col("UPTIME") * 60 / 60, 2))
  }
}
