package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming N-stage ordered funnel — the stream twin of
  * [[graft.operators.Funnel]]: per entity, emit a row the moment a
  * funnel stage is completed (first stage-k event strictly after the
  * stage-k-1 time). Same watermark-and-buffer state machine as
  * [[StreamingAsOfDualLate]]: rows buffer
  * until the watermark passes them, then fold in ascending event-time
  * order — so an out-of-order arrival inside the lateness window
  * lands in the right funnel position, and the fold provably equals
  * the batch operator (ascending order makes "strictly after the
  * previous stage's FINAL time" decidable row by row: any event that
  * could qualify for stage k sorts after the event that fixed stage
  * k-1, and instant ties are excluded by the strict inequality either
  * way).
  *
  * Output is append-mode stage completions (entity, stage, stage_idx,
  * time) — each stage emits at most once per entity, when it first
  * completes. The streamed completion SET equals the batch
  * [[graft.operators.Funnel.stageTimes]] non-null cells over the
  * closed window (StreamingFunnelSpec, random chops with one-batch
  * holdback).
  *
  * State per entity: N stage slots + the buffer of rows inside the
  * lateness window — O(entities + late window), independent of
  * history. An event later than the watermark delay is dropped by
  * Spark's admission filter before the state machine sees it: a
  * too-late stage event can only UNDER-fill the funnel (never
  * mis-order it) — the visible-not-wrong watermark trade every late
  * machine here documents.
  */
object StreamingFunnel {

  /** Input after projection: entity, event type, event-time (µs) and
    * the watermark column. */
  case class FEvent(ent: Long, etype: String, tsUs: Long,
      ets: java.sql.Timestamp)

  /** times(i) = completion µs of stage i (None = not reached);
    * pending = (etype, tsUs) rows above the watermark. */
  case class FState(times: Seq[Option[Long]],
      pending: Seq[(String, Long)])

  case class StageHit(ent: Long, stage: String, stage_idx: Int,
      tsUs: Long)

  def processEntity(stages: Seq[String])(ent: Long,
      it: Iterator[FEvent], state: GroupState[FState])
      : Iterator[StageHit] = {
    val st0 = state.getOption
      .getOrElse(FState(Seq.fill(stages.length)(None), Nil))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val (ready, pending) =
      (st0.pending ++ it.map(e => (e.etype, e.tsUs)))
        .partition(_._2 <= wmUs)
    val times = st0.times.toArray
    val hits = Seq.newBuilder[StageHit]
    ready.sortBy(_._2).foreach { case (etype, ts) =>
      val i = stages.indexOf(etype)
      if (i >= 0 && times(i).isEmpty &&
        (i == 0 || times(i - 1).exists(_ < ts))) {
        times(i) = Some(ts)
        hits += StageHit(ent, etype, i, ts)
      }
    }
    state.update(FState(times.toSeq, pending))
    if (pending.nonEmpty)
      state.setTimeoutTimestamp(math.max(
        pending.map(_._2).min / 1000L,
        state.getCurrentWatermarkMs() + 1L))
    hits.result().iterator
  }

  /** Run over a stream with columns (`entCol`: long, `typeCol`:
    * string, `timeCol`: timestamp), lateness bounded by `delay`. */
  def apply(events: DataFrame, entCol: String, typeCol: String,
      timeCol: String, stages: Seq[String],
      delay: String): Dataset[StageHit] = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"funnel stages must be non-empty and distinct, got $stages")
    import events.sparkSession.implicits._
    events
      .select(col(entCol).cast("long").as("ent"),
        col(typeCol).as("etype"),
        unix_micros(col(timeCol)).as("tsUs"),
        col(timeCol).as("ets"))
      // stage events only, BEFORE the watermark: non-stage rows never
      // reach (or occupy) the per-entity buffer, and the event-time
      // clock derives from the rows the funnel actually folds. (A
      // filter placed after withWatermark would not keep non-stage
      // rows on the clock anyway — Catalyst pushes a non-time
      // predicate below the EventTimeWatermark node.)
      .filter(col("etype").isin(stages: _*))
      .as[FEvent]
      .withWatermark("ets", delay)
      .groupByKey(_.ent)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(processEntity(stages))
  }
}
