package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Dual-stream as-of join — the case [[StreamingAsOf]]'s scaladoc
  * scopes out: the dimension is NOT a pinned snapshot but a stream of
  * versions, and every fact must be enriched with the latest version
  * at-or-before its event time (Flink's temporal table join, the
  * mutable-dimension shape: price updates joining trades, config
  * pushes joining telemetry).
  *
  * Formulation: both streams tag-union into one keyed stream
  * ([[Tagged]], side 0 = dimension version, side 1 = fact) and
  * `flatMapGroupsWithState` keyed by `k` folds each group-batch in
  * (event time, side) order through ONE tiny state record per key —
  * the newest dimension version seen so far. State is O(keys),
  * independent of history length: this is what makes the operator
  * runnable forever, and what prices the contract below.
  *
  * Ordering contract: rows must arrive in event-time order per key
  * ACROSS batches (within a batch the group iterator is sorted here).
  * Under that contract the result is EXACTLY the batch
  * [[graft.operators.TemporalJoins.asofBackward]] of the two streams'
  * union — StreamingAsOfDualSpec asserts it across
  * random time-ordered batch chops. A LATE fact (arriving after a
  * newer dimension version was folded in) cannot be matched from
  * single-version state; it is emitted UNMATCHED rather than matched
  * to a version from its future — the defensive `tUs <= fact.tUs`
  * check makes the failure mode visible instead of wrong. Sources that
  * can be late belong on [[StreamingAsOfDualLate]] — the same machine
  * behind a watermark-and-buffer stage — or on the batch operator over
  * closed windows.
  */
object StreamingAsOfDual {

  /** One row of the unified keyed stream: a dimension version
    * (side=0, `v` is the payload, `factId` unused) or a fact (side=1).
    * Times are epoch MICROseconds — the same precision the batch
    * operator compares at. */
  case class Tagged(k: String, tUs: Long, side: Int, factId: Long, v: String)

  /** Per-key state: the newest dimension version folded so far. */
  case class DimState(tUs: Long, v: String)

  /** An enriched fact; `asofTsUs`/`v` empty when no version at-or-
    * before the fact's time was known at processing time. */
  case class Enriched(k: String, factId: Long, tUs: Long,
      asofTsUs: Option[Long], v: Option[String])

  /** One group-batch step: fold rows in (time, side) order — version
    * rows update state (monotone: an out-of-order older version never
    * clobbers a newer one), fact rows read it. `toleranceSec` mirrors
    * the batch operator: a version older than `fact.tUs - tolerance`
    * does not match (the fact emits unmatched) — but it still LIVES in
    * state, because a later fact may fall back inside the window. */
  def processKey(toleranceSec: Option[Long])(key: String,
      it: Iterator[Tagged],
      state: GroupState[DimState]): Iterator[Enriched] = {
    val tolUs = toleranceSec.map(_ * 1000000L)
    var st = state.getOption
    val out = it.toIndexedSeq.sortBy(r => (r.tUs, r.side)).flatMap { r =>
      if (r.side == 0) {
        if (st.forall(_.tUs <= r.tUs)) st = Some(DimState(r.tUs, r.v))
        None
      } else {
        val m = st.filter(s =>
          s.tUs <= r.tUs && tolUs.forall(t => s.tUs >= r.tUs - t))
        Some(Enriched(key, r.factId, r.tUs, m.map(_.tUs), m.map(_.v)))
      }
    }
    st.foreach(state.update)
    out.iterator
  }

  /** Works on both streaming and batch Datasets (Spark runs the state
    * machinery statefully only under a streaming query). `tolerance`
    * (seconds) bounds match staleness exactly like the batch
    * operator's parameter. */
  def apply(tagged: Dataset[Tagged],
      tolerance: Option[Long] = None): Dataset[Enriched] = {
    import tagged.sparkSession.implicits._
    tagged.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(processKey(tolerance))
  }
}
