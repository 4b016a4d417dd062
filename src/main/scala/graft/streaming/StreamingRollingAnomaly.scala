package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.operators.ClassicQueries

/** Streaming twin of [[ClassicQueries.rollingAnomaly]]: each entity's
  * trailing-window z-score screen runs continuously — the monitoring
  * deployment of the batch query (flag a machine/user the moment a
  * reading leaves its own recent band, instead of nightly).
  *
  * State is the last [[ClassicQueries.RollingN]] values per key —
  * O(keys × N), independent of stream length. An event is screened
  * against the values BEFORE it (the batch query's `rowsBetween(-N,
  * -1)` — an anomaly cannot mask itself) and then folded in; because
  * the state is exactly the trailing window, ANY micro-batch chop
  * yields the identical verdict sequence, with no instant-alignment
  * clause needed (StreamingRollingAnomalySpec proves streamed ≡ batch
  * across random chops).
  *
  * Ordering contract (same family as [[StreamingAsOfDual]]): per
  * key, events arrive in (second-truncated event time, event_id)
  * order across batches — the batch query's window order. Within a
  * batch the group iterator is sorted here. The z-score is rounded to
  * 4 decimals BEFORE the threshold compare, the batch/oracle rule
  * that pins the flagged set across numeric paths. NULL keys/values
  * are dropped like the batch filter. */
object StreamingRollingAnomaly {

  /** One reading: key, event id, second-truncated event-time micros,
    * value. */
  case class Ev(userId: Long, eventId: Long, tUs: Long, value: Double)

  /** One flagged reading. */
  case class Anom(userId: Long, eventId: Long, tUs: Long,
    value: Double, z: Double)

  /** Trailing window, oldest first. */
  case class RState(vals: List[Double])

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  def processKey(key: Long, it: Iterator[Ev],
      state: GroupState[RState]): Iterator[Anom] = {
    var vals = state.getOption.map(_.vals).getOrElse(Nil)
    val out = scala.collection.mutable.ArrayBuffer.empty[Anom]
    for (e <- it.toIndexedSeq.sortBy(r => (r.tUs, r.eventId))) {
      val n = vals.size
      if (n >= ClassicQueries.RollingMinWin) {
        val mu = vals.sum / n
        val sd = math.sqrt(
          vals.map(v => (v - mu) * (v - mu)).sum / (n - 1))
        if (sd > 0) {
          val z = round4((e.value - mu) / sd)
          if (math.abs(z) > ClassicQueries.RollingZ)
            out += Anom(key, e.eventId, e.tUs, e.value, z)
        }
      }
      vals = (vals :+ e.value).takeRight(ClassicQueries.RollingN)
    }
    state.update(RState(vals))
    out.iterator
  }

  /** Works on both streaming and batch Datasets. */
  def apply(events: Dataset[Ev]): Dataset[Anom] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(processKey)
  }
}
