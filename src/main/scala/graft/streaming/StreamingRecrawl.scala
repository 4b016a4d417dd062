package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.LlmPrep.recrawlDedup]]: a live
  * crawl/fetch stream deduplicated by time window — a fetch is emitted
  * iff it is the first for its key or more than `gapSec` after the
  * key's PREVIOUS fetch (kept or dropped), the identical
  * gap-to-immediate-predecessor rule as the batch operator, so
  * streamed output ≡ batch recrawlDedup over the union of batches.
  *
  * State is one timestamp per key (`flatMapGroupsWithState`,
  * O(distinct keys) — the last-seen time IS the whole decision
  * context, which is what makes this operator stream-friendly where
  * "keep first per calendar bucket" twins would need none and
  * windowed joins would need history).
  *
  * Ordering contract: fetches arrive in event-time order per key
  * across micro-batches (within a batch the group iterator is sorted
  * here) — the [[StreamingAsOfDual]] contract; a production job in
  * front of an out-of-order source adds the watermark-and-buffer
  * stage ([[StreamingAsOfDualLate]] pattern).
  */
object StreamingRecrawl {

  /** Streaming input: composite key pre-concatenated by the caller
    * (same contract as the batch operator's key columns), event time
    * in epoch µs, unique id as the tiebreak. */
  case class FetchIn(key: String, id: Long, t_us: Long)
  case class FetchOut(key: String, id: Long, t_us: Long)

  /** Per-key state: the last SEEN fetch time (kept or dropped). */
  case class KeyState(lastUs: Long)

  def apply(fetches: Dataset[FetchIn], gapSec: Long)
      : Dataset[FetchOut] = {
    require(gapSec > 0, s"streamingRecrawl: gapSec must be > 0")
    import fetches.sparkSession.implicits._
    fetches.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(process(gapSec))
  }

  /** One group-batch step (exposed for the spec). */
  def process(gapSec: Long)(key: String, it: Iterator[FetchIn],
      state: GroupState[KeyState]): Iterator[FetchOut] = {
    val gapUs = gapSec * 1000000L
    var last: Option[Long] = state.getOption.map(_.lastUs)
    val out = it.toIndexedSeq.sortBy(f => (f.t_us, f.id)).flatMap { f =>
      val keep = last.forall(l => f.t_us - l > gapUs)
      last = Some(f.t_us)
      if (keep) Some(FetchOut(key, f.id, f.t_us)) else None
    }
    last.foreach(l => state.update(KeyState(l)))
    out.iterator
  }
}
