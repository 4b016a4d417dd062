package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** Streaming twin of [[graft.operators.Scd2]]: the dimension changelog
  * arrives as a stream and the SCD-Type-2 history is maintained
  * continuously instead of rebuilt. The machine emits VERSION EVENTS
  * append-mode — when a new version opens it emits the open version
  * (validTo None) immediately and, if one existed, the previous
  * version re-emitted CLOSED (validTo = the new validFrom). The event
  * stream is therefore itself a changelog of the SCD2 table: upserting
  * events by (k, validFrom) — latest event wins, and for any version
  * at most two events ever exist, open then closed — materializes
  * exactly [[graft.operators.Scd2.fromChangelog]]'s output, current
  * versions included (`validTo IS NULL`). StreamingScd2Spec proves
  * that identity across random instant-aligned batch chops.
  *
  * State is ONE record per key (the open version + the last folded
  * instant) — O(keys), independent of history length, the same
  * discipline as [[StreamingAsOfDual]].
  *
  * Ordering contract (same family as [[StreamingAsOfDual]]): per
  * key, records arrive in event-time order ACROSS batches, and records
  * of one instant do not straddle a batch boundary (within a batch the
  * group iterator is sorted here, and instant dedup — highest `seq`
  * wins — is applied per batch). The no-straddle clause is what lets a
  * version open the moment its instant is folded: batch SCD2's instant
  * dedup could otherwise retract an opened version when a higher-seq
  * record for the same instant arrived in a later batch. Records that
  * violate the contract (an instant at or before the last folded one)
  * are IGNORED, never applied out of order — stale state is visible,
  * rewritten history is not.
  *
  * NULL contract mirrors the batch operator: NULL-key records are
  * dropped up front; `attrs` is the tracked-attribute tuple serialized
  * by the caller (e.g. `to_json(struct(...))` — None is a legitimate
  * value and compares null-safely), `ride` carries untracked payload
  * whose value is the version-opening record's. */
object StreamingScd2 {

  /** One changelog record: key, event-time micros, unique-per-instant
    * tiebreak, serialized tracked attributes, untracked payload. */
  case class Chg(k: String, tUs: Long, seq: Long, attrs: Option[String],
      ride: String)

  /** One version event; `validTo` None = the version is (still) open. */
  case class Ver(k: String, validFrom: Long, validTo: Option[Long],
      attrs: Option[String], ride: String)

  /** Per-key state: the open version and the last folded instant. */
  case class KState(open: Option[Ver], lastT: Long)

  def processKey(key: String, it: Iterator[Chg],
      state: GroupState[KState]): Iterator[Ver] = {
    var open = state.getOption.flatMap(_.open)
    var lastT = state.getOption.map(_.lastT).getOrElse(Long.MinValue)
    val out = scala.collection.mutable.ArrayBuffer.empty[Ver]
    // instant dedup within the batch: highest seq wins its instant
    val instants = it.toIndexedSeq.groupBy(_.tUs).toSeq.sortBy(_._1)
      .map { case (_, recs) => recs.maxBy(_.seq) }
    for (r <- instants) {
      if (r.tUs > lastT) {
        if (open.forall(o => o.attrs != r.attrs)) {
          open.foreach(o => out += o.copy(validTo = Some(r.tUs)))
          open = Some(Ver(key, r.tUs, None, r.attrs, r.ride))
          out += open.get
        }
        lastT = r.tUs
      } // else: out-of-contract record — ignored (see ordering contract)
    }
    state.update(KState(open, lastT))
    out.iterator
  }

  /** Works on both streaming and batch Datasets. */
  def apply(changelog: Dataset[Chg]): Dataset[Ver] = {
    import changelog.sparkSession.implicits._
    changelog.filter((c: Chg) => c.k != null)
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(processKey)
  }

  /** Maintain the MATERIALIZED SCD2 table at `path` from the stream:
    * each micro-batch's version events are upserted by (k, validFrom)
    * into the k-bucketed table — closed re-emissions overwrite their
    * open twins, so the table is always exactly the batch operator's
    * output over everything folded so far. Idempotent under
    * foreachBatch replay via the same `_applied/` epoch-ledger
    * discipline as [[graft.sinks.AggMaintain]] (and the same
    * uncheckpointed-run salting — see [[StreamingAggMaintain.start]]). */
  def start(changelog: Dataset[Chg], path: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    val ns = checkpoint match {
      case Some(_) => "epoch"
      case None => "run" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
    }
    val w = apply(changelog).writeStream
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch { (batch: Dataset[Ver], epochId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val id = s"${ns}_$epochId"
          if (!graft.sinks.Ledger.applied(spark, path, id)) {
            // a version that opens AND closes inside one batch emits
            // two events for the same (k, validFrom) — fold to the
            // final one (max ignores the open event's NULL validTo;
            // attrs/ride are identical across a version's events)
            import org.apache.spark.sql.functions._
            val latest = batch.toDF()
              .groupBy(col("k"), col("validFrom"))
              .agg(max(col("validTo")).as("validTo"),
                first(col("attrs")).as("attrs"),
                first(col("ride")).as("ride"))
            graft.sinks.ParquetSinks.upsertByKeyBucketed(spark,
              latest, path, Seq("k", "validFrom"), "k")
            graft.sinks.Ledger.markApplied(spark, path, id)
          }
        }
      }
      .start()
  }
}
