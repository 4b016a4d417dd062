package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sinks.{Ledger, ParquetSinks}

/** Streaming twin of [[graft.operators.SnapshotDiff.applyChanges]]:
  * an I/D/U changelog STREAM (the `diffFull` shape plus a monotonic
  * per-key sequence column) is folded continuously into the bucketed
  * table at `path`, so the table always equals the batch fold of
  * everything applied so far — the diff↔apply roundtrip law holds
  * across arbitrary micro-batch chops (StreamingCdcApplySpec proves
  * streamed ≡ batch across random chops and a checkpoint restart).
  *
  * Per micro-batch: changes are folded LAST-WINS per key (highest
  * `seqCol` — a batch spanning several source diffs carries several
  * ops for a key; only the newest matters, because each diff's
  * after-image is a full row, not a delta), then applied with
  * [[ParquetSinks.applyChangesBucketed]] — touched buckets only, `D`
  * keys physically dropped.
  *
  * Ordering contract (same family as [[StreamingScd2]]): per key,
  * changes arrive in `seqCol` order across batches. Within a batch
  * the fold sorts; across batches the sink applies newest-state
  * blindly, so a stale change arriving after a newer one would
  * regress the row — the contract every changelog transport
  * (epoch-ordered diffs, Kafka per-key partitions) already provides.
  * `seqCol` SHOULD be strictly increasing per key; when a transport
  * violates that and a batch carries two changes for a key at the
  * SAME sequence value, the fold still picks a deterministic winner
  * (tie broken by op then after-image columns, descending) rather
  * than whichever row `row_number` happened to see first — replays
  * and re-chops then converge on the same table.
  *
  * Idempotent under foreachBatch replay via the same `_applied/`
  * epoch-ledger discipline as [[StreamingScd2.start]] (and the same
  * uncheckpointed-run salting — pass `namespace` to pin the ledger
  * namespace instead, so [[graft.sinks.Ledger.prune]] can collect a
  * dead run's markers by name). NULL-key changes are dropped up
  * front — [[graft.operators.SnapshotDiff.diff]] never emits them.
  */
object StreamingCdcApply {

  def start(changes: DataFrame, path: String, keyCols: Seq[String],
      compareCols: Seq[String], seqCol: String, bucketCol: String,
      opCol: String = "op",
      checkpoint: Option[String] = None,
      namespace: Option[String] = None): StreamingQuery = {
    require(keyCols.nonEmpty, "streamingCdcApply: keyCols empty")
    val ns = namespace.getOrElse(checkpoint match {
      case Some(_) => "epoch"
      case None => "run" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
    })
    val w = changes.writeStream
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            epochId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val id = s"${ns}_$epochId"
          if (!Ledger.applied(spark, path, id)) {
            val latest = batch.toDF()
              .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
              .withColumn("__rn", row_number().over(
                Window.partitionBy(keyCols.map(col): _*)
                  .orderBy(col(seqCol).desc +: col(opCol).desc +:
                    compareCols.map(c => col(c).desc_nulls_last): _*)))
              .filter(col("__rn") === 1)
              .drop("__rn")
            ParquetSinks.applyChangesBucketed(spark, latest, path,
              keyCols, compareCols, bucketCol, opCol)
            Ledger.markApplied(spark, path, id)
          }
        }
      }
      .start()
  }
}
