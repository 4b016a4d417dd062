package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sinks.{Ledger, ParquetSinks}

/** Streaming twin of [[graft.operators.LlmPrep.decontaminate]]'s
  * REMOVAL half: contamination FLAGS arrive as a stream (the
  * [[StreamingContamination]] pair output, or any frame carrying the
  * flagged document id), and each micro-batch's ids are physically
  * DELETED from the bucketed corpus table at `path` — so the table
  * always equals the batch anti-join of everything ingested minus
  * everything flagged so far. Detection and removal compose into the
  * full streaming decontamination workflow: contamination pairs →
  * this sink.
  *
  * Per micro-batch: distinct non-NULL ids become `op = 'D'` changes
  * (after-images NULL-typed from the STORED schema — a delete never
  * reads them) and fold through [[ParquetSinks.applyChangesBucketed]]
  * — touched buckets only; a bucket emptied entirely is dropped, a
  * table emptied entirely stays readable. A flagged id absent from
  * the table is a no-op (the anti-join semantics), so redelivery and
  * cross-batch duplicates are harmless even before the ledger.
  *
  * Idempotent under foreachBatch replay via the same `_applied/`
  * epoch-ledger discipline as [[StreamingCdcApply]] (and the same
  * uncheckpointed-run salting; pass `namespace` to pin the ledger
  * namespace for [[graft.sinks.Ledger.prune]]). The ledger matters
  * here because a replayed epoch must not re-delete ids the table
  * re-ingested BETWEEN the original apply and the replay.
  */
object StreamingDecontaminate {

  def start(flagged: DataFrame, path: String, idCol: String,
      checkpoint: Option[String] = None,
      namespace: Option[String] = None): StreamingQuery = {
    val ns = namespace.getOrElse(checkpoint match {
      case Some(_) => "epoch"
      case None => "run" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
    })
    val w = flagged.writeStream
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            epochId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val id = s"${ns}_$epochId"
          val table = new org.apache.hadoop.fs.Path(path)
          if (!table.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(table)) {
            // flags arriving before the corpus table exists: a delete
            // against nothing is a no-op by the operator's own
            // anti-join semantics — skip WITHOUT writing anything
            // (creating the marker would materialize a data-less
            // table dir). On a restart-replay with the corpus present
            // the deletes apply; deletes are idempotent either way.
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"StreamingDecontaminate: corpus $path does not exist " +
                s"yet — batch $id is a no-op (flagged ids have " +
                "nothing to delete)")
          } else if (!Ledger.applied(spark, path, id)) {
            // after-image columns: everything stored beyond the key
            // and the bucket partition column, NULL-typed from the
            // stored schema (a D op never reads them)
            val stored = spark.read.parquet(path).schema
            val compareCols = stored.fields.map(_.name)
              .filterNot(Set(idCol, ParquetSinks.BucketCol)).toSeq
            val dels = compareCols.foldLeft(
              batch.toDF()
                .filter(col(idCol).isNotNull)
                .select(col(idCol)).distinct()
                .withColumn("op", lit("D"))) { (d, c) =>
              d.withColumn(c, lit(null).cast(stored(c).dataType))
            }
            ParquetSinks.applyChangesBucketed(spark, dels, path,
              Seq(idCol), compareCols, idCol)
            Ledger.markApplied(spark, path, id)
          }
        }
      }
      .start()
  }
}
