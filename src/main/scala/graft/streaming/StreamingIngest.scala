package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{LlmIngest, LlmText}

/** Streaming corpus ingest, end to end: the [[StreamingScrub]] gate
  * (repetition screens + PII scrub, a pure streaming projection) feeds
  * each micro-batch through [[graft.operators.LlmIngest.ingestDedup]]
  * — near-dedup against the PERSISTED MinHash band index, index
  * extended with the survivors — before the accepted documents reach
  * the caller's sink. This is the daily-crawl loop run continuously:
  * screen, scrub, dedup-against-everything-ever-accepted, append.
  *
  * The dedup is a stateful table operation, not a stream transform, so
  * it lives in `foreachBatch` (the documented home for per-batch sink
  * logic); the gate stays inside the streaming plan. Per micro-batch
  * the work is O(batch + touched index buckets) — measured in round 10
  * (COVERAGE.md, Round 10 additions #3: probe bytes flat while the
  * index grew 1×→20×) — so a steady input rate gives a steady batch
  * latency no matter how large the accepted corpus grows.
  *
  * Crash recovery: `foreachBatch` replays the in-flight micro-batch
  * after a restart (at-least-once). Re-ingesting a batch is a no-op on
  * the index and re-accepts the same set (LlmIngestSpec) — each doc's
  * bands collide only with their own index rows, which the self-match
  * filter excludes — so the index state is effectively-once; `emit`
  * itself must be idempotent at-least-once, like every foreachBatch
  * sink. Ordering: a near-dup pair split across micro-batches keeps
  * the FIRST-ARRIVED doc (it is indexed when the second arrives);
  * within one micro-batch the smaller doc_id wins — ingest-order
  * greediness, identical to calling `ingestDedup` per split by hand,
  * which StreamingIngestSpec asserts batch-for-batch.
  */
object StreamingIngest {

  /** One micro-batch: near-dedup `gated` docs — (doc_id, clean_text,
    * pii_found) from [[StreamingScrub.gate]] — against the index at
    * `indexPath`, extend the index, return the accepted rows in the
    * gated schema. */
  def ingestBatch(gated: DataFrame, indexPath: String): DataFrame = {
    val accepted = LlmIngest.ingestDedup(gated.sparkSession,
      gated.select(col("doc_id"), col("clean_text").as("text")),
      indexPath)
    gated.join(accepted.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
  }

  /** Start the full ingest query: gate → per-batch index dedup →
    * `emit(accepted)`. */
  def start(docs: DataFrame, indexPath: String,
      emit: DataFrame => Unit,
      checkpoint: Option[String] = None,
      topWordMax: Double = LlmText.RepTopWordMax,
      top2Max: Double = LlmText.RepTop2Max,
      dup3Max: Double = LlmText.RepDup3Max): StreamingQuery = {
    val w = StreamingScrub.gate(docs, topWordMax, top2Max, dup3Max)
      .writeStream
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) emit(ingestBatch(batch, indexPath))
      }
      .start()
  }
}
