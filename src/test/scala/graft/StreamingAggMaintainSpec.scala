package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sinks.AggMaintain
import graft.streaming.StreamingAggMaintain

/** Top-level: Spark encoders cannot instantiate suite-inner classes. */
case class KV(k: String, v: Double)

/** Continuously-maintained aggregate table: streamed maintenance must
  * equal the one-shot aggregate over everything delivered, and a
  * restart from the same checkpoint must not double-count the replayed
  * epoch. */
class StreamingAggMaintainSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir("stream_aggm").resolve(name).toString

  private def view(path: String): Map[String, (Long, Double, Double,
      Double)] =
    AggMaintain.readView(spark, path)
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("agg_cnt"), r.getAs[Double]("agg_sum"),
          r.getAs[Double]("agg_min"), r.getAs[Double]("agg_max"))))
      .toMap

  test("streamed maintenance equals the one-shot aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("state")
    val b1 = Seq(KV("a", 1.0), KV("a", 3.0), KV("b", 10.0))
    val b2 = Seq(KV("a", 5.0), KV("c", -2.0))
    val b3 = Seq(KV("b", 4.0), KV("c", 8.0))
    val input = MemoryStream[KV]
    val query = StreamingAggMaintain.start(input.toDF(), path, "k", "v")
    try {
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
    } finally query.stop()
    val want = (b1 ++ b2 ++ b3).toDF()
      .groupBy($"k")
      .agg(org.apache.spark.sql.functions.count($"v").as("c"),
        org.apache.spark.sql.functions.sum($"v").as("s"),
        org.apache.spark.sql.functions.min($"v").as("mn"),
        org.apache.spark.sql.functions.max($"v").as("mx"))
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("c"), r.getAs[Double]("s"),
          r.getAs[Double]("mn"), r.getAs[Double]("mx")))).toMap
    assert(view(path) == want)
  }

  test("restart from the checkpoint replays without double-counting") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("state")
    val ckpt = tmp("ckpt")
    val input = MemoryStream[KV]
    val q1 = StreamingAggMaintain.start(input.toDF(), path, "k", "v",
      checkpoint = Some(ckpt))
    try {
      input.addData(KV("a", 2.0), KV("a", 4.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val afterFirst = view(path)
    assert(afterFirst("a") == ((2L, 6.0, 2.0, 4.0)))

    // a restart from the same checkpoint re-delivers nothing new, but
    // Structured Streaming MAY re-run the last epoch on recovery — the
    // _applied ledger has to absorb that. Simulate the worst case by
    // replaying the same epoch id by hand, then restart the stream
    // with new data.
    AggMaintain.maintain(spark,
      Seq(KV("a", 2.0), KV("a", 4.0)).toDF(), path, "k", "v", "epoch_0")
    assert(view(path) == afterFirst, "replayed epoch folded twice")

    val q2 = StreamingAggMaintain.start(input.toDF(), path, "k", "v",
      checkpoint = Some(ckpt))
    try {
      input.addData(KV("a", 10.0), KV("b", 1.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = view(path)
    assert(got("a") == ((3L, 16.0, 2.0, 10.0)))
    assert(got("b") == ((1L, 1.0, 1.0, 1.0)))
  }

  test("uncheckpointed restart does NOT collide with old epoch ids") {
    // without a checkpoint a restarted query renumbers epochs from 0 —
    // the ledger must be per-run so the new run's first batches fold
    // instead of matching the previous run's epoch_0 marker
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("state")
    val in1 = MemoryStream[KV]
    val q1 = StreamingAggMaintain.start(in1.toDF(), path, "k", "v")
    try {
      in1.addData(KV("a", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(view(path)("a") == ((1L, 1.0, 1.0, 1.0)))

    val in2 = MemoryStream[KV] // fresh query: its first batch is epoch 0
    val q2 = StreamingAggMaintain.start(in2.toDF(), path, "k", "v")
    try {
      in2.addData(KV("a", 9.0))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(view(path)("a") == ((2L, 10.0, 1.0, 9.0)),
      "second run's epoch 0 must fold, not dedup against run 1's")
  }
}
