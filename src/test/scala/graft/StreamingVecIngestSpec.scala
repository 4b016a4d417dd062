package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingVecIngest

/** Top-level: Spark encoders cannot instantiate suite-inner classes. */
case class IngestVec(vec_id: Long, embedding: Array[Float])

/** Streaming vector ingest (gate → per-batch index dedup): the
  * streamed pipeline must equal the hand-run batch composition on the
  * same splits — same accepted set, same index rows. */
class StreamingVecIngestSpec extends GraftSuite {
  import spark.implicits._

  private val base = Array(1.0f, 1.0f, 1.0f, 1.0f)
  private val nearBase = Array(1.0f, 1.0f, 1.0f, 0.9f) // cos ≈ 0.999
  private val other = Array(1.0f, -1.0f, 1.0f, -1.0f)
  private val nearOther = Array(1.0f, -1.0f, 1.0f, -0.9f)
  private val zero = Array(0.0f, 0.0f, 0.0f, 0.0f)

  // split 1: 1 kept, 3 near-dups 1 (intra-batch), 5 kept, 7 zero (gate)
  // split 2: 11 near-dups 5 (CROSS-batch via the index), 12 kept, 13 zero
  private val split1 = Seq(IngestVec(1L, base), IngestVec(3L, nearBase),
    IngestVec(5L, other), IngestVec(7L, zero))
  private val split2 = Seq(IngestVec(11L, nearOther),
    IngestVec(12L, Array(-1.0f, 1.0f, 1.0f, -1.0f)),
    IngestVec(13L, zero))

  private def freshIndex(): String =
    tempDir("stream_vecidx").resolve("index").toString

  test("streamed vector ingest equals per-split batch ingest") {
    implicit val sqlCtx = spark.sqlContext

    val batchIdx = freshIndex()
    val wantAccepted = Seq(split1, split2).flatMap { s =>
      StreamingVecIngest.ingestBatch(
        StreamingVecIngest.gate(s.toDF()), batchIdx, threshold = 0.9)
        .select("vec_id").as[Long].collect()
    }.sorted
    assert(wantAccepted === Seq(1L, 5L, 12L),
      "fixture sanity: intra-batch dup 3, cross-batch dup 11, zeros 7/13 all rejected")

    val streamIdx = freshIndex()
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[IngestVec]
    val query = StreamingVecIngest.start(input.toDF(), streamIdx,
      emit = out => got ++= out.select("vec_id").as[Long].collect(),
      threshold = 0.9)
    try {
      input.addData(split1: _*)
      query.processAllAvailable()
      input.addData(split2: _*)
      query.processAllAvailable()
    } finally query.stop()
    assert(got.sorted.toSeq === wantAccepted)

    // index parity: identical (cell, vec_id) membership
    def indexRows(p: String) = spark.read.parquet(p)
      .select("cell", "vec_id").collect().map(_.toSeq).toSet
    assert(indexRows(streamIdx) === indexRows(batchIdx))
  }

  test("gate drops zero vectors before they can poison the index") {
    val in = Seq(IngestVec(1L, base), IngestVec(2L, zero)).toDF()
    val kept = StreamingVecIngest.gate(in)
      .select("vec_id").as[Long].collect().toSeq
    assert(kept === Seq(1L))
  }
}
