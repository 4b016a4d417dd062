package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingIngest, StreamingScrub}

/** Top-level: Spark encoders cannot instantiate suite-inner classes. */
case class IngestDoc(doc_id: Long, text: String)

/** Streaming ingest e2e (gate → per-batch index dedup): the streamed
  * pipeline must equal the hand-run batch composition on the same
  * splits — same accepted set, same index rows. */
class StreamingIngestSpec extends GraftSuite {
  import spark.implicits._

  // ~40 distinct tokens per doc: clears every repetition screen and
  // gives rich 3-gram shingle sets; the near-dup edit (one token)
  // keeps the MinHash estimate above the threshold
  private def text(prefix: String) =
    (1 to 40).map(i => s"$prefix$i").mkString(" ")
  private val spamText = Seq.fill(12)("spam").mkString(" ")

  // split 1: 1 kept, 3 near-dups 1 (intra-batch reject), 5 kept,
  //          7 spam (gate reject)
  // split 2: 11 near-dups 1 (CROSS-batch reject via the index),
  //          12 kept, 13 spam
  private val split1 = Seq(
    IngestDoc(1L, text("a")),
    IngestDoc(3L, ((1 to 39).map(i => s"a$i") :+ "zz").mkString(" ")),
    IngestDoc(5L, text("b")),
    IngestDoc(7L, spamText))
  private val split2 = Seq(
    IngestDoc(11L, ((1 to 39).map(i => s"a$i") :+ "yy").mkString(" ")),
    IngestDoc(12L, text("c")),
    IngestDoc(13L, spamText))

  private def freshIndex(): String =
    tempDir("stream_idx").resolve("index").toString

  test("streamed ingest equals per-split batch ingest (accepted + index)") {
    implicit val sqlCtx = spark.sqlContext

    // batch twin: gate then ingestBatch, split by split, own index
    val batchIdx = freshIndex()
    val wantAccepted = Seq(split1, split2).flatMap { s =>
      StreamingIngest.ingestBatch(StreamingScrub.gate(s.toDF()),
        batchIdx).select("doc_id").as[Long].collect()
    }.sorted
    assert(wantAccepted === Seq(1L, 5L, 12L),
      "fixture sanity: intra-batch dup 3, cross-batch dup 11, spam 7/13 all rejected")

    val streamIdx = freshIndex()
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[IngestDoc]
    val query = StreamingIngest.start(input.toDF(), streamIdx,
      emit = out => got ++= out.select("doc_id").as[Long].collect())
    try {
      input.addData(split1: _*)
      query.processAllAvailable()
      input.addData(split2: _*)
      query.processAllAvailable()
    } finally query.stop()
    assert(got.sorted.toSeq === wantAccepted)

    // index parity: identical (key, doc_id) rows, band for band
    def indexRows(p: String) = spark.read.parquet(p)
      .select("key", "doc_id").collect().map(_.toSeq).toSet
    assert(indexRows(streamIdx) === indexRows(batchIdx))
  }

  test("accepted docs pass through the gate schema (scrubbed text)") {
    implicit val sqlCtx = spark.sqlContext
    val idx = freshIndex()
    val withPii = Seq(IngestDoc(21L,
      text("p") + " reach me at bob@example.com"))
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Int)]
    val input = MemoryStream[IngestDoc]
    val query = StreamingIngest.start(input.toDF(), idx,
      emit = out => rows ++= out
        .select(col("doc_id"), col("clean_text"), col("pii_found"))
        .as[(Long, String, Int)].collect())
    try {
      input.addData(withPii: _*)
      query.processAllAvailable()
    } finally query.stop()
    assert(rows.map(_._1).toSeq === Seq(21L))
    assert(rows.head._3 === 1, "pii counted")
    assert(!rows.head._2.contains("bob@example.com"),
      "emitted text is the scrubbed text")
  }
}
