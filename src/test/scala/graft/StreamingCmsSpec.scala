package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.LlmSketch
import graft.streaming.StreamingCms

/** One streamed document (id + text). */
case class CmsDoc(doc_id: Long, text: String)

/** Streaming CMS ≡ batch [[LlmSketch.cmsCells]] over everything folded
  * so far, across random chops and a ledger-absorbed replay; point
  * estimates off the maintained state match the batch estimator. */
class StreamingCmsSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir("stream_cms").resolve(name).toString

  private val Depth = 3
  private val Width = 16

  private def gen(n: Int, seed: Int): Seq[CmsDoc] = {
    val rnd = new scala.util.Random(seed)
    val words = (0 until 25).map(i => s"tok$i")
    (0 until n).map(i => CmsDoc(i.toLong,
      (0 until 20).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" ")))
  }

  private def chop(rows: Seq[CmsDoc], seed: Int): Seq[Seq[CmsDoc]] = {
    val rnd = new scala.util.Random(seed)
    var rest = rows
    val out = Seq.newBuilder[Seq[CmsDoc]]
    while (rest.nonEmpty) {
      val take = 1 + rnd.nextInt(math.max(1, rest.size / 3))
      out += rest.take(take)
      rest = rest.drop(take)
    }
    out.result()
  }

  test("streamed cells ≡ batch sketch across chops; estimates match; " +
      "a replayed epoch is absorbed") {
    implicit val sqlCtx = spark.sqlContext
    val docs = gen(80, 3)
    val path = tmp("cms")
    val ckpt = tmp("ckpt")
    val input = MemoryStream[CmsDoc]
    val batches = chop(docs, 9)
    val (h1, h2) = batches.splitAt(batches.size / 2)

    val q1 = StreamingCms.start(input.toDS().toDF(), path,
      depth = Depth, width = Width, checkpoint = Some(ckpt))
    try {
      h1.foreach { b => input.addData(b: _*); q1.processAllAvailable() }
    } finally q1.stop()
    // restart: the recovery replay of the last epoch must hit the
    // _applied ledger, not double-count its cells
    val q2 = StreamingCms.start(input.toDS().toDF(), path,
      depth = Depth, width = Width, checkpoint = Some(ckpt))
    try {
      h2.foreach { b => input.addData(b: _*); q2.processAllAvailable() }
    } finally q2.stop()

    val batchCells = LlmSketch.cmsCells(
        LlmSketch.tokenCounts(docs.toDF(), "text"),
        depth = Depth, width = Width)
      .as[(Long, Long, Long)].collect().toSet
    val streamed = StreamingCms.cells(spark, path, Width)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batchCells)

    // point estimates off the maintained state = the batch estimator
    val probes = docs.flatMap(_.text.split(" ")).distinct
      .toDF("tok")
    val estStream = StreamingCms.estimates(spark, path, probes,
        Depth, Width)
      .as[(String, Long)].collect().toMap
    val estBatch = LlmSketch.cmsEstimates(docs.toDF(), "text",
        depth = Depth, width = Width, minTrue = 1L)
      .select(col("tok"), col("est")).as[(String, Long)]
      .collect().toMap
    assert(estStream == estBatch)
  }
}
