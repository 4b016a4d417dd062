package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{ClassicQueries, CooccurIngest}
import graft.streaming.StreamingCooccur

/** One streamed (user, item) interaction — top-level for the
  * encoder. */
case class UiRow(user_id: Long, item: Long)

/** Incremental co-occurrence ≡ the batch [[ClassicQueries
  * .itemCooccur]] over everything ingested so far: random chops,
  * duplicate redelivery, a replayed batch id, and a checkpoint
  * restart all land on the same state. */
class StreamingCooccurSpec extends GraftSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    tempDir("stream_cooc").resolve(name).toString

  /** The fixture's (user, item) rows — the same extraction the batch
    * operator runs. */
  private def uiRows: Seq[UiRow] = graft.sources.Tables.events(spark, dir)
    .filter(col("user_id").isNotNull && col("props").isNotNull)
    .select(col("user_id"),
      expr("from_json(props, 'k BIGINT')").getField("k").as("item"))
    .filter(col("item").isNotNull)
    .as[(Long, Long)].collect().map((UiRow.apply _).tupled).toSeq

  private def want: Set[(Long, Long, Long, Double)] =
    ClassicQueries.itemCooccur(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet

  private def got(path: String): Set[(Long, Long, Long, Double)] =
    CooccurIngest.view(spark, path)
      .as[(Long, Long, Long, Double)].collect().toSet

  private def chop[T](rows: Seq[T], seed: Int): Seq[Seq[T]] = {
    val rnd = new scala.util.Random(seed)
    var rest = rows
    val out = Seq.newBuilder[Seq[T]]
    while (rest.nonEmpty) {
      val take = 1 + rnd.nextInt(math.max(1, rest.size / 4))
      out += rest.take(take)
      rest = rest.drop(take)
    }
    out.result()
  }

  test("streamed chops (with duplicate redelivery) ≡ batch itemCooccur") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("cooc")
    val rows = uiRows
    // redeliver a slice of earlier rows mid-stream: distinct
    // (user, item) semantics must absorb them
    val batches = chop(rows, 31)
    val withDup = batches.take(2) ++ Seq(rows.take(50)) ++ batches.drop(2)
    val input = MemoryStream[UiRow]
    val q = StreamingCooccur.start(input.toDS().toDF(), path,
      "user_id", "item")
    try {
      withDup.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(got(path) == want)
  }

  test("a replayed batch id is absorbed; checkpoint restart converges") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("cooc_ckpt")
    val ckpt = tmp("ckpt")
    val rows = uiRows
    val batches = chop(rows, 47)
    val (a, b) = batches.splitAt(batches.size / 2)

    val input = MemoryStream[UiRow]
    val q1 = StreamingCooccur.start(input.toDS().toDF(), path,
      "user_id", "item", checkpoint = Some(ckpt))
    try {
      a.foreach { x => input.addData(x: _*); q1.processAllAvailable() }
    } finally q1.stop()

    // direct double-fold of one batch id: second call is a no-op
    val probe = rows.take(20).toDF("user_id", "item")
    CooccurIngest.ingest(spark, probe, path, "user_id", "item", "manual_1")
    val after1 = got(path)
    CooccurIngest.ingest(spark, probe, path, "user_id", "item", "manual_1")
    assert(got(path) == after1, "replayed batch id must be a no-op")

    val q2 = StreamingCooccur.start(input.toDS().toDF(), path,
      "user_id", "item", checkpoint = Some(ckpt))
    try {
      b.foreach { x => input.addData(x: _*); q2.processAllAvailable() }
    } finally q2.stop()
    assert(got(path) == want)
  }

  /** Batch twin for a (user, item) row set at a given cap. */
  private def batchWant(rows: Seq[UiRow], maxBasket: Int)
      : Set[(Long, Long, Long, Double)] =
    ClassicQueries.itemCooccurOf(
        rows.map(r => (r.user_id, r.item)).toDF("user_id", "item")
          .distinct(),
        maxBasket)
      .as[(Long, Long, Long, Double)].collect().toSet

  test("crash between an apply and its marker replays exactly-once " +
      "— the staged-delta + last_batch design closes the additive " +
      "double-count window") {
    val path = tmp("cooc_crash")
    val rows = uiRows
    val b1 = rows.take(400)
    val b2 = rows.slice(400, 800)
    def fold(b: Seq[UiRow], id: String): Unit =
      CooccurIngest.ingest(spark,
        b.toDF("user_id", "item"), path, "user_id", "item", id)
    // crash after the co swap, before its marker: the classic
    // double-count window — replay must NOT re-add the increments
    CooccurIngest.crashAfter = Some("/co")
    intercept[IllegalStateException] { fold(b1, "b1") }
    fold(b1, "b1")
    assert(got(path) == batchWant(b1, Int.MaxValue))
    // same for the items table, folding a second batch
    CooccurIngest.crashAfter = Some("/items")
    intercept[IllegalStateException] { fold(b2, "b2") }
    fold(b2, "b2")
    assert(got(path) == batchWant(b1 ++ b2, Int.MaxValue))
    // and after the basket apply (the whole-batch sentinel): replay
    // must skip everything already marked and still converge
    val b3 = rows.slice(800, 1200)
    CooccurIngest.crashAfter = Some("/basket")
    intercept[IllegalStateException] { fold(b3, "b3") }
    fold(b3, "b3")
    assert(got(path) == batchWant(b1 ++ b2 ++ b3, Int.MaxValue))
  }

  test("maxBasket parity at every chop: a user crossing the cap " +
      "mid-stream is reversed and tombstoned — streamed view ≡ " +
      "batch itemCooccur with the same cap over the same prefix") {
    val path = tmp("cooc_cap")
    val rows = uiRows
    // bot user: 8 items land in chop 1 (under the cap of 10), 8 more
    // in chop 3 (crosses: prior contribution must be reversed), more
    // in chop 5 (tombstone must filter them)
    val bot = (1L to 24L).map(i => UiRow(99999999L, i))
    val organic = chop(rows, 13)
    val capped = 10
    val chops = Seq(
      organic.head ++ bot.take(8),
      organic(1),
      organic(2) ++ bot.slice(8, 16),
      organic(3),
      organic(4) ++ bot.drop(16)) ++ organic.drop(5)
    var prefix = Seq.empty[UiRow]
    chops.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      CooccurIngest.ingest(spark, b.toDF("user_id", "item"), path,
        "user_id", "item", s"cap_$i", maxBasket = capped)
      assert(got(path) == batchWant(prefix, capped),
        s"divergence after chop $i")
    }
    // end state: identical to the batch cap over everything, which
    // drops the bot entirely
    assert(got(path) == batchWant(rows ++ bot, capped))
    assert(got(path) == batchWant(rows, capped),
      "a capped user must leave zero trace")
  }

  test("topK serving view ≡ the same expansion over batch " +
      "itemCooccur, across chops and a restart") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("cooc_topk")
    val rows = uiRows
    val batches = chop(rows, 59)
    def wantTopK: Seq[(Long, Long, Long, Long, Double)] =
      CooccurIngest.topKOf(ClassicQueries.itemCooccurOf(
          rows.map(r => (r.user_id, r.item)).toDF("user_id", "item")
            .distinct()), 3)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val input = MemoryStream[UiRow]
    val q = StreamingCooccur.start(input.toDS().toDF(), path,
      "user_id", "item")
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val gotTopK = CooccurIngest.topK(spark, path, 3)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(gotTopK == wantTopK)
    assert(gotTopK.nonEmpty, "fixture sanity: some ranked neighbors")
    // per-item rank contract: ranks are 1..n, jaccard non-increasing
    gotTopK.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2) == (1L to rs.size.toLong))
      assert(rs.map(_._5) == rs.map(_._5).sorted.reverse)
    }
  }
}
