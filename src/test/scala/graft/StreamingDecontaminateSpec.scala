package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingDecontaminate

/** One streamed contamination flag (the pair output's removal-relevant
  * columns) — top-level for the encoder. */
case class Flag(doc_id: Long, eval_id: Long, n_shared: Long)

/** Streaming decontamination removal ≡ the batch anti-join, across
  * random chops, a checkpoint restart, absent-id no-ops, and
  * re-ingest between flags (the ledger-replay hazard). */
class StreamingDecontaminateSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir("stream_decon").resolve(name).toString

  private def corpus: DataFrame = (1L to 120L)
    .map(i => (i, s"text of doc $i", i % 7))
    .toDF("doc_id", "text", "grp")

  private def readIds(path: String): Set[Long] =
    spark.read.parquet(path).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet

  private def chop[T](rows: Seq[T], seed: Int): Seq[Seq[T]] = {
    val rnd = new scala.util.Random(seed)
    var rest = rows
    val out = Seq.newBuilder[Seq[T]]
    while (rest.nonEmpty) {
      val take = 1 + rnd.nextInt(math.max(1, rest.size / 3))
      out += rest.take(take)
      rest = rest.drop(take)
    }
    out.result()
  }

  // flags: every third doc, some ids absent from the table (no-ops),
  // and cross-batch duplicates
  private def flags: Seq[Flag] =
    ((1L to 120L).filter(_ % 3 == 0) ++ Seq(999L, 1000L) ++
      Seq(3L, 9L)).map(i => Flag(i, 7L, 5L))

  test("streamed flag chops ≡ batch anti-join; absent ids are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("t")
    graft.sinks.ParquetSinks.upsertByKeyBucketed(spark, corpus, path,
      Seq("doc_id"), "doc_id")
    val input = MemoryStream[Flag]
    val q = StreamingDecontaminate.start(input.toDS().toDF(), path,
      "doc_id")
    try {
      chop(flags, 11).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(readIds(path) == (1L to 120L).filterNot(_ % 3 == 0).toSet)
  }

  test("checkpoint restart: replayed epoch absorbed; a doc re-ingested " +
      "between flags survives the replay") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("ckpt_t")
    val ckpt = tmp("ckpt")
    graft.sinks.ParquetSinks.upsertByKeyBucketed(spark, corpus, path,
      Seq("doc_id"), "doc_id")
    val batches = chop(flags, 23)
    val (firstHalf, secondHalf) = batches.splitAt(batches.size / 2)

    val input = MemoryStream[Flag]
    val q1 = StreamingDecontaminate.start(input.toDS().toDF(), path,
      "doc_id", checkpoint = Some(ckpt))
    try {
      firstHalf.foreach { b => input.addData(b: _*); q1.processAllAvailable() }
    } finally q1.stop()

    // doc 6 was flagged and removed; a NEWER revision re-ingests it.
    // The restart replays at most the last unfinalized epoch — the
    // ledger must keep the replay from re-deleting the fresh row
    // (unless 6 is flagged again in the second half, which it isn't:
    // strip it there to make the assertion sharp)
    graft.sinks.ParquetSinks.upsertByKeyBucketed(spark,
      Seq((6L, "re-ingested doc 6", 6L % 7)).toDF("doc_id", "text", "grp"),
      path, Seq("doc_id"), "doc_id")

    val q2 = StreamingDecontaminate.start(input.toDS().toDF(), path,
      "doc_id", checkpoint = Some(ckpt))
    try {
      secondHalf.map(_.filterNot(_.doc_id == 6L)).foreach { b =>
        input.addData(b: _*); q2.processAllAvailable()
      }
    } finally q2.stop()

    val want = (1L to 120L).filterNot(_ % 3 == 0).toSet + 6L
    assert(readIds(path) == want)
  }

  test("flags arriving BEFORE the corpus exists are a safe no-op: " +
      "the query survives, nothing is written, and the corpus-later " +
      "flow proceeds normally") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("decon_noecorpus")
    val input = MemoryStream[Flag]
    val q = StreamingDecontaminate.start(input.toDS().toDF(), path,
      "doc_id")
    try {
      // corpus does not exist yet: this batch used to kill the query
      // on the unguarded schema read
      input.addData(Flag(3L, 7L, 5L), Flag(6L, 7L, 5L))
      q.processAllAvailable()
      assert(q.isActive, "query must survive a flags-before-corpus batch")
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(path)),
        "a no-op batch must not materialize a data-less table dir")
      // corpus lands; later flags delete normally
      graft.sinks.ParquetSinks.upsertByKeyBucketed(spark, corpus, path,
        Seq("doc_id"), "doc_id")
      input.addData(Flag(9L, 7L, 5L), Flag(12L, 7L, 5L))
      q.processAllAvailable()
      assert(readIds(path) == (1L to 120L).toSet -- Set(9L, 12L))
    } finally q.stop()
  }
}
