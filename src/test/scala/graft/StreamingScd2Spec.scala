package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Scd2
import graft.streaming.StreamingScd2
import graft.streaming.StreamingScd2.{Chg, Ver}

/** Streaming SCD2 ≡ batch [[Scd2.fromChangelog]] across random
  * instant-aligned batch chops, and the materialized sink's
  * ledger-guarded idempotency. */
class StreamingScd2Spec extends GraftSuite {
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir("stream_scd2").resolve(name).toString

  /** Random changelog as (k, t)-instant units: heartbeats (3 attr
    * values over many instants), same-instant seq races, None attrs. */
  private def genUnits(seed: Int): Seq[Seq[Chg]] = {
    val rnd = new scala.util.Random(seed)
    var seq = 0L
    val units = for {
      k <- Seq("a", "b", "c", "d", "e")
      t <- rnd.shuffle((0 until 200).toList).take(30).sorted
    } yield {
      val tUs = t.toLong * 1000000L
      val n = 1 + rnd.nextInt(2) // 1 or 2 records at the instant
      (0 until n).map { _ =>
        seq += 1
        val attrs = if (rnd.nextInt(10) == 0) None
          else Some(s"S${rnd.nextInt(3)}")
        Chg(k, tUs, seq, attrs, s"r$seq")
      }
    }
    // global event-time order; same-key same-instant records stay in
    // one unit, so any chop over units honors the no-straddle contract
    units.sortBy(u => (u.head.tUs, u.head.k))
  }

  private def chop(units: Seq[Seq[Chg]], seed: Int): Seq[Seq[Chg]] = {
    val rnd = new scala.util.Random(seed)
    var rest = units
    val out = Seq.newBuilder[Seq[Chg]]
    while (rest.nonEmpty) {
      val take = 1 + rnd.nextInt(math.max(1, rest.size / 3))
      out += rest.take(take).flatten
      rest = rest.drop(take)
    }
    out.result()
  }

  private type Version = (Option[Long], Option[String], String)

  /** Batch reference: (k, valid_from) -> (valid_to, attrs, ride). */
  private def batchScd2(rows: Seq[Chg]): Map[(String, Long), Version] =
    Scd2.fromChangelog(rows.toDF(), Seq("k"), "tUs", "seq", Seq("attrs"))
      .select(col("k"), col("valid_from"), col("valid_to"), col("attrs"),
        col("ride"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.getString(3)), r.getString(4))))
      .toMap

  /** Fold version events to the final state of each (k, validFrom):
    * the closed re-emission supersedes the open event. */
  private def fold(events: Seq[Ver]): Map[(String, Long), Version] =
    events.groupBy(v => (v.k, v.validFrom)).map { case (kv, es) =>
      val fin = es.find(_.validTo.isDefined).getOrElse(es.head)
      kv -> ((fin.validTo, fin.attrs, fin.ride))
    }

  test("streamed version events ≡ batch SCD2 across random chops, " +
      "open versions included") {
    implicit val sqlCtx = spark.sqlContext
    val units = genUnits(31)
    val all = units.flatten
    val expected = batchScd2(all)
    // fixture sanity: heartbeats collapsed (fewer versions than
    // instants), several closed and several open versions
    assert(expected.size < units.size)
    assert(expected.values.count(_._1.isEmpty) == 5) // one open per key
    assert(expected.values.count(_._1.isDefined) > 20)

    val input = MemoryStream[Chg]
    val events = scala.collection.mutable.ArrayBuffer.empty[Ver]
    val q = StreamingScd2(input.toDS()).writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Ver], _: Long) =>
        events ++= b.collect(); ()
      }
      .start()
    try {
      chop(units, 43).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(fold(events.toSeq) == expected)
  }

  test("NULL-key records are dropped, matching the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Chg]
    val events = scala.collection.mutable.ArrayBuffer.empty[Ver]
    val q = StreamingScd2(input.toDS()).writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Ver], _: Long) =>
        events ++= b.collect(); ()
      }
      .start()
    try {
      input.addData(Chg(null, 1000000L, 1L, Some("X"), "r1"),
        Chg("a", 2000000L, 2L, Some("Y"), "r2"))
      q.processAllAvailable()
    } finally q.stop()
    assert(events.map(_.k).toSet == Set("a"))
  }

  test("start() materializes exactly the batch SCD2 table; a replayed " +
      "epoch is absorbed by the ledger across a checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("scd2")
    val ckpt = tmp("ckpt")
    val units = genUnits(7)
    val batches = chop(units, 11)
    val (firstHalf, secondHalf) = batches.splitAt(batches.size / 2)

    val input = MemoryStream[Chg]
    val q1 = StreamingScd2.start(input.toDS(), path,
      checkpoint = Some(ckpt))
    try {
      firstHalf.foreach { b => input.addData(b: _*); q1.processAllAvailable() }
    } finally q1.stop()

    // restart from the same checkpoint; the recovery replay of the
    // last epoch must hit the _applied marker, not double-upsert
    val q2 = StreamingScd2.start(input.toDS(), path,
      checkpoint = Some(ckpt))
    try {
      secondHalf.foreach { b => input.addData(b: _*); q2.processAllAvailable() }
    } finally q2.stop()

    val got = spark.read.parquet(path)
      .select(col("k"), col("validFrom"), col("validTo"), col("attrs"),
        col("ride"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.getString(3)), r.getString(4))))
      .toMap
    assert(got == batchScd2(units.flatten))
  }
}
