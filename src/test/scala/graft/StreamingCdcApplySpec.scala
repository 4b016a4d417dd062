package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.SnapshotDiff
import graft.streaming.StreamingCdcApply

/** Streaming CDC apply ≡ batch [[SnapshotDiff.applyChanges]] fold:
  * the diff↔apply roundtrip law survives random micro-batch chops and
  * a checkpoint restart, deletes physically drop (including a bucket
  * emptied entirely), and a replayed epoch is absorbed by the ledger. */
/** One changelog record (the diffFull shape + seq) — top-level so
  * Spark can derive its encoder. */
case class CdcChg(k: Long, op: String, v: String, w: Long, seq: Long)

class StreamingCdcApplySpec extends GraftSuite {
  import spark.implicits._

  private def tmp(name: String): String =
    tempDir("stream_cdc").resolve(name).toString

  private type Snap = Map[Long, (String, Long)]

  /** Deterministic snapshot chain: each step deletes a residue class,
    * rewrites another, inserts a fresh block. */
  private def chain(steps: Int): Seq[Snap] = {
    var s: Snap = (1L to 60L).map(k => k -> ((s"v${k}_0", k))).toMap
    val out = Seq.newBuilder[Snap]
    out += s
    (1 to steps).foreach { i =>
      s = s.view.filterKeys(_ % 7 != i).toMap
      s = s.map { case (k, (v, w)) =>
        if (k % 3 == i % 3) k -> ((s"v${k}_$i", w + 1000)) else k -> ((v, w))
      }
      s = s ++ (0 until 10).map { j =>
        val k = 60L + 10L * i + j; k -> ((s"v${k}_$i", k))
      }
      out += s
    }
    out.result()
  }

  private def toDf(s: Snap): DataFrame =
    s.toSeq.map { case (k, (v, w)) => (k, v, w) }.toDF("k", "v", "w")

  /** The consecutive diffs of the chain, stamped with their step as
    * the sequence. */
  private def changelog(snaps: Seq[Snap]): Seq[CdcChg] =
    snaps.sliding(2).zipWithIndex.flatMap { case (Seq(b, a), i) =>
      SnapshotDiff.diffFull(toDf(b), toDf(a), Seq("k"), Seq("v", "w"))
        .select(col("k"), col("op"), col("v"), col("w"))
        .collect()
        .map(r => CdcChg(r.getLong(0), r.getString(1),
          // D rows carry NULL after-images; Chg is flat, so encode
          // and let the sink drop them (op=D never reads v/w)
          Option(r.getString(2)).getOrElse(""),
          if (r.isNullAt(3)) 0L else r.getLong(3), i + 1L))
    }.toSeq

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

  private def readTable(path: String): Snap =
    spark.read.parquet(path).select(col("k"), col("v"), col("w"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap

  test("streamed changelog ≡ final snapshot across random chops " +
      "(and ≡ the batch applyChanges fold)") {
    implicit val sqlCtx = spark.sqlContext
    val snaps = chain(3)
    val rows = changelog(snaps)
    // fixture sanity: all three op kinds present
    assert(Set("I", "D", "U").subsetOf(rows.map(_.op).toSet))

    val path = tmp("cdc")
    // seed the table with the base snapshot (the stream carries diffs)
    graft.sinks.ParquetSinks.upsertByKeyBucketed(spark,
      toDf(snaps.head), path, Seq("k"), "k")

    val input = MemoryStream[CdcChg]
    val q = StreamingCdcApply.start(input.toDS().toDF(), path,
      Seq("k"), Seq("v", "w"), "seq", "k")
    try {
      chop(rows, 17).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()

    assert(readTable(path) == snaps.last)

    // batch fold of the same changelog agrees (the roundtrip law)
    val folded = snaps.sliding(2).foldLeft(toDf(snaps.head)) {
      case (acc, Seq(b, a)) =>
        SnapshotDiff.applyChanges(acc,
          SnapshotDiff.diffFull(toDf(b), toDf(a), Seq("k"),
            Seq("v", "w")), Seq("k"), Seq("v", "w"))
    }
    val foldedMap = folded.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(foldedMap == snaps.last)
  }

  test("a delete-emptied bucket is dropped, not left stale") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("cdc_empty")
    graft.sinks.ParquetSinks.upsertByKeyBucketed(spark,
      Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "v", "w"),
      path, Seq("k"), "k")
    val input = MemoryStream[CdcChg]
    val q = StreamingCdcApply.start(input.toDS().toDF(), path,
      Seq("k"), Seq("v", "w"), "seq", "k")
    try {
      input.addData(CdcChg(1L, "D", "", 0L, 1L), CdcChg(2L, "D", "", 0L, 1L))
      q.processAllAvailable()
    } finally q.stop()
    assert(readTable(path).isEmpty)
  }

  test("multi-op keys in one batch fold last-wins by seq") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("cdc_seq")
    graft.sinks.ParquetSinks.upsertByKeyBucketed(spark,
      Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "v", "w"),
      path, Seq("k"), "k")
    val input = MemoryStream[CdcChg]
    val q = StreamingCdcApply.start(input.toDS().toDF(), path,
      Seq("k"), Seq("v", "w"), "seq", "k")
    try {
      // one batch: k=1 updated then deleted; k=2 deleted then
      // re-inserted; k=3 inserted then updated
      input.addData(
        CdcChg(1L, "U", "a2", 10L, 1L), CdcChg(1L, "D", "", 0L, 2L),
        CdcChg(2L, "D", "", 0L, 1L), CdcChg(2L, "I", "b2", 20L, 2L),
        CdcChg(3L, "I", "c", 3L, 1L), CdcChg(3L, "U", "c2", 30L, 2L))
      q.processAllAvailable()
    } finally q.stop()
    assert(readTable(path) ==
      Map(2L -> (("b2", 20L)), 3L -> (("c2", 30L))))
  }

  test("equal-seq changes for one key pick a deterministic winner") {
    implicit val sqlCtx = spark.sqlContext
    // two after-images at the SAME sequence value — a transport
    // violating strict monotonicity; the fold must still converge on
    // the same winner every run (op desc, then after-image desc:
    // U beats I, and within an op the larger image wins)
    def run(rows: Seq[CdcChg]): Snap = {
      val path = tmp("cdc_tie")
      graft.sinks.ParquetSinks.upsertByKeyBucketed(spark,
        Seq((1L, "a", 1L)).toDF("k", "v", "w"), path, Seq("k"), "k")
      val input = MemoryStream[CdcChg]
      val q = StreamingCdcApply.start(input.toDS().toDF(), path,
        Seq("k"), Seq("v", "w"), "seq", "k")
      try { input.addData(rows: _*); q.processAllAvailable() }
      finally q.stop()
      readTable(path)
    }
    val tied = Seq(CdcChg(1L, "U", "x", 5L, 7L),
      CdcChg(1L, "U", "y", 9L, 7L), CdcChg(1L, "I", "z", 99L, 7L))
    val want = Map(1L -> (("y", 9L)))
    assert(run(tied) == want)
    assert(run(tied.reverse) == want, "winner must not depend on order")
  }

  test("checkpoint restart: replayed epoch absorbed by the ledger") {
    implicit val sqlCtx = spark.sqlContext
    val snaps = chain(4)
    val rows = changelog(snaps)
    val batches = chop(rows, 29)
    val (firstHalf, secondHalf) = batches.splitAt(batches.size / 2)
    val path = tmp("cdc_ckpt")
    val ckpt = tmp("ckpt")
    graft.sinks.ParquetSinks.upsertByKeyBucketed(spark,
      toDf(snaps.head), path, Seq("k"), "k")

    val input = MemoryStream[CdcChg]
    val q1 = StreamingCdcApply.start(input.toDS().toDF(), path,
      Seq("k"), Seq("v", "w"), "seq", "k", checkpoint = Some(ckpt))
    try {
      firstHalf.foreach { b => input.addData(b: _*); q1.processAllAvailable() }
    } finally q1.stop()

    val q2 = StreamingCdcApply.start(input.toDS().toDF(), path,
      Seq("k"), Seq("v", "w"), "seq", "k", checkpoint = Some(ckpt))
    try {
      secondHalf.foreach { b => input.addData(b: _*); q2.processAllAvailable() }
    } finally q2.stop()

    assert(readTable(path) == snaps.last)
  }
}
