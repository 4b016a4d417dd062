package graft

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.model.Rco
import graft.operators.GanttGenerate
import graft.pipeline.RcoEtl
import graft.sources.Tables
import graft.streaming.StreamingRcoEtl

/** One raw event, the [[Tables.events]] schema. Top-level: Spark
  * encoders cannot instantiate suite-inner classes. */
case class RawEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** Stream ≡ batch for the RCO driver: the tables [[StreamingRcoEtl]]
  * loads over any chop of the events into micro-batches — in order,
  * late, re-sent, or a whole batch replayed from the checkpoint — equal
  * one batch [[RcoEtl.run]] + [[RcoEtl.load]] of the union of all
  * batches. */
class StreamingRcoEtlSpec extends GraftSuite {
  import spark.implicits._

  // a short trigger gap splits COs close enough for their Gantt windows
  // to overlap (none do in these events at the default 120 minutes)
  private val params = RcoEtl.SiteParams(server = "STREAM",
    coPredicateSql = Rco.testCoPredicate, triggerParam = 15.0)

  private val tables = Seq("CO_Aggregated_Data", "CO_Event_Log",
    "First_Stop_after_CO_Data", "Gantt_Data", "Event_Log_for_Gantt",
    "BRANDCODE_data", "Runtime_per_Day_data", "Script_Data")

  private lazy val events: Seq[RawEvent] =
    Tables.events(spark, "/root/testdata/sf0.001").as[RawEvent].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toSeq

  /** Every compared table as a sorted multiset of rows: all columns but
    * the bucket column and Script_Data's run timestamp, doubles rounded
    * as [[IncrementalEtlSpec]] rounds them. */
  private def snapshot(dir: String): Map[String, Seq[String]] =
    tables.map { t =>
      val df = spark.read.parquet(s"$dir/$t")
        .drop(graft.sinks.ParquetSinks.BucketCol, "Data_Update_Time")
      val cols = df.schema.fields.sortBy(_.name).map { f =>
        if (f.dataType == DoubleType) round(col(f.name), 6).as(f.name)
        else col(f.name)
      }
      t -> df.select(cols.toSeq: _*).collect().map(_.mkString("|"))
        .sorted.toSeq
    }.toMap

  /** One batch run + load of `evs`; returns the output dir. */
  private def batchRun(evs: Seq[RawEvent]): String = {
    val dir = tempDir("graft-rco-batch").toString
    val all = evs.toDF()
    RcoEtl.load(spark, RcoEtl.run(Rco.downtimeLogDeduped(all),
      Rco.productionLog(all), params), dir, params.server)
    dir
  }

  private lazy val batchDir: String = batchRun(events)

  private lazy val expected = snapshot(batchDir)

  private def assertParity(dir: String, clue: String): Unit = {
    val got = snapshot(dir)
    tables.foreach { t =>
      assert(got(t) == expected(t), s"$clue: $t")
      assert(got(t).nonEmpty, s"$clue: $t is empty")
    }
    // re-sent and replayed events overwrite their landed row
    assert(spark.read.parquet(s"$dir/${StreamingRcoEtl.LandedEvents}")
      .count() == events.size, s"$clue: landed events")
  }

  /** Stream `batches` through a fresh driver; returns the output dir,
    * the checkpoint and the (still open) input. */
  private def streamed(batches: Seq[Seq[RawEvent]])
      : (String, String, MemoryStream[RawEvent]) = {
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("graft-rco-stream")
    val (dir, ckpt) = (root.resolve("out").toString,
      root.resolve("ckpt").toString)
    val input = MemoryStream[RawEvent]
    val query = StreamingRcoEtl.start(input.toDF(), params, dir, ckpt)
    try batches.foreach { b =>
      input.addData(b)
      query.processAllAvailable()
    } finally query.stop()
    (dir, ckpt, input)
  }

  /** Four batches, each line's events in event-time order: the first
    * and second thirds of the timeline, then the last third of the
    * even lines, then that of the odd lines — so each of the last two
    * batches leaves some lines untouched. */
  private lazy val inOrder: Seq[Seq[RawEvent]] = {
    val Seq(first, second, last) =
      events.grouped((events.size + 2) / 3).toSeq
    val (even, odd) = last.partition(_.user_id % 2 == 0)
    Seq(first, second, even, odd)
  }

  test("input covers overlapping Gantt windows and untouched lines") {
    val win = Window.partitionBy("LINE").orderBy("CO_Start_EPOCH")
    val overlaps = spark.read.parquet(s"$batchDir/CO_Aggregated_Data")
      .withColumn("prev_max_t", lag(col("CO_End_EPOCH") +
        GanttGenerate.MinutesAfter * 60, 1).over(win))
      .filter(col("CO_Start_EPOCH") - GanttGenerate.MinutesBefore * 60 <
        col("prev_max_t"))
      .count()
    assert(overlaps > 0, "no pair of overlapping Gantt windows")
    val lines = events.map(_.user_id).toSet
    assert(inOrder.exists(b => b.map(_.user_id).toSet != lines),
      "every batch touches every line")
  }

  /** The in-order run, shared by the parity and the replay case. */
  private lazy val inOrderRun = streamed(inOrder)

  test("in-order micro-batches land the batch tables") {
    assertParity(inOrderRun._1, "in order")
  }

  test("random chops with late and re-sent events land the batch tables") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val n = 3
      val chops = Array.fill(n)(Seq.newBuilder[RawEvent])
      events.zipWithIndex.foreach { case (e, i) =>
        val home = i * n / events.size
        // one event in ten is held back to a later batch (late)
        val at = if (home < n - 1 && rnd.nextInt(10) == 0)
          home + 1 + rnd.nextInt(n - 1 - home) else home
        chops(at) += e
        // one in twenty is sent again in a random batch (replay)
        if (rnd.nextInt(20) == 0) chops(rnd.nextInt(n)) += e
      }
      val batches = chops.map(b => rnd.shuffle(b.result())).toSeq
      assert(batches.map(_.size).sum > events.size, s"seed=$seed: no replay")
      val (dir, _, _) = streamed(batches)
      assertParity(dir, s"seed=$seed")
    }
  }

  test("a micro-batch replayed from the checkpoint changes no table") {
    val (dir, ckpt, input) = inOrderRun
    val before = snapshot(dir)
    // forget the last commit: the restarted query re-runs that batch
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .maxBy(_.toLong)
    Seq(last, s".$last.crc").foreach(f =>
      assert(new java.io.File(commits, f).delete(), f))
    val query = StreamingRcoEtl.start(input.toDF(), params, dir, ckpt)
    try query.processAllAvailable() finally query.stop()
    assert(query.recentProgress.exists(_.batchId == last.toLong),
      s"batch $last was not replayed")
    assert(snapshot(dir) == before)
    assertParity(dir, "replayed")
  }

  test("a late CO event and a corrected re-send leave no stale rows") {
    val t0 = java.sql.Timestamp.valueOf("2024-03-04 06:00:00").getTime
    def ev(id: Long, line: Long, minute: Int, kind: String, value: Double) =
      RawEvent(id, new java.sql.Timestamp(t0 + minute * 60000L), line, kind,
        value, """{"k": 1}""")
    // L1: a 10-minute CO, then stops at +20 and +60 min; the first is
    // the CO's first stop. L2: a CO and its stop, never touched again.
    // L3: a CO and its stop.
    val first = Seq(ev(1, 1, 0, "error", 10), ev(2, 1, 20, "view", 1),
      ev(3, 1, 60, "view", 1), ev(11, 2, 0, "error", 10),
      ev(12, 2, 30, "view", 1), ev(21, 3, 0, "error", 10),
      ev(22, 3, 30, "view", 1))
    // late: a CO event 5 minutes after L1's CO joins it and ends it at
    // +25 min, past the stored first stop — the first stop is now +60
    val late = Seq(ev(4, 1, 15, "error", 10))
    // corrected re-send: L3's only CO event was a view, so L3 has no CO
    val resent = Seq(ev(21, 3, 0, "view", 10))
    val (dir, _, _) = streamed(Seq(first, late, resent))
    val finalEvents = (first ++ late).filterNot(_.event_id == 21) ++ resent
    val want = snapshot(batchRun(finalEvents))
    val got = snapshot(dir)
    tables.foreach(t => assert(got(t) == want(t), t))
    val stops = spark.read.parquet(s"$dir/First_Stop_after_CO_Data")
      .filter(col("LINE") === "L1")
    assert(stops.count() == 1 &&
      stops.head().getAs[String]("downtime_id") == "3")
    assert(spark.read.parquet(s"$dir/CO_Aggregated_Data")
      .filter(col("LINE") === "L3").isEmpty)
  }
}
