package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingLoad, StreamingRuntime}

/** Stream → windowed aggregate → parquet upsert: updated windows must
  * replace their stored rows (no duplicates), untouched windows must
  * survive — the streaming T2 reconciliation contract. */
class StreamingLoadSpec extends GraftSuite {
  import spark.implicits._

  case class E(START_TIME: java.sql.Timestamp, LINE: String,
      UPTIME: Double, DOWNTIME: Double)

  private def ts(hour: Int) =
    java.sql.Timestamp.valueOf(f"2026-01-0${hour / 24 + 1}%d " +
      f"${hour % 24}%02d:00:00")

  test("micro-batches upsert windows; reopened windows don't duplicate") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-sload")
    val path = dir.resolve("rt").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[E]
    val query = StreamingLoad.upsertTo(
      StreamingRuntime(input.toDF()), path, ckpt)
    try {
      input.addData(E(ts(1), "L1", 10, 1), E(ts(3), "L2", 5, 0.5))
      query.processAllAvailable()
      // second batch REOPENS L1's day-1 window (inside lateness) —
      // the stored L1 row must be replaced, not appended to
      input.addData(E(ts(5), "L1", 20, 2))
      query.processAllAvailable()
      val out = spark.read.parquet(path)
        .select(col("LINE"),
          date_format(col("window_start"), "yyyy-MM-dd").as("d"),
          col("Runtime"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      assert(out.length == 2, s"one row per (line, window): ${out.toSeq}")
      assert(out.toSet == Set(("L1", "2026-01-01", 30.0),
        ("L2", "2026-01-01", 5.0)))
      // the sink must use the BUCKETED merge — a per-trigger full-table
      // rewrite would make trigger cost grow with table age
      assert(spark.read.parquet(path).columns
        .contains(graft.sinks.ParquetSinks.BucketCol),
        "streaming table should be in the hash-bucket layout")
    } finally query.stop()
  }

  test("late data reopening an OLD window must not wipe later windows") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-sload2")
    val path = dir.resolve("rt").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[E]
    // lateness wide enough that day 1 stays open after day-2 data
    val query = StreamingLoad.upsertTo(
      StreamingRuntime(input.toDF(), lateness = "48 hours"), path, ckpt)
    try {
      // batch 1: L1 has TWO windows (day 1 and day 2)
      input.addData(E(ts(1), "L1", 10, 1), E(ts(30), "L1", 7, 0.7))
      query.processAllAvailable()
      // batch 2: late data inside the watermark reopens ONLY day 1 —
      // Update mode re-emits just that window; the stored day-2 row
      // must survive (the windowed delete would wipe it silently)
      input.addData(E(ts(2), "L1", 5, 0.5))
      query.processAllAvailable()
      val out = spark.read.parquet(path)
        .select(date_format(col("window_start"), "yyyy-MM-dd").as("d"),
          col("Runtime"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(out == Set(("2026-01-01", 15.0), ("2026-01-02", 7.0)),
        s"day-2 window must survive the day-1 reopen: $out")
    } finally query.stop()
  }
}
