package graft

import java.time.LocalDateTime

import graft.sources.ConfigOps

class ConfigOpsSpec extends GraftSuite {
  import spark.implicits._

  test("stripPrefix removes only the matching prefix") {
    val df = Seq((1, "x")).toDF("fields.Id", "Title")
    assert(ConfigOps.stripPrefix(df, "fields.").columns.toSeq ==
      Seq("Id", "Title"))
  }

  test("renameIfPresent renames drifted columns, ignores absent ones") {
    val df = Seq((1, "m")).toDF("id", "PUDesc")
    val out = ConfigOps.renameIfPresent(df,
      Map("PUDesc" -> "MACHINE", "PLC_CODE" -> "Fault"))
    assert(out.columns.toSeq == Seq("id", "MACHINE"))
  }

  test("lookback window follows the hour-of-day rule") {
    assert(ConfigOps.lookbackDays(3) == 7)
    assert(ConfigOps.lookbackDays(20) == 2)
    assert(ConfigOps.lookbackDays(21) == 14)
    assert(ConfigOps.lookbackDays(22) == 7)
    assert(ConfigOps.lookbackDays(12) == 3)
    val wm = LocalDateTime.of(2026, 8, 10, 6, 0)
    val now = LocalDateTime.of(2026, 8, 12, 21, 5)
    val (lo, hi) = ConfigOps.analysisWindow(wm, now)
    assert(lo == wm.minusDays(14))
    assert(hi == now.plusDays(1))
  }

  test("stored watermark: None before the first load, per-server after") {
    val base = tempDir("graft-wm").toString
    // first-ever run: no Script_Data table yet → full extract
    assert(ConfigOps.scriptDataWatermark(spark, base, "S1").isEmpty)
    assert(ConfigOps.analysisWindowFromStore(spark, base, "S1",
      LocalDateTime.of(2026, 8, 12, 12, 0)).isEmpty)
    val t1 = java.sql.Timestamp.valueOf("2026-08-01 06:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-08-05 06:00:00")
    Seq(("S1", "L1", t1), ("S1", "L2", t2), ("S2", "L1", t2))
      .toDF("Server", "MES_Line_Name", "Data_Update_Time")
      .write.parquet(s"$base/Script_Data")
    // max per server, other servers' rows invisible
    assert(ConfigOps.scriptDataWatermark(spark, base, "S1").contains(t2))
    assert(ConfigOps.scriptDataWatermark(spark, base, "S3").isEmpty)
    val (lo, hi) = ConfigOps.analysisWindowFromStore(spark, base, "S1",
      LocalDateTime.of(2026, 8, 12, 12, 0)).get
    assert(lo == t2.toLocalDateTime.minusDays(3))
    assert(hi == LocalDateTime.of(2026, 8, 13, 12, 0))
  }

  test("watermark degrades to None on a pre-parity Script_Data layout") {
    // an upgraded deployment's first run sees the OLD table (no
    // Data_Update_Time column): must fall back to a full extract, not
    // crash on the aggregate
    val base = tempDir("graft-wm-old").toString
    Seq(("S1", "L1")).toDF("Server", "LINE")
      .write.parquet(s"$base/Script_Data")
    assert(ConfigOps.scriptDataWatermark(spark, base, "S1").isEmpty)
  }
}
