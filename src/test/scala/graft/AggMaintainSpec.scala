package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.AggMaintain

/** Incremental aggregate maintenance: batches folded one at a time
  * must equal the one-shot groupBy over everything, replays must not
  * double-count, and the view's derived metrics must match direct
  * computation. */
class AggMaintainSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-aggm").resolve("state").toString

  private def batch(rows: (String, Double)*): DataFrame =
    rows.toSeq.toDF("k", "v")

  /** (cnt, sum, min, max, avg) per key from the view. */
  private def view(path: String): Map[String, (Long, Double, Double,
      Double, Double)] =
    AggMaintain.readView(spark, path)
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("agg_cnt"), r.getAs[Double]("agg_sum"),
          r.getAs[Double]("agg_min"), r.getAs[Double]("agg_max"),
          r.getAs[Double]("agg_avg")))).toMap

  test("batch-at-a-time maintenance equals the one-shot aggregate") {
    val path = tmp()
    val b1 = batch("a" -> 1.0, "a" -> 3.0, "b" -> 10.0)
    val b2 = batch("a" -> 5.0, "c" -> -2.0)
    val b3 = batch("b" -> 4.0, "c" -> 0.0, "c" -> 8.0)
    AggMaintain.maintain(spark, b1, path, "k", "v", "b1")
    AggMaintain.maintain(spark, b2, path, "k", "v", "b2")
    AggMaintain.maintain(spark, b3, path, "k", "v", "b3")
    val got = view(path)
    val want = b1.unionByName(b2).unionByName(b3)
      .groupBy($"k")
      .agg(count($"v").as("c"), sum($"v").as("s"), min($"v").as("mn"),
        max($"v").as("mx"), avg($"v").as("av"))
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("c"), r.getAs[Double]("s"), r.getAs[Double]("mn"),
          r.getAs[Double]("mx"), r.getAs[Double]("av")))).toMap
    assert(got == want)
  }

  test("replaying a completed batch is a no-op (at-least-once safe)") {
    val path = tmp()
    AggMaintain.maintain(spark, batch("a" -> 2.0), path, "k", "v", "e1")
    AggMaintain.maintain(spark, batch("a" -> 4.0), path, "k", "v", "e2")
    val before = view(path)
    // foreachBatch redelivery: same batch id, same (or even different)
    // payload — must not be folded in twice
    AggMaintain.maintain(spark, batch("a" -> 4.0), path, "k", "v", "e2")
    AggMaintain.maintain(spark, batch("a" -> 999.0), path, "k", "v", "e1")
    assert(view(path) == before)
    assert(before("a") == ((2L, 6.0, 2.0, 4.0, 3.0)))
  }

  test("untouched keys' state survives a batch that doesn't mention them") {
    val path = tmp()
    AggMaintain.maintain(spark, batch("a" -> 1.0, "b" -> 2.0), path,
      "k", "v", "b1")
    AggMaintain.maintain(spark, batch("b" -> 3.0), path, "k", "v", "b2")
    val got = view(path)
    assert(got("a") == ((1L, 1.0, 1.0, 1.0, 1.0)))
    assert(got("b") == ((2L, 5.0, 2.0, 3.0, 2.5)))
  }

  test("derived stddev matches stddev_samp; single-row key gets NULL") {
    val path = tmp()
    AggMaintain.maintain(spark,
      batch("a" -> 1.0, "a" -> 2.0, "a" -> 4.0, "solo" -> 7.0),
      path, "k", "v", "b1")
    val got = AggMaintain.readView(spark, path)
      .select($"k", round($"agg_std", 9).as("std")).collect()
      .map(r => r.getAs[String]("k") -> Option(r.get(1))).toMap
    val want = math.sqrt(((1.0 - 7.0 / 3) * (1.0 - 7.0 / 3) +
      (2.0 - 7.0 / 3) * (2.0 - 7.0 / 3) +
      (4.0 - 7.0 / 3) * (4.0 - 7.0 / 3)) / 2)
    assert(got("a") == Some(math.rint(want * 1e9) / 1e9))
    assert(got("solo").isEmpty)
  }

  test("a NULL key fails the job loudly instead of duplicating state") {
    val path = tmp()
    val withNull = Seq((Some("a"), 1.0), (None, 2.0))
      .toDF("k", "v")
    val e = intercept[Exception] { quietly {
      AggMaintain.maintain(spark, withNull, path, "k", "v", "b1")
    } }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" ")
    assert(chain.contains("NULL k"), chain)
  }

  test("split-merge of partials equals partials of the whole") {
    val all = batch("a" -> 1.0, "a" -> 2.0, "b" -> -3.0, "b" -> 9.0,
      "c" -> 0.5)
    val p1 = AggMaintain.partials(all.limit(2), "k", "v")
    val p2 = AggMaintain.partials(all.exceptAll(all.limit(2)), "k", "v")
    val merged = AggMaintain.mergePartials(p1.unionByName(p2), "k")
    val whole = AggMaintain.partials(all, "k", "v")
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty)
  }
}
