package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Drift
import graft.streaming.StreamingDrift

/** Top-level: Spark encoders cannot instantiate suite-inner classes. */
case class DriftRow(c: String)

/** [[StreamingDrift]]: the drift report derived from maintained
  * counts ≡ batch [[Drift.categorical]] over everything streamed;
  * ledger replay never double-counts. */
class StreamingDriftSpec extends GraftSuite {
  import spark.implicits._

  private val baseline =
    Seq("a", "a", "a", "b", "b", "c", null).toDF("c")

  private def report(df: org.apache.spark.sql.DataFrame)
      : Set[(String, Long, Long, Double, Double)] =
    df.as[(String, Long, Long, Double, Double)].collect().toSet

  test("streamed counts ≡ batch drift, incl. a value baseline lacks") {
    implicit val sqlCtx = spark.sqlContext
    val path = tempDir("graft_stream_drift").toString + "/state"
    val chops = Seq(Seq("a", "b", null), Seq("b", "b", "d"), Seq("d"))
    val input = MemoryStream[DriftRow]
    val q = StreamingDrift.start(input.toDF(), path, "c")
    try chops.foreach { ch =>
      input.addData(ch.map(DriftRow(_)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = report(
      StreamingDrift.currentDrift(spark, path, baseline, "c"))
    val expected = report(
      Drift.categorical(baseline, chops.flatten.toDF("c"), "c"))
    assert(got == expected)
    // 'd' is new vs baseline, 'c' vanished — both cells must exist
    assert(got.exists(r => r._1 == "d" && r._2 == 0L && r._3 == 2L))
    assert(got.exists(r => r._1 == "c" && r._2 == 1L && r._3 == 0L))
  }

  test("ledger replay is a no-op") {
    val path = tempDir("graft_stream_drift_replay").toString +
      "/state"
    StreamingDrift.fold(Seq("a", "b").toDF("c"), path, "c", "e0")
    val before = report(
      StreamingDrift.currentDrift(spark, path, baseline, "c"))
    StreamingDrift.fold(Seq("a", "b").toDF("c"), path, "c", "e0")
    assert(report(StreamingDrift
      .currentDrift(spark, path, baseline, "c")) == before)
  }
}
