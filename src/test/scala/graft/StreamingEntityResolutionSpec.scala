package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.{EntityResolution, ErIngest}
import graft.streaming.StreamingEntityResolution

/** Top-level: Spark encoders cannot instantiate suite-inner classes. */
case class ErRec(id: Long, s: String)

/** [[StreamingEntityResolution]]: the registry tracked through a real
  * stream equals the batch resolve over everything sent — bridge
  * merge included. */
class StreamingEntityResolutionSpec extends GraftSuite {
  import spark.implicits._

  test("streamed registry ≡ batch resolve, bridge across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val path = tempDir("graft_stream_er").toString
    val chops = Seq(
      Seq(ErRec(10L, "martin"), ErRec(11L, "queen")),
      Seq(ErRec(20L, "martins"), ErRec(21L, "martyx")),
      Seq(ErRec(5L, "martix"))) // bridges 10-family and 21, new root
    val input = MemoryStream[ErRec]
    val q = StreamingEntityResolution.start(input.toDF(), path, "id", "s")
    try chops.foreach { c =>
      input.addData(c: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = ErIngest.currentEntities(spark, path)
      .as[(Long, Long, String)].collect().toSet
    val expected = EntityResolution.resolve(
        chops.flatten.toDF("id", "s"), "id", "s", k = 1)
      .as[(Long, Long, String)].collect().toSet
    assert(got == expected)
    assert(got.filter(_._2 == 5L).map(_._1) == Set(5L, 10L, 20L, 21L))
  }
}
