package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{EntityResolution, ErIngest}

/** [[ErIngest]] ≡ batch [[EntityResolution.resolve]] over everything
  * ingested — including the bridge case (a later record merges two
  * existing entities) and a new record becoming the root of an
  * existing entity (smaller id). Plus replay idempotence. */
class ErIngestSpec extends GraftSuite {
  import spark.implicits._

  private def dir() = tempDir("graft_er_ingest").toString

  private def batchResolve(rows: Seq[(Long, String)])
      : Set[(Long, Long, String)] =
    EntityResolution.resolve(rows.toDF("id", "s"), "id", "s", k = 1)
      .as[(Long, Long, String)].collect().toSet

  private def current(path: String): Set[(Long, Long, String)] =
    ErIngest.currentEntities(spark, path)
      .as[(Long, Long, String)].collect().toSet

  private def ingest(path: String, rows: Seq[(Long, String)],
      id: String): DataFrame =
    ErIngest.ingest(spark, rows.toDF("id", "s"), path, "id", "s", id)

  // two entities that only a later BRIDGE record connects:
  // ed(martin, martyx) = 2, bridge martix is 1 from both
  private val b1 = Seq((10L, "martin"), (11L, "queen"))
  private val b2 = Seq((20L, "martins"), (21L, "martyx"))
  private val b3 = Seq((5L, "martix")) // bridge AND new min root

  test("incremental ≡ batch after every batch, bridge merges entities") {
    val p = dir()
    ingest(p, b1, "e0")
    assert(current(p) == batchResolve(b1))
    ingest(p, b2, "e1")
    assert(current(p) == batchResolve(b1 ++ b2))
    // pre-bridge sanity: martin-family and martyx are separate
    val pre = current(p)
    assert(pre.count(_._2 == 10L) == 2 && pre.count(_._2 == 21L) == 1)
    ingest(p, b3, "e2")
    val post = current(p)
    assert(post == batchResolve(b1 ++ b2 ++ b3))
    // the bridge re-roots BOTH old entities at the new min id 5
    assert(post.filter(_._2 == 5L).map(_._1) ==
      Set(5L, 10L, 20L, 21L))
    assert(post.forall(r => r._2 != 5L || r._3 == "martix"))
  }

  test("replayed batch is a no-op and returns empty") {
    val p = dir()
    val first = ingest(p, b1, "e0")
    assert(first.count() == 2)
    val before = current(p)
    val replay = ingest(p, b1, "e0")
    assert(replay.isEmpty)
    assert(current(p) == before)
  }

  test("every chop split converges to the batch assignment") {
    val all = b1 ++ b2 ++ b3 ++ Seq((40L, "queens"), (41L, "kart"))
    val expected = batchResolve(all)
    for (cut <- 1 until all.size) {
      val p = dir()
      ingest(p, all.take(cut), "c0")
      ingest(p, all.drop(cut), "c1")
      assert(current(p) == expected, s"cut=$cut")
    }
  }

  test("batch assignments returned per ingest match the final state") {
    val p = dir()
    val a1 = ingest(p, b1, "e0").as[(Long, Long)].collect().toMap
    assert(a1 == Map(10L -> 10L, 11L -> 11L))
    ingest(p, b2, "e1")
    val a3 = ingest(p, b3, "e2").as[(Long, Long)].collect().toMap
    assert(a3 == Map(5L -> 5L))
  }
}
