package graft

import org.apache.spark.storage.StorageLevel

import graft.operators.CacheScope

/** [[CacheScope]] — scoped pins release via the handle; orphan pins
  * (no scope open) are LRU-bounded so a loop calling a pinning
  * operator without a scope cycles a bounded cache instead of
  * accumulating persists for the session lifetime. Pin eviction is
  * correctness-safe (an evicted pin recomputes); tracked CHECKPOINTS
  * are non-recomputable, so their ring never unpersists — overflow
  * drops references only, and [[CacheScope.release]] is the explicit
  * block-freeing path for owners. */
class CacheScopeSpec extends GraftSuite {
  import spark.implicits._

  private def internalRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id

  test("scoped pins release via the handle") {
    val (a, release) = CacheScope.collect {
      CacheScope.pin(Seq(1, 2).toDF("v"))
    }
    assert(a.storageLevel != StorageLevel.NONE)
    release()
    assert(a.storageLevel == StorageLevel.NONE)
  }

  test("orphan pins are LRU-bounded: oldest evicted at the cap, " +
      "newest persisted, evicted frames still compute") {
    val frames = (0 to CacheScope.OrphanCap).map(i =>
      CacheScope.pin(Seq(i).toDF("v")))
    assert(frames.head.storageLevel == StorageLevel.NONE,
      "oldest orphan must be evicted once the cap is exceeded")
    assert(frames.last.storageLevel != StorageLevel.NONE,
      "newest orphan must stay persisted")
    assert(frames.head.collect().map(_.getInt(0)).toSeq == Seq(0))
    frames.foreach(f => { f.unpersist(); () })
  }

  test("a tracked checkpoint survives heavy orphan-PIN eviction " +
      "pressure: its blocks are intact and a derived plan (the " +
      "kcore/bfs return shape) still consumes") {
    val t = CacheScope.track(Seq(1, 2, 3).toDF("v").localCheckpoint(true))
    val rddId = internalRddId(t)
    // push well past the cap — old behavior evicted (unpersisted)
    // tracked frames right here
    val pins = (0 to CacheScope.OrphanCap + 10).map(i =>
      CacheScope.pin(Seq(i).toDF("v")))
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "checkpoint blocks must survive pin-ring eviction")
    assert(t.groupBy().sum("v").collect().head.getLong(0) == 6L)
    pins.foreach(f => { f.unpersist(); () })
    CacheScope.release(t)
  }

  test("tracked orphan overflow drops the REFERENCE, never the " +
      "blocks: the oldest tracked frame past the cap still consumes") {
    val frames = (0 to CacheScope.OrphanCap).map(i =>
      CacheScope.track(Seq(i).toDF("v").localCheckpoint(true)))
    val oldestId = internalRddId(frames.head)
    assert(spark.sparkContext.getPersistentRDDs.contains(oldestId),
      "overflow must not unpersist a non-recomputable frame")
    assert(frames.head.collect().map(_.getInt(0)).toSeq == Seq(0))
    frames.foreach(CacheScope.release)
  }

  test("pin rejects a frame built on a cut, before persisting it") {
    import org.apache.spark.sql.functions.col
    val c = CacheScope.cut(Seq(3, 1, 2).toDF("v")
      .repartition(2, col("v")).sortWithinPartitions("v"))
    try {
      val leaf = c.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      assert(leaf.outputOrdering.nonEmpty, "the cut keeps its ordering")
      val over = c.filter(col("v") > 1)
      val e = intercept[IllegalArgumentException](CacheScope.pin(over))
      assert(e.getMessage.contains("cut it instead"), e.getMessage)
      assert(over.storageLevel == StorageLevel.NONE)
    } finally CacheScope.release(c)
  }

  test("release frees root-checkpoint blocks deterministically — " +
      "Dataset.unpersist alone is a measured no-op on them") {
    val df = Seq(1, 2, 3).toDF("v").localCheckpoint(true)
    val rddId = internalRddId(df)
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
    df.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "Dataset.unpersist does not release checkpoint blocks (4.1)")
    CacheScope.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  test("release is root-only: a derived plan embedding someone " +
      "else's checkpoint never frees that checkpoint's blocks") {
    val owner = Seq(1, 2, 3).toDF("v").localCheckpoint(true)
    val ownerId = internalRddId(owner)
    val derived = owner.filter($"v" > 1).persist()
    derived.count()
    CacheScope.release(derived)
    assert(spark.sparkContext.getPersistentRDDs.contains(ownerId),
      "derived release must not touch the embedded checkpoint")
    assert(owner.count() == 3L)
    CacheScope.release(owner)
  }
}
