package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingHeavyHitters

/** Top-level: Spark encoders cannot instantiate suite-inner classes. */
case class HhRow(k: Long)

/** Streamed Misra-Gries shards: the merged candidate set is a superset
  * of the true heavy keys with the batch error bound intact, whatever
  * the chop; redelivery replaces a shard instead of double-counting. */
class StreamingHeavyHittersSpec extends GraftSuite {
  import spark.implicits._

  private val Cap = 64
  private val Frac = 0.02 // > 1/65

  /** Deterministic zipf-ish stream (same shape as HeavyHittersSpec). */
  private def stream(rows: Int, keys: Int, seed: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    val w = (0 until keys).map(k => 1.0 / (k + 1))
    val cum = w.scanLeft(0.0)(_ + _).tail
    val tot = cum.last
    (0 until rows).map { _ =>
      val x = rnd.nextDouble() * tot
      cum.indexWhere(x <= _).toLong
    }
  }

  private def candidates(dir: String): Map[Long, Long] =
    StreamingHeavyHitters.currentCandidates(spark, dir, Frac, Cap)
      .select(col("key_hash"), col("est"))
      .as[(Long, Long)].collect().toMap

  private def hashOf(ks: Seq[Long]): Map[Long, Long] = {
    val m = ks.distinct.toDF("k").select(col("k"), xxhash64(col("k")))
      .as[(Long, Long)].collect().toMap
    m
  }

  test("streamed candidates ⊇ true heavy keys across random chops, " +
      "with est bounds intact") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_hh").toString
    val data = stream(6000, 400, seed = 11)
    val exact = data.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    val hashes = hashOf(data)

    val input = MemoryStream[HhRow]
    val q = StreamingHeavyHitters.start(input.toDF(), col("k"), dir, Cap)
    val rnd = new scala.util.Random(5)
    var rest = data
    try {
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(math.max(1, rest.size / 3))
        input.addData(rest.take(take).map(HhRow): _*)
        q.processAllAvailable()
        rest = rest.drop(take)
      }
    } finally q.stop()

    val cands = candidates(dir)
    val n = data.size.toLong
    val minFreq = math.ceil(Frac * n).toLong
    val err = n / (Cap + 1)
    // containment: every truly-heavy key is a candidate
    exact.foreach { case (k, t) =>
      if (t >= minFreq)
        assert(cands.contains(hashes(k)), s"heavy key $k lost")
    }
    // est bounds: est <= true <= est + n/(cap+1) for every candidate
    // that corresponds to a real key (no synthetic collisions here)
    val byHash = exact.map { case (k, t) => hashes(k) -> t }
    cands.foreach { case (h, est) =>
      byHash.get(h).foreach { t =>
        assert(est <= t && t <= est + err, s"hash $h: est=$est true=$t")
      }
    }
  }

  test("redelivering a batch replaces its shard, never double-counts") {
    val dir = tempDir("graft_stream_hh_redeliver").toString
    val data = stream(3000, 200, seed = 23)
    val (a, b) = data.splitAt(data.size / 2)
    StreamingHeavyHitters.writeShard(a.toDF("k"), col("k"), dir, 0L, Cap)
    StreamingHeavyHitters.writeShard(b.toDF("k"), col("k"), dir, 1L, Cap)
    val before = candidates(dir)
    StreamingHeavyHitters.writeShard(b.toDF("k"), col("k"), dir, 1L, Cap)
    assert(candidates(dir) == before)
  }
}
