package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.LlmCorpus
import graft.streaming.StreamingProfile

/** Top-level: Spark encoders cannot instantiate suite-inner classes. */
case class ProfDoc(doc_id: Long, text: String, source: String)

/** Continuous profile shards ≡ the batch profile; redelivery replaces
  * a shard instead of double-counting it. */
class StreamingProfileSpec extends GraftSuite {
  import spark.implicits._

  private def estimates(profile: DataFrame): Map[String, (Long, Long, Long, Long)] =
    LlmCorpus.profileEstimate(profile).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))))
      .toMap

  private lazy val corpus: Seq[ProfDoc] =
    graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
      .as[ProfDoc].collect().toSeq

  test("streamed shards merge to the whole-corpus profile") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_profile").toString
    val expected = estimates(LlmCorpus.profileSketch(corpus.toDF()))
    val rnd = new scala.util.Random(3)
    var rest = corpus
    val input = MemoryStream[ProfDoc]
    val q = StreamingProfile.start(input.toDF(), dir)
    try {
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(math.max(1, rest.size / 2))
        input.addData(rest.take(take): _*)
        q.processAllAvailable()
        rest = rest.drop(take)
      }
    } finally q.stop()
    assert(estimates(StreamingProfile.currentProfile(spark, dir)) === expected)
  }

  test("redelivering a batch replaces its shard, never double-counts") {
    val dir = tempDir("graft_stream_profile_redeliver").toString
    val (a, b) = corpus.splitAt(corpus.size / 2)
    StreamingProfile.writeShard(a.toDF(), dir, 0L)
    StreamingProfile.writeShard(b.toDF(), dir, 1L)
    val before = estimates(StreamingProfile.currentProfile(spark, dir))
    StreamingProfile.writeShard(b.toDF(), dir, 1L) // redelivery
    assert(estimates(StreamingProfile.currentProfile(spark, dir)) === before)
    // and the count columns really are exact sums, not estimates
    assert(before.values.map(_._1).sum === corpus.size)
  }

  test("shards from before the histogram upgrade still merge") {
    // a long-lived directory spans profile-schema upgrades: simulate
    // an OLD shard (no len_hist column) next to a new one — the
    // merged profile must keep the old shard's counts/sketches and
    // compute quantiles over the post-upgrade rows, not fail or
    // silently drop the source
    val dir = tempDir("graft_stream_profile_upgrade").toString
    val (a, b) = corpus.splitAt(corpus.size / 2)
    LlmCorpus.profileSketch(a.toDF()).drop("len_hist") // pre-upgrade
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("append").parquet(dir)
    StreamingProfile.writeShard(b.toDF(), dir, 1L)
    val est = estimates(StreamingProfile.currentProfile(spark, dir))
    assert(est.values.map(_._1).sum === corpus.size) // counts keep a+b
    val hist = StreamingProfile.currentProfile(spark, dir)
      .select(col("source"), col("len_hist")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val bOnly = LlmCorpus.profileSketch(b.toDF())
      .select(col("source"), col("len_hist")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // histogram covers exactly the post-upgrade shard's rows
    for ((src, h) <- bOnly) assert(hist(src) === h, src)
  }

  test("writeShard releases its pinned frame (no per-batch cache leak)") {
    // profileSketch pins the tokenized batch; a long-running stream
    // calls writeShard once per micro-batch — without the CacheScope
    // release each call would leave one more dead cached frame behind
    val dir = tempDir("graft_stream_profile_leak").toString
    val cached0 = spark.sparkContext.getPersistentRDDs.size
    (0 until 3).foreach(i =>
      StreamingProfile.writeShard(corpus.take(20).toDF(), dir, i.toLong))
    assert(spark.sparkContext.getPersistentRDDs.size === cached0)
  }
}
