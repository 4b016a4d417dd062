package graft


import org.apache.spark.sql.functions._

import graft.operators.{LlmSim, Pq}
import graft.streaming.StreamingPqEncode

/** [[Pq.migrate]] and [[Pq.compact]] — the stored index's two
  * maintenance passes: migrate is the retrain+re-encode the drift
  * monitor's flag calls for (post-migration equivalence with a fresh
  * index, the drift thermometer resetting), compact merges the
  * accumulated stream-batch dirs into the reserved corpus batch
  * (serving unchanged, replay markers preserved). Both share the
  * staged-commit discipline whose crash windows are replayed here:
  * uncommitted → discard; committed → heal finishes the swap from
  * any interleaving; read paths refuse a half-swapped index. */
class PqMigrateSpec extends GraftSuite {

  private lazy val embs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

  /** The drifted regime: shifted copies the bootstrap book quantizes
    * badly — exactly what trips the retrain flag. */
  private lazy val drifted = embs
    .select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.6f)).as("embedding"))

  private def freshPath(): String =
    tempDir("pq_migrate").resolve("pq").toString

  private def fs(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def topk(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private lazy val queries = embs.filter(
    col("vec_id") % LlmSim.QueryMod === 0)

  test("drift flags the shifted corpus; migrate retrains, re-encodes " +
      "and re-baselines — the same data then serves ≡ a fresh index " +
      "and encodes drift-free") {
    val path = freshPath()
    Pq.freeze(spark, embs, path)
    StreamingPqEncode.applyBatch(spark, embs, path, 0L)
    // the distribution shifts: drifted batch trips the flag
    StreamingPqEncode.applyBatch(spark, drifted, path, 1L,
      retrainRatio = 1.2)
    val flagged = spark.read.parquet(s"$path/drift")
      .filter(col("retrain") === 1).count()
    assert(flagged == 1, "the drifted batch must trip the flag")

    // the migration the flag calls for: retrain on the CURRENT corpus
    val corpus = embs.unionByName(drifted)
    Pq.migrate(spark, corpus, path)

    // equivalence with an index frozen+encoded from scratch — query
    // set = the corpus' own house split, so the in-memory searchIvf
    // (which derives its queries from the corpus) is comparable too
    val qs = corpus.filter(col("vec_id") % LlmSim.QueryMod === 0)
    val fresh = freshPath()
    Pq.buildIndexIfAbsent(spark, corpus, fresh)
    assert(topk(Pq.searchIvfIndex(spark, qs, path)) ===
      topk(Pq.searchIvfIndex(spark, qs, fresh)),
      "post-migration serving must equal a fresh freeze+encode")
    assert(topk(Pq.searchIvfIndex(spark, qs, path)) ===
      topk(Pq.searchIvf(corpus)),
      "post-migration serving must equal the in-memory searchIvf")

    // old drift rows and batch markers are retired with the old book
    assert(!fs(path).exists(
      new org.apache.hadoop.fs.Path(s"$path/drift")))
    assert(!fs(path).exists(
      new org.apache.hadoop.fs.Path(s"$path/_applied")))
    // the formerly-drifted data is now IN-distribution for the new
    // book: a fresh stream's batch of it encodes without the flag
    StreamingPqEncode.applyBatch(spark, drifted, path, 0L,
      retrainRatio = 1.2)
    val post = spark.read.parquet(s"$path/drift").collect()
    assert(post.length == 1 && post.head.getAs[Int]("retrain") == 0,
      s"post-migration drift row: ${post.toSeq}")
  }

  test("an UNcommitted crashed migration is discarded: the old index " +
      "is intact and serves unchanged") {
    val path = freshPath()
    Pq.buildIndexIfAbsent(spark, embs, path)
    val before = topk(Pq.searchIvfIndex(spark, queries, path))
    // crash mid-staging: books staged, codes half-written, NO commit
    Pq.freeze(spark, embs.unionByName(drifted), s"$path/_migrate")
    // the old index still serves (staging is invisible to reads)...
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) === before)
    // ...and the heal discards the staging outright
    Pq.healMigration(spark, path)
    assert(!fs(path).exists(
      new org.apache.hadoop.fs.Path(s"$path/_migrate")))
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) === before)
  }

  test("compact merges every batch dir into the corpus batch: serving " +
      "is unchanged, drift rows and applied markers survive, and a " +
      "replayed batch still no-ops") {
    val path = freshPath()
    Pq.freeze(spark, embs, path)
    val b0 = embs.filter(col("vec_id") < 150)
    val b1 = embs.filter(col("vec_id") >= 150 && col("vec_id") < 300)
    val b2 = embs.filter(col("vec_id") >= 300)
    StreamingPqEncode.applyBatch(spark, b0, path, 0L)
    StreamingPqEncode.applyBatch(spark, b1, path, 1L)
    StreamingPqEncode.applyBatch(spark, b2, path, 2L)
    val beforeIvf = topk(Pq.searchIvfIndex(spark, queries, path))
    val beforeFull = topk(Pq.searchIndex(spark, queries, path))
    val rowsBefore = Pq.readCodes(spark, path)
      .select("vec_id", "cent_id", "sim_r", "packed", "l2sq_sum")
      .collect().map(_.toSeq).toSet

    Pq.compact(spark, path)

    val table = Pq.readCodes(spark, path)
    assert(table.select("batch_id").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(Pq.CorpusBatchId),
      "one reserved corpus batch after compaction")
    assert(table.select("vec_id", "cent_id", "sim_r", "packed",
      "l2sq_sum").collect().map(_.toSeq).toSet === rowsBefore,
      "compaction moves rows, never changes them")
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) === beforeIvf)
    assert(topk(Pq.searchIndex(spark, queries, path)) === beforeFull)
    // books/baseline untouched → drift rows stay meaningful and stay
    assert(spark.read.parquet(s"$path/drift").count() == 3)
    // a replayed applied batch must STILL no-op (its rows live in the
    // corpus batch now): marker survives, nothing re-writes, the
    // replay returns the empty frame
    assert(fs(path).exists(new org.apache.hadoop.fs.Path(
      s"$path/_applied/pqenc_1")))
    assert(StreamingPqEncode.applyBatch(spark, b1, path, 1L)
      .count() == 0)
    assert(Pq.readCodes(spark, path).count() == embs.count(),
      "the replay wrote nothing")
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) === beforeIvf)
    // ...and the no-op must survive marker PRUNING (Ledger.prune may
    // collect old pqenc markers): the compaction bound, swapped in
    // with the codes, refuses the id outright
    assert(Pq.compactedThrough(spark, path) === Some(2L))
    fs(path).delete(new org.apache.hadoop.fs.Path(
      s"$path/_applied/pqenc_1"), false)
    assert(StreamingPqEncode.applyBatch(spark, b1, path, 1L)
      .count() == 0)
    assert(Pq.readCodes(spark, path).count() == embs.count(),
      "a marker-pruned replay of a compacted batch wrote nothing")
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) === beforeIvf)
    // migrate retires the whole batch-id space — the compaction bound
    // must go with the markers, or a NEW stream's batch 0 would be
    // silently refused
    Pq.migrate(spark, embs, path)
    assert(Pq.compactedThrough(spark, path) === None)
    assert(StreamingPqEncode.applyBatch(spark, b1, path, 1L)
      .count() == b1.count(),
      "post-migration the id space is fresh and batch 1 applies")
  }

  test("a COMMITTED crashed compaction blocks reads until healed and " +
      "heals to the compacted index; an uncommitted one is discarded") {
    val path = freshPath()
    Pq.freeze(spark, embs, path)
    // books frozen, nothing streamed yet: compact is a clean no-op
    Pq.compact(spark, path)
    assert(!fs(path).exists(
      new org.apache.hadoop.fs.Path(s"$path/codes")))
    StreamingPqEncode.applyBatch(spark,
      embs.filter(col("vec_id") < 250), path, 0L)
    StreamingPqEncode.applyBatch(spark,
      embs.filter(col("vec_id") >= 250), path, 1L)
    val before = topk(Pq.searchIvfIndex(spark, queries, path))

    // uncommitted crash: staged codes, no _COMMIT → discarded, the
    // live two-batch table serves on
    Pq.writeCodes(
      Pq.readCodes(spark, path).select(col("vec_id"), col("cent_id"),
        col("sim_r"), col("packed"), col("l2sq_sum")),
      s"$path/_compact", Pq.CorpusBatchId)
    Pq.healCompaction(spark, path)
    assert(!fs(path).exists(
      new org.apache.hadoop.fs.Path(s"$path/_compact")))
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) === before)
    assert(Pq.readCodes(spark, path).select("batch_id").distinct()
      .count() == 2, "uncommitted staging discarded, batches intact")

    // committed mid-swap crash: staging committed and the live codes
    // dir already deleted — the worst interleaving
    Pq.writeCodes(
      Pq.readCodes(spark, path).select(col("vec_id"), col("cent_id"),
        col("sim_r"), col("packed"), col("l2sq_sum")),
      s"$path/_compact", Pq.CorpusBatchId)
    fs(path).create(new org.apache.hadoop.fs.Path(
      s"$path/_compact/_COMMIT"), true).close()
    fs(path).delete(new org.apache.hadoop.fs.Path(s"$path/codes"), true)
    val ex = intercept[IllegalStateException] {
      Pq.searchIvfIndex(spark, queries, path).collect()
    }
    assert(ex.getMessage.contains("healCompaction"))
    Pq.healCompaction(spark, path)
    assert(!fs(path).exists(
      new org.apache.hadoop.fs.Path(s"$path/_compact")))
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) === before)
    assert(Pq.readCodes(spark, path).select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(Pq.CorpusBatchId))
    // healing is idempotent
    Pq.healCompaction(spark, path)
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) === before)
  }

  test("a COMMITTED crashed migration blocks reads until healed, and " +
      "heal finishes the swap from a mid-swap interleaving") {
    val path = freshPath()
    Pq.buildIndexIfAbsent(spark, embs, path)
    val corpus = embs.unionByName(drifted)
    // replay the full staging phase exactly as migrate stages it...
    val staging = s"$path/_migrate"
    Pq.freeze(spark, corpus, staging)
    val (cvsL, bbsL) = Pq.frozenCodebook(spark, staging)
    val (cIds, cCvs, cNorms) = Pq.frozenCoarse(spark, staging)
    Pq.writeCodes(
      Pq.encodeIndexed(corpus, cvsL, bbsL, cIds, cCvs, cNorms),
      staging, Pq.CorpusBatchId)
    fs(path).create(new org.apache.hadoop.fs.Path(
      s"$staging/_COMMIT"), true).close()
    // ...then crash MID-swap: one component already swapped
    val f = fs(path)
    f.delete(new org.apache.hadoop.fs.Path(s"$path/codebook"), true)
    f.rename(new org.apache.hadoop.fs.Path(s"$staging/codebook"),
      new org.apache.hadoop.fs.Path(s"$path/codebook"))

    // reads refuse the mixed state loudly
    val ex = intercept[IllegalStateException] {
      Pq.searchIvfIndex(spark, queries, path).collect()
    }
    assert(ex.getMessage.contains("healMigration"))

    Pq.healMigration(spark, path)
    assert(!f.exists(new org.apache.hadoop.fs.Path(staging)))
    val fresh = freshPath()
    Pq.buildIndexIfAbsent(spark, corpus, fresh)
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) ===
      topk(Pq.searchIvfIndex(spark, queries, fresh)),
      "healed mid-swap crash must converge to the migrated index")
    // healing is idempotent
    Pq.healMigration(spark, path)
    assert(topk(Pq.searchIvfIndex(spark, queries, path)) ===
      topk(Pq.searchIvfIndex(spark, queries, fresh)))
  }
}
