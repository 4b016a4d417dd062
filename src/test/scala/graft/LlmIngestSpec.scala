package graft


import org.apache.spark.sql.DataFrame

import graft.operators.LlmIngest

/** Incremental ingest dedup: accept/reject across batches, index
  * growth, idempotent re-ingest. */
class LlmIngestSpec extends GraftSuite {
  import spark.implicits._

  // ~40 tokens so the 3-gram shingle sets are rich; the near-dup edit
  // (one token changed) keeps Jaccard (and its MinHash estimate) high
  private val baseText = (1 to 40).map(i => s"w$i").mkString(" ")
  private val nearDup = ((1 to 39).map(i => s"w$i") :+ "zz").mkString(" ")
  private val other =
    (1 to 40).map(i => s"v$i").mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def freshIndex(): String =
    tempDir("ingest_idx").resolve("index").toString

  test("first batch creates the index and accepts everything distinct") {
    val idx = freshIndex()
    val a = LlmIngest.ingestDedup(spark, docs(1L -> baseText, 2L -> other),
      idx)
    assert(a.select("doc_id").as[Long].collect().sorted === Seq(1L, 2L))
    assert(new java.io.File(idx).exists())
  }

  test("later batch: near-dup of an indexed doc rejected, new doc kept") {
    val idx = freshIndex()
    LlmIngest.ingestDedup(spark, docs(1L -> baseText), idx)
    val a = LlmIngest.ingestDedup(spark,
      docs(11L -> nearDup, 12L -> other), idx)
      .select("doc_id").as[Long].collect().sorted
    assert(a === Seq(12L))
  }

  test("intra-batch near-dups: smaller id wins, larger rejected") {
    val idx = freshIndex()
    val a = LlmIngest.ingestDedup(spark,
      docs(5L -> baseText, 6L -> nearDup, 7L -> other), idx)
      .select("doc_id").as[Long].collect().sorted
    assert(a === Seq(5L, 7L))
  }

  test("re-ingesting the same batch is a no-op (idempotent index)") {
    val idx = freshIndex()
    val batch = docs(1L -> baseText, 2L -> other)
    val first = LlmIngest.ingestDedup(spark, batch, idx)
      .select("doc_id").as[Long].collect().sorted
    val indexRows = spark.read.parquet(idx).count()
    val again = LlmIngest.ingestDedup(spark, batch, idx)
      .select("doc_id").as[Long].collect().sorted
    assert(first === Seq(1L, 2L))
    assert(again === first, "second ingest accepts the same set")
    assert(spark.read.parquet(idx).count() === indexRows,
      "index unchanged by the re-ingest")
  }

  test("unrelated docs never collide: index grows by each batch") {
    val idx = freshIndex()
    LlmIngest.ingestDedup(spark, docs(1L -> baseText), idx)
    LlmIngest.ingestDedup(spark, docs(2L -> other), idx)
    // one row per (band key, doc) — NumBands rows per accepted doc
    assert(spark.read.parquet(idx).count() ===
      2L * graft.operators.LlmText.NumBands)
  }

  // ---- vector ingest ----

  private val baseVec = Array(1.0f, 1.0f, 1.0f, 1.0f)
  private val nearVec = Array(1.0f, 1.0f, 1.0f, 0.9f)  // cos ≈ 0.999
  private val otherVec = Array(1.0f, -1.0f, 1.0f, -1.0f)

  private def vecs(rows: (Long, Array[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def ingestV(batch: DataFrame, idx: String): Seq[Long] =
    LlmIngest.ingestVectors(spark, batch, idx, threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq

  test("vector ingest: first batch accepts all distinct vectors") {
    val idx = freshIndex()
    assert(ingestV(vecs(1L -> baseVec, 2L -> otherVec), idx) ==
      Seq(1L, 2L))
    assert(spark.read.parquet(idx).count() === 2L)
  }

  test("vector ingest: near-dup of an indexed vector rejected") {
    val idx = freshIndex()
    ingestV(vecs(1L -> baseVec), idx)
    assert(ingestV(vecs(11L -> nearVec, 12L -> otherVec), idx) ==
      Seq(12L))
  }

  test("vector ingest: intra-batch near-dups keep the smaller id") {
    val idx = freshIndex()
    assert(ingestV(vecs(5L -> baseVec, 6L -> nearVec, 7L -> otherVec),
      idx) == Seq(5L, 7L))
  }

  test("vector ingest: re-ingest is a no-op on result and index") {
    val idx = freshIndex()
    val batch = vecs(1L -> baseVec, 2L -> otherVec)
    val first = ingestV(batch, idx)
    val rows = spark.read.parquet(idx).count()
    assert(ingestV(batch, idx) == first)
    assert(spark.read.parquet(idx).count() === rows)
  }

  test("vector ingest matches a greedy single-threaded reference") {
    import graft.operators.LlmSim
    val rnd = new scala.util.Random(77177)
    val thr = 0.5
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cell(v: Seq[Double]) =
      v.take(LlmSim.IvfDims).map(x => if (x >= 0) '1' else '0').mkString
    def near(a: Seq[Double], b: Seq[Double]) =
      cell(a) == cell(b) &&
        r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))) >=
          thr
    val batches = (0 until 3).map(b => (0L until 15L).map(i =>
      (b * 100L + i,
        Array.fill(6)((rnd.nextDouble() * 2 - 1).toFloat))))
    // reference transcription of the operator's contract: reject a
    // vector if it is near an already-ACCEPTED earlier-batch vector,
    // or near ANY smaller-id sibling in its own batch (greedy — the
    // sibling's own fate does not matter)
    val index = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Double])]
    val wantAccepted = batches.flatMap { batch =>
      val ds = batch.map { case (id, v) => id -> v.map(_.toDouble).toSeq }
      val acc = ds.filterNot { case (id, v) =>
        index.exists { case (_, iv) => near(v, iv) } ||
          ds.exists { case (jd, jv) => jd < id && near(jv, v) }
      }
      index ++= acc
      acc.map(_._1)
    }.sorted
    val idx = freshIndex()
    val got = batches.flatMap(b =>
      LlmIngest.ingestVectors(spark, vecs(b.map(t => (t._1, t._2)): _*),
          idx, threshold = thr)
        .select("vec_id").as[Long].collect()).sorted
    assert(got.toSeq == wantAccepted.toSeq)
    // and the index holds exactly the accepted membership
    assert(spark.read.parquet(idx).select("vec_id").as[Long]
      .collect().sorted.toSeq == wantAccepted.toSeq)
  }

  test("vector ingest: cell-boundary near-dup slips through (contract)") {
    // near-identical by cosine but in different sign cells — the
    // documented throughput-vs-recall trade the scaladoc names
    // (contaminationEmbed is the exact screen for recall-critical use)
    val idx = freshIndex()
    ingestV(vecs(1L -> Array(0.001f, 1.0f, 1.0f, 1.0f)), idx)
    assert(ingestV(vecs(2L -> Array(-0.001f, 1.0f, 1.0f, 1.0f)), idx) ==
      Seq(2L))
  }
}
