package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.ParquetSinks

/** Incremental corpus ingestion: near-dedup a NEW batch of documents
  * against a PERSISTED MinHash band index, then extend the index with
  * the accepted documents — the daily-crawl idiom (dedup today's crawl
  * against everything ever accepted) that a one-shot corpus dedup
  * ([[LlmText.dedupNear]]) cannot express.
  *
  * Index layout: one row per (band key, doc_id) carrying the full
  * MinHash signature, stored as a bucketed table hashed on the band
  * key. Both halves of the scale argument live on that key:
  *  - the batch→index probe reads ONLY the index buckets the batch's
  *    band keys hash into ([[ParquetSinks.readBucketsFor]]) — the scan
  *    is O(batch-touched buckets), not O(index);
  *  - the index append rewrites only those same buckets
  *    ([[ParquetSinks.upsertByKeyBucketed]] keyed on (key, doc_id), so
  *    re-ingesting a batch never duplicates index rows).
  *
  * Duplicate decision: band-key collision proposes a candidate pair
  * (the LSH screen, identical banding to [[LlmText.dedupNear]]);
  * the pair is CONFIRMED by MinHash signature agreement ≥
  * [[AgreeMin]] — the estimator E[agree/n] = J(a,b), evaluated from
  * the signatures both sides already carry, so the index never stores
  * shingle sets. Intra-batch near-dups are screened with the same
  * collision+agreement rule (keep = smaller doc_id); the screen is
  * greedy (a doc pairing only with an already-rejected doc is still
  * rejected), which is the standard one-pass ingest behavior.
  *
  * Re-ingesting the same batch is a no-op: each document's bands
  * collide with its OWN index rows, which the self-match filter
  * excludes; the accepted set is mutually non-duplicate under the same
  * measure, so it is accepted again and the keyed index merge changes
  * nothing (LlmIngestSpec asserts both).
  */
object LlmIngest {

  /** Minimum fraction of agreeing signature positions — the MinHash
    * estimate of [[LlmText.JaccardThreshold]]. */
  val AgreeMin: Double = LlmText.JaccardThreshold

  /** Band rows (key, doc_id, sig) of a batch: the [[LlmText]] banding
    * over the native shingle+minhash kernels, signature kept aboard. */
  private def bandRows(documents: DataFrame): DataFrame = {
    val sig = LlmText.shingles(documents)
      .select(col("doc_id"),
        call_function("graft_minhash", col("shingles"),
          lit(LlmText.NumHashes)).as("sig"))
    sig.select(col("doc_id"), col("sig"),
      explode(array((0 until LlmText.NumBands).map { b =>
        concat_ws("|", lit(b) +:
          (0 until LlmText.BandRows).map(r =>
            element_at(col("sig"), b * LlmText.BandRows + r + 1)): _*)
      }: _*)).as("key"))
  }

  /** Agreeing-position fraction of two equal-length signatures. */
  private def agree(a: String, b: String) =
    aggregate(zip_with(col(a), col(b), (x, y) =>
      when(x === y, 1).otherwise(0)), lit(0), _ + _)
      .cast("double") / LlmText.NumHashes

  /** Ingest `newDocs` against the index at `indexPath`: returns the
    * ACCEPTED documents (near-dups of the index or of a smaller-id
    * batch sibling dropped) after extending the index with them.
    * First call creates the index. */
  def ingestDedup(spark: SparkSession, newDocs: DataFrame,
      indexPath: String): DataFrame = {
    // Everything that reads the index runs inside one scope whose pins
    // are released before return; the frame handed back depends only on
    // `newDocs` and the checkpointed reject set, never on the index
    // files the append below swaps out — a caller may collect it at any
    // later time without racing the sink.
    val (rejected, release) = CacheScope.collect {
      val bands = CacheScope.pin(bandRows(newDocs))
      val indexExists = {
        val p = new org.apache.hadoop.fs.Path(indexPath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      // batch → index candidates: bucket-pruned scan, equi-join on the
      // band key, self-matches excluded (re-ingest), agreement-confirmed
      val dupVsIndex =
        if (!indexExists) spark.emptyDataFrame.select(lit(0L).as("doc_id"))
          .limit(0)
        else ParquetSinks.readBucketsFor(spark, indexPath, "key", bands)
          .select(col("key"), col("doc_id").as("idx_id"),
            col("sig").as("idx_sig"))
          .join(bands, Seq("key"))
          .filter(col("doc_id") =!= col("idx_id"))
          .filter(agree("sig", "idx_sig") >= AgreeMin)
          .select(col("doc_id")).distinct()
      // intra-batch screen: same collision+agreement rule, keep smaller id
      val dupInBatch = bands.as("x")
        .join(bands.as("y"),
          col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .filter(agree("x.sig", "y.sig") >= AgreeMin)
        .select(col("y.doc_id").as("doc_id")).distinct()
      // eager localCheckpoint = the pre-append barrier AND the lineage
      // cut: the reject decision (batch-bounded, one id column) is
      // computed against the CURRENT index state and stored; nothing
      // downstream can re-scan the bucket files the append replaces.
      // (Blocks live on executors — on a cluster, losing one fails the
      // job instead of silently re-deciding against a mutated index.)
      val rejectedIds = dupVsIndex.unionByName(dupInBatch).distinct()
        .localCheckpoint(true)
      val acceptedBands = bands.join(rejectedIds,
        Seq("doc_id"), "left_anti")
        .select(col("key"), col("doc_id"), col("sig"))
      ParquetSinks.upsertByKeyBucketed(spark, acceptedBands, indexPath,
        Seq("key", "doc_id"), "key")
      rejectedIds
    }
    release()
    newDocs.join(rejected, Seq("doc_id"), "left_anti")
  }

  /** Incremental VECTOR ingestion — [[ingestDedup]]'s embedding-side
    * sibling, the vector-database ingestion flow: near-dedup a new
    * batch of embeddings against a PERSISTED quantizer-cell index
    * (cosine ≥ `threshold` to any already-accepted same-cell vector
    * rejects), then extend the index with the accepted vectors.
    *
    * Index layout: one row per (cell, vec_id) carrying the vector and
    * its norm, bucketed on the cell — the same two-sided scale
    * argument as the MinHash index: the probe reads only the buckets
    * the batch's cells hash into ([[ParquetSinks.readBucketsFor]], the
    * machinery measured O(batch) in COVERAGE.md, Round 10 additions
    * #3), and the append rewrites only those buckets. The cell kernel is
    * [[LlmSim.cellRows]], shared with the batch-side operators so the
    * two sides cannot drift. Candidate generation is cell-bucketed
    * (the [[LlmSim.dedupEmbed]] screen, NOT the exact broadcast of
    * [[LlmSim.contaminationEmbed]] — ingest dedup is a throughput
    * screen over an unbounded index, where the equi-join is the only
    * shape that scales; a boundary-straddling near-dup slipping
    * through costs a duplicate, not a correctness failure).
    * Intra-batch near-dups keep the smaller vec_id, greedily, and
    * re-ingesting a batch is a no-op — both by the [[ingestDedup]]
    * argument (self-matches excluded, keyed index merge idempotent).
    *
    * `cellDims` is the same k ∝ corpus knob as [[LlmSim.semDedup]]'s
    * codebook: at a fixed cell count, per-cell membership — and with
    * it probe cost — grows linearly with the index, so a corpus 10×
    * bigger wants +log2(10) ≈ 3-4 more sign dims to keep the
    * per-batch probe O(batch). Fixed for the lifetime of one index
    * (the cell is the storage key); growing it means re-celling, an
    * offline rebuild, exactly like re-training an IVF codebook.
    */
  def ingestVectors(spark: SparkSession, newVecs: DataFrame,
      indexPath: String,
      threshold: Double = LlmSim.EmbedDupThreshold,
      cellDims: Int = LlmSim.IvfDims): DataFrame = {
    val cos = (va: String, na: String, vb: String, nb: String) =>
      round(call_function("graft_dot", col(va), col(vb)) /
        (col(na) * col(nb)), 6)
    val (rejected, release) = CacheScope.collect {
      val rows = CacheScope.pin(LlmSim.cellRows(newVecs, cellDims))
      val indexExists = {
        val p = new org.apache.hadoop.fs.Path(indexPath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      val dupVsIndex =
        if (!indexExists) spark.emptyDataFrame
          .select(lit(0L).as("vec_id")).limit(0)
        else ParquetSinks.readBucketsFor(spark, indexPath, "cell", rows)
          .select(col("cell"), col("vec_id").as("idx_id"),
            col("v").as("iv"), col("norm").as("inorm"))
          .join(rows, Seq("cell"))
          .filter(col("vec_id") =!= col("idx_id"))
          .filter(cos("v", "norm", "iv", "inorm") >= threshold)
          .select(col("vec_id")).distinct()
      val dupInBatch = rows.as("x")
        .join(rows.as("y"),
          col("x.cell") === col("y.cell") &&
            col("x.vec_id") < col("y.vec_id"))
        .filter(cos("x.v", "x.norm", "y.v", "y.norm") >= threshold)
        .select(col("y.vec_id").as("vec_id")).distinct()
      // same pre-append barrier + lineage cut as the document ingest
      val rejectedIds = dupVsIndex.unionByName(dupInBatch).distinct()
        .localCheckpoint(true)
      val acceptedRows = rows.join(rejectedIds, Seq("vec_id"), "left_anti")
        .select(col("cell"), col("vec_id"), col("v"), col("norm"))
      ParquetSinks.upsertByKeyBucketed(spark, acceptedRows, indexPath,
        Seq("cell", "vec_id"), "cell")
      rejectedIds
    }
    release()
    newVecs.join(rejected, Seq("vec_id"), "left_anti")
  }
}
