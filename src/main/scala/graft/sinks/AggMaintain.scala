package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — a materialized per-key summary
  * kept up to date batch by batch without ever re-scanning history:
  * the lakehouse "incremental materialized view" shape (and the
  * reference's metric tables recomputed-from-scratch per run, e.g.
  * `App/etl/transform/mes_etl.py`'s per-day aggregates, re-expressed
  * as O(batch) maintenance).
  *
  * The trick is storing MERGEABLE partial-aggregate state per key —
  * (count, sum, sum-of-squares, min, max) — instead of the finished
  * metrics: every one of those merges associatively, so folding a new
  * batch in is `merge(state[k], partial(batch)[k])` per touched key,
  * and the presentation metrics (avg, stddev) are derived at READ time
  * in [[readView]]. A stored avg could never absorb another batch;
  * stored partials always can. This is exactly how Spark's own
  * two-phase aggregation treats partial rows — here the partial lives
  * in a table between runs instead of in an exchange.
  *
  * Scale shape: the state table is bucketed by key
  * ([[ParquetSinks.upsertByKeyBucketed]]); a batch reads back only the
  * buckets its keys land in ([[ParquetSinks.readBucketsFor]]) and
  * rewrites only those buckets — maintenance cost is O(batch), not
  * O(history), measured for the sibling ingest indexes in round 10
  * (COVERAGE.md, Round 10 additions #3 and #17).
  *
  * Exactly-once: callers pass a stable `batchId` (Structured
  * Streaming's `foreachBatch` epoch id, or a run id). A batch whose
  * maintenance COMPLETED leaves a marker under `_applied/`; replaying
  * it is a no-op, so at-least-once delivery upstream cannot
  * double-count. A crash BETWEEN the state swap and the marker write
  * re-applies that batch on replay — the same partial-write window the
  * underlying staged-swap sink documents; the marker bounds it to one
  * batch.
  */
object AggMaintain {

  /** State schema: key + mergeable partials. `_applied/` markers and
    * the bucket sidecar ride inside the table dir (underscore-prefixed
    * — invisible to partition discovery). */
  val StateCols: Seq[String] = Seq("agg_cnt", "agg_sum", "agg_ssq",
    "agg_min", "agg_max")

  /** One batch reduced to mergeable per-key partials. NULL keys are
    * rejected IN the plan (fail-loud, no driver pass): the keyed
    * sinks underneath merge by equi-join, and NULL never equi-matches
    * NULL — a NULL-key state row would silently duplicate on every
    * batch instead of merging. Map NULLs to a sentinel key upstream
    * if "unknown" must be tracked. */
  def partials(batch: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val k = when(assert_true(col(keyCol).isNotNull, lit(
      s"AggMaintain: NULL $keyCol — NULL keys cannot merge by " +
        "equi-join; map them to a sentinel upstream")).isNull,
      col(keyCol))
    batch.groupBy(k.as(keyCol))
      .agg(count(v).as("agg_cnt"),
        sum(v).as("agg_sum"),
        sum(v * v).as("agg_ssq"),
        min(v).as("agg_min"),
        max(v).as("agg_max"))
  }

  /** Associative merge of partial rows sharing a key — used for both
    * state⊕batch and (in specs) split⊕split ≡ whole. */
  def mergePartials(rows: DataFrame, keyCol: String): DataFrame =
    rows.groupBy(col(keyCol))
      .agg(sum(col("agg_cnt")).as("agg_cnt"),
        sum(col("agg_sum")).as("agg_sum"),
        sum(col("agg_ssq")).as("agg_ssq"),
        min(col("agg_min")).as("agg_min"),
        max(col("agg_max")).as("agg_max"))

  /** Fold one batch into the state table at `path`. Touched keys'
    * state rows are read bucket-pruned, merged with the batch's
    * partials, and upserted back — untouched buckets are never read
    * or written. */
  def maintain(spark: SparkSession, batch: DataFrame, path: String,
      keyCol: String, valueCol: String, batchId: String): Unit = {
    if (Ledger.applied(spark, path, batchId)) return
    // pin the batch partials: the fold below executes them up to three
    // times (the touched-bucket probe, the upsert's own bucket collect,
    // and the staged write) — without the pin each execution re-scans
    // the micro-batch source and re-runs its aggregation
    val bp = partials(batch, keyCol, valueCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val merged =
        if (!fs.exists(new org.apache.hadoop.fs.Path(path))) bp
        else {
          val touched = ParquetSinks
            .readBucketsFor(spark, path, keyCol, bp.select(col(keyCol)))
            .join(bp.select(col(keyCol)).distinct(), Seq(keyCol),
              "left_semi")
            .select((keyCol +: StateCols).map(col): _*)
          mergePartials(touched.unionByName(bp), keyCol)
        }
      ParquetSinks.upsertByKeyBucketed(spark, merged, path, Seq(keyCol),
        keyCol)
      Ledger.markApplied(spark, path, batchId)
    } finally bp.unpersist()
  }

  /** Presentation view over the state: derived avg/stddev alongside
    * the raw partials. stddev uses the textbook sum-of-squares form —
    * fine for a monitoring view (document the cancellation hazard for
    * near-constant values at extreme magnitudes; the partials
    * themselves are exact sums and stay mergeable regardless). */
  def readView(spark: SparkSession, path: String): DataFrame = {
    val st = spark.read.parquet(path)
    st.select(st.columns.filterNot(_ == ParquetSinks.BucketCol)
        .map(col).toSeq: _*)
      .withColumn("agg_avg", col("agg_sum") / col("agg_cnt"))
      .withColumn("agg_std",
        when(col("agg_cnt") > 1, sqrt(
          greatest(lit(0.0),
            (col("agg_ssq") - col("agg_sum") * col("agg_sum") /
              col("agg_cnt")) / (col("agg_cnt") - 1)))))
  }
}
