package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{Ledger, ParquetSinks}

/** Incremental entity resolution — the ingest face of
  * [[EntityResolution]]: records arrive in batches, each batch is
  * matched (edit distance 1, FastSS deletion blocking) against BOTH
  * itself and the persisted registry, and entity assignments stay
  * equal to what the batch operator would produce over everything
  * ingested so far — including TRANSITIVE effects: a later record can
  * BRIDGE two existing entities, which merges them.
  *
  * State, all under `path`:
  *  - `members/` — (dkey, id, str, entity_id), bucketed by dkey: one
  *    row per (member, deletion-key). Matching a batch reads ONLY the
  *    buckets its own deletion keys hash to (the
  *    [[ParquetSinks.readBucketsFor]] O(batch) fold the vector ingest
  *    proved out). Member rows are NEVER rewritten on merge — their
  *    entity_id may go stale and is resolved through the merge map at
  *    read time (union-find with deferred path compression).
  *  - `merges/` — the flattened map (old_entity -> root): small by
  *    construction (one row per entity that ever lost a merge), read
  *    whole each batch and kept FLAT (every row points at its current
  *    root, so resolution is ONE left join, never an iterative chase).
  *  - `_applied/` markers — same replay-ledger discipline as
  *    [[graft.sinks.AggMaintain]]: redelivered batches are no-ops.
  *
  * Per batch: candidate pairs are (batch × batch) ∪ (batch × touched
  * registry rows) — never registry × registry (no new information);
  * components are min-label-propagated over batch ids plus the
  * RESOLVED entity anchors of matched registry rows, so a bridge
  * record links anchors and the resulting label rewrite lands in the
  * merge map, not in a registry-wide rewrite.
  *
  * Contract: record ids are globally unique across batches (the same
  * append-only id contract as the vector ingest); NULL ids/strings
  * are dropped like the batch operator.
  *
  * Cite: generic engine capability (incremental master-data
  * reconciliation; the reference re-runs its exact-key joins from
  * scratch each cycle, ref/App/etl/transform/mes_etl.py:194).
  */
object ErIngest {

  private def membersPath(path: String) = s"$path/members"
  private def mergesPath(path: String) = s"$path/merges"

  private def exists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** The flattened merge map (old_entity, root), empty frame if none
    * recorded yet. */
  private def mergeMap(spark: SparkSession, path: String): DataFrame =
    if (exists(spark, mergesPath(path)))
      spark.read.parquet(mergesPath(path))
    else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("old_entity", "root")
    }

  /** Resolve possibly-stale entity ids through the merge map: one
    * left join (the map is flat). */
  private def resolve(df: DataFrame, merges: DataFrame,
      entityCol: String): DataFrame =
    df.join(merges.select(col("old_entity"), col("root")),
        df(entityCol) === col("old_entity"), "left")
      .withColumn(entityCol, coalesce(col("root"), col(entityCol)))
      .drop("old_entity", "root")

  /** Fold one batch of records `(idCol: long, strCol: string)` into
    * the registry at `path`. Returns this batch's assignments
    * `(id, entity_id)` (empty when replayed — the ledger already has
    * the batch). */
  def ingest(spark: SparkSession, batch: DataFrame, path: String,
      idCol: String, strCol: String, batchId: String): DataFrame = {
    import spark.implicits._
    if (Ledger.applied(spark, path, batchId))
      return Seq.empty[(Long, Long)].toDF("id", "entity_id")

    val recs = batch
      .filter(col(idCol).isNotNull && col(strCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(strCol).as("str"))
    val merges = mergeMap(spark, path).localCheckpoint(true)

    val (out, release) = CacheScope.collect {
      ingestBody(spark, recs, merges, path)
    }
    release()
    Ledger.markApplied(spark, path, batchId)
    out
  }

  private def ingestBody(spark: SparkSession, recs: DataFrame,
      merges: DataFrame, path: String): DataFrame = {
    import spark.implicits._
    val batchKeys = CacheScope.pin(recs.select(col("id"), col("str"),
      explode(FuzzyJoin.deletionKeys(col("str"))).as("dkey")))

    // touched registry rows: bucket-pruned by the batch's own keys,
    // entity anchors resolved to their current roots
    val touchedRaw =
      if (!exists(spark, membersPath(path)))
        Seq.empty[(String, Long, String, Long)]
          .toDF("dkey", "id", "str", "entity_id")
      else ParquetSinks
        .readBucketsFor(spark, membersPath(path), "dkey",
          batchKeys.select(col("dkey")))
        .join(batchKeys.select(col("dkey")).distinct(), Seq("dkey"),
          "left_semi")
        .select(col("dkey"), col("id"), col("str"), col("entity_id"))
    val touched = CacheScope.pin(
      resolve(touchedRaw, merges, "entity_id"))

    // batch ↔ registry matches -> edges (batch id, entity anchor)
    val crossEdges = batchKeys
      .join(touched.select(col("dkey"), col("str").as("r_str"),
        col("entity_id")), Seq("dkey"))
      .filter(abs(length(col("str")) - length(col("r_str"))) <= 1)
      .select(col("id"), col("entity_id"), col("str"), col("r_str"))
      .distinct()
      .filter(levenshtein(col("str"), col("r_str")) <= 1)
      .select(col("id").as("id_a"), col("entity_id").as("id_b"))
      .distinct()
    // batch ↔ batch matches
    val selfEdges = FuzzyJoin.selfJoin1(recs, "id", "str")
      .select(col("id_a"), col("id_b"))

    val nodes = recs.select(col("id").as("doc_id"))
      .unionByName(crossEdges.select(col("id_b").as("doc_id")))
      .distinct()
    val labels = LlmText.clustersFromPairs(
      selfEdges.unionByName(crossEdges), nodes)
      .select(col("doc_id").as("node"), col("cluster_id").as("label"))
      .localCheckpoint(true)

    // new member rows carry their final entity
    val newMembers = batchKeys
      .join(labels, batchKeys("id") === col("node"))
      .select(col("dkey"), col("id"), col("str"),
        col("label").as("entity_id"))
    ParquetSinks.upsertByKeyBucketed(spark, newMembers,
      membersPath(path), Seq("dkey", "id"), "dkey")

    // anchors whose component got a smaller root -> merge events;
    // flatten: existing entries pointing AT a re-rooted anchor follow
    val events = labels
      .join(touched.select(col("entity_id").as("node")).distinct(),
        Seq("node"))
      .filter(col("node") =!= col("label"))
      .select(col("node").as("old_entity"), col("label").as("root"))
      .localCheckpoint(true)
    if (!events.isEmpty) {
      val rerouted = merges
        .join(events.select(col("old_entity").as("m_old"),
          col("root").as("new_root")),
          merges("root") === col("m_old"), "left")
        .select(col("old_entity"),
          coalesce(col("new_root"), col("root")).as("root"))
      val flat = rerouted.unionByName(events)
        .groupBy(col("old_entity")).agg(min(col("root")).as("root"))
        .localCheckpoint(true)
      // atomic staged rewrite: every stored row reappears in `flat`
      // (rerouted covers the whole map), so the keyed replace IS the
      // full flattened map after the swap
      ParquetSinks.replaceDedup(spark, flat, mergesPath(path),
        "old_entity")
    }

    recs.join(labels, recs("id") === col("node"))
      .select(col("id"), col("label").as("entity_id"))
      .localCheckpoint(true)
  }

  /** Current assignments `(id, entity_id, canonical)` over everything
    * ingested — the incremental twin of [[EntityResolution.resolve]]'s
    * output (one read of members + the flat merge map; canonical =
    * the root member's string). */
  def currentEntities(spark: SparkSession, path: String): DataFrame = {
    val merges = mergeMap(spark, path)
    val m = resolve(
      spark.read.parquet(membersPath(path))
        .select(col("id"), col("str"), col("entity_id")).distinct(),
      merges, "entity_id")
    val canon = m.filter(col("id") === col("entity_id"))
      .select(col("entity_id"), col("str").as("canonical"))
    m.select(col("id"), col("entity_id"))
      .join(canon, Seq("entity_id"))
      .select(col("id"), col("entity_id"), col("canonical"))
  }
}
