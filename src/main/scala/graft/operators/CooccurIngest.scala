package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sinks.{Ledger, ParquetSinks}

/** Incremental item co-occurrence — the streaming/ingest twin of
  * [[ClassicQueries.itemCooccur]]: (user, item) interactions arrive
  * in batches, and the maintained state always answers the SAME
  * query the batch operator computes over everything ingested so far
  * (per pair, distinct users holding both items; Jaccard over the
  * items' user sets; support floor; hyperactive baskets capped),
  * without ever re-scanning history.
  *
  * The non-additive part of co-occurrence is that an arriving
  * (user, item) pairs with the user's STORED basket, not just the
  * batch: a pair (u, {a, b}) is counted exactly once — in the batch
  * where the SECOND of the two items lands. Per batch, increments
  * are derived from (batch, basket-before): new-new pairs within the
  * batch plus new×stored pairs against the bucket-pruned basket rows
  * of the batch's users. Everything stored is an additive keyed sum
  * after that, the [[graft.sinks.AggMaintain]] contract.
  *
  * `maxBasket` mirrors [[ClassicQueries.MaxBasket]] EXACTLY, at
  * every prefix of the stream: a user whose running distinct-item
  * count would exceed the cap in this batch is dropped ENTIRELY —
  * the pairs and item counts their basket contributed in earlier
  * batches are REVERSED (bounded: the stored basket never exceeds
  * the cap, so the reversal is ≤ C(maxBasket, 2) pairs, paid once
  * per capped user ever), their basket rows are deleted, and the
  * user lands in a `capped` tombstone table that filters all later
  * arrivals. [[view]] after any chop therefore equals the batch
  * operator with the same cap over the same prefix. Capped-user
  * counts are logged, never silent.
  *
  * State (all bucketed, touched-bucket reads and rewrites —
  * maintenance is O(batch + touched pairs), never O(history)):
  *  - `path/basket` — (user_id, item) seen so far, bucketed by user,
  *    per-user size ≤ maxBasket invariant;
  *  - `path/co`     — (pair_key, item_a, item_b, co, last_batch);
  *  - `path/items`  — (item, n_users, last_batch);
  *  - `path/capped` — (user_id) tombstones of dropped users.
  *
  * Exactly-once across ANY crash point — the additive double-count
  * window earlier revisions documented is CLOSED, two mechanisms:
  *  1. increments are computed once from (batch, basket-before,
  *     capped-before) and STAGED to `path/_stage/<batch>` before any
  *     state table is touched (flag file last); a replay reuses the
  *     staged deltas instead of recomputing over mutated state;
  *  2. the additive tables carry a per-row `last_batch`: the merge
  *     adds a staged delta only to rows whose `last_batch` differs,
  *     so re-applying after a crash between a bucket swap and its
  *     `_applied/<batch>` marker adds nothing. Basket delete/insert
  *     and capped inserts are naturally idempotent. The `_applied`
  *     markers remain as fast-path skips; the basket marker (written
  *     last) is the whole-batch sentinel, after which the stage is
  *     swept. Replays are assumed to be of the most recent batch
  *     (standard foreachBatch redelivery), matching every staged
  *     sink here.
  */
object CooccurIngest {

  private def basketPath(path: String) = s"$path/basket"
  private def coPath(path: String) = s"$path/co"
  private def itemsPath(path: String) = s"$path/items"
  private def cappedPath(path: String) = s"$path/capped"
  private def stagePath(path: String, batchId: String) =
    s"$path/_stage/$batchId"

  private def exists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** Test-only crash injection: when set, the matching apply step
    * throws AFTER its writes land but BEFORE its `_applied` marker —
    * the exact window the staged-delta + `last_batch` design must
    * replay through. Matched by path suffix (`"/co"`, `"/items"`,
    * `"/capped"`, `"/basket"`); cleared on fire. */
  private[graft] var crashAfter: Option[String] = None

  private def step(spark: SparkSession, table: String, batchId: String)(
      f: => Unit): Unit =
    if (!Ledger.applied(spark, table, batchId)) {
      f
      if (crashAfter.exists(table.endsWith)) {
        crashAfter = None
        throw new IllegalStateException(
          s"injected crash after apply, before marker: $table")
      }
      Ledger.markApplied(spark, table, batchId)
    }

  /** Read a stored additive table, tolerating state written before
    * the `last_batch` column existed. */
  private def withLastBatch(df: DataFrame): DataFrame =
    if (df.columns.contains("last_batch")) df
    else df.withColumn("last_batch", lit(null).cast("string"))

  private def dropStage(spark: SparkSession, path: String,
      batchId: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(stagePath(path, batchId))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Fold one batch of `(userCol, itemCol)` interactions into the
    * state at `path`. Duplicate interactions (within the batch or vs
    * the stored basket) are absorbed — co-occurrence is over DISTINCT
    * (user, item). */
  def ingest(spark: SparkSession, batch: DataFrame, path: String,
      userCol: String, itemCol: String, batchId: String,
      maxBasket: Int = ClassicQueries.MaxBasket): Unit = {
    import spark.implicits._
    require(maxBasket >= 1,
      s"CooccurIngest: maxBasket must be >= 1, got $maxBasket")
    val basket = basketPath(path)
    val co = coPath(path)
    val items = itemsPath(path)
    val capped = cappedPath(path)
    // basket is marked LAST: its marker means the whole batch landed
    if (Ledger.applied(spark, basket, batchId)) {
      dropStage(spark, path, batchId)
      return
    }

    val stage = stagePath(path, batchId)
    val flag = new org.apache.hadoop.fs.Path(stage, "_staged")
    val fs = flag.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // ---- stage the batch's deltas (pure function of batch + state-
    // before; apply steps only run once the flag exists, so a missing
    // flag guarantees no state table has been touched by this batch)
    if (!fs.exists(flag)) {
      val ui = batch
        .filter(col(userCol).isNotNull && col(itemCol).isNotNull)
        .select(col(userCol).cast("long").as("user_id"),
          col(itemCol).cast("long").as("item"))
        .distinct()
      val (_, release) = CacheScope.collect {
        // tombstoned users contribute nothing, ever again
        val uiOk = CacheScope.pin(
          if (!ParquetSinks.bucketedTableExists(spark, capped)) ui
          else ui.join(ParquetSinks
              .readBucketsFor(spark, capped, "user_id",
                ui.select(col("user_id")))
              .select(col("user_id")),
            Seq("user_id"), "left_anti"))
        val storedForUsers = CacheScope.pin(
          if (!ParquetSinks.bucketedTableExists(spark, basket))
            Seq.empty[(Long, Long)].toDF("user_id", "item")
          else ParquetSinks
            .readBucketsFor(spark, basket, "user_id",
              uiOk.select(col("user_id")))
            .join(uiOk.select(col("user_id")).distinct(), Seq("user_id"),
              "left_semi")
            .select(col("user_id"), col("item")))
        val newUI = CacheScope.pin(
          uiOk.join(storedForUsers, Seq("user_id", "item"), "left_anti"))
        // users whose running basket would exceed the cap this batch
        // (only users with NEW items can cross: stored is ≤ cap by
        // invariant)
        val over = CacheScope.pin(newUI
          .groupBy(col("user_id")).agg(count(lit(1)).as("__nc"))
          .join(storedForUsers.groupBy(col("user_id"))
            .agg(count(lit(1)).as("__sc")), Seq("user_id"), "left")
          .filter(coalesce(col("__sc"), lit(0L)) + col("__nc") >
            maxBasket)
          .select(col("user_id")))
        val nOver = over.count()
        if (nOver > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"CooccurIngest: capping $nOver hyperactive user(s) whose " +
              s"basket crossed $maxBasket distinct items — reversing " +
              "their prior contribution and tombstoning them (no " +
              "similarity signal; unbounded quadratic fan-out " +
              "otherwise)")
        val okNewUI = CacheScope.pin(
          newUI.join(over, Seq("user_id"), "left_anti"))
        val storedOk =
          storedForUsers.join(over, Seq("user_id"), "left_anti")
        val storedOver = CacheScope.pin(
          storedForUsers.join(over, Seq("user_id"), "left_semi"))
        // new-new (a < b within the batch) ∪ new-stored (canonical
        // order) — disjoint by construction, so a per-user pair is
        // counted exactly once across the whole stream
        val nn = okNewUI.select(col("user_id"), col("item").as("item_a"))
          .join(okNewUI.select(col("user_id"), col("item").as("item_b")),
            Seq("user_id"))
          .filter(col("item_a") < col("item_b"))
          .select(col("item_a"), col("item_b"))
        val ns = okNewUI.select(col("user_id"), col("item").as("n_item"))
          .join(storedOk.select(col("user_id"),
            col("item").as("s_item")), Seq("user_id"))
          .select(least(col("n_item"), col("s_item")).as("item_a"),
            greatest(col("n_item"), col("s_item")).as("item_b"))
        val pos = nn.unionByName(ns).withColumn("inc", lit(1L))
        // reversal: every pair the capped users' stored baskets ever
        // contributed (≤ C(maxBasket, 2) per user, once per user ever)
        val rev = storedOver
          .select(col("user_id"), col("item").as("item_a"))
          .join(storedOver.select(col("user_id"),
            col("item").as("item_b")), Seq("user_id"))
          .filter(col("item_a") < col("item_b"))
          .select(col("item_a"), col("item_b"))
          .withColumn("inc", lit(-1L))
        val coInc = pos.unionByName(rev)
          .groupBy(col("item_a"), col("item_b"))
          .agg(sum(col("inc")).as("inc"))
          .filter(col("inc") =!= 0L)
          .withColumn("pair_key",
            concat_ws("_", col("item_a"), col("item_b")))
        val itemInc = okNewUI.select(col("item"), lit(1L).as("inc"))
          .unionByName(
            storedOver.select(col("item"), lit(-1L).as("inc")))
          .groupBy(col("item")).agg(sum(col("inc")).as("inc"))
          .filter(col("inc") =!= 0L)

        coInc.write.mode("overwrite").parquet(s"$stage/co")
        itemInc.write.mode("overwrite").parquet(s"$stage/items")
        okNewUI.write.mode("overwrite").parquet(s"$stage/newui")
        storedOver.write.mode("overwrite").parquet(s"$stage/over_stored")
        over.write.mode("overwrite").parquet(s"$stage/over")
        ()
      }
      release()
      fs.create(flag, true).close()
    }

    // ---- apply the staged deltas; every step idempotent, markers are
    // fast-path skips only
    val coInc = spark.read.parquet(s"$stage/co")
    val itemInc = spark.read.parquet(s"$stage/items")
    val okNewUI = spark.read.parquet(s"$stage/newui")
    val storedOver = spark.read.parquet(s"$stage/over_stored")
    val over = spark.read.parquet(s"$stage/over")

    step(spark, co, batchId) {
      if (!coInc.isEmpty) {
        val stored =
          if (!ParquetSinks.bucketedTableExists(spark, co))
            withLastBatch(Seq.empty[(String, Long, Long, Long)]
              .toDF("pair_key", "item_a", "item_b", "co"))
          else withLastBatch(ParquetSinks
            .readBucketsFor(spark, co, "pair_key",
              coInc.select(col("pair_key"))))
            .join(coInc.select(col("pair_key")).distinct(),
              Seq("pair_key"), "left_semi")
            .select(col("pair_key"), col("item_a"), col("item_b"),
              col("co"), col("last_batch"))
        // add the delta only to rows a prior (crashed-after-swap)
        // attempt has not already absorbed
        val merged = stored
          .join(coInc.select(col("pair_key").as("__k"),
            col("item_a").as("__ia"), col("item_b").as("__ib"),
            col("inc")), col("pair_key") === col("__k"), "full_outer")
          .select(
            coalesce(col("pair_key"), col("__k")).as("pair_key"),
            coalesce(col("item_a"), col("__ia")).as("item_a"),
            coalesce(col("item_b"), col("__ib")).as("item_b"),
            when(col("last_batch") === lit(batchId), col("co"))
              .otherwise(coalesce(col("co"), lit(0L)) +
                coalesce(col("inc"), lit(0L))).as("co"),
            lit(batchId).as("last_batch"))
        ParquetSinks.upsertByKeyBucketed(spark, merged, co,
          Seq("pair_key"), "pair_key")
      }
    }
    step(spark, items, batchId) {
      if (!itemInc.isEmpty) {
        val stored =
          if (!ParquetSinks.bucketedTableExists(spark, items))
            withLastBatch(Seq.empty[(Long, Long)]
              .toDF("item", "n_users"))
          else withLastBatch(ParquetSinks
            .readBucketsFor(spark, items, "item",
              itemInc.select(col("item"))))
            .join(itemInc.select(col("item")).distinct(), Seq("item"),
              "left_semi")
            .select(col("item"), col("n_users"), col("last_batch"))
        val merged = stored
          .join(itemInc.select(col("item").as("__k"), col("inc")),
            col("item") === col("__k"), "full_outer")
          .select(
            coalesce(col("item"), col("__k")).as("item"),
            when(col("last_batch") === lit(batchId), col("n_users"))
              .otherwise(coalesce(col("n_users"), lit(0L)) +
                coalesce(col("inc"), lit(0L))).as("n_users"),
            lit(batchId).as("last_batch"))
        ParquetSinks.upsertByKeyBucketed(spark, merged, items,
          Seq("item"), "item")
      }
    }
    step(spark, capped, batchId) {
      if (!over.isEmpty)
        ParquetSinks.upsertByKeyBucketed(spark, over, capped,
          Seq("user_id"), "user_id")
    }
    step(spark, basket, batchId) {
      val changes = storedOver.withColumn("op", lit("D"))
        .unionByName(okNewUI.withColumn("op", lit("I")))
      if (!changes.isEmpty)
        ParquetSinks.applyChangesBucketed(spark, changes, basket,
          Seq("user_id", "item"), Seq.empty, "user_id")
    }
    dropStage(spark, path, batchId)
  }

  /** The live answer — same columns, floor, rounding, and cap
    * semantics as [[ClassicQueries.itemCooccur]], served off the
    * maintained state (empty frame before any ingest). */
  def view(spark: SparkSession, path: String,
      minCo: Long = ClassicQueries.CooccurMin.toLong): DataFrame = {
    import spark.implicits._
    if (!ParquetSinks.bucketedTableExists(spark, coPath(path)))
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("item_a", "item_b", "co", "jaccard")
    val co = spark.read.parquet(coPath(path))
      .filter(col("co") >= minCo)
      .select(col("item_a"), col("item_b"), col("co"))
    val n = spark.read.parquet(itemsPath(path))
      .select(col("item"), col("n_users"))
    co.join(n.select(col("item").as("item_a"), col("n_users").as("na")),
        Seq("item_a"))
      .join(n.select(col("item").as("item_b"), col("n_users").as("nb")),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("co"),
        round(col("co") / (col("na") + col("nb") - col("co")), 4)
          .as("jaccard"))
      .orderBy(col("item_a"), col("item_b"))
  }

  /** Top-k co-occurrence neighbors PER ITEM by Jaccard — the serving
    * view of the maintained state ("users who touched X also touched
    * …", ready for a lookup key): [[view]] expanded to both
    * directions, ranked within each item (jaccard desc, co desc,
    * neighbor id as the deterministic tiebreak), top `k` kept. Same
    * answer as running the expansion over the batch
    * [[ClassicQueries.itemCooccur]] at any chop of the stream. */
  def topK(spark: SparkSession, path: String, k: Int = 10,
      minCo: Long = ClassicQueries.CooccurMin.toLong): DataFrame =
    topKOf(view(spark, path, minCo), k)

  /** Expansion+rank half of [[topK]], shared with the batch operator
    * (feed it [[ClassicQueries.itemCooccur]]) and the parity spec. */
  private[graft] def topKOf(pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"CooccurIngest.topK: k must be >= 1, got $k")
    val sym = pairs.select(col("item_a").as("item"),
        col("item_b").as("nbr"), col("co"), col("jaccard"))
      .unionByName(pairs.select(col("item_b").as("item"),
        col("item_a").as("nbr"), col("co"), col("jaccard")))
    sym.withColumn("rank", row_number().over(
        Window.partitionBy(col("item"))
          .orderBy(col("jaccard").desc, col("co").desc, col("nbr")))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("item"), col("rank"), col("nbr"), col("co"),
        col("jaccard"))
      .orderBy(col("item"), col("rank"))
  }
}
