package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Load-side sinks (SURVEY §2.1 S8–S11), re-expressed over parquet
  * tables — the test-bed stand-in for the reference's Azure SQL sinks
  * (SURVEY §7.1 sanctions parquet `replaceWhere`-style here).
  *
  * All sinks are IDEMPOTENT: re-running a load with the same input
  * leaves the table unchanged — that is the reference's whole
  * late-data/reconciliation design (T2: deliberately re-extract
  * overlapping windows, then delete+append,
  * `ref/RCO_Overall_orchestrator.R:304-317`). SinksSpec asserts this.
  *
  * Every rewrite has one of two shapes, and never overwrites the path
  * it is reading: output is staged to a sibling `__tmp` dir and swapped
  * in by rename only after the write action has fully completed, so a
  * mid-write failure leaves the original table intact (on a
  * transactional table format this would be a MERGE / replaceWhere
  * commit instead).
  *  - TOUCHED BUCKETS ([[rewriteBuckets]]): the bucketed sinks
  *    ([[upsertWindow]], [[upsertByKeyBucketed]], [[applyChangesBucketed]],
  *    bucketed [[deleteKeys]]) hash the table by the upsert key and read
  *    back, filter and swap only the buckets the incoming keys land in —
  *    the parquet analogue of the reference's per-line windowed DELETE.
  *  - WHOLE TABLE ([[replaceTable]]): table creation and layout
  *    migration, and the flat sinks ([[upsertByKey]], flat
  *    [[deleteKeys]], [[migrateLayout]]) for small metadata tables.
  */
object ParquetSinks {

  import org.apache.hadoop.fs.{FileSystem, Path}

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean = {
    // Hadoop FileSystem, not java.io.File: a non-local path (hdfs://,
    // s3a://) would otherwise always read as "missing" and every sink
    // would silently degrade to a blind append.
    fsOf(spark, path).exists(new Path(path))
  }

  /** Replace `dest` with `tmp` via rename, keeping `dest` as a backup
    * until the new data is in place. Rewriting sinks stage their output
    * to a sibling temp dir and swap it in here: the source table is
    * only removed AFTER the replacement is fully written, so an
    * executor loss / OOM mid-write can no longer destroy the table the
    * way an in-place Overwrite (even a checkpointed one) could — the
    * failure mode is a leftover staging dir, not data loss.
    *
    * The backup name carries a LEADING underscore: Hadoop partition
    * discovery skips `_`-prefixed paths, so a crash between the two
    * renames can never leave a backup dir that a reader parses as a
    * legitimate partition and resurfaces as stale duplicate rows (a
    * `NAME__old` sibling inside the table root would be exactly that). */
  private def swapDir(fs: FileSystem, tmp: Path, dest: Path): Unit = {
    val backup = new Path(dest.getParent, "_bak_" + dest.getName)
    if (fs.exists(backup)) fs.delete(backup, true)
    if (fs.exists(dest) && !fs.rename(dest, backup))
      sys.error(s"sink swap: could not move $dest aside")
    if (!fs.rename(tmp, dest)) {
      // restore the original so the table is never left missing
      if (fs.exists(backup)) fs.rename(backup, dest)
      sys.error(s"sink swap: could not move $tmp into place at $dest")
    }
    if (fs.exists(backup)) fs.delete(backup, true)
  }

  /** Run `write` into the table's fresh sibling `__tmp` staging dir
    * (a leftover from a crashed run is cleared first) and return it. */
  private def stage(fs: FileSystem, path: String)(write: String => Unit)
      : Path = {
    val d = new Path(path)
    val tmp = new Path(d.getParent, d.getName + "__tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp.toString)
    tmp
  }

  /** The whole-table rewrite: stage `write`, swap it in as the table. */
  private def replaceTable(fs: FileSystem, path: String)(
      write: String => Unit): Unit =
    swapDir(fs, stage(fs, path)(write), new Path(path))

  /** Heal crashed swaps before a table is read or written — every
    * sink's first step. A backup whose live dir is MISSING is the sole
    * surviving copy (the swap crashed between its two renames), so it
    * is restored; one whose live dir exists is a completed swap's
    * leftover, safe to sweep. Three kinds:
    *  - `_bak_<table>`, the whole-table backup of [[swapDir]];
    *  - `<table>__old`, left by early staged-rewrite versions of these
    *    sinks, which renamed the table aside BEFORE renaming tmp into
    *    place: a table written by an older deployment must not carry a
    *    stale full copy of itself forever, and deleting an `__old` that
    *    is the only copy would silently re-create the table from just
    *    the incoming batch;
    *  - `_bak_graft_bucket=N` inside the table root, from the per-bucket
    *    swaps. Without the restore, the next load would read the table
    *    with a silent hole where the bucket was — its kept-rows pass
    *    would treat the missing history as deleted, and the next swap
    *    of that bucket would delete the backup: permanent loss (the
    *    `NAME__old` pathology, one directory level down). */
  private def healTable(fs: FileSystem, dest: String): Unit = {
    def heal(bak: Path, live: Path): Unit =
      if (fs.exists(live)) { fs.delete(bak, true); () }
      else if (!fs.rename(bak, live))
        sys.error(s"sink: could not restore crashed-swap backup $bak")
    val d = new Path(dest)
    Seq(new Path(d.getParent, "_bak_" + d.getName),
      new Path(d.getParent, d.getName + "__old"))
      .filter(fs.exists).foreach(heal(_, d))
    if (fs.exists(d))
      fs.listStatus(d).map(_.getPath).filter(_.getName.startsWith("_bak_"))
        .foreach(b => heal(b, new Path(d, b.getName.stripPrefix("_bak_"))))
  }

  /** Resolve the bucket modulus of an EXISTING table: the stored
    * [[BucketMarker]] when present. Otherwise the table predates some
    * part of this layout: if it already has [[BucketCol]] it was
    * written with the call sites' old fixed modulus — freeze
    * [[LegacyBuckets]] into a marker; if not (dir-per-key or flat
    * layout), the very first incremental load after an upgrade would
    * die with an AnalysisException on the missing column, so migrate
    * ONCE — rewrite the whole table into the bucketed layout sized by
    * [[chooseBuckets]] (the same staged create as a new table). O(table),
    * paid a single time per table — the alternative (failing with a
    * message telling the operator to migrate by hand) just outsources
    * this exact rewrite. */
  private def resolveBuckets(spark: SparkSession, path: String,
      keyCol: String): Int = {
    val fs = fsOf(spark, path)
    readBucketMarker(fs, new Path(path)).getOrElse {
      val stored = spark.read.parquet(path)
      if (stored.columns.contains(BucketCol)) {
        writeBucketMarker(fs, new Path(path), LegacyBuckets)
        LegacyBuckets
      } else createBucketed(fs, path, stored, keyCol)
    }
  }

  /** Write `df` as the whole bucketed table at `path` and return its
    * modulus: sized from the rows ([[chooseBuckets]]; one count against
    * the typically-already-cached frame), data + [[BucketMarker]] staged
    * together and swapped in by ONE rename. Data and modulus appear
    * together atomically — a crash mid create leaves only a staging dir
    * (swept on the next run), never a bucketed table whose modulus the
    * next load has to guess, and never a partial table a blind `Append`
    * would double. */
  private def createBucketed(fs: FileSystem, path: String, df: DataFrame,
      keyCol: String): Int = {
    val n = chooseBuckets(df.count())
    replaceTable(fs, path) { tmp =>
      writePartitioned(withBucket(df, keyCol, n), tmp, n)
      writeBucketMarker(fs, new Path(tmp), n)
    }
    n
  }

  /** Write partitioned by [[BucketCol]] with the rows first clustered BY
    * it: without this every task carrying every key emits its own file
    * per `key=value` dir — at 1,500 keys × 32 tasks that is ~48k tiny
    * files and a 6-30s commit per table (measured at sf0.1). Clustering
    * makes it exactly one file per partition dir while keeping all
    * shuffle partitions busy (keys ≫ tasks).
    *
    * The partition count is pinned explicitly: a bare
    * `repartition(col)` lets AQE coalesce the (tiny) shuffle to ONE
    * task, which then pays the ~10 ms/file writer-init cost for every
    * key sequentially — measured 20 s for a 7.5k-row table with 1,500
    * keys. The pinned count is the BUCKET MODULUS, capped at the
    * session's shuffle parallelism (more tasks than buckets are
    * guaranteed-empty: the hash of k distinct bucket values occupies at
    * most k partitions). At cluster scale a single giant key would want
    * an added salt column — keys here are production lines, bounded by
    * line throughput. */
  private def writePartitioned(df: DataFrame, path: String,
      numBuckets: Int): Unit = {
    val sess = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartition(math.min(numBuckets, sess), col(BucketCol))
      .write.partitionBy(BucketCol).mode(SaveMode.Overwrite).parquet(path)
  }

  /** S8: schema-aligned append (`App/etl/overall_etl.py:12-43`,
    * `ref/RCO_Overall_orchestrator.R:134-165`): reorder to the live
    * table's column order, fill missing columns with NULL, drop extras,
    * cast to the table's types, append. */
  def appendAligned(spark: SparkSession, df: DataFrame, path: String)
      : Unit =
    if (!exists(spark, path)) df.write.mode(SaveMode.Append).parquet(path)
    else {
      val target = spark.read.parquet(path).schema
      val aligned = df.select(target.fields.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
      aligned.write.mode(SaveMode.Append).parquet(path)
    }

  /** Partition-dir column of the windowed-upsert tables: a hash BUCKET
    * of the upsert key, not the key itself. The key (production LINE)
    * is unbounded-cardinality — dir-per-key at 1,500 keys × 7 tables
    * meant ~10k parquet files per load (~10 ms writer-init each, 30 s+
    * table writes at sf0.1); 64 buckets bound the file count while the
    * upsert still prunes to (and rewrites only) the buckets the
    * incoming keys hash into. Readers see `graft_bucket` as an extra
    * partition column — derived, deterministic housekeeping data. */
  val BucketCol = "graft_bucket"

  /** Bucket layout sizing: one bucket per [[RowsPerBucket]] rows of the
    * CREATING batch, clamped to [[MinBuckets]]..[[MaxBuckets]]. A
    * bucket is the unit of upsert rewrite, so it wants to be big enough
    * that per-file/per-dir overhead amortizes (a 35k-row sf0.1 table
    * under the old fixed 64 paid 64 dirs of writer-init for kilobytes
    * of data) and small enough that rewriting a touched bucket is not
    * O(table) (~GB-scale per bucket at 100 TB: 8M rows × a few hundred
    * bytes). The count is FIXED at table creation — a later load using
    * a different modulus would route a key's new rows to a different
    * dir than its stored ones and break delete-then-append — so it is
    * persisted in a [[BucketMarker]] sidecar and read back by every
    * subsequent load (the same rule as Hive/Spark bucketed tables:
    * resizing means rewriting). */
  val RowsPerBucket = 8000000L
  val MinBuckets = 8
  val MaxBuckets = 1024

  private[graft] def chooseBuckets(rows: Long): Int =
    math.max(MinBuckets.toLong, math.min(MaxBuckets.toLong,
      (rows + RowsPerBucket - 1) / RowsPerBucket)).toInt

  /** Modulus of bucketed tables written before the [[BucketMarker]]
    * sidecar existed: every call site then used this fixed count. */
  private val LegacyBuckets = 64

  /** Sidecar recording the table's bucket modulus (underscore-prefixed:
    * invisible to partition discovery, like `_SUCCESS`). Absent on
    * tables created before this sidecar existed — those were all
    * written with the call sites' fixed default, [[LegacyBuckets]]. */
  private val BucketMarker = "_graft_nbuckets"

  /** The marker is staged to a sibling temp name and RENAMED into
    * place: resolveBuckets' legacy-freeze path writes it into the LIVE
    * table dir, where a crash mid-`create` would otherwise leave an
    * empty/truncated marker that poisons every later load's
    * [[readBucketMarker]] parse. Rename is the same single-metadata-op
    * atomicity the data swaps rely on. */
  private def writeBucketMarker(fs: FileSystem, dir: Path, n: Int)
      : Unit = {
    val dest = new Path(dir, BucketMarker)
    val tmp = new Path(dir, BucketMarker + "__tmp")
    val out = fs.create(tmp, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      sys.error(s"sink: could not move bucket marker $tmp into place")
  }

  /** True when `path` holds a table CREATED by the bucketed sinks —
    * the [[BucketMarker]] sidecar exists. Distinguishes real table
    * data from a directory that merely carries `_applied` ledger
    * markers (an incremental operator's step ledger is written even
    * for batches whose delta for that table was empty, so bare
    * `fs.exists(path)` over-reports). */
  def bucketedTableExists(spark: SparkSession, path: String): Boolean = {
    val fs = fsOf(spark, path)
    val p = new Path(path)
    fs.exists(p) && fs.exists(new Path(p, BucketMarker))
  }

  private def readBucketMarker(fs: FileSystem, dir: Path): Option[Int] = {
    val p = new Path(dir, BucketMarker)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // A corrupt marker must be a HARD, named error: guessing a
      // modulus would silently mis-route keys across buckets and break
      // delete-then-append for every later load.
      try Some(raw.toInt)
      catch {
        case _: NumberFormatException => sys.error(
          s"sink: unparseable bucket marker $p (content: '$raw') — " +
            "restore it to the table's creation modulus (the number of " +
            s"distinct $BucketCol= dirs if none are empty) or rebuild " +
            "the table")
      }
    }
  }

  private def withBucket(df: DataFrame, keyCol: String,
      numBuckets: Int): DataFrame =
    // cast matches the int type partition discovery infers on read-back
    df.withColumn(BucketCol,
      pmod(xxhash64(col(keyCol)), lit(numBuckets)).cast("int"))

  /** The buckets `keys`' `keyCol` values hash into (one small collect:
    * one row per distinct key before the bucket dedup). */
  private def bucketsOf(keys: DataFrame, keyCol: String, n: Int): Seq[Int] =
    withBucket(keys.select(col(keyCol)).distinct(), keyCol, n)
      .select(BucketCol).distinct().collect().map(_.getInt(0)).toSeq

  /** The touched-bucket rewrite behind every bucketed sink. Heals the
    * table; a missing table is created from `added` (nothing to keep).
    * Otherwise only the buckets `touchedBy`'s `bucketCol` values hash
    * into are read back; the stored rows `keep` lets through plus
    * `added` (in the kept rows' column order) are staged and swapped in
    * per bucket; untouched buckets are never read or rewritten. `keep`
    * is only planned against an existing table, so an incoming frame
    * missing a column it names still creates a new table. */
  private def rewriteBuckets(spark: SparkSession, path: String,
      bucketCol: String, touchedBy: DataFrame, added: Option[DataFrame])(
      keep: DataFrame => DataFrame): Unit = {
    val fs = fsOf(spark, path)
    healTable(fs, path)
    if (!fs.exists(new Path(path))) {
      added.foreach(createBucketed(fs, path, _, bucketCol))
      return
    }
    val n = resolveBuckets(spark, path, bucketCol)
    val touched = bucketsOf(touchedBy, bucketCol, n)
    val kept = keep(spark.read.parquet(path)
      .filter(col(BucketCol).isin(touched: _*)))
    val rows = added.fold(kept)(a => kept.unionByName(
      withBucket(a, bucketCol, n).select(kept.columns.map(col).toSeq: _*)))
    val tmp = stage(fs, path)(writePartitioned(rows, _, n))
    val staged = fs.listStatus(tmp).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    staged.foreach { name =>
      swapDir(fs, new Path(tmp, name), new Path(path, name))
    }
    // delete-emptied buckets: touched but nothing staged back
    touched.map(b => s"$BucketCol=$b").filterNot(staged).foreach { name =>
      val dead = new Path(path, name)
      if (fs.exists(dead)) fs.delete(dead, true)
    }
    // a fully-emptied table must stay READABLE: leave one zero-row
    // file (data schema, partition value from the dir name) behind —
    // staged under tmp and swapped in like every other partition, so
    // a crash mid-write never leaves a partial live dir behind
    if (!fs.listStatus(new Path(path)).exists(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$BucketCol="))) {
      val zeroTmp = new Path(tmp, s"$BucketCol=0")
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        rows.drop(BucketCol).schema)
        .write.mode(SaveMode.Overwrite).parquet(zeroTmp.toString)
      swapDir(fs, zeroTmp, new Path(path, s"$BucketCol=0"))
    }
    fs.delete(tmp, true)
  }

  /** S9: windowed delete-then-append upsert
    * (`ref/RCO_Overall_orchestrator.R:286-499`): per upsert key, delete
    * stored rows with time >= min(incoming) − pad, then append the
    * incoming rows. Only the hash buckets containing touched keys are
    * read back and rewritten; other buckets' dirs are never opened.
    * New tables are sized by [[chooseBuckets]] at creation and the
    * choice is persisted — it must be stable across loads of the same
    * table.
    * @param scopeCols  extra exact-match delete-key columns. The
    *                   reference's DELETE is always
    *                   `WHERE Line=... AND Server=...`
    *                   (`ref/RCO_Overall_orchestrator.R:312-317,351-357,
    *                   365-371,386-392,487-493`): in a shared table,
    *                   one site's load must never delete another
    *                   site's rows even when LINE names collide across
    *                   servers. Bucketing stays on `keyCol` alone so
    *                   the layout (and every existing table) is
    *                   unchanged — scope only narrows the delete. */
  def upsertWindow(spark: SparkSession, newDf: DataFrame, path: String,
      keyCol: String, timeCol: String, padSec: Double = 10.0,
      scopeCols: Seq[String] = Nil): Unit =
    rewriteBuckets(spark, path, keyCol, newDf, Some(newDf)) { stored =>
      val delKeys = scopeCols :+ keyCol
      // cast("double") lets the time axis be numeric epoch OR timestamp
      // (timestamps cast to fractional epoch seconds)
      val bounds = newDf.groupBy(delKeys.map(col): _*)
        .agg((min(col(timeCol).cast("double")) - padSec).as("__threshold"))
      // Left join: unkeyed rows sharing a touched bucket survive as-is;
      // touched keys keep only rows before their window threshold.
      // `bounds` is one row per incoming KEY (production lines — small
      // by nature), so the broadcast hint is safe; a table whose upsert
      // keys ran to the tens of millions would drop the hint and let
      // AQE pick the join side at runtime.
      stored.join(broadcast(bounds), delKeys, "left")
        .filter(col("__threshold").isNull ||
          col(timeCol).cast("double") < col("__threshold"))
        .drop("__threshold")
    }

  /** S10: full-replace-with-dedup
    * (`ref/RCO_Overall_orchestrator.R:556-585`): stored rows whose key
    * is not superseded by the incoming set survive (D3 anti-membership),
    * incoming rows win, table rewritten.
    * @param scopeCols extra exact-match columns in the anti-membership
    *                  key. The reference reads back and deletes ONLY
    *                  `WHERE Server=...` (R:559-575): another server's
    *                  row sharing a BRANDCODE must survive this
    *                  server's replace. The incoming batch carries a
    *                  constant scope value, so anti-joining on
    *                  scope+key implements exactly that. */
  def replaceDedup(spark: SparkSession, newDf: DataFrame, path: String,
      keyCol: String, scopeCols: Seq[String] = Nil): Unit =
    upsertByKey(spark, newDf, path, scopeCols :+ keyCol)

  /** [[upsertByKey]] at scale: the same keyed MERGE, but the table is
    * laid out in hash buckets of `bucketCol` (one of the key columns)
    * and only the buckets the incoming keys land in are read back and
    * rewritten — the full-table rewrite of the flat variant is O(table)
    * per call, which a per-micro-batch streaming sink or a big daily
    * merge cannot afford. Layout matches [[upsertWindow]]. */
  def upsertByKeyBucketed(spark: SparkSession, newDf: DataFrame,
      path: String, keyCols: Seq[String], bucketCol: String): Unit = {
    require(keyCols.contains(bucketCol),
      s"bucketCol $bucketCol must be one of the merge keys $keyCols")
    rewriteBuckets(spark, path, bucketCol, newDf, Some(newDf))(
      _.join(newDf.select(keyCols.map(col): _*).distinct(), keyCols,
        "left_anti"))
  }

  /** Apply an I/D/U changelog (the [[graft.operators.SnapshotDiff
    * .diffFull]] shape: key columns, an op column, after-image compare
    * columns) to the bucketed table at `path` — the storage-level
    * twin of [[graft.operators.SnapshotDiff.applyChanges]], and the
    * delete-aware sibling of [[upsertByKeyBucketed]]: every touched
    * key is removed from its bucket, then only the non-`D` rows'
    * after-images are re-added, so `D` ops physically delete. Only
    * the buckets the incoming keys land in are read back and
    * rewritten; a bucket whose rows are ALL deleted is dropped.
    *
    * The caller folds multi-op batches to one op per key first (a
    * changelog between two snapshots has at most one); see
    * [[graft.streaming.StreamingCdcApply]]. */
  def applyChangesBucketed(spark: SparkSession, changes: DataFrame,
      path: String, keyCols: Seq[String], compareCols: Seq[String],
      bucketCol: String, opCol: String = "op"): Unit = {
    require(keyCols.contains(bucketCol),
      s"bucketCol $bucketCol must be one of the merge keys $keyCols")
    val upserts = changes.filter(col(opCol) =!= "D")
      .select((keyCols ++ compareCols).map(col): _*)
    rewriteBuckets(spark, path, bucketCol, changes, Some(upserts))(
      _.join(changes.select(keyCols.map(col): _*).distinct(), keyCols,
        "left_anti"))
  }

  /** Delete every stored row whose `keys.columns` equal one row of
    * `keys` — the reference's per-line `DELETE WHERE Line=... AND
    * Server=...` with no append after it. A bucketed table (one with a
    * [[BucketMarker]] or a [[BucketCol]]) rewrites only the buckets the
    * keys' `keyCol` — the column the table is bucketed by — hashes
    * into; a flat table is rewritten whole and stays flat. No-op when
    * the table does not exist. */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
      keyCol: String): Unit = {
    require(keys.columns.contains(keyCol),
      s"keyCol $keyCol must be one of the delete keys ${keys.columns}")
    val fs = fsOf(spark, path)
    healTable(fs, path)
    if (!fs.exists(new Path(path))) return
    def kept(rows: DataFrame): DataFrame = rows
      .join(keys.distinct(), keys.columns.toSeq, "left_anti")
      .select(rows.columns.map(col).toSeq: _*)
    lazy val stored = spark.read.parquet(path)
    if (readBucketMarker(fs, new Path(path)).isEmpty &&
        !stored.columns.contains(BucketCol))
      replaceTable(fs, path)(kept(stored).write.parquet(_))
    else rewriteBuckets(spark, path, keyCol, keys, None)(kept)
  }

  /** Bucket-pruned read of a bucketed table: only the hash buckets the
    * probe keys land in are scanned — the read-side dual of the
    * upserts' touched-bucket rewrite, for consumers that look up a
    * (small) key set against a table that grows with the corpus (e.g.
    * the incremental-ingest dedup index). The probe side is collected
    * to a bucket-id list, so it must be small by construction (it is:
    * one row per distinct probe key ÷ RowsPerBucket). Requires the
    * [[BucketMarker]]: a table not created by the bucketed sinks has
    * no stable modulus to prune by. */
  def readBucketsFor(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): DataFrame = {
    val fs = fsOf(spark, path)
    healTable(fs, path)
    val n = readBucketMarker(fs, new Path(path)).getOrElse(sys.error(
      s"readBucketsFor: $path has no $BucketMarker sidecar — not a " +
        "bucketed table"))
    spark.read.parquet(path)
      .filter(col(BucketCol).isin(bucketsOf(keys, keyCol, n): _*))
  }

  /** One-time layout migration hook: read the stored table, and when
    * `transform` decides it is an old layout (returns Some), rewrite it
    * staged-and-swapped with the same crash safety as every other
    * rewrite here. No-op when the table doesn't exist or `transform`
    * returns None (current layout). Callers run this BEFORE a keyed
    * merge whose key/column set changed across versions — the merge
    * joins on the new key columns and would otherwise throw
    * AnalysisException on the first load after an upgrade. */
  def migrateLayout(spark: SparkSession, path: String)(
      transform: DataFrame => Option[DataFrame]): Unit = {
    val fs = fsOf(spark, path)
    healTable(fs, path)
    if (!fs.exists(new Path(path))) return
    transform(spark.read.parquet(path)).foreach(migrated =>
      replaceTable(fs, path)(migrated.write.parquet(_)))
  }

  /** S11: metadata upsert (`App/etl/overall_etl.py:186-232`,
    * `ref/RCO_Overall_orchestrator.R:236-281,502-546`): MERGE by key —
    * incoming rows update-or-insert, other keys' rows survive. Flat
    * layout, full rewrite: right for small metadata tables
    * (Script_Data); use [[upsertByKeyBucketed]] for anything that
    * grows with the data. */
  def upsertByKey(spark: SparkSession, newDf: DataFrame, path: String,
      keyCols: Seq[String]): Unit = {
    val fs = fsOf(spark, path)
    healTable(fs, path)
    if (!fs.exists(new Path(path))) {
      newDf.write.mode(SaveMode.Append).parquet(path)
      return
    }
    val kept = spark.read.parquet(path)
      .join(newDf.select(keyCols.map(col): _*).distinct(), keyCols,
        "left_anti")
    replaceTable(fs, path)(kept.unionByName(
      newDf.select(kept.columns.map(col).toSeq: _*)).write.parquet(_))
  }
}
