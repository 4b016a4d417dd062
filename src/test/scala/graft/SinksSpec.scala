package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.ParquetSinks

/** Sink semantics + the idempotency contract (run twice ⇒ same table). */
class SinksSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-sink").resolve("t").toString

  private def rows(path: String): Set[String] = {
    // the atomic-swap staging dirs must never survive a completed load
    val dirs = Seq(new java.io.File(path).getParentFile,
      new java.io.File(path)) // table siblings + partition-level backups
    val leftovers = dirs.flatMap(d => Option(d.list()).getOrElse(Array.empty))
      .filter(n => n.endsWith("__tmp") || n.startsWith("_bak_"))
    assert(leftovers.isEmpty, s"staging dirs left behind: ${leftovers.toSeq}")
    spark.read.parquet(path).drop(ParquetSinks.BucketCol).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
  }

  test("appendAligned reorders, null-fills missing, drops extra columns") {
    val path = tmp()
    ParquetSinks.appendAligned(spark,
      Seq((1L, "a")).toDF("id", "name"), path)
    // incoming has different order, an extra column, and misses `name`
    ParquetSinks.appendAligned(spark,
      Seq((99, 2L)).toDF("extra", "id"), path)
    val out = spark.read.parquet(path)
    assert(out.columns.toSeq == Seq("id", "name"))
    assert(rows(path) == Set("1|a", "2|null"))
  }

  test("upsertWindow deletes the overlapping window per key, is idempotent") {
    val path = tmp()
    val initial = Seq(
      ("L1", 10.0, "old-a"), ("L1", 50.0, "old-b"), ("L1", 90.0, "old-c"),
      ("L2", 10.0, "keep")).toDF("LINE", "t", "v")
    ParquetSinks.upsertWindow(spark, initial, path, "LINE", "t")
    // re-extract for L1 from t=50: threshold 40 deletes old-b/old-c
    val incoming = Seq(("L1", 50.0, "new-b"), ("L1", 120.0, "new-d"))
      .toDF("LINE", "t", "v")
    ParquetSinks.upsertWindow(spark, incoming, path, "LINE", "t")
    val expected = Set("L1|10.0|old-a", "L1|50.0|new-b", "L1|120.0|new-d",
      "L2|10.0|keep")
    assert(rows(path) == expected)
    ParquetSinks.upsertWindow(spark, incoming, path, "LINE", "t")
    assert(rows(path) == expected, "second identical load must be a no-op")
  }

  test("deleteKeys removes the keyed rows from bucketed and flat tables") {
    val stored = Seq(("A", "L1", 10.0), ("A", "L1", 90.0), ("B", "L1", 10.0),
      ("A", "L2", 10.0)).toDF("Server", "LINE", "t")
    val keys = Seq(("A", "L1")).toDF("Server", "LINE")
    val expected = Set("B|L1|10.0", "A|L2|10.0")
    val bucketed = tmp()
    ParquetSinks.upsertWindow(spark, stored, bucketed, "LINE", "t")
    ParquetSinks.deleteKeys(spark, bucketed, keys, "LINE")
    assert(rows(bucketed) == expected)
    val flat = tmp()
    ParquetSinks.upsertByKey(spark, stored, flat, Seq("Server", "LINE", "t"))
    ParquetSinks.deleteKeys(spark, flat, keys, "LINE")
    assert(rows(flat) == expected)
    // deleting every row leaves a readable, empty bucketed table
    ParquetSinks.deleteKeys(spark, bucketed,
      Seq(("B", "L1"), ("A", "L2")).toDF("Server", "LINE"), "LINE")
    assert(rows(bucketed).isEmpty)
    ParquetSinks.deleteKeys(spark, tmp(), keys, "LINE") // no table: no-op
  }

  test("deleteKeys keeps a pre-marker bucketed table bucketed") {
    val path = tmp()
    // the layout the bucketed sinks wrote before the modulus marker
    // existed: the legacy fixed 64 buckets, no _graft_nbuckets sidecar
    Seq(("A", "L1", 10.0), ("A", "L1", 90.0), ("B", "L1", 10.0),
      ("A", "L2", 10.0)).toDF("Server", "LINE", "t")
      .withColumn(ParquetSinks.BucketCol,
        pmod(xxhash64(col("LINE")), lit(64)).cast("int"))
      .write.partitionBy(ParquetSinks.BucketCol).parquet(path)
    ParquetSinks.deleteKeys(spark, path,
      Seq(("A", "L1")).toDF("Server", "LINE"), "LINE")
    // a flattened table would now get its first bucket dir beside the
    // flat files, and readers would lose every other row
    ParquetSinks.upsertWindow(spark,
      Seq(("A", "L3", 10.0)).toDF("Server", "LINE", "t"), path, "LINE", "t",
      scopeCols = Seq("Server"))
    assert(rows(path) == Set("B|L1|10.0", "A|L2|10.0", "A|L3|10.0"))
    assert(new java.io.File(path).list().forall(n =>
      n.startsWith(ParquetSinks.BucketCol + "=") || n.startsWith("_") ||
        n.startsWith(".")), "the table must stay bucketed")
  }

  test("bucketed sinks never rewrite an untouched bucket") {
    val base = (1 to 16).map(i => (s"L$i", 10.0, "a"))
    val baseRows = base.map { case (l, t, v) => s"$l|$t|$v" }.toSet
    val cases: Seq[(String, String => Unit, Set[String])] = Seq(
      ("upsertWindow", p => ParquetSinks.upsertWindow(spark,
        Seq(("L1", 50.0, "n")).toDF("LINE", "t", "v"), p, "LINE", "t"),
        baseRows + "L1|50.0|n"),
      ("upsertByKeyBucketed", p => ParquetSinks.upsertByKeyBucketed(spark,
        Seq(("L1", 10.0, "n")).toDF("LINE", "t", "v"), p, Seq("LINE", "t"),
        "LINE"), baseRows - "L1|10.0|a" + "L1|10.0|n"),
      ("applyChangesBucketed", p => ParquetSinks.applyChangesBucketed(spark,
        Seq(("L1", 10.0, "n", "U")).toDF("LINE", "t", "v", "op"), p,
        Seq("LINE", "t"), Seq("v"), "LINE"),
        baseRows - "L1|10.0|a" + "L1|10.0|n"),
      ("deleteKeys", p => ParquetSinks.deleteKeys(spark, p,
        Seq("L1").toDF("LINE"), "LINE"), baseRows - "L1|10.0|a"))
    cases.foreach { case (sink, call, expected) =>
      val path = tmp()
      ParquetSinks.upsertWindow(spark, base.toDF("LINE", "t", "v"), path,
        "LINE", "t")
      val touched = s"${ParquetSinks.BucketCol}=" + spark.read.parquet(path)
        .filter(col("LINE") === "L1").select(ParquetSinks.BucketCol)
        .head().getInt(0)
      def parts: Map[String, Set[String]] = new java.io.File(path)
        .listFiles().filter(d => d.isDirectory &&
          d.getName.startsWith(ParquetSinks.BucketCol + "="))
        .map(d => d.getName -> d.list().filter(_.startsWith("part-")).toSet)
        .toMap
      val before = parts
      assert(before.size > 1, "keys should spread over several buckets")
      call(path)
      val after = parts
      (before - touched).foreach { case (dir, files) =>
        assert(after.get(dir).contains(files), s"$sink rewrote $dir")
      }
      assert(rows(path) == expected, sink)
    }
  }

  test("replaceDedup keeps only non-superseded stored keys, is idempotent") {
    val path = tmp()
    ParquetSinks.replaceDedup(spark,
      Seq(("B1", "v1"), ("B2", "v2")).toDF("BRANDCODE", "v"), path,
      "BRANDCODE")
    val incoming = Seq(("B2", "v2x"), ("B3", "v3")).toDF("BRANDCODE", "v")
    ParquetSinks.replaceDedup(spark, incoming, path, "BRANDCODE")
    val expected = Set("B1|v1", "B2|v2x", "B3|v3")
    assert(rows(path) == expected)
    ParquetSinks.replaceDedup(spark, incoming, path, "BRANDCODE")
    assert(rows(path) == expected)
  }

  test("upsertWindow scopeCols: one server's load never deletes " +
      "another server's rows for the same LINE") {
    val path = tmp()
    // server A loads L1 history (the reference's DELETE is WHERE
    // Line=... AND Server=..., RCO_Overall_orchestrator.R:312-317)
    val siteA = Seq(("A", "L1", 10.0, "a-old"), ("A", "L1", 90.0, "a-new"))
      .toDF("Server", "LINE", "t", "v")
    ParquetSinks.upsertWindow(spark, siteA, path, "LINE", "t",
      scopeCols = Seq("Server"))
    // server B re-extracts the SAME line over the same window: without
    // the Server scope its threshold (t>=40) would delete a-new
    val siteB = Seq(("B", "L1", 50.0, "b-1"), ("B", "L1", 120.0, "b-2"))
      .toDF("Server", "LINE", "t", "v")
    ParquetSinks.upsertWindow(spark, siteB, path, "LINE", "t",
      scopeCols = Seq("Server"))
    val expected = Set("A|L1|10.0|a-old", "A|L1|90.0|a-new",
      "B|L1|50.0|b-1", "B|L1|120.0|b-2")
    assert(rows(path) == expected)
    // B's re-load still windows B's own rows (delete+append, no dupes)
    ParquetSinks.upsertWindow(spark, siteB, path, "LINE", "t",
      scopeCols = Seq("Server"))
    assert(rows(path) == expected)
  }

  test("replaceDedup scopeCols: another server's row sharing the key " +
      "survives this server's replace") {
    val path = tmp()
    ParquetSinks.replaceDedup(spark,
      Seq(("A", "B1", "a1"), ("A", "B2", "a2"))
        .toDF("Server", "BRANDCODE", "v"),
      path, "BRANDCODE", scopeCols = Seq("Server"))
    // server B supersedes B2 within ITS scope only (the reference reads
    // back and deletes WHERE Server=..., R:559-575)
    ParquetSinks.replaceDedup(spark,
      Seq(("B", "B2", "b2"), ("B", "B3", "b3"))
        .toDF("Server", "BRANDCODE", "v"),
      path, "BRANDCODE", scopeCols = Seq("Server"))
    assert(rows(path) ==
      Set("A|B1|a1", "A|B2|a2", "B|B2|b2", "B|B3|b3"))
  }

  test("upsertByKey merges by composite key, is idempotent") {
    val path = tmp()
    ParquetSinks.upsertByKey(spark,
      Seq(("S1", "L1", 1L), ("S1", "L2", 2L)).toDF("Server", "Line", "n"),
      path, Seq("Server", "Line"))
    val incoming = Seq(("S1", "L2", 20L), ("S1", "L3", 3L))
      .toDF("Server", "Line", "n")
    ParquetSinks.upsertByKey(spark, incoming, path, Seq("Server", "Line"))
    val expected = Set("S1|L1|1", "S1|L2|20", "S1|L3|3")
    assert(rows(path) == expected)
    ParquetSinks.upsertByKey(spark, incoming, path, Seq("Server", "Line"))
    assert(rows(path) == expected)
  }

  test("bucketed sinks migrate a legacy (pre-bucket) table layout once") {
    val path = tmp()
    // legacy layout: dir-per-key partitioning, no graft_bucket column —
    // what these tables looked like before the hash-bucket layout; the
    // first incremental load after the upgrade must not AnalysisException
    Seq(("L1", 10.0, "old-a"), ("L1", 50.0, "old-b"), ("L2", 10.0, "keep"))
      .toDF("LINE", "t", "v").write.partitionBy("LINE").parquet(path)
    val incoming = Seq(("L1", 50.0, "new-b")).toDF("LINE", "t", "v")
    ParquetSinks.upsertWindow(spark, incoming, path, "LINE", "t")
    assert(spark.read.parquet(path).columns
      .contains(ParquetSinks.BucketCol),
      "table should have been rewritten into the bucketed layout")
    assert(rows(path) == Set("L1|10.0|old-a", "L1|50.0|new-b",
      "L2|10.0|keep"))
  }

  test("sinks sweep legacy NAME__old backup leftovers") {
    val path = tmp()
    Seq(("k0", 9L)).toDF("k", "n").write.parquet(path)
    Seq(1).toDF("junk").write.parquet(path + "__old")
    ParquetSinks.upsertByKey(spark,
      Seq(("k1", 1L)).toDF("k", "n"), path, Seq("k"))
    assert(!new java.io.File(path + "__old").exists,
      "pre-bucket-era __old backup dir should be deleted")
    assert(rows(path) == Set("k0|9", "k1|1"))
  }

  test("a corrupt bucket marker is a hard error naming the file") {
    val path = tmp()
    val batch = Seq(("L1", 10.0, "a")).toDF("LINE", "t", "v")
    ParquetSinks.upsertWindow(spark, batch, path, "LINE", "t")
    // a crash mid-write used to be able to leave an empty marker; the
    // next load must fail with a message naming it, not throw a bare
    // NumberFormatException forever
    val f = new java.io.File(path, "_graft_nbuckets")
    java.nio.file.Files.write(f.toPath, Array.emptyByteArray)
    val e = intercept[RuntimeException] {
      ParquetSinks.upsertWindow(spark, batch, path, "LINE", "t")
    }
    assert(e.getMessage.contains("_graft_nbuckets"), e.getMessage)
  }

  test("bucket modulus: sized at creation, persisted, stable on upsert") {
    // sizing: floor for small tables, linear in rows, capped
    assert(ParquetSinks.chooseBuckets(0) == ParquetSinks.MinBuckets)
    assert(ParquetSinks.chooseBuckets(35000) == ParquetSinks.MinBuckets)
    assert(ParquetSinks.chooseBuckets(100L * ParquetSinks.RowsPerBucket)
      == 100)
    assert(ParquetSinks.chooseBuckets(Long.MaxValue / 4)
      == ParquetSinks.MaxBuckets)
    val path = tmp()
    ParquetSinks.upsertWindow(spark,
      Seq(("L1", 10.0, "a")).toDF("LINE", "t", "v"), path, "LINE", "t")
    def marker = {
      val f = new java.io.File(path, "_graft_nbuckets")
      assert(f.isFile, "creation must persist the chosen modulus")
      scala.io.Source.fromFile(f).mkString.trim.toInt
    }
    assert(marker == ParquetSinks.MinBuckets)
    // a later load must reuse the stored modulus (a mismatch would
    // route a key's new rows to a different dir than its stored ones)
    ParquetSinks.upsertWindow(spark,
      Seq(("L9", 10.0, "b")).toDF("LINE", "t", "v"), path, "LINE", "t")
    assert(marker == ParquetSinks.MinBuckets)
    val buckets = spark.read.parquet(path)
      .select(ParquetSinks.BucketCol).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(buckets.forall(b => b >= 0 && b < ParquetSinks.MinBuckets))
    assert(rows(path) == Set("L1|10.0|a", "L9|10.0|b"))
  }

  test("crashed whole-table swap: orphaned _bak_ is restored and merged") {
    // simulate a hard crash between swapDir's two renames: the table
    // was moved aside but the replacement never arrived — _bak_ is the
    // SOLE copy of the history
    val path = tmp()
    ParquetSinks.upsertByKey(spark,
      Seq(("k0", 9L)).toDF("k", "n"), path, Seq("k"))
    val dir = new java.io.File(path)
    val bak = new java.io.File(dir.getParentFile, "_bak_" + dir.getName)
    assert(dir.renameTo(bak), "test setup: park the table as _bak_")
    ParquetSinks.upsertByKey(spark,
      Seq(("k1", 1L)).toDF("k", "n"), path, Seq("k"))
    assert(rows(path) == Set("k0|9", "k1|1"),
      "the backup's history must be restored, not recreated from the batch")
  }

  test("crashed per-bucket swap: orphaned bucket _bak_ is restored") {
    val path = tmp()
    // two keys in different buckets (probed below), so one bucket can
    // crash while the other stays live
    val init = Seq(("L1", 10.0, "a"), ("L2", 10.0, "b"))
      .toDF("LINE", "t", "v")
    ParquetSinks.upsertWindow(spark, init, path, "LINE", "t")
    val bucketDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("graft_bucket="))
    assume(bucketDirs.length == 2, "keys should land in distinct buckets")
    val victim = bucketDirs.head
    val bak = new java.io.File(victim.getParentFile,
      "_bak_" + victim.getName)
    assert(victim.renameTo(bak), "test setup: park one bucket as _bak_")
    // next load touches only L-keys in OTHER buckets; the crashed
    // bucket's history must still come back
    ParquetSinks.upsertWindow(spark,
      Seq(("L3", 10.0, "c")).toDF("LINE", "t", "v"), path, "LINE", "t")
    assert(rows(path) == Set("L1|10.0|a", "L2|10.0|b", "L3|10.0|c"),
      "the crashed bucket's rows must be healed before the read")
  }

  test("orphaned NAME__old (no live table) is restored, not deleted") {
    // The legacy swap renamed dest aside BEFORE renaming tmp in: a crash
    // between the renames leaves __old as the ONLY copy. The sink must
    // bring it back as the live table and merge into it — sweeping it
    // would silently re-create the table from just the incoming batch.
    val path = tmp()
    Seq(("k0", 9L)).toDF("k", "n").write.parquet(path + "__old")
    ParquetSinks.upsertByKey(spark,
      Seq(("k1", 1L)).toDF("k", "n"), path, Seq("k"))
    assert(!new java.io.File(path + "__old").exists)
    assert(rows(path) == Set("k0|9", "k1|1"),
      "the restored backup's history must survive the upsert")
  }
}
