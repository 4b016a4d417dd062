package graft


import graft.model.Rco
import graft.pipeline.RcoEtl
import graft.sources.Tables

/** End-to-end smoke of the per-site orchestration on sf0.001. */
class RcoEtlSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  test("run produces every enabled output table with rows") {
    val full = Rco.downtimeLogDeduped(Tables.events(spark, dir))
    val prod = Rco.productionLog(Tables.events(spark, dir))
    val out = RcoEtl.run(full, prod,
      RcoEtl.SiteParams("TestSite", Rco.testCoPredicate))
    val expected = Set("CO_Aggregated_Data", "CO_Event_Log",
      "Runtime_per_Day_data", "Day_Start", "BRANDCODE_data",
      "First_Stop_after_CO_Data", "Gantt_Data", "Event_Log_for_Gantt")
    assert(out.keySet == expected)
    expected.foreach(t => assert(out(t).limit(1).count() == 1,
      s"$t should have rows"))
    // toggles prune the optional analyses
    val minimal = RcoEtl.run(full, prod,
      RcoEtl.SiteParams("TestSite", Rco.testCoPredicate,
        machineLevel = false, firstStop = false))
    assert(!minimal.contains("Gantt_Data") &&
      !minimal.contains("First_Stop_after_CO_Data"))
  }

  test("runSites isolates per-site failures and records the run log") {
    val full = Rco.downtimeLogDeduped(Tables.events(spark, dir))
    val prod = Rco.productionLog(Tables.events(spark, dir))
    val base = tempDir("graft-fleet").toString
    val log = RcoEtl.runSites(spark, Seq(
      RcoEtl.SiteParams("GoodSite", Rco.testCoPredicate,
        machineLevel = false, firstStop = false),
      RcoEtl.SiteParams("BadSite", "NO_SUCH_COLUMN = 'x'",
        machineLevel = false, firstStop = false)),
      full, prod, base)
    assert(log("GoodSite") == "Success")
    assert(log("BadSite").startsWith("Failure ("), log("BadSite"))
    // the good site's tables landed despite the bad site
    assert(spark.read.parquet(s"$base/CO_Aggregated_Data").count() > 0)
  }

  test("fleet sites sharing LINE names coexist in the shared tables") {
    // Every fleet site here sees the SAME canonical log, so their LINE
    // sets collide completely — the stress case for the Server-scoped
    // windowed delete (RCO_Overall_orchestrator.R:312-317: DELETE WHERE
    // Line=... AND Server=...). Before scoping, each site's load wiped
    // the previous site's rows and the shared tables ended last-site-
    // wins.
    val full = Rco.downtimeLogDeduped(Tables.events(spark, dir))
    val prod = Rco.productionLog(Tables.events(spark, dir))
    val base = tempDir("graft-fleet-scope").toString
    val sites = RcoEtl.fleetSiteParams
    val log = RcoEtl.runSites(spark, sites, full, prod, base)
    assert(log.values.forall(_ == "Success"), log)
    val perServer = spark.read.parquet(s"$base/CO_Aggregated_Data")
      .groupBy("Server").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perServer.keySet == sites.map(_.server).toSet,
      s"every site's rows must survive the fleet load: $perServer")
    assert(perServer.values.forall(_ > 0), perServer)
    // brandcode master is Server-scoped the same way (R:559-575)
    val bcServers = spark.read.parquet(s"$base/BRANDCODE_data")
      .select("Server").distinct().collect().map(_.getString(0)).toSet
    assert(bcServers == sites.map(_.server).toSet, bcServers)
    // idempotency across the fleet: a second identical fleet run (the
    // upsert path for every site) leaves the shared table unchanged
    val before = spark.read.parquet(s"$base/CO_Aggregated_Data")
      .drop(graft.sinks.ParquetSinks.BucketCol)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val log2 = RcoEtl.runSites(spark, sites, full, prod, base)
    assert(log2.values.forall(_ == "Success"), log2)
    val after = spark.read.parquet(s"$base/CO_Aggregated_Data")
      .drop(graft.sinks.ParquetSinks.BucketCol)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    assert(before.sameElements(after),
      s"fleet re-run must be a no-op (${before.length} -> ${after.length})")
  }

  test("scriptData fills day-start (default 6) and constraint count (1)") {
    import spark.implicits._
    val co = Seq(("CO1", "L1", java.sql.Timestamp.valueOf("2026-01-01 06:00:00")),
      ("CO2", "L2", java.sql.Timestamp.valueOf("2026-01-02 07:00:00")))
      .toDF("CO_Identifier", "LINE", "CO_StartTime")
    val ds = Seq(("L1", 5.5)).toDF("LINE", "Day_Start_hours")
    val cc = Seq(("L2", 3)).toDF("LINE", "Number_of_Constraints")
    val rows = RcoEtl.scriptData(co, "S", Some(ds), Some(cc))
      .collect().map(r => r.getAs[String]("MES_Line_Name") ->
        ((r.getAs[Double]("Day_Start_hours"),
          r.getAs[Int]("Number_of_Constraints")))).toMap
    assert(rows("L1") == ((5.5, 1)), "configured day-start, default count")
    assert(rows("L2") == ((6.0, 3)), "default day-start, configured count")
  }

  test("scriptData emits the reference's full Script_Data row") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 06:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-02 07:00:00")
    val co = Seq(("CO1", "L1", t0), ("CO2", "L1", t1))
      .toDF("CO_Identifier", "LINE", "CO_StartTime")
    val run = java.sql.Timestamp.valueOf("2026-02-01 03:00:00")
    val cfg = Seq(("L1", "SYS-7")).toDF("LINE", "System")
    val out = RcoEtl.scriptData(co, "S", updateTime = Some(run),
      lineConfig = Some(cfg))
    // the reference's 9 Script_Data columns, in its order
    // (`ref/RCO_Overall_orchestrator.R:236-281`), plus the engine's
    // Number_of_COs surplus stat
    assert(out.columns.toSeq == Seq("System", "Data_Update_Time",
      "First_Available_Data_Point", "Last_Available_Data_Point",
      "MES_Line_Name", "Server", "Day_Start_hours", "BU",
      "Number_of_Constraints", "Number_of_COs"))
    val r = out.collect().head
    assert(r.getAs[String]("System") == "SYS-7", "config passthrough")
    assert(r.getAs[java.sql.Timestamp]("Data_Update_Time") == run)
    assert(r.getAs[java.sql.Timestamp]("First_Available_Data_Point") == t0)
    assert(r.getAs[java.sql.Timestamp]("Last_Available_Data_Point") == t1)
    assert(r.getAs[String]("BU") == "FHC")
    assert(r.getAs[Long]("Number_of_COs") == 2L)
    // no config → System defaults to the line name
    val noCfg = RcoEtl.scriptData(co, "S", updateTime = Some(run))
      .collect().head
    assert(noCfg.getAs[String]("System") == "L1")
  }

  test("load is idempotent end-to-end, including the S9 cascade") {
    val full = Rco.downtimeLogDeduped(Tables.events(spark, dir))
    val prod = Rco.productionLog(Tables.events(spark, dir))
    val out = RcoEtl.run(full, prod,
      RcoEtl.SiteParams("TestSite", Rco.testCoPredicate))
    val base = tempDir("graft-etl").toString
    RcoEtl.load(spark, out, base, "TestSite")
    def counts = Seq("CO_Aggregated_Data", "Script_Data",
      "BRANDCODE_data", "Runtime_per_Day_data", "CO_Event_Log",
      "First_Stop_after_CO_Data", "Gantt_Data", "Event_Log_for_Gantt")
      .map(t => t -> spark.read.parquet(s"$base/$t").count()).toMap
    val first = counts
    assert(first.values.forall(_ > 0), s"all tables written: $first")
    RcoEtl.load(spark, out, base, "TestSite")
    assert(counts == first, "second identical load must be a no-op")
  }

  test("load migrates a pre-parity Script_Data table before the merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = tempDir("graft-sd-mig").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 06:00:00")
    // the layout every load wrote before the schema-parity change:
    // keyed on LINE, no System / BU / Data_Update_Time
    Seq(("L9", t0, t0, 5L, 6.0, 1, "OldServer"))
      .toDF("LINE", "First_Available_Data_Point",
        "Last_Available_Data_Point", "Number_of_COs", "Day_Start_hours",
        "Number_of_Constraints", "Server")
      .write.parquet(s"$base/Script_Data")
    val co = Seq(("CO1", "L1", t0, 100.0))
      .toDF("CO_Identifier", "LINE", "CO_StartTime", "CO_Start_EPOCH")
    // first load after the upgrade: the (Server, MES_Line_Name) merge
    // must succeed against the old table, not AnalysisException
    RcoEtl.load(spark, Map("CO_Aggregated_Data" -> co), base, "S")
    val sd = spark.read.parquet(s"$base/Script_Data")
    assert(sd.columns.contains("MES_Line_Name") &&
      !sd.columns.contains("LINE"))
    val old = sd.filter(col("Server") === "OldServer").collect().head
    assert(old.getAs[String]("MES_Line_Name") == "L9")
    assert(old.getAs[String]("System") == "L9", "backfill: System ← line")
    assert(old.getAs[String]("BU") == "FHC")
    assert(old.getAs[java.sql.Timestamp]("Data_Update_Time") == null,
      "the old table never recorded a run time — don't invent one")
    // NULL backfill means the migrated server still reads as first-run
    assert(graft.sources.ConfigOps
      .scriptDataWatermark(spark, base, "OldServer").isEmpty)
    assert(sd.filter(col("Server") === "S").count() == 1,
      "the merge proceeded after the migration")
  }

  test("a failed table write does not abort sibling writes mid-flight") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // slow sibling: ~2s of per-row sleep in one partition
    val slow = udf((x: Double) => { Thread.sleep(20); x })
    val runtime = (1 to 100).map(i => ("S", s"d$i", s"L$i", i.toDouble))
      .toDF("Server", "Date", "LINE", "Runtime")
      .repartition(1).withColumn("Runtime", slow(col("Runtime")))
    val bad = Seq(1).toDF("x") // no LINE column → upsertWindow fails fast
    val base = tempDir("graft-await").toString
    intercept[Exception] {
      RcoEtl.load(spark, Map(
        "Runtime_per_Day_data" -> runtime, "CO_Event_Log" -> bad),
        base, "S")
    }
    // load must rethrow only AFTER every sibling write finished — the
    // slow table is fully on disk the moment load() surfaces the error
    // (an early rethrow would let the in-flight write race the next
    // site's upsert against the same path)
    assert(spark.read.parquet(s"$base/Runtime_per_Day_data").count() == 100)
  }

  test("runReleasable's release() unpersists every spine frame") {
    // start from a clean cache: earlier tests' run() calls leak pins of
    // the SAME logical plans, so the CacheManager would dedupe ours and
    // the counts below would measure their leftovers, not this run
    spark.catalog.clearCache()
    val full = Rco.downtimeLogDeduped(Tables.events(spark, dir))
    val prod = Rco.productionLog(Tables.events(spark, dir))
    // compared by id: an earlier test's unreferenced checkpoint may be
    // garbage-collected (and so leave the map) while this one runs
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val (out, release) = RcoEtl.runReleasable(full, prod,
      RcoEtl.SiteParams("TestSite", Rco.testCoPredicate,
        machineLevel = false, firstStop = false))
    assert(out("CO_Aggregated_Data").count() > 0)
    assert((persisted -- before).nonEmpty,
      "materializing the outputs should register the pinned spine")
    // load cuts each table's frame for its probe+write pair and must
    // free those itself; release then frees the spine
    RcoEtl.load(spark, out,
      tempDir("graft-release").toString, "TestSite")
    release()
    assert((persisted -- before).isEmpty,
      "release must unpersist everything run pinned (fleet runs loop " +
        s"this); left: ${persisted -- before}")
  }

  test("runReleasable plans read checkpoints, not nested caches, with " +
      "no more Exchanges per spine frame than the pinned spine") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    object Plans extends AdaptiveSparkPlanHelper
    spark.catalog.clearCache()
    val full = Rco.downtimeLogDeduped(Tables.events(spark, dir))
    val prod = Rco.productionLog(Tables.events(spark, dir))
    // each spine frame is one eager localCheckpoint action, in order
    val cuts = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") { cuts.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // Exchange counts of the spine frames' executed plans when they were
    // pins (parent commit, same data and session), in pipeline order
    val pinned = Seq("sessionized" -> 0, "co_aggregate" -> 0,
      "assigned_stops" -> 1, "brandcode_per_co" -> 1, "co_aggregated" -> 6,
      "gantt_assigned" -> 3)
    spark.listenerManager.register(listener)
    val (out, release) =
      try {
        val r = RcoEtl.runReleasable(full, prod,
          RcoEtl.SiteParams("TestSite", Rco.testCoPredicate))
        // listener events arrive asynchronously
        eventually(timeout(60.seconds)) {
          assert(cuts.size >= pinned.size) }
        r
      } finally spark.listenerManager.unregister(listener)
    try {
      val log = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
        .lookupCachedData(full.asInstanceOf[
          org.apache.spark.sql.classic.Dataset[_]])
        .get.cachedRepresentation.cacheBuilder
      val reads = out.map { case (t, df) =>
        val plan = df.queryExecution.executedPlan
        val scans = Plans.collect(plan) {
          case s: InMemoryTableScanExec => s.relation.cacheBuilder }
        assert(scans.forall(_ eq log),
          s"$t reads a cached relation other than the canonical log:\n$plan")
        scans.size
      }
      assert(reads.sum > 0, "the outputs should read the pinned log")
      val counts = cuts.asScala.toSeq.map(qe =>
        Plans.collect(qe.executedPlan) { case e: Exchange => e }.size)
      assert(counts.size == pinned.size, s"spine checkpoints: $counts")
      info(s"spine Exchanges (pinned -> cut): " +
        pinned.zip(counts).map { case ((f, m), n) => s"$f $m -> $n" })
      pinned.zip(counts).foreach { case ((frame, max), n) =>
        assert(n <= max, s"$frame: $n Exchanges, $max when pinned") }
    } finally release()
  }

  test("the rco_* entries read spine frames: plans scan no cached " +
      "relation but the canonical log, rco_sessionize alone cuts once, " +
      "and RcoPipeline.clear frees every frame the entries made") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.operators.{RcoPipeline, RcoQueries}
    object Plans extends AdaptiveSparkPlanHelper
    RcoPipeline.clear(spark)
    spark.catalog.clearCache()
    // compared by id: an earlier test's unreferenced checkpoint may be
    // garbage-collected (and so leave the map) while this one runs
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    def write(name: String) = {
      val df = RcoQueries.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      df
    }
    val plans = RcoQueries.queries.keys.toSeq.sorted
      .map(n => n -> write(n).queryExecution.executedPlan)
    val log = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(Rco.downtimeLogDeduped(Tables.events(spark, dir))
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .get.cachedRepresentation.cacheBuilder
    plans.foreach { case (name, plan) =>
      val scans = Plans.collect(plan) {
        case s: InMemoryTableScanExec => s.relation.cacheBuilder }
      assert(scans.forall(_ eq log),
        s"$name reads a cached relation other than the canonical log:\n$plan")
    }
    RcoPipeline.clear(spark)
    assert((persisted -- before).isEmpty,
      s"RcoPipeline.clear left ${persisted -- before}")

    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        actions.add(f); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      write("rco_sessionize")
      // listener events arrive asynchronously but in order: once this
      // marker's arrives, every earlier action's has
      spark.range(1).collect()
      eventually(timeout(60.seconds)) { assert(actions.contains("collect")) }
      assert(actions.asScala.count(_ == "localCheckpoint") == 1,
        s"rco_sessionize should cut only the sessionized frame: $actions")
    } finally {
      spark.listenerManager.unregister(listener)
      RcoPipeline.clear(spark)
    }
  }

  test("a caller-persisted canonical log survives a site's release") {
    import org.apache.spark.storage.StorageLevel
    spark.catalog.clearCache()
    val full = Rco.downtimeLogDeduped(Tables.events(spark, dir))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prod = Rco.productionLog(Tables.events(spark, dir))
    try {
      val (out, release) = RcoEtl.runReleasable(full, prod,
        RcoEtl.SiteParams("TestSite", Rco.testCoPredicate,
          machineLevel = false, firstStop = false))
      assert(out("CO_Aggregated_Data").count() > 0)
      release()
      // the shared frame's lifecycle belongs to the fleet loop, not the
      // site scope — releasing the site must not evict it mid-fleet
      assert(full.storageLevel != StorageLevel.NONE,
        "site release evicted the caller-owned shared cache")
    } finally { full.unpersist(); () }
  }

  test("runSites leaves no persisted frames behind") {
    spark.catalog.clearCache()
    val full = Rco.downtimeLogDeduped(Tables.events(spark, dir))
    val prod = Rco.productionLog(Tables.events(spark, dir))
    // compared by id: an earlier test's unreferenced checkpoint may be
    // garbage-collected (and so leave the map) while the fleet runs
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val base = tempDir("graft-fleet-share").toString
    val log = RcoEtl.runSites(spark, Seq(
      RcoEtl.SiteParams("A", Rco.testCoPredicate,
        machineLevel = false, firstStop = false),
      RcoEtl.SiteParams("B", Rco.testCoPredicate, triggerParam = 60.0,
        machineLevel = false, firstStop = false)),
      full, prod, base)
    assert(log.values.forall(_ == "Success"), log.toString)
    assert((persisted -- before).isEmpty,
      "the loop-shared canonical logs must be released at fleet end")
  }

  test("CacheScope.collect unpersists pins when the body throws") {
    import graft.operators.CacheScope
    import spark.implicits._
    spark.catalog.clearCache()
    // compared by id: the map is weak-valued, so the ContextCleaner may
    // drop an unreferenced earlier RDD while the body runs
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    intercept[RuntimeException] {
      CacheScope.collect {
        val pinned = CacheScope.pin(Seq(1, 2, 3).toDF("x"))
        pinned.count() // materialize so the pin registers an RDD
        sys.error("plan construction failed mid-site")
      }
    }
    assert((persisted -- before).isEmpty,
      "a throwing body must not leak its pins (fleet loops never get " +
        "the release handle on that path)")
  }

  test("CacheScope.pin of an already-persisted frame is a no-op: no " +
      "re-persist, no double scope registration") {
    import graft.operators.CacheScope
    import spark.implicits._
    spark.catalog.clearCache()
    val ((first, second), release) = CacheScope.collect {
      val a = CacheScope.pin(Seq(1, 2, 3).toDF("x"))
      a.count()
      // composed operators re-pin shared subtrees: must come back
      // untouched (same persisted frame, no CacheManager WARN path)
      (a, CacheScope.pin(a))
    }
    assert(second eq first, "re-pin must return the frame untouched")
    assert(first.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    release()
    // one release clears it: the second pin added no extra bookkeeping
    assert(first.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("load applies the adaptive decimal reduction before each write") {
    import org.apache.spark.sql.functions.col
    val full = Rco.downtimeLogDeduped(Tables.events(spark, dir))
    val prod = Rco.productionLog(Tables.events(spark, dir))
    val out = RcoEtl.run(full, prod,
      RcoEtl.SiteParams("TestSite", Rco.testCoPredicate,
        machineLevel = false, firstStop = false))
    val base = tempDir("graft-round").toString
    RcoEtl.load(spark, out, base, "TestSite")
    // Runtime minutes average in the hundreds → reference reducer says
    // 1 decimal place; the in-memory frame carries 4 (ProdOps rounds to
    // 4 at the aggregate). Stored values must be the reduced ones.
    val stored = spark.read.parquet(s"$base/Runtime_per_Day_data")
      .select(col("Runtime")).collect().map(_.getDouble(0))
    assert(stored.forall(v => math.abs(v * 10 - math.round(v * 10)) < 1e-9),
      "stored Runtime should be rounded to 1 decimal place")
    val inMem = out("Runtime_per_Day_data")
      .select(col("Runtime")).collect().map(_.getDouble(0))
    assert(inMem.exists(v => math.abs(v * 10 - math.round(v * 10)) > 1e-9),
      "probe sanity: unrounded frame must have >1-decimal values")
  }
}
