package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, GraftCheckpoint,
  SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.Rco
import graft.operators._
import graft.sinks.ParquetSinks

/** Per-site end-to-end orchestration — the engine-side equivalent of
  * `site_server_overall_etl` (`App/etl/overall_etl.py:52-240`,
  * `ref/RCO_Overall_orchestrator.R`) and `mes_etl_main`
  * (`App/etl/transform/mes_etl.py:23-289`): one call computes every
  * output table of the reference pipeline from a canonical downtime +
  * production log, honoring the per-site analysis toggles
  * (`App/rco_main.py:95-106`), and [[load]] writes them through the
  * idempotent sinks.
  *
  * A user of the reference switches by supplying their site's
  * [[SiteParams]] (CO predicate SQL, trigger parameter, toggles) and
  * the two canonical logs; every downstream table then derives from
  * one shared spine (computed once — the reference's single-pass
  * structure, here made explicit).
  */
object RcoEtl {

  /** Site configuration (Site_Config row, SURVEY §1.2). */
  case class SiteParams(
      server: String,
      coPredicateSql: String,
      triggerParam: Double = 120.0,
      splitOnCause: Boolean = false,
      changeoverFailureNoSplit: Boolean = false,
      pythonFactor4: Boolean = false,
      machineLevel: Boolean = true,
      firstStop: Boolean = true,
      multiConstraint: Boolean = false,
      constraintMachineSuffixes: Seq[String] = Seq("M0")) {
    def sessionize: Sessionize.Params = Sessionize.Params(triggerParam,
      splitOnCause, changeoverFailureNoSplit, pythonFactor4)
  }

  /** One site's RCO spine: the frames every output table descends from,
    * computed once per site run as the reference does
    * (`App/etl/transform/mes_etl.py:23-289`). [[runReleasable]] and the
    * gate's `rco_*` entries ([[graft.operators.RcoPipeline]]) read them.
    * Each frame is lazy and, once forced, an eager [[CacheScope.cut]], so
    * a consumer forces only what it reads and plans over checkpoint
    * leaves. Each is taken in a scope of its own: [[release]] frees all
    * the spine made, the log's pin (when the spine took it) and
    * BrandcodeResolve's per-CO cut included. */
  final class Spine(fullLog0: DataFrame, val site: SiteParams,
      constraintCounts: Option[DataFrame] = None) {
    private val releases = ArrayBuffer.empty[() => Unit]
    private def owned[T](body: => T): T = {
      val (t, release) = CacheScope.collect(body)
      releases.synchronized { releases += release }
      t
    }

    /** The canonical log. It alone stays a pin, not a cut: a fleet
      * shares one persisted log across its sites, and pin leaves a
      * caller-persisted frame, unregistered, to its owner, where a cut
      * would copy the whole log per site. It is materialized before any
      * consumer's plan compiles: under AQE a plan compiled against an
      * unbuilt cache sees UnknownPartitioning, so it would re-exchange
      * and re-sort the full log instead of reusing its (LINE) clustering
      * and (LINE, START_EPOCH, dtid) order. */
    lazy val fullLog: DataFrame = owned {
      val fresh = fullLog0.storageLevel == StorageLevel.NONE
      val pinned = CacheScope.pin(fullLog0)
      if (fresh) pinned.count()
      pinned
    }
    lazy val sessionized: DataFrame = owned(CacheScope.cut(Sessionize(
      Rco.coFilter(fullLog, site.coPredicateSql), site.sessionize)))
    lazy val coAgg: DataFrame = owned(CacheScope.cut(CoAggregate(sessionized)))
    /** Shared by uptime-till-next-CO and first-stop. */
    lazy val assignedStops: DataFrame = owned(CacheScope.cut(
      FirstStopAfterCo.assignedStops(coAgg, fullLog)))
    /** Brandcode per CO; building it takes BrandcodeResolve's per-CO
      * cut. */
    lazy val brandcode: DataFrame = owned(BrandcodeResolve(coAgg, fullLog))
    /** ONE window-assignment join feeds both Gantt tables (it is the
      * Gantt chain's expensive stage). */
    lazy val ganttAssigned: DataFrame = owned(CacheScope.cut(
      GanttGenerate.assignedTagged(coAgg, fullLog,
        GanttGenerate.constraintLog(fullLog, sessionized,
          site.constraintMachineSuffixes), constraintCounts)))

    def release(): Unit = releases.synchronized { releases.foreach(_()) }
  }

  /** All output tables, keyed by their reference names.
    * @param constraintCounts optional (LINE, Number_of_Constraints) —
    *        multi-constraint lines skip the Gantt constraint pass */
  def run(fullLog0: DataFrame, prodLog: DataFrame, p: SiteParams,
      constraintCounts: Option[DataFrame] = None)
      : Map[String, DataFrame] =
    runReleasable(fullLog0, prodLog, p, constraintCounts)._1

  /** [[run]] plus a release handle that frees every frame this site
    * materialized for reuse: the site's [[Spine]] (so this call runs the
    * spine, and each output plans over its checkpoint leaves) and the
    * `CO_Aggregated_Data` cut. If building the outputs throws, both are
    * freed before the rethrow. A single-site caller may ignore the
    * handle: the canonical log's pin then lives until the cache is
    * cleared, the checkpoints until the outputs are garbage-collected
    * and Spark's ContextCleaner reclaims them. A site LOOP must call it
    * per site, or dead blocks pile up and eviction lands on whichever
    * site runs last; [[runSites]] does. */
  def runReleasable(fullLog0: DataFrame, prodLog: DataFrame, p: SiteParams,
      constraintCounts: Option[DataFrame] = None)
      : (Map[String, DataFrame], () => Unit) = {
    val spine = new Spine(fullLog0, p, constraintCounts)
    val (outputs, release) =
      try CacheScope.collect(outputsOf(spine, prodLog))
      catch { case e: Throwable => spine.release(); throw e }
    (outputs, () => { release(); spine.release() })
  }

  private def outputsOf(spine: Spine, prodLog: DataFrame)
      : Map[String, DataFrame] = {
    import spine.{fullLog, sessionized => ses, coAgg => agg, site => p}
    // forced in pipeline order: the log, then each spine frame
    val assigned = spine.assignedStops
    val bc = spine.brandcode
    // cut: consumed twice by load (table write + Script_Data aggregate)
    val coAggregated = CacheScope.cut(agg
      // MultiConstraint sites report the prorated downtime
      // (`App/etl/transform/mes_etl.py:225-230` divides in place)
      .withColumn("CO_DOWNTIME",
        if (p.multiConstraint) col("CO_DOWNTIME_prorated")
        else col("CO_DOWNTIME"))
      .join(bc.select("CO_Identifier", "Current_BRANDCODE",
        "Next_BRANDCODE", "Brandcode_Status"), Seq("CO_Identifier"))
      .join(
        FirstStopAfterCo.uptimeTillNextCo(agg, fullLog, Some(assigned))
          .select("CO_Identifier", "Total_Uptime_till_Next_CO"),
        Seq("CO_Identifier"))
      .withColumn("Server", lit(p.server)))

    val eventLog = ses
      .join(agg.select(col("CO_Identifier")), Seq("CO_Identifier"),
        "left_semi")
      .withColumn("OPERATOR_COMMENT",
        regexp_replace(regexp_replace(col("OPERATOR_COMMENT"),
          "\\r\\n", " "), "\\n", " "))
      .filter(col("LINE").isNotNull)
      .withColumn("Server", lit(p.server))

    val base = Map(
      "CO_Aggregated_Data" -> coAggregated,
      "CO_Event_Log" -> eventLog,
      "Runtime_per_Day_data" ->
        ProdOps.runtimePerDay(fullLog).withColumn("Server", lit(p.server)),
      "Day_Start" ->
        ProdOps.dayStart(fullLog).withColumn("Server", lit(p.server)),
      "BRANDCODE_data" -> ProdOps
        .brandcodeMaster(prodLog.filter(col("LineStatus") === "In Production"))
        .withColumn("Server", lit(p.server)))

    val withFs = if (!p.firstStop) base
      else base + ("First_Stop_after_CO_Data" ->
        FirstStopAfterCo.firstStops(agg, fullLog, Some(assigned))
          .withColumn("Server", lit(p.server)))

    if (!p.machineLevel) withFs
    else withFs +
      ("Gantt_Data" -> GanttGenerate.ganttDataFromAssigned(spine.ganttAssigned)
        .withColumn("Server", lit(p.server))) +
      ("Event_Log_for_Gantt" -> GanttGenerate
        .eventLogFromAssigned(spine.ganttAssigned)
        .withColumn("Server", lit(p.server)))
  }

  /** The 3-site heterogeneous fleet under the oracle gate — what the
    * `rco_fleet_e2e` bench entry drives through [[runSites]] and what
    * `rco_multisite` checks: different CO-predicate catalog entries,
    * trigger parameters and split toggles (`App/rco_main.py:95-106`
    * reads these per site from Site_Config). SiteA is the gate's own
    * site: CO_Trigger_Parameter=120 min, picked so sf0.01 yields ~15%
    * merged events, overlap-negative gaps included. */
  val fleetSiteParams: Seq[SiteParams] = Seq(
    SiteParams("SiteA", Rco.testCoPredicate),
    SiteParams("SiteB", SitePredicates.catalog("StLouis Proficy"),
      triggerParam = 60.0, splitOnCause = true,
      changeoverFailureNoSplit = true),
    SiteParams("SiteC", SitePredicates.catalog("Cabuyao"),
      triggerParam = 240.0, pythonFactor4 = true))

  /** Entry-point-1 semantics (`App/rco_main.py:90-118`,
    * `ref/RCO_Overall_orchestrator.R`): iterate the site-config rows,
    * run+load each site independently, and capture a per-site status —
    * one failing site must not abort the fleet (the reference's run log
    * records `Success` / `Failure (reason)` per server and continues).
    * Returns the run-log map in config order. */
  def runSites(spark: SparkSession, sites: Seq[SiteParams],
      fullLog: DataFrame, prodLog: DataFrame, baseDir: String)
      : Map[String, String] = {
    // The canonical logs are site-INDEPENDENT: every site re-reads
    // them (the dedup + UPTIME windows for fullLog, the In-Production
    // scan for prodLog). Pin them ONCE in a fleet scope, not per site
    // (N-1 recomputes for an N-site fleet); the site scopes leave these
    // persisted frames alone, as pin leaves a caller's to the caller.
    val (statuses, release) = CacheScope.collect {
      val full = CacheScope.pin(fullLog)
      // materialize before the first site's plans compile — see the
      // runReleasable canonical-log comment (cached partitioning and
      // order are invisible to consumers until the cache is built)
      full.count()
      val prod = CacheScope.pin(prodLog)
      sites.map { p =>
        p.server -> (try {
          // per-site release: else the Nth site runs under N-1 sites'
          // dead spine blocks (see the bench's clearState history)
          val (outputs, release) = runReleasable(full, prod, p)
          try load(spark, outputs, baseDir, p.server) finally release()
          "Success"
        } catch {
          // NonFatal only: an OutOfMemoryError/LinkageError means the
          // JVM (and likely the SparkContext) is corrupt — recording it
          // as a per-site Failure and continuing the fleet would be lying
          case scala.util.control.NonFatal(e) =>
            s"Failure (${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").linesIterator.take(1)
                .mkString})"
        })
      }.toMap
    }
    release()
    statuses
  }

  /** Script_Data metadata row per line (A8/S11 stats,
    * `App/etl/overall_etl.py:200-211`) with the reference's full column
    * set (`ref/RCO_Overall_orchestrator.R:236-281,502-546`): System and
    * BU are Line_Input_Data config passthroughs (System defaults to the
    * line name, BU to "FHC" exactly as the reference hardcodes it),
    * MES_Line_Name IS the line name, Data_Update_Time is the run
    * timestamp the NEXT incremental run reads back as its T1 watermark
    * (`ref/RCO_Overall_orchestrator.R:68-72`;
    * [[graft.sources.ConfigOps.scriptDataWatermark]] is the read side).
    * Day_Start_hours comes from the Day_Start table (default 6); NA
    * Number_of_Constraints → 1, raised by the multi-constraint config
    * when larger. Number_of_COs is this engine's A8 surplus stat.
    * @param lineConfig optional (LINE, System[, BU]) config rows —
    *        the Line_Input_Data stand-in */
  def scriptData(coAggregated: DataFrame, server: String,
      dayStart: Option[DataFrame] = None,
      constraintCounts: Option[DataFrame] = None,
      updateTime: Option[java.sql.Timestamp] = None,
      lineConfig: Option[DataFrame] = None,
      bu: String = "FHC"): DataFrame = {
    val base = coAggregated.groupBy(col("LINE"))
      .agg(min(col("CO_StartTime")).as("First_Available_Data_Point"),
        max(col("CO_StartTime")).as("Last_Available_Data_Point"),
        count(lit(1)).as("Number_of_COs"))
    val withDs = dayStart match {
      case Some(ds) => base.join(
        broadcast(ds.select(col("LINE"), col("Day_Start_hours"))),
        Seq("LINE"), "left")
      case None =>
        base.withColumn("Day_Start_hours", lit(null).cast("double"))
    }
    val withCc = constraintCounts match {
      case Some(cc) => withDs.join(
        broadcast(cc.select(col("LINE"), col("Number_of_Constraints"))),
        Seq("LINE"), "left")
      case None =>
        withDs.withColumn("Number_of_Constraints", lit(null).cast("int"))
    }
    val withCfg = lineConfig match {
      case Some(cfg) => withCc.join(
        broadcast(cfg.select(
          (Seq("LINE") ++ Seq("System", "BU").filter(cfg.columns.contains))
            .map(col): _*)),
        Seq("LINE"), "left")
      case None => withCc
    }
    def defaulted(df: DataFrame, name: String, dflt: Column): DataFrame =
      if (df.columns.contains(name))
        df.withColumn(name, coalesce(col(name), dflt))
      else df.withColumn(name, dflt)
    defaulted(defaulted(withCfg, "System", col("LINE")), "BU", lit(bu))
      .na.fill(Map("Day_Start_hours" -> 6.0, "Number_of_Constraints" -> 1))
      .withColumn("Server", lit(server))
      .withColumn("Data_Update_Time",
        updateTime.map(t => lit(t)).getOrElse(current_timestamp())
          .cast("timestamp"))
      .withColumnRenamed("LINE", "MES_Line_Name")
      .select(col("System"), col("Data_Update_Time"),
        col("First_Available_Data_Point"),
        col("Last_Available_Data_Point"), col("MES_Line_Name"),
        col("Server"), col("Day_Start_hours"), col("BU"),
        col("Number_of_Constraints"), col("Number_of_COs"))
  }

  /** One-time migration of a Script_Data table written before the
    * schema-parity change (SURVEY §1.2): the old layout keyed rows on
    * `LINE` and had no System / BU / Data_Update_Time. The keyed merge
    * below joins on (Server, MES_Line_Name) and would otherwise throw
    * AnalysisException on the first load after an upgrade. Backfills
    * follow the same defaults [[scriptData]] emits (System ← line name,
    * BU ← "FHC"); Data_Update_Time backfills NULL — `max` ignores it,
    * so [[graft.sources.ConfigOps.scriptDataWatermark]] degrades to the
    * documented first-run full extract rather than inventing a
    * watermark the old table never recorded. */
  private def migrateLegacyScriptData(spark: SparkSession, path: String)
      : Unit =
    ParquetSinks.migrateLayout(spark, path) { stored =>
      if (stored.columns.contains("MES_Line_Name") ||
          !stored.columns.contains("LINE")) None
      else Some(stored
        .withColumnRenamed("LINE", "MES_Line_Name")
        .withColumn("System", col("MES_Line_Name"))
        .withColumn("BU", lit("FHC"))
        .withColumn("Data_Update_Time", lit(null).cast("timestamp")))
    }

  /** The windowed tables [[load]] upserts per line, in write order:
    * (table, line column, time column, delete pad in seconds). The
    * reference's pads: event log by event end, Gantt 20 minutes
    * (`ref/RCO_Overall_orchestrator.R:302-499`). */
  private val WindowTables = Seq(
    ("CO_Aggregated_Data", "LINE", "CO_Start_EPOCH", 10.0),
    ("CO_Event_Log", "LINE", "END_EPOCH", 10.0),
    ("First_Stop_after_CO_Data", "LINE", "START_TIME", 10.0),
    ("Gantt_Data", "Line", "StartTime", 20 * 60.0),
    ("Event_Log_for_Gantt", "LINE", "START_TIME", 20 * 60.0))

  /** Every per-line table [[load]] writes, with its line column. */
  val LineTables: Seq[(String, String)] =
    WindowTables.map(t => t._1 -> t._2) ++ Seq(
      "Runtime_per_Day_data" -> "LINE", "Script_Data" -> "MES_Line_Name")

  /** Idempotent load (S8–S11): the [[WindowTables]] go through the
    * delete+append upsert keyed on LINE and scoped to the Server —
    * including the S9 CASCADE to the event-log / Gantt / first-stop
    * tables — the brandcode master through full-replace-with-dedup,
    * Script_Data and the daily runtimes through the keyed merge.
    *
    * The table writes run CONCURRENTLY — independent jobs on disjoint
    * paths; sequential writes would idle the cluster through each
    * job's commit (~2x end-to-end wall measured at sf0.1). [[run]] has
    * already checkpointed the shared spine, so each table's frame is
    * one short plan over it. */
  def load(spark: SparkSession, outputs: Map[String, DataFrame],
      baseDir: String, server: String,
      updateTime: Option[java.sql.Timestamp] = None): Unit = {
    // One run timestamp for every Script_Data row of this load — the
    // watermark the next incremental run reads back (T1 round-trip).
    val runTime = updateTime.getOrElse(
      new java.sql.Timestamp(System.currentTimeMillis()))
    // Every write goes through the reference's adaptive decimal
    // reduction first (`ref/RCO_Overall_orchestrator.R:119-131` — the
    // reducer runs on each frame right before its SQL append). The
    // magnitude probe is an extra action, so the frame is checkpointed
    // for the probe+write pair (both read one leaf, not the table's
    // whole DAG twice) and freed after; run's CO_Aggregated_Data
    // already is one.
    def rounded(df: DataFrame)(write: DataFrame => Unit): Unit = {
      val c = if (df.queryExecution.analyzed.isInstanceOf[LogicalRDD]) df
        else GraftCheckpoint.local(df)
      try write(ProdOps.roundAdaptiveAll(c))
      finally if (c ne df) CacheScope.release(c)
    }
    val writes: Seq[() => Unit] = WindowTables.flatMap {
      case (t, line, time, pad) => outputs.get(t).map(df => () => {
        rounded(df)(r => ParquetSinks.upsertWindow(spark, r,
          s"$baseDir/$t", line, time, padSec = pad,
          scopeCols = Seq("Server")))
        // Script_Data aggregates the CO table (one row per line)
        if (t == "CO_Aggregated_Data") {
          migrateLegacyScriptData(spark, s"$baseDir/Script_Data")
          rounded(scriptData(df, server, outputs.get("Day_Start"),
            updateTime = Some(runTime)))(r =>
            ParquetSinks.upsertByKey(spark, r,
              s"$baseDir/Script_Data", Seq("Server", "MES_Line_Name")))
        }
      })
    } ++ Seq(
      outputs.get("BRANDCODE_data").map(df => () =>
        rounded(df)(r =>
          ParquetSinks.replaceDedup(spark, r, s"$baseDir/BRANDCODE_data",
            "BRANDCODE", scopeCols = Seq("Server")))),
      // keyed merge, NOT a plain append — re-running the same load must
      // not duplicate daily rows (the idempotency contract above)
      outputs.get("Runtime_per_Day_data").map(df => () =>
        rounded(df)(r =>
          ParquetSinks.upsertByKey(spark, r,
            s"$baseDir/Runtime_per_Day_data", Seq("Server", "Date", "LINE"))))
    ).flatten
    if (writes.nonEmpty) {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      import scala.util.{Failure, Try}
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(writes.size)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      // Each write is wrapped in Try so the sequence NEVER fails early:
      // load() must not return (or throw) while sibling writes are
      // still in flight — runSites starts the next site against the
      // same table paths, and an in-flight write racing the next
      // site's upsert could delete the other's staging dirs mid-swap.
      // All writes finish, THEN the first failure (if any) is rethrown.
      val results = try Await.result(
        Future.sequence(writes.map(w => Future(Try(w())))), Duration.Inf)
      finally pool.shutdown()
      // Rethrow the first failure with any siblings attached as
      // suppressed — several tables failing in one site run is one
      // diagnosis, not writes.size - 1 silently dropped stack traces.
      val failures = results.collect { case Failure(e) => e }
      failures.headOption.foreach { first =>
        failures.drop(1).foreach(first.addSuppressed)
        throw first
      }
    }
  }
}
