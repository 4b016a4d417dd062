package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Rco, RcoSql}
import graft.pipeline.RcoEtl
import graft.pipeline.RcoEtl.SiteParams
import graft.sources.Tables

/** RCO analytical-core queries + their DuckDB oracles, wired over the
  * driver's `events` table via the [[graft.model.Rco]] adapter. Each query
  * name maps 1:1 to a SURVEY §2 operator cluster; the oracle SQL is built
  * from the paired *Sql twins so Spark/DuckDB stay in lockstep. Every
  * spine frame comes from a site's [[RcoEtl.Spine]] ([[RcoPipeline]]),
  * so the gate checks the frames `RcoEtl.run` ships.
  */
object RcoQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The site every test query runs (the fleet's first). */
  private val Site: SiteParams = RcoEtl.fleetSiteParams.head
  private val SiteSplit =
    Site.copy(splitOnCause = true, changeoverFailureNoSplit = true)
  /** The Python port's disjunct-4 factor (SURVEY §7.4a compat). */
  private val SitePy = Site.copy(pythonFactor4 = true)
  private val P = Site.sessionize

  private def spine(s: SparkSession, dir: String,
      site: SiteParams = Site): RcoEtl.Spine =
    RcoPipeline.spine(s, dir, site)

  private val sesCols = Seq("CO_Identifier", "LINE", "downtime_id",
    "START_TIME", "DOWNTIME", "UPTIME", "BRANDCODE", "CO_Trigger_Column",
    "CO_Trigger", "MinutesDifference")

  def sessionize(site: SiteParams): Q = (s, dir) =>
    spine(s, dir, site).sessionized.select(sesCols.map(col): _*)

  private def sessionizeOracle(site: SiteParams): String =
    s"""${RcoSql.dtCte},
    ${SessionizeSql.sesCte(RcoSql.coPredicate, site.sessionize)}
    SELECT CO_Identifier, LINE, downtime_id, START_TIME, DOWNTIME, UPTIME,
           BRANDCODE, CO_Trigger_Column, CO_Trigger,
           gap AS MinutesDifference
    FROM ses"""

  def coAgg: Q = (s, dir) => spine(s, dir).coAgg

  private val coAggOracle: String =
    s"""${RcoSql.dtCte},
    ${SessionizeSql.sesCte(RcoSql.coPredicate, P)},
    ${CoAggregateSql.aggCte}
    SELECT CO_Identifier, LINE, CO_StartTime, CO_Start_EPOCH, CO_End_EPOCH,
           CO_DOWNTIME, downtime_id_of_First_CO_Event,
           downtime_id_of_Last_CO_Event, n_events, first_ev_UPTIME,
           Number_of_Machines, CO_DOWNTIME_prorated
    FROM agg"""

  def brandcode: Q = (s, dir) => spine(s, dir).brandcode

  private val brandcodeOracle: String =
    s"""${RcoSql.dtCte},
    ${SessionizeSql.sesCte(RcoSql.coPredicate, P)},
    ${CoAggregateSql.aggCte},
    ${BrandcodeResolveSql.bcCte}
    SELECT CO_Identifier, LINE, CO_StartTime, Current_BRANDCODE,
           Next_BRANDCODE,
           CASE WHEN Current_BRANDCODE = Next_BRANDCODE THEN 'Not Changed'
                ELSE 'OK' END AS Brandcode_Status
    FROM bc"""

  def firstStop: Q = (s, dir) => {
    val sp = spine(s, dir)
    FirstStopAfterCo.firstStops(sp.coAgg, sp.fullLog, Some(sp.assignedStops))
  }

  def coUptime: Q = (s, dir) => {
    val sp = spine(s, dir)
    FirstStopAfterCo.uptimeTillNextCo(sp.coAgg, sp.fullLog,
      Some(sp.assignedStops))
  }

  private def rcoWith(tail: String): String =
    s"""${RcoSql.dtCte},
    ${SessionizeSql.sesCte(RcoSql.coPredicate, P)},
    ${CoAggregateSql.aggCte},
    $tail"""

  private val firstStopOracle: String = rcoWith(
    s"""${FirstStopAfterCoSql.fsCte}
    SELECT START_TIME, round(DOWNTIME, 2) AS DOWNTIME,
           round(UPTIME, 2) AS UPTIME, round(Uptime_cumul, 2) AS Uptime_cumul,
           Fault, CAUSE_LEVELS_1_NAME, CAUSE_LEVELS_2_NAME,
           CAUSE_LEVELS_3_NAME, CAUSE_LEVELS_4_NAME, BRANDCODE,
           OPERATOR_COMMENT, LINE, downtime_id, CO_Identifier
    FROM fstop""")

  private val coUptimeOracle: String = rcoWith(
    s"""${FirstStopAfterCoSql.fsCte}
    SELECT CO_Identifier, LINE, Total_Uptime_till_Next_CO FROM tot""")

  private val prodCols = Seq("event_id", "LINE", "START_TIME", "BRANDCODE",
    "ProdDesc", "ProdFam", "ProdGroup", "FirstPackCount", "StatFactor",
    "LineStatus")

  def prodLog: Q = (s, dir) =>
    Rco.productionLogPrIn(Tables.events(s, dir)).select(prodCols.map(col): _*)

  private val prodLogOracle: String =
    s"""WITH ${RcoSql.prodCte}
    SELECT ${prodCols.mkString(", ")} FROM prodin"""

  def runtimePerDay: Q = (s, dir) =>
    ProdOps.runtimePerDay(spine(s, dir).fullLog)

  private val runtimeOracle: String =
    s"""${RcoSql.dtCte}
    ${ProdOpsSql.runtimePerDaySql}"""

  def dayStart: Q = (s, dir) =>
    ProdOps.dayStart(spine(s, dir).fullLog)

  private val dayStartOracle: String =
    s"""${RcoSql.dtCte},
    ${ProdOpsSql.dayStartSql()}"""

  def brandcodeMaster: Q = (s, dir) =>
    ProdOps.brandcodeMaster(Rco.productionLogPrIn(Tables.events(s, dir)))

  private val brandcodeMasterOracle: String =
    s"""WITH ${RcoSql.prodCte},
    ${ProdOpsSql.brandcodeMasterSql}
    SELECT BRANDCODE, BRANDNAME, ProdFam, ProdGroup, UNITS_PER_CASE,
           StatFactor, tally
    FROM bm"""

  def gantt: Q = (s, dir) =>
    GanttGenerate.ganttDataFromAssigned(spine(s, dir).ganttAssigned)

  def ganttEvents: Q = (s, dir) =>
    GanttGenerate.eventLogFromAssigned(spine(s, dir).ganttAssigned)

  private val ganttOracle: String = rcoWith(
    s"""${GanttGenerateSql.ganttSql}
    SELECT CO_Identifier, Line, Machine, seq, StartTime, Downtime_Status,
           downtime_id
    FROM gantt""")

  private val ganttEventsOracle: String = rcoWith(
    s"""${GanttGenerateSql.eventLogSql}
    SELECT * FROM ev""")

  /** F8: every catalog predicate evaluated over the canonical log —
    * one row per site with its matching-event count. ONE scan: 24
    * conditional counts in a single aggregate, unpivoted with `stack`
    * (the 24-branch union ran 24 full-log scans). */
  def sitePredicates: Q = (s, dir) => {
    val dt = spine(s, dir).fullLog
    val sites = SitePredicates.catalog.toSeq.sortBy(_._1)
    val aggCols = sites.zipWithIndex.map { case ((_, pred), i) =>
      count(when(expr(pred), lit(1))).as(s"c$i")
    }
    val stacked = sites.zipWithIndex.map { case ((site, _), i) =>
      s"'${site.replace("'", "''")}', c$i"
    }.mkString(", ")
    dt.agg(aggCols.head, aggCols.tail: _*)
      .select(expr(s"stack(${sites.size}, $stacked) AS (site, n_rows)"))
  }

  private val sitePredicatesOracle: String = {
    val selects = SitePredicates.catalog.toSeq.sortBy(_._1)
      .map { case (site, pred) =>
        s"SELECT '$site' AS site, count(*) AS n_rows FROM dt WHERE $pred"
      }
      .mkString(" UNION ALL ")
    s"""${RcoSql.dtCte}
    $selects"""
  }

  /** Each fleet site's CO aggregate, from its own spine over the same
    * canonical log, unioned with the Server tag — what a fleet run
    * writes, minus the sinks. The spines share one pinned log; each
    * site's sessionize/aggregate shuffles only its own filtered slice. */
  def multisite: Q = (s, dir) =>
    RcoEtl.fleetSiteParams.map { site =>
      spine(s, dir, site).coAgg.withColumn("Server", lit(site.server))
    }.reduce(_.unionByName(_))

  private val multisiteOracle: String =
    // each site's CTE chain in a parenthesized query expression (DuckDB
    // rejects WITH directly inside a FROM subquery)
    RcoEtl.fleetSiteParams.map { site =>
      s"""(${RcoSql.dtCte},
           ${SessionizeSql.sesCte(site.coPredicateSql, site.sessionize)},
           ${CoAggregateSql.aggCte}
         SELECT CO_Identifier, LINE, CO_StartTime, CO_Start_EPOCH,
             CO_End_EPOCH, CO_DOWNTIME, downtime_id_of_First_CO_Event,
             downtime_id_of_Last_CO_Event, n_events, first_ev_UPTIME,
             Number_of_Machines, CO_DOWNTIME_prorated,
             '${site.server}' AS Server
         FROM agg)"""
    }.mkString(" UNION ALL ")

  def constraintFilter: Q = (s, dir) =>
    SitePredicates
      .constraintFilter(spine(s, dir).fullLog, Seq("M0", "M2"))
      .select(col("downtime_id"), col("LINE"), col("MACHINE"))

  private val constraintFilterOracle: String =
    s"""${RcoSql.dtCte}
    SELECT downtime_id, LINE, MACHINE FROM dt
    WHERE MACHINE = LINE || ' M0' OR MACHINE = LINE || ' M2'"""

  /** CO_Event_Log output (`ref/RCO_MES_ETL.R:246-276`): sessionized
    * events restricted to COs surviving aggregation (J8 left-semi — a
    * no-op by construction here but kept as the reference's consistency
    * contract), comment CR/LF scrub, null-line drop. */
  def coEventLog: Q = (s, dir) => {
    val sp = spine(s, dir)
    sp.sessionized
      .join(sp.coAgg.select(col("CO_Identifier")),
        Seq("CO_Identifier"), "left_semi")
      .filter(col("LINE").isNotNull)
      .select(col("CO_Identifier"), col("LINE"),
        col("CAUSE_LEVELS_1_NAME"), col("CAUSE_LEVELS_2_NAME"),
        col("CAUSE_LEVELS_3_NAME"), col("CAUSE_LEVELS_4_NAME"),
        col("START_TIME"), col("UPTIME"),
        col("DOWNTIME"), col("BRANDCODE"), col("TEAM"), col("SHIFT"),
        regexp_replace(regexp_replace(col("OPERATOR_COMMENT"),
          "\\r\\n", " "), "\\n", " ").as("OPERATOR_COMMENT"),
        col("CO_Trigger_Column"), col("END_EPOCH"), col("downtime_id"),
        col("Reason1Category"), col("Reason2Category"),
        col("Reason3Category"), col("Reason4Category"),
        col("ProdDesc"), col("ProcessOrder"))
  }

  private val coEventLogOracle: String = rcoWith(
    """evlog AS (
      SELECT s.CO_Identifier, s.LINE, s.CAUSE_LEVELS_1_NAME,
        s.CAUSE_LEVELS_2_NAME, s.CAUSE_LEVELS_3_NAME,
        s.CAUSE_LEVELS_4_NAME, s.START_TIME,
        s.UPTIME, s.DOWNTIME, s.BRANDCODE, s.TEAM, s.SHIFT,
        regexp_replace(regexp_replace(s.OPERATOR_COMMENT,
          '\r\n', ' ', 'g'), '\n', ' ', 'g') AS OPERATOR_COMMENT,
        s.CO_Trigger_Column, s.END_EPOCH, s.downtime_id,
        s.Reason1Category, s.Reason2Category, s.Reason3Category,
        s.Reason4Category, s.ProdDesc, s.ProcessOrder
      FROM ses s SEMI JOIN agg a ON s.CO_Identifier = a.CO_Identifier
      WHERE s.LINE IS NOT NULL)
    SELECT * FROM evlog""")

  val queries: Map[String, Q] = Map(
    "rco_co_event_log" -> coEventLog,
    "rco_site_predicates" -> sitePredicates,
    "rco_constraint_filter" -> constraintFilter,
    "rco_gantt" -> gantt,
    "rco_gantt_events" -> ganttEvents,
    "rco_sessionize" -> sessionize(Site),
    "rco_sessionize_split" -> sessionize(SiteSplit),
    "rco_sessionize_pyfork" -> sessionize(SitePy),
    "rco_co_agg" -> coAgg,
    "rco_multisite" -> multisite,
    "rco_brandcode" -> brandcode,
    "rco_first_stop" -> firstStop,
    "rco_co_uptime" -> coUptime,
    "rco_prod_log" -> prodLog,
    "rco_runtime_per_day" -> runtimePerDay,
    "rco_day_start" -> dayStart,
    "rco_brandcode_master" -> brandcodeMaster)

  val oracles: Map[String, String] = Map(
    "rco_co_event_log" -> coEventLogOracle,
    "rco_site_predicates" -> sitePredicatesOracle,
    "rco_constraint_filter" -> constraintFilterOracle,
    "rco_gantt" -> ganttOracle,
    "rco_gantt_events" -> ganttEventsOracle,
    "rco_sessionize" -> sessionizeOracle(Site),
    "rco_sessionize_split" -> sessionizeOracle(SiteSplit),
    "rco_sessionize_pyfork" -> sessionizeOracle(SitePy),
    "rco_co_agg" -> coAggOracle,
    "rco_multisite" -> multisiteOracle,
    "rco_brandcode" -> brandcodeOracle,
    "rco_first_stop" -> firstStopOracle,
    "rco_co_uptime" -> coUptimeOracle,
    "rco_prod_log" -> prodLogOracle,
    "rco_runtime_per_day" -> runtimeOracle,
    "rco_day_start" -> dayStartOracle,
    "rco_brandcode_master" -> brandcodeMasterOracle)
}
