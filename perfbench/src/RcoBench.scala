package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.model.Rco
import graft.operators._
import graft.pipeline.RcoEtl
import graft.sinks.ParquetSinks
import graft.sources.Tables

/** Closed-loop driver for the RCO pipeline benchmark: one client, one
  * pipeline run at a time, through the pipeline's public functions only.
  *
  * Workloads:
  *  - `site_bulk`: every run computes one site over `--input` and loads it
  *    into a fresh output directory (the create path);
  *  - `site_refresh`: set-up loads `--input` (the lookback window), then
  *    every run re-extracts the same window and upserts it over the
  *    existing tables (delete + append, reads beside writes).
  *
  * With `--trace 1` the untraced runs are followed by one traced run: the
  * real `RcoEtl.run` + `RcoEtl.load` calls, then the same site computed
  * layer by layer (each public operator persisted and materialized in
  * pipeline order, each sink called on its own), under a SparkListener +
  * QueryExecutionListener pair registered only for that part.
  *
  * Writes `result.json` (and `spans.json` when traced) into `--work`.
  */
object RcoBench {

  final case class Conf(workload: String, input: String, work: String,
      seconds: Double, trace: Boolean, cores: Int, runId: String)

  val Site: RcoEtl.SiteParams = RcoEtl.SiteParams(server = "BenchSite",
    coPredicateSql = Rco.testCoPredicate, triggerParam = 120.0)

  /** The eight tables `RcoEtl.load` writes, in its order. */
  val TableNames: Seq[String] = Seq("CO_Aggregated_Data", "Script_Data",
    "CO_Event_Log", "First_Stop_after_CO_Data", "Gantt_Data",
    "Event_Log_for_Gantt", "BRANDCODE_data", "Runtime_per_Day_data")

  /** Oracle (from `SparkEntry.oracleSql`) each loaded table is checked
    * against; Script_Data has none and is checked against rco_co_agg. */
  val Oracles: Seq[String] = Seq("rco_co_agg", "rco_brandcode",
    "rco_co_uptime", "rco_co_event_log", "rco_first_stop", "rco_gantt",
    "rco_gantt_events", "rco_brandcode_master", "rco_runtime_per_day")

  def main(args: Array[String]): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val c = Conf(a("workload"), a("input"), a("work"), a("seconds").toDouble,
      a("trace") == "1", a("cores").toInt, a("run-id"))
    val spark = graft.GraftSession.builder(s"local[${c.cores}]", c.cores)
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try new RcoBench(spark, c, startMs).measure()
    finally spark.stop()
  }
}

final class RcoBench(spark: SparkSession, c: RcoBench.Conf, startMs: Long) {
  import RcoBench._

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private val tables = s"${c.work}/tables"
  private val refresh = c.workload == "site_refresh"
  require(refresh || c.workload == "site_bulk", s"workload ${c.workload}")

  private val json = new StringBuilder("{")
  private def put(k: String, v: String): Unit = {
    if (json.length > 1) json ++= ",\n"
    json ++= "\"" + k + "\": " + v
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""
  private def nums(xs: Iterable[Double]): String = xs.mkString("[", ", ", "]")

  /** Cache hygiene before every run: no frame pinned by an earlier run
    * may serve this one. */
  private def clearCaches(): Unit = {
    RcoPipeline.clear(spark)
    spark.catalog.clearCache()
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    require(cm.isEmpty, "CacheManager still holds cached plans")
  }

  private def delete(path: String): Unit = { fs.delete(new Path(path), true); () }

  /** One real pipeline run: read → canonical logs → run → load. */
  private def pipelineRun(input: String, out: String): Unit = {
    val ev = Tables.events(spark, input)
    RcoEtl.load(spark,
      RcoEtl.run(Rco.downtimeLogDeduped(ev), Rco.productionLog(ev), Site),
      out, Site.server)
  }

  /** The run a timed iteration makes: a create into a fresh directory
    * (site_bulk) or an upsert over the existing tables (site_refresh). */
  private def workloadRun(): Unit = {
    if (!refresh) delete(tables)
    pipelineRun(c.input, tables)
  }

  /** Order-independent content digest of every loaded table, minus the
    * load timestamp Script_Data records and the sink's bucket column. */
  private def digests(): Seq[String] = TableNames.map { t =>
    val df = spark.read.parquet(s"$tables/$t")
    val cols = df.columns.filterNot(Set("Data_Update_Time",
      ParquetSinks.BucketCol)).sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*)
      .cast("decimal(38,0)"))).head()
    s"$t:${r.getLong(0)}:${r.get(1)}"
  }

  /** Copies the loaded tables to `check/` for the DuckDB comparison. */
  private def keepForCheck(): Unit = {
    delete(s"${c.work}/check")
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(tables), fs,
      new Path(s"${c.work}/check"), false, spark.sparkContext.hadoopConfiguration)
    ()
  }

  def measure(): Unit = {
    val failures = ArrayBuffer.empty[String]
    def attempt(what: String)(f: => Unit): Boolean =
      try { f; true } catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          false
      }

    // set-up: the cold first run every fresh process pays; for
    // site_refresh it creates the tables the refreshes land on
    delete(tables)
    clearCaches()
    workloadRun()
    val setupS = (System.currentTimeMillis() - startMs) / 1000.0
    // a refresh re-extracts the window the tables already hold, so it
    // must leave every table's content as it found it
    val expected = if (refresh) { keepForCheck(); digests() } else Nil

    val runS = ArrayBuffer.empty[Double]
    val cpuS = ArrayBuffer.empty[Double]
    var attempted = 0
    var unchanged = true
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    do {
      clearCaches()
      attempted += 1
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      if (attempt(s"run $attempted")(workloadRun())) {
        runS += (System.nanoTime() - t0) / 1e9
        cpuS += (osBean.getProcessCpuTime - cpu0) / 1e9
        if (refresh && digests() != expected) unchanged = false
      }
    } while (System.nanoTime() < deadline)
    if (!refresh) keepForCheck()
    val sql = graft.SparkEntry.oracleSql
    put("oracles", Oracles.map(o => str(o) + ": " + str(sql(o)))
      .mkString("{", ",\n", "}"))

    put("workload", str(c.workload))
    put("setup_s", setupS.toString)
    put("run_s", nums(runS))
    put("cpu_s", nums(cpuS))
    put("attempted", attempted.toString)
    put("failed", failures.size.toString)
    put("failures", failures.map(str).mkString("[", ", ", "]"))
    put("idempotent", (!refresh || unchanged).toString)

    if (c.trace) {
      val t = new Traced(spark, c, clearCaches _, delete)
      t.run()
      put("traced_run_s", t.pipelineSeconds.toString)
      put("layers", t.metrics.map { case (k, v) => str(k) + ": " + v }
        .mkString("{", ",\n", "}"))
      Files.write(Paths.get(s"${c.work}/spans.json"),
        t.spansJson.getBytes(StandardCharsets.UTF_8))
    }
    put("peak_rss_mb", peakRssMb.toString)
    Files.write(Paths.get(s"${c.work}/result.json"),
      (json.result() + "}\n").getBytes(StandardCharsets.UTF_8))
  }

  /** JVM resident high-water mark (VmHWM), in MB. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
}

/** Task, job and planning records, kept in memory and attributed to spans
  * by time afterwards (spans never overlap except by nesting). */
object Recorder {
  final case class Task(start: Long, end: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleBytes: Long, spillBytes: Long, readBytes: Long,
      writeBytes: Long, rowsIn: Long, rowsWritten: Long)
}

final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder.Task
  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  /** (start of analysis, analysis + optimization + planning ms) */
  val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val running = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    running.incrementAndGet(); jobs.add(e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    running.decrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten))
    ()
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    val ph = qe.tracker.phases.filter { case (k, _) =>
      k == "analysis" || k == "optimization" || k == "planning" }
    if (ph.nonEmpty) plans.add(
      (ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
    ()
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Waits until every job this recorder saw start has ended. */
  def drain(): Unit = {
    val until = System.currentTimeMillis() + 30000
    while (running.get() > 0 && System.currentTimeMillis() < until)
      Thread.sleep(10)
    Thread.sleep(200) // listener-bus tail: the query listener's queue
  }
}

object Traced {
  final case class Span(id: Int, name: String, parent: Int, start: Long,
      var end: Long = 0L, var durNs: Long = 0L)
}

/** The traced part of a run: spans around the benchmark's own calls into
  * each layer (`sources`, `model`, `operators`, `pipeline`, `sinks`,
  * `hadoop`), and the per-layer metrics derived from them. */
final class Traced(spark: SparkSession, c: RcoBench.Conf,
    clearCaches: () => Unit, delete: String => Unit) {
  import RcoBench._
  import Traced.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private val rec = new Recorder
  private val fsStats = ArrayBuffer.empty[(String, Long)]
  /** rows handed to each sink */
  private val sinkRowsIn = scala.collection.mutable.Map.empty[String, Long]
  /** file bytes each sink read back (Hadoop counters: task input metrics
    * would also count reads of cached blocks) */
  private val sinkReadBytes = scala.collection.mutable.Map.empty[String, Long]
  var pipelineSeconds = 0.0

  private def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size + 1, name, stack.head, System.currentTimeMillis())
    spans += s
    stack = s.id :: stack
    val t0 = System.nanoTime()
    try body finally {
      s.durNs = System.nanoTime() - t0
      s.end = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  /** rows of the frame [[materialized]] last built */
  private var lastRows = 0L
  private def materialized(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    lastRows = p.count()
    p
  }

  private def hadoopCounters(): Map[String, Long] =
    FileSystem.getGlobalStorageStatistics.iterator().asScala.flatMap { st =>
      st.getLongStatistics.asScala.map(s => s.getName -> s.getValue)
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)

  def run(): Unit = {
    val out = if (c.workload == "site_refresh") s"${c.work}/tables"
      else s"${c.work}/traced"
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      // 1. the real, undecomposed pipeline calls
      clearCaches()
      if (c.workload != "site_refresh") delete(out)
      val fs0 = hadoopCounters()
      val t0 = System.nanoTime()
      val ev = Tables.events(spark, c.input)
      val outputs = span("pipeline.run")(RcoEtl.run(
        Rco.downtimeLogDeduped(ev), Rco.productionLog(ev), Site))
      span("pipeline.load")(RcoEtl.load(spark, outputs, out, Site.server))
      pipelineSeconds = (System.nanoTime() - t0) / 1e9
      val fs1 = hadoopCounters()
      fsStats ++= Seq("bytesRead", "bytesWritten")
        .map(k => k -> (fs1.getOrElse(k, 0L) - fs0.getOrElse(k, 0L)))
      // 2. the same site, layer by layer
      clearCaches()
      if (c.workload != "site_refresh") delete(out)
      layers(out)
      clearCaches()
    } finally {
      rec.drain()
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  /** `RcoEtl.runReleasable` + `RcoEtl.load` for [[Site]], one public call
    * per span, every intermediate persisted and materialized. */
  private def layers(out: String): Unit = {
    val p = Site
    val ev = span("sources.events")(materialized(Tables.events(spark, c.input)))
    val full = span("model.canonical_log")(
      materialized(Rco.downtimeLogDeduped(ev)))
    val prod = span("model.prod_log")(materialized(Rco.productionLog(ev)))
    val ses = span("operators.sessionize")(materialized(Sessionize(
      Rco.coFilter(full, p.coPredicateSql), Sessionize.Params(p.triggerParam,
        p.splitOnCause, p.changeoverFailureNoSplit, p.pythonFactor4))))
    val agg = span("operators.co_aggregate")(materialized(CoAggregate(ses)))
    val assigned = span("operators.assigned_stops")(
      materialized(FirstStopAfterCo.assignedStops(agg, full)))
    val bc = span("operators.brandcode")(
      materialized(BrandcodeResolve(agg, full)))
    val uptime = span("operators.uptime_next_co")(materialized(
      FirstStopAfterCo.uptimeTillNextCo(agg, full, Some(assigned))))
    val firstStops = span("operators.first_stop")(materialized(
      FirstStopAfterCo.firstStops(agg, full, Some(assigned))))
    val gAssigned = span("operators.gantt_assign")(materialized(
      GanttGenerate.assignedTagged(agg, full, GanttGenerate.constraintLog(
        full, ses, p.constraintMachineSuffixes))))
    val gantt = span("operators.gantt_data")(
      materialized(GanttGenerate.ganttDataFromAssigned(gAssigned)))
    val ganttEv = span("operators.gantt_event_log")(
      materialized(GanttGenerate.eventLogFromAssigned(gAssigned)))
    val (perDay, dayStart, bcMaster) = span("operators.prod_ops")((
      materialized(ProdOps.runtimePerDay(full)),
      materialized(ProdOps.dayStart(full)),
      materialized(ProdOps.brandcodeMaster(
        prod.filter(col("LineStatus") === "In Production")))))
    val server = lit(p.server)
    val (coAggregated, eventLog) = span("pipeline.assemble")((
      materialized(agg
        .join(bc.select("CO_Identifier", "Current_BRANDCODE",
          "Next_BRANDCODE", "Brandcode_Status"), Seq("CO_Identifier"))
        .join(uptime.select("CO_Identifier", "Total_Uptime_till_Next_CO"),
          Seq("CO_Identifier"))
        .withColumn("Server", server)),
      materialized(ses
        .join(agg.select(col("CO_Identifier")), Seq("CO_Identifier"),
          "left_semi")
        .withColumn("OPERATOR_COMMENT", regexp_replace(regexp_replace(
          col("OPERATOR_COMMENT"), "\\r\\n", " "), "\\n", " "))
        .filter(col("LINE").isNotNull)
        .withColumn("Server", server))))
    val scriptData = RcoEtl.scriptData(coAggregated, p.server, Some(dayStart),
      updateTime = Some(new java.sql.Timestamp(System.currentTimeMillis())))

    def sink(table: String, df: DataFrame)(
        write: (DataFrame, String) => Unit): Unit = span(s"sinks.$table") {
      val r = span("operators.round_adaptive")(
        materialized(ProdOps.roundAdaptiveAll(df)))
      sinkRowsIn(table) = lastRows
      val read0 = hadoopCounters().getOrElse("bytesRead", 0L)
      write(r, s"$out/$table")
      sinkReadBytes(table) =
        hadoopCounters().getOrElse("bytesRead", 0L) - read0
    }
    val scoped = Seq("Server")
    sink("CO_Aggregated_Data", coAggregated)(ParquetSinks.upsertWindow(
      spark, _, _, "LINE", "CO_Start_EPOCH", scopeCols = scoped))
    sink("Script_Data", scriptData)(ParquetSinks.upsertByKey(
      spark, _, _, Seq("Server", "MES_Line_Name")))
    sink("CO_Event_Log", eventLog)(ParquetSinks.upsertWindow(
      spark, _, _, "LINE", "END_EPOCH", scopeCols = scoped))
    sink("First_Stop_after_CO_Data", firstStops.withColumn("Server", server))(
      ParquetSinks.upsertWindow(spark, _, _, "LINE", "START_TIME",
        scopeCols = scoped))
    sink("Gantt_Data", gantt.withColumn("Server", server))(
      ParquetSinks.upsertWindow(spark, _, _, "Line", "StartTime",
        padSec = 20 * 60.0, scopeCols = scoped))
    sink("Event_Log_for_Gantt", ganttEv.withColumn("Server", server))(
      ParquetSinks.upsertWindow(spark, _, _, "LINE", "START_TIME",
        padSec = 20 * 60.0, scopeCols = scoped))
    sink("BRANDCODE_data", bcMaster.withColumn("Server", server))(
      ParquetSinks.replaceDedup(spark, _, _, "BRANDCODE", scopeCols = scoped))
    sink("Runtime_per_Day_data", perDay.withColumn("Server", server))(
      ParquetSinks.upsertByKey(spark, _, _, Seq("Server", "Date", "LINE")))
  }

  /** Innermost span open at `t` (ms), or 0 outside every span. */
  private def at(t: Long): Int =
    spans.filter(s => s.start <= t && t <= s.end).lastOption.map(_.id)
      .getOrElse(0)

  /** Per-layer metrics, named `<layer>.<span>.<suffix>`. */
  lazy val metrics: Seq[(String, Double)] = {
    val tasks = rec.tasks.asScala.toSeq
    val tasksBy = tasks.groupBy(t => at(t.start))
    val jobsBy = rec.jobs.asScala.toSeq.groupBy(t => at(t))
    val plansBy = rec.plans.asScala.toSeq.groupBy(p => at(p._1))
    val mb = 1024.0 * 1024.0
    def children(s: Span) = spans.filter(_.parent == s.id)
    def selfS(s: Span) = (s.durNs - children(s).map(_.durNs).sum) / 1e9
    def ts(s: Span) = tasksBy.getOrElse(s.id, Nil)
    /** wall time inside the span with no task of any span running */
    def gapS(s: Span): Double = {
      val iv = tasks.map(t => (t.start max s.start, t.end min s.end))
        .filter { case (a, b) => a < b }.sortBy(_._1)
      var covered = 0L; var reach = s.start
      iv.foreach { case (a, b) =>
        if (b > reach) { covered += b - (a max reach); reach = b } }
      ((s.end - s.start) - covered) / 1000.0
    }
    val out = ArrayBuffer.empty[(String, Double)]
    def agg(name: String)(f: Span => Double): Double =
      spans.filter(_.name == name).map(f).sum
    def add(name: String, suffix: String)(f: Span => Double): Unit =
      out += s"$name.$suffix" -> agg(name)(f)
    for (n <- Seq("pipeline.run", "pipeline.load")) {
      add(n, "s")(selfS)
      add(n, "jobs")(s => jobsBy.getOrElse(s.id, Nil).size.toDouble)
      add(n, "tasks")(ts(_).size.toDouble)
      add(n, "plan_s")(s => plansBy.getOrElse(s.id, Nil).map(_._2).sum / 1e3)
      add(n, "driver_gap_s")(gapS)
      add(n, "spill_mb")(ts(_).map(_.spillBytes).sum / mb)
      add(n, "gc_s")(ts(_).map(_.gcMs).sum / 1e3)
    }
    val pipe = spans.filter(s =>
      s.name == "pipeline.run" || s.name == "pipeline.load")
    out += "pipeline.core_busy_share" ->
      pipe.flatMap(ts).map(_.runMs).sum / 1e3 / (pipelineSeconds * c.cores)
    val ops = Seq("model.canonical_log", "model.prod_log") ++ Seq(
      "sessionize", "co_aggregate", "assigned_stops", "brandcode",
      "first_stop", "uptime_next_co", "gantt_assign", "gantt_data",
      "gantt_event_log", "prod_ops", "round_adaptive").map("operators." + _) :+
      "pipeline.assemble"
    for (n <- ops) {
      add(n, "s")(selfS)
      add(n, "cpu_s")(ts(_).map(_.cpuNs).sum / 1e9)
      add(n, "jobs")(s => jobsBy.getOrElse(s.id, Nil).size.toDouble)
      add(n, "shuffle_mb")(ts(_).map(_.shuffleBytes).sum / mb)
    }
    add("sources.events", "s")(selfS)
    add("sources.events", "read_mb")(ts(_).map(_.readBytes).sum / mb)
    add("sources.events", "rows_out")(ts(_).map(_.rowsIn).sum.toDouble)
    for (t <- TableNames) {
      val n = s"sinks.$t"
      add(n, "s")(selfS)
      out += s"$n.read_mb" -> sinkReadBytes(t) / mb
      add(n, "write_mb")(ts(_).map(_.writeBytes).sum / mb)
    }
    val written = TableNames.map(t => agg(s"sinks.$t")(ts(_)
      .map(_.rowsWritten).sum.toDouble)).sum
    out += "sinks.rewrite_ratio" -> written / sinkRowsIn.values.sum.max(1L)
    val fsm = fsStats.toMap
    out += "hadoop.fs.read_mb" -> fsm("bytesRead") / mb
    out += "hadoop.fs.write_mb" -> fsm("bytesWritten") / mb
    out.toSeq
  }

  def spansJson: String = spans.map { s =>
    val self = (s.durNs - spans.filter(_.parent == s.id).map(_.durNs).sum) / 1e9
    s"""{"run": "${c.runId}", "id": ${s.id}, "name": "${s.name}", """ +
      s""""parent": ${s.parent}, "start_ms": ${s.start}, "end_ms": ${s.end}, """ +
      s""""s": ${s.durNs / 1e9}, "self_s": $self}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
