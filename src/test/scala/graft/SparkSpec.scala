package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (matches Verify's config). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[2]", 2)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One canonical downtime-log event (epoch seconds; minutes for
  * DOWNTIME/UPTIME), matching Rco.downtimeLogDeduped's schema.
  * Top-level: Spark encoders cannot instantiate suite-inner classes. */
case class Ev(
    LINE: String,
    start: Long,
    DOWNTIME: Double,
    c1: String = "c1",
    c2: String = "c2",
    c3: String = "c3",
    c4: String = "c4",
    fault: String = "f0",
    comment: String = "cm0",
    BRANDCODE: String = "B0",
    id: Long = 0,
    MACHINE: String = "M0",
    UPTIME: Double = 0.0,
    planned: Int = 0,
    idle: Int = 0,
    excluded: Boolean = false)

/** Temp dirs for a suite's tables, deleted with their contents after
  * the suite. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile))
}

/** Base suite: session + canonical downtime-log row builder. */
abstract class GraftSuite extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkSpec.spark
  import spark.implicits._

  /** Ev rows → canonical downtime-log DataFrame. */
  def dtLog(evs: Ev*): DataFrame =
    evs.toSeq.toDF()
      .select(
        col("id").cast("string").as("downtime_id"),
        col("id").as("dtid"),
        col("LINE"),
        timestamp_seconds(col("start")).as("START_TIME"),
        col("start").cast("double").as("START_EPOCH"),
        (col("start").cast("double") + col("DOWNTIME") * 60)
          .as("END_EPOCH"),
        col("DOWNTIME"), col("UPTIME"),
        col("c1").as("CAUSE_LEVELS_1_NAME"),
        col("c2").as("CAUSE_LEVELS_2_NAME"),
        col("c3").as("CAUSE_LEVELS_3_NAME"),
        col("c4").as("CAUSE_LEVELS_4_NAME"),
        col("fault").as("Fault"),
        col("comment").as("OPERATOR_COMMENT"),
        col("BRANDCODE"), col("MACHINE"),
        col("planned").as("Planned_Stop_Check"),
        col("idle").as("Idle_Check"),
        col("excluded").as("isExcluded"))

  /** name → value map per CO/row keyed by a string column. */
  def byKey(df: DataFrame, key: String, value: String): Map[String, Any] =
    df.select(col(key), col(value)).collect()
      .map(r => r.get(0).toString -> r.get(1)).toMap

  /** Run `body` with executor/task-failure loggers muted — for
    * fails-loudly assertions that INTENTIONALLY crash a task. Without
    * this every such test leaves `ERROR Executor` / `ERROR
    * TaskSetManager` lines in the suite log, burying any REAL
    * executor error a grep would need to find. Levels are restored
    * (pinned to their prior effective level) afterwards. */
  def quietly[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val names = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager")
    val prev = names.map(n => n -> LogManager.getLogger(n).getLevel)
    names.foreach(n => Configurator.setLevel(n, Level.OFF))
    try body
    finally prev.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }
}
