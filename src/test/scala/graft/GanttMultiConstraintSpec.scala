package graft

import org.apache.spark.sql.functions._

import graft.operators.{CoAggregate, GanttGenerate, Sessionize}

/** Multi-constraint lines skip the constraint pass and keep ALL their
  * machines in the non-constraint (status 2/3) data
  * (`ref/RCO_subETL_Gantt_Data_generator.R:243,388-405`). */
class GanttMultiConstraintSpec extends GraftSuite {
  import spark.implicits._

  private val P = Sessionize.Params(triggerParam = 30.0)

  // one CO per line; each line has its "M0" (constraint) machine events
  private val coEvs = Seq(
    Ev("L1", 10000, 10, id = 1, MACHINE = "L1 M0"),
    Ev("L2", 10000, 10, id = 2, MACHINE = "L2 M0"))
  private val evs = coEvs ++ Seq(
    Ev("L1", 10800, 5, id = 11, MACHINE = "L1 M0", UPTIME = 5),
    Ev("L2", 10800, 5, id = 12, MACHINE = "L2 M0", UPTIME = 5))

  private def run(counts: Option[Seq[(String, Int)]]) = {
    val coAgg = CoAggregate(Sessionize(dtLog(coEvs: _*), P))
    val log = dtLog(evs: _*)
    val consLog = log.filter(col("MACHINE").endsWith(" M0"))
      .withColumn("CO_Event",
        when(col("downtime_id").isin("1", "2"), 1).otherwise(0))
    GanttGenerate.ganttDataFromAssigned(GanttGenerate.assignedTagged(
      coAgg, log, consLog, counts.map(_.toDF("LINE", "Number_of_Constraints"))))
  }

  test("single-constraint lines get constraint statuses") {
    val statuses = run(None).filter(col("Line") === "L1")
      .select("Downtime_Status").collect().map(_.getDouble(0)).toSet
    assert(statuses.contains(1.0)) // CO-event status from constraint pass
  }

  test("multi-constraint line stays in the non-constraint pass") {
    val out = run(Some(Seq("L1" -> 1, "L2" -> 2)))
    val l1 = out.filter(col("Line") === "L1")
      .select("Downtime_Status").collect().map(_.getDouble(0)).toSet
    val l2 = out.filter(col("Line") === "L2")
      .select("Downtime_Status").collect().map(_.getDouble(0)).toSet
    assert(l1.contains(1.0))      // constraint pass ran for L1
    assert(l2.subsetOf(Set(2.0, 3.0))) // L2 only has non-constraint codes
  }
}
