package graft

import org.apache.spark.sql.functions._

import graft.operators.QualityChecks
import graft.operators.QualityChecks._

/** [[QualityChecks]] contract: each check counts exactly its own
  * violation class on a fixture seeded with every class; the audit is
  * ONE fused aggregate pass (plan-asserted); referential integrity
  * neither multiplies on duplicate parent keys nor flags NULL FKs. */
class QualityChecksSpec extends GraftSuite {
  import spark.implicits._

  // id, key (dup 2/2, null), qty (one < lo, one > hi, one null),
  // status (one bad, one null)
  private def fixture = Seq(
    (1L, Option(10L), Option(5.0), Option("A")),
    (2L, Option(10L), Option(-1.0), Option("B")),
    (3L, Option(20L), Option(99.0), Option("Z")),
    (4L, None, Option(7.0), None),
    (5L, Option(30L), None, Option("A"))
  ).toDF("id", "key", "qty", "status")

  test("violation counts per check class") {
    val rep = QualityChecks.audit(fixture, "t", Seq(
      NotNull("key"), NotNull("qty"),
      Unique(Seq("key")),
      InRange("qty", 0.0, 50.0),
      AcceptedValues("status", Seq("A", "B"))))
    val m = rep.collect().map(r =>
      (r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(m(("not_null", "key")) == (1L, 5L, false))
    assert(m(("not_null", "qty")) == (1L, 5L, false))
    // 4 non-null keys over 3 distinct -> 1 duplicate row
    assert(m(("unique", "key")) == (1L, 5L, false))
    // -1 below, 99 above; the NULL qty is NOT a range violation
    assert(m(("in_range", "qty")) == (2L, 5L, false))
    // 'Z' violates; NULL status does not
    assert(m(("accepted_values", "status")) == (1L, 5L, false))
  }

  test("all-green audit reports passed=true everywhere") {
    val rep = QualityChecks.audit(fixture, "t", Seq(
      NotNull("id"), Unique(Seq("id")), InRange("id", 0.0, 100.0)))
    assert(rep.collect().forall(_.getBoolean(5)))
  }

  test("audit is one fused aggregate: single scan of the input") {
    val dir = tempDir("graft_qc_plan").toString
    fixture.write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val plan = QualityChecks.audit(scan, "t", Seq(
      NotNull("key"), InRange("qty", 0.0, 50.0),
      AcceptedValues("status", Seq("A")), Unique(Seq("key"))))
      .queryExecution.optimizedPlan.toString
    val scans = "Relation.*parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 parquet scan, got $scans:\n$plan")
  }

  test("multi-column unique counts tuple duplicates, NULL-aware") {
    val df = Seq(
      (Option(1L), Option("a")), (Option(1L), Option("a")),
      (Option(1L), Option("b")),
      (None, Option("a")), (Option(2L), None)
    ).toDF("k1", "k2")
    val rep = QualityChecks.audit(df, "t", Seq(Unique(Seq("k1", "k2"))))
    val r = rep.collect().head
    // 3 fully-non-null rows, 2 distinct tuples -> 1 violation;
    // rows with any NULL key component are excluded from the check
    assert(r.getLong(3) == 1L && r.getLong(4) == 5L)
  }

  test("ref integrity: orphans counted once, dup parents don't mask, NULL fk ok") {
    val child = Seq(
      (1L, Option(10L)), (2L, Option(10L)), (3L, Option(99L)),
      (4L, None)
    ).toDF("c_id", "fk")
    // parent key 10 appears twice: the distinct() must prevent both
    // row multiplication and double-counting
    val parent = Seq(10L, 10L, 20L).toDF("pk")
    val r = QualityChecks
      .refIntegrity(child, "child", "fk", parent, "parent", "pk")
      .collect().head
    assert(r.getString(2) == "fk->parent.pk")
    assert(r.getLong(3) == 1L, "only fk=99 is an orphan")
    assert(r.getLong(4) == 4L, "total is child rows, not join rows")
    assert(!r.getBoolean(5))
  }

  test("functional dependency: mixed-rhs groups counted once each") {
    val df = Seq(
      (1L, Option("x")), (1L, Option("x")),      // consistent
      (2L, Option("x")), (2L, Option("y")),      // violates
      (3L, Option("z")), (3L, None),             // NULL rhs mixes -> violates
      (4L, None), (4L, None)                     // consistent (all NULL)
    ).toDF("k", "v")
    val r = QualityChecks.fdCheck(df, "t", Seq("k"), "v").collect().head
    assert(r.getString(2) == "k->v")
    assert(r.getLong(3) == 2L, "groups 2 and 3 violate")
    assert(r.getLong(4) == 4L, "total = lhs groups")
    assert(!r.getBoolean(5))
  }

  test("functional dependency: NULL lhs rows are outside the domain") {
    val df = Seq((Option(1L), "a"), (None, "b"), (None, "c"))
      .toDF("k", "v")
    val r = QualityChecks.fdCheck(df, "t", Seq("k"), "v").collect().head
    assert(r.getLong(3) == 0L && r.getLong(4) == 1L && r.getBoolean(5))
  }

  test("report unions and sorts deterministically") {
    val a = QualityChecks.audit(fixture, "b_t", Seq(NotNull("id")))
    val b = QualityChecks.audit(fixture, "a_t", Seq(NotNull("id")))
    val names = QualityChecks.report(a, b).collect().map(_.getString(0))
    assert(names.toSeq == Seq("a_t", "b_t"))
  }
}
