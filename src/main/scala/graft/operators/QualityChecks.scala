package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint audit (the Deequ / dbt-test
  * shape): a check suite over a table evaluates to ONE report frame —
  * `(table_name, check, target, violations, total, passed)` — instead
  * of N ad-hoc queries.
  *
  * Scale design: every per-table check (completeness, range, accepted
  * values, uniqueness) is a conditional aggregate FUSED into a single
  * `agg` over one scan — auditing a 100 TB table costs one pass no
  * matter how many checks are attached (uniqueness adds the usual
  * multi-distinct Expand, still the same scan). The one-row result is
  * then unpivoted driver-free via `explode` of a literal-shaped array.
  * Referential integrity is the only check that needs a second table:
  * a left join against the DISTINCT parent keys (dimension-sized →
  * AQE broadcasts it), counting child rows whose non-null FK found no
  * parent — never a row-multiplying join, never a driver loop.
  *
  * Cite: generic engine capability; the reference hand-rolls ad-hoc
  * guards (ref/App/etl/transform/mes_etl.py drops NULL keys inline)
  * — this lifts them into an auditable report the sink can gate on.
  */
object QualityChecks {

  /** One declarative constraint on a single table. */
  sealed trait Check {
    /** Check-kind label in the report. */
    def name: String
    /** Column(s) under test, for the report's `target`. */
    def target: String
    /** Aggregate expression counting violating rows. */
    private[graft] def violations: Column
  }

  /** Rows where `col` IS NULL violate. */
  final case class NotNull(c: String) extends Check {
    val name = "not_null"
    val target = c
    private[graft] def violations: Column =
      count(when(col(c).isNull, lit(1)))
  }

  /** Rows with a non-null value outside `[lo, hi]` violate (NULLs are
    * NotNull's business, not a range violation). */
  final case class InRange(c: String, lo: Double, hi: Double)
      extends Check {
    val name = "in_range"
    val target = c
    private[graft] def violations: Column =
      count(when(col(c) < lit(lo) || col(c) > lit(hi), lit(1)))
  }

  /** Rows with a non-null value not in `values` violate. */
  final case class AcceptedValues(c: String, values: Seq[String])
      extends Check {
    require(values.nonEmpty, "acceptedValues: empty value list")
    val name = "accepted_values"
    val target = c
    private[graft] def violations: Column =
      count(when(col(c).isNotNull && !col(c).isin(values: _*), lit(1)))
  }

  /** Duplicate-key rows violate: violations = (rows whose key cols are
    * all non-null) - (distinct keys). A 3-row key counts 2 violations. */
  final case class Unique(cols: Seq[String]) extends Check {
    require(cols.nonEmpty, "unique: empty column list")
    val name = "unique"
    val target = cols.mkString(",")
    private[graft] def violations: Column = {
      val allSet = cols.map(col(_).isNotNull).reduce(_ && _)
      count(when(allSet, lit(1))) -
        countDistinct(col(cols.head), cols.tail.map(col): _*)
    }
  }

  /** Evaluate `checks` over `df` in ONE fused aggregate pass; returns
    * the sorted report frame. */
  def audit(df: DataFrame, tableName: String,
      checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "audit: no checks given")
    val aggs = count(lit(1)).as("__total") +:
      checks.zipWithIndex.map { case (c, i) => c.violations.as(s"__v$i") }
    val row = df.agg(aggs.head, aggs.tail: _*)
    // Unpivot the one-row aggregate into one report row per check.
    val entries = checks.zipWithIndex.map { case (c, i) =>
      struct(lit(c.name).as("check"), lit(c.target).as("target"),
        col(s"__v$i").cast("long").as("violations"))
    }
    row.select(col("__total"), explode(array(entries: _*)).as("e"))
      .select(
        lit(tableName).as("table_name"),
        col("e.check").as("check"),
        col("e.target").as("target"),
        col("e.violations").as("violations"),
        col("__total").cast("long").as("total"),
        (col("e.violations") === lit(0)).as("passed"))
  }

  /** Referential-integrity check: child rows with a NON-NULL `fk` that
    * matches no `parent.pk` violate (NULL FKs are optional links, not
    * orphans — attach a NotNull check if they're forbidden). Parent
    * keys are made distinct before the join so duplicate parent rows
    * can neither multiply child rows nor mask orphans. */
  def refIntegrity(child: DataFrame, childTable: String, fk: String,
      parent: DataFrame, parentTable: String, pk: String): DataFrame = {
    val keys = parent.select(col(pk).as("__pk")).where(col("__pk").isNotNull)
      .distinct()
    child.select(col(fk).as("__fk"))
      .join(keys, col("__fk") === col("__pk"), "left")
      .agg(count(lit(1)).as("__total"),
        count(when(col("__fk").isNotNull && col("__pk").isNull, lit(1)))
          .as("__v"))
      .select(
        lit(childTable).as("table_name"),
        lit("ref_integrity").as("check"),
        lit(s"$fk->$parentTable.$pk").as("target"),
        col("__v").cast("long").as("violations"),
        col("__total").cast("long").as("total"),
        (col("__v") === lit(0)).as("passed"))
  }

  /** Functional-dependency check: `lhs -> rhs` must hold (every lhs
    * tuple maps to ONE rhs value — "a machine id determines its
    * plant", "an order key determines its status"). Violations =
    * number of lhs groups with more than one distinct rhs; total =
    * number of lhs groups. Rows with a NULL lhs component are outside
    * the dependency's domain (NotNull's business); NULL rhs counts as
    * a value (a group mixing NULL and non-NULL rhs violates).
    *
    * Needs its own two-level aggregate (group → distinct count →
    * violation count), so it cannot fuse into [[audit]]'s single
    * pass — same standalone-row contract as [[refIntegrity]].
    *
    * Supported `rhs` types are those `countDistinct` accepts: atomic
    * types, and structs/arrays of them. A map-typed `rhs` is rejected
    * at analysis (map values have no equality Spark can group by). */
  def fdCheck(df: DataFrame, tableName: String, lhs: Seq[String],
      rhs: String): DataFrame = {
    require(lhs.nonEmpty, "fdCheck: empty lhs")
    // NULL counts as a value: distinct non-null values + 1 iff any
    // NULL rhs exists in the group. (r18: this used to fold NULL in
    // via countDistinct(coalesce(cast(rhs as string), sentinel)) —
    // a per-row string render whose distinct then compared strings;
    // counting NULL separately keeps the native type through the
    // aggregate. Violation/total counts are identical.)
    df.filter(lhs.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(lhs.map(col): _*)
      .agg((countDistinct(col(rhs)) +
        max(when(col(rhs).isNull, 1).otherwise(0))).as("__nrhs"))
      .agg(count(when(col("__nrhs") > 1, lit(1))).as("__v"),
        count(lit(1)).as("__total"))
      .select(
        lit(tableName).as("table_name"),
        lit("functional_dep").as("check"),
        lit(s"${lhs.mkString(",")}->$rhs").as("target"),
        col("__v").cast("long").as("violations"),
        col("__total").cast("long").as("total"),
        (col("__v") === lit(0)).as("passed"))
  }

  /** Union audit report frames into one sorted report. */
  def report(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "report: no parts")
    parts.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("check"), col("target"))
  }
}
