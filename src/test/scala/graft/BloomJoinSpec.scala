package graft

import org.apache.spark.sql.functions._

import graft.operators.BloomJoin

/** [[BloomJoin]] contract: exact parity with the plain inner join
  * (bloom misses are guaranteed non-members, the equi-join removes
  * false positives), scan-side pruning actually present in the plan,
  * and the degenerate empty-dim case. */
class BloomJoinSpec extends GraftSuite {
  import spark.implicits._

  private def fact = (1L to 2000L).map(i => (i, i % 400, s"f$i"))
    .toDF("f_id", "f_key", "f_payload")
  private def dim = (0L until 400L).filter(_ % 10 == 0)
    .map(k => (k, s"d$k")).toDF("d_key", "d_name")

  test("bloom-pruned join ≡ plain join, row-exact") {
    val pruned = BloomJoin.inner(fact, dim, "f_key", "d_key")
      .select("f_id", "f_key", "d_name")
    val plain = fact.join(dim, col("f_key") === col("d_key"))
      .select("f_id", "f_key", "d_name")
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    assert(pruned.count() == plain.count())
  }

  test("the bloom probe sits in the plan as a scan-side filter") {
    // parquet-backed input: over a LocalRelation the optimizer
    // constant-folds the whole filter away (ConvertToLocalRelation
    // executes it at plan time), which would hide the probe
    val dir = tempDir("graft_bloom_plan").toString
    fact.write.mode("overwrite").parquet(dir)
    val bigScan = spark.read.parquet(dir)
    val plan = BloomJoin.inner(bigScan, dim, "f_key", "d_key")
      .queryExecution.optimizedPlan.toString
    // the expression renders under its prettyName, might_contain
    assert(plan.contains("might_contain"),
      s"expected a might_contain filter in:\n${plan.take(2000)}")
  }

  test("NULL fact keys are dropped exactly as the plain join drops them") {
    val f = Seq((1L, Option(10L)), (2L, Option.empty[Long]),
      (3L, Option(11L))).toDF("f_id", "f_key")
    val d = Seq((10L, "a"), (11L, "b")).toDF("d_key", "d_name")
    val out = BloomJoin.inner(f, d, "f_key", "d_key")
    assert(out.count() == 2)
    assert(out.filter(col("f_id") === 2L).isEmpty)
  }

  test("empty dim yields an empty join with the joined schema") {
    val out = BloomJoin.inner(fact, dim.filter(lit(false)),
      "f_key", "d_key")
    assert(out.isEmpty)
    assert(out.columns.toSeq ==
      Seq("f_id", "f_key", "f_payload", "d_key", "d_name"))
  }

  test("duplicate dim keys multiply matches exactly like the plain join") {
    val d2 = dim.unionByName(dim.limit(3))
    val pruned = BloomJoin.inner(fact, d2, "f_key", "d_key")
    val plain = fact.join(d2, col("f_key") === col("d_key"))
    assert(pruned.count() == plain.count())
  }
}
