package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Ed1

/** The graft_ed1 kernel must equal `levenshtein(a, b, 1)` on every
  * input — 0 / 1 / -1 contract — in both eval modes. */
class Ed1Spec extends GraftSuite {
  import spark.implicits._

  /** Exhaustive small-alphabet pairs + targeted multibyte cases: the
    * a/b length-0..4 cross product over {a,b,c} covers every edit
    * shape (equal, sub, ins, del, transposition, double edits);
    * multibyte rows exercise the code-point (not byte / not UTF-16)
    * semantics including astral-plane surrogate pairs. */
  private def allStrings(alpha: Seq[String], maxLen: Int): Seq[String] = {
    def go(n: Int): Seq[String] =
      if (n == 0) Seq("")
      else for (s <- go(n - 1); c <- alpha) yield s + c
    (0 to maxLen).flatMap(go)
  }

  private val multibyte = Seq(
    "é", "è", "éa", "aé", "日本", "日本語", "本語", "日語",
    "🙂", "🙃", "a🙂", "🙂a", "🙂🙃", "naïve", "naive", "nïave")

  test("differential vs levenshtein(a, b, 1) — exhaustive + multibyte") {
    val ascii = allStrings(Seq("a", "b", "c"), 4)
    val pool = ascii ++ multibyte
    val pairs = for (x <- pool; y <- pool) yield (x, y)
    val df = pairs.toDF("a", "b")
    // a collated pair is one more input: same bytes, same distance
    def lcase(c: String) = collate(col(c), "UTF8_LCASE")
    val bad = df.select(col("a"), col("b"),
        call_function("graft_ed1", col("a"), col("b")).as("fast"),
        levenshtein(col("a"), col("b"), 1).as("dp"),
        call_function("graft_ed1", lcase("a"), lcase("b")).as("collated"))
      .filter(col("fast") =!= col("dp") || col("collated") =!= col("dp"))
      .collect()
    assert(bad.isEmpty, s"graft_ed1 != levenshtein on: ${bad.take(10)
      .map(r => s"(${r.getString(0)}, ${r.getString(1)}): " +
        s"fast=${r.getInt(2)} dp=${r.getInt(3)} collated=${r.getInt(4)}")
      .mkString("; ")}")
  }

  test("differential on long keys with a sliding edit position") {
    val base = "Customer#000451237"
    val edits = (0 until base.length).flatMap { i =>
      Seq(
        base.substring(0, i) + base.substring(i + 1),          // delete
        base.substring(0, i) + "X" + base.substring(i + 1),    // sub
        base.substring(0, i) + "X" + base.substring(i))        // insert
    } ++ Seq(base, base + "X", "X" + base, base.reverse)
    val df = edits.map(e => (base, e)).toDF("a", "b")
    val bad = df.select(
        call_function("graft_ed1", col("a"), col("b")).as("fast"),
        levenshtein(col("a"), col("b"), 1).as("dp"))
      .filter(col("fast") =!= col("dp")).count()
    assert(bad == 0L)
  }

  test("interpreted eval matches codegen path and handles nulls") {
    def d(a: String, b: String): Int =
      Ed1.dist(UTF8String.fromString(a), UTF8String.fromString(b))
    assert(d("", "") == 0)
    assert(d("abc", "abc") == 0)
    assert(d("abc", "abd") == 1)
    assert(d("abc", "ab") == 1)
    assert(d("ab", "ba") == -1)
    assert(d("é", "è") == 1)
    assert(d("🙂", "🙃") == 1) // one code point substituted (4 bytes)
    assert(d("🙂", "ab") == -1)
    // null propagation via the expression (BinaryExpression default)
    val r = Seq((Option("x"), Option.empty[String]))
      .toDF("a", "b")
      .select(call_function("graft_ed1", col("a"), col("b")))
      .collect()
    assert(r.head.isNullAt(0))
  }
}
