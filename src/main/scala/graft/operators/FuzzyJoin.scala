package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join: all pairs of rows whose string
  * column is within Levenshtein distance `k` — the entity-resolution /
  * near-key-reconciliation shape (misspelled names, drifting machine
  * ids, OCR'd part codes) that a naive formulation makes an O(n²)
  * cross join with a quadratic-cost distance in the filter.
  *
  * Plan (the q-gram prefix-filter join of the string-similarity-join
  * literature — SSJoin/ED-Join family — re-expressed declaratively):
  *
  *  1. q-grams — each string's DISTINCT q-length substring windows
  *     (whole string if shorter than q). An edit operation rewrites at
  *     most q windows, so `ed(a,b) <= k` implies the gram sets share
  *     at least `max(|Ga|,|Gb|) - k*q` elements.
  *  2. prefix filter — order all grams by GLOBAL document frequency
  *     ascending (ties by gram); by the prefix-filtering principle, two
  *     sets with overlap >= t must collide inside their first
  *     `|G| - t + 1` elements, so keeping each string's `k*q + 1`
  *     RAREST grams guarantees every true pair still shares a prefix
  *     gram. Rarest-first is the hot-gram killer: the join fan-out on
  *     a stop-gram ("Customer#0" in every key) never happens because a
  *     ubiquitous gram is last in the order and falls outside every
  *     prefix.
  *  3. candidate pairs — equi-join the prefix frames on gram
  *     (id_a < id_b, length difference <= k — an edit changes length
  *     by at most 1), distinct.
  *  4. verify — exact THRESHOLD'D `levenshtein(a, b, k)` (codegen'd
  *     built-in; the banded DP abandons at k+1, O(k·len) per
  *     candidate instead of O(len²)) on the candidates only.
  *
  * Strings with <= k*q distinct grams (shorter than ~q*(k+1) chars, or
  * pathologically repetitive — "aaaa…") get NO overlap guarantee from
  * the theorem, so they take the `poor` branch: each poor string
  * explodes to its <= 2k+1 admissible lengths and EQUI-joins the whole
  * input on length (an edit changes length by at most 1, so every true
  * partner lives in [len-k, len+k]). That keeps the operator EXACT
  * unconditionally AND shuffle-based — the non-equi formulation of the
  * same probe plans as BroadcastNestedLoopJoin, a scale-killer the
  * moment the poor fraction is nonzero. Cost is (poor rows × 2k+1)
  * join keys against per-length buckets; for realistic key/name
  * columns the poor fraction is ~0 and the branch is free.
  *
  * Scale: no all-pairs stage exists for rich strings — per-string work
  * is bounded by `k*q + 1` prefix grams, the candidate join is an
  * equi-join Catalyst shuffles on gram, and the quadratic verify runs
  * only on surviving candidates. The gram-frequency table is
  * vocabulary-sized (one map-side-combined count).
  *
  * Cite: generic engine capability (the reference's joins are all
  * exact-key; ref/App/etl/transform/mes_etl.py:194's brandcode
  * reconciliation motivates the drifting-id case this generalizes).
  */
object FuzzyJoin {

  /** All pairs `(id_a, id_b, dist)` with `id_a < id_b` and
    * `levenshtein(str_a, str_b) <= k`. NULL ids/strings are dropped
    * (no distance to NULL). `k >= 1`, `q >= 2`.
    *
    * Choosing `q`: the prefix filter is linear only while the gram
    * VOCABULARY outgrows the input — per-gram df is what the candidate
    * equi-join squares. On a short, dense key space (zero-padded codes,
    * fixed-alphabet ids) the q=3 vocabulary saturates at a few thousand
    * grams, df grows linearly with rows, and the join goes quadratic
    * (round-12 measurement, COVERAGE.md "Scale-design notes": 2.6 s →
    * 372 s at 10×; q=5 restored ~linear). Rule of thumb: pick q so
    * `alphabet^q >> expected row count`. Rich-entropy strings (names,
    * urls, titles) are fine at the q=3 default.
    *
    * The dense regime is DETECTED at runtime, not just documented
    * (same warn/error/off contract as [[selfJoin2]]): one gram-keyed
    * aggregate over the prefix frame the join needs anyway bounds the
    * candidate-pair count the prefix equi-join will materialize
    * (Σ per-gram C(fan-in, 2)); when it exceeds `denseRatio × rows`
    * AND the `denseFloor` absolute floor (so small inputs never
    * trip), `"warn"` (default) logs the measured blow-up with the
    * regime guidance and proceeds, `"error"` throws instead of
    * starting the quadratic wall, `"off"` skips the probe entirely.
    * When the probe runs, the prefix frame is pinned so it computes
    * once for probe + both join sides. */
  def selfJoin(df: DataFrame, idCol: String, strCol: String, k: Int,
      q: Int = 3, denseGuard: String = "warn",
      denseRatio: Double = 32.0, denseFloor: Long = 1000000L)
      : DataFrame = {
    require(k >= 1, s"fuzzyJoin: k must be >= 1, got $k")
    require(q >= 2, s"fuzzyJoin: q must be >= 2, got $q")
    require(Set("warn", "error", "off")(denseGuard),
      s"fuzzyJoin: denseGuard must be warn|error|off, got $denseGuard")
    val prefixLen = k * q + 1

    val base = df
      .filter(col(idCol).isNotNull && col(strCol).isNotNull)
      .select(col(idCol).as("id"), col(strCol).as("str"),
        length(col(strCol)).as("len"))

    // Distinct q-gram windows; a string shorter than q contributes the
    // whole string as its single gram.
    val withGrams = base.withColumn("grams",
      array_distinct(transform(
        sequence(lit(1), greatest(col("len") - lit(q - 1), lit(1))),
        i => col("str").substr(i, lit(q)))))
    val rich = withGrams.filter(size(col("grams")) > k * q)
    val poor = withGrams.filter(size(col("grams")) <= k * q)

    // Global gram frequency (vocabulary-sized), joined back so each
    // string can rank its own grams rarest-first. The per-id window
    // sees <= len(str) rows per partition key.
    val exploded = rich.select(col("id"), col("str"), col("len"),
      explode(col("grams")).as("gram"))
    val gramDf = exploded.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
    val prefix0 = exploded.join(gramDf, Seq("gram"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("df"), col("gram"))))
      .filter(col("__rn") <= prefixLen)
      .select(col("id"), col("str"), col("len"), col("gram"))
    val prefix =
      if (denseGuard == "off") prefix0
      else {
        val p = CacheScope.pin(prefix0)
        val rows = base.count()
        val (cand, _) = candidateBound(p, "gram")
        if (cand > denseFloor && cand > denseRatio * rows) {
          val msg = "fuzzyJoin: dense-output regime detected at " +
            s"k=$k q=$q — the prefix-gram blocking admits ~$cand " +
            s"candidate pairs for $rows rows (> $denseRatio×): the " +
            "gram vocabulary has saturated on this key space and " +
            "per-gram df scales with rows, so the candidate join " +
            "goes quadratic. Options: raise q so alphabet^q >> rows, " +
            "use selfJoin1/selfJoin2 (deletion-neighborhood blocking " +
            "cannot saturate), resolve to cluster representatives " +
            "(EntityResolution.resolve), or accept the cost with " +
            "denseGuard=off."
          if (denseGuard == "error")
            throw new IllegalStateException(msg)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
        }
        p
      }

    // Candidate pairs of rich strings: prefix-gram collision + length
    // band. distinct before the verify so a pair sharing several
    // prefix grams is verified once.
    val a = prefix.select(col("id").as("id_a"), col("str").as("str_a"),
      col("len").as("len_a"), col("gram"))
    val b = prefix.select(col("id").as("id_b"), col("str").as("str_b"),
      col("len").as("len_b"), col("gram").as("gram_b"))
    val richCands = a.join(b,
        col("gram") === col("gram_b") && col("id_a") < col("id_b") &&
          abs(col("len_a") - col("len_b")) <= k)
      .select(col("id_a"), col("str_a"), col("id_b"), col("str_b"))
      .distinct()

    // Poor strings (no prefix guarantee): explode to the <= 2k+1
    // admissible partner lengths and equi-join the whole input on
    // length — a shuffled hash/sort-merge join, never a nested loop.
    // id-normalized so a poor-poor pair dedups with its mirror;
    // rich-rich pairs never enter here, so the union stays
    // duplicate-free across branches after the distinct.
    val p = poor.select(col("id").as("p_id"), col("str").as("p_str"),
      explode(sequence(greatest(col("len") - k, lit(0)),
        col("len") + k)).as("o_len"))
    val all = base.select(col("id").as("o_id"), col("str").as("o_str"),
      col("len").as("o_len"))
    val poorCands = p.join(all, Seq("o_len"))
      .filter(col("p_id") =!= col("o_id"))
      .select(
        least(col("p_id"), col("o_id")).as("id_a"),
        when(col("p_id") < col("o_id"), col("p_str"))
          .otherwise(col("o_str")).as("str_a"),
        greatest(col("p_id"), col("o_id")).as("id_b"),
        when(col("p_id") < col("o_id"), col("o_str"))
          .otherwise(col("p_str")).as("str_b"))
      .distinct()

    // threshold'd verify: the banded DP early-abandons at k+1
    // (O(k·len) per candidate instead of O(len²)); -1 encodes "over"
    richCands.unionByName(poorCands)
      .withColumn("dist",
        levenshtein(col("str_a"), col("str_b"), k).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** k=1 exact similarity self-join via DELETION-NEIGHBORHOOD blocking
    * (FastSS, Bocek et al. 2007): each string's candidate keys are the
    * string itself plus every single-character deletion, and
    * `ed(a,b) <= 1` GUARANTEES the key sets intersect (equal: trivial;
    * substitution at i: both delete i; insert/delete: the shorter
    * string IS a deletion key of the longer). False positives (e.g.
    * "ab"/"ba" share deletion key "a") are removed by the exact
    * verify, so the operator is exact unconditionally — no poor
    * branch, no theorem precondition.
    *
    * Scale: per-string work is `len+1` keys regardless of alphabet —
    * unlike the q-gram prefix filter, the blocking CANNOT saturate on
    * a short dense key space (per-key fan-in is bounded by
    * `alphabet × (len+1)` string VALUES, independent of row count;
    * duplicate values fan in further, but m copies of one value owe
    * m² output pairs anyway). Key material is O(len²) bytes per
    * string — built for key/code/name columns, not document bodies.
    * The round-12 measurement (COVERAGE.md "Scale-design notes") shows
    * the contrast with the q-gram path on the saturating key space. */
  /** Deletion neighborhood of a string column: the string itself plus
    * every single-character deletion, distinct. `ed(a,b) <= 1` implies
    * the neighborhoods intersect (the FastSS blocking property
    * [[selfJoin1]] and the incremental [[ErIngest]] both build on). */
  def deletionKeys(str: Column): Column = {
    val len = length(str).cast("int")
    array_distinct(concat(
      array(str),
      transform(sequence(lit(1), len),
        i => concat(str.substr(lit(1), i - 1), str.substr(i + 1, len)))))
  }

  /** [[selfJoin]] at k=1 via the deletion-neighborhood blocking
    * described above. Contract: `idCol` is unique per row — candidate
    * pairs dedup on ids and re-attach their strings by id, so a
    * duplicated id emits one pair row per duplicate base row. */
  def selfJoin1(df: DataFrame, idCol: String, strCol: String)
      : DataFrame =
    deletionSelfJoin(df, idCol, strCol, deletionKeys, 1)

  /** Two-deletion neighborhood: the string, every single-char
    * deletion, and every two-char deletion (i < j on the ORIGINAL
    * positions), distinct. `ed(a,b) <= 2` implies the neighborhoods
    * intersect: an edit script of length <= 2 marks <= 2 positions on
    * each side (substitution marks one on both, insertion one on b,
    * deletion one on a); removing the marked positions from both
    * strings yields the same string, which is a <= 2-deletion key of
    * each. False positives die in the exact verify. Key material is
    * O(len^3) bytes per string — key/code/name columns, not document
    * bodies. */
  def deletionKeys2(str: Column): Column = {
    val len = length(str).cast("int")
    val del2 = when(len >= lit(2),
      flatten(transform(sequence(lit(1), greatest(len - 1, lit(1))),
        i => transform(sequence(i + 1, len), j =>
          concat(str.substr(lit(1), i - 1),
            str.substr(i + 1, j - i - 1),
            str.substr(j + 1, len))))))
      .otherwise(array().cast("array<string>"))
    array_distinct(concat(deletionKeys(str), del2))
  }

  /** k=2 exact similarity self-join via the two-deletion neighborhood
    * — same contract as [[selfJoin1]]: exact unconditionally, per-key
    * fan-in bounded by string VALUES within distance 2 of the key
    * (alphabet-and-length bounded, independent of row count), no
    * theorem precondition and no poor branch. The FastSS alternative
    * for k=2 key spaces dense enough to saturate the q-gram
    * vocabulary ([[selfJoin]]'s documented failure mode).
    *
    * Fitness note (measured in round 13, COVERAGE.md "Scale-design
    * notes"): the operator is for key spaces that stay SPARSE at
    * radius 2. On a saturating numeral space (codes a couple of
    * digit-edits apart) the TRUE ≤2-edit pair set itself grows
    * combinatorially with density — no blocking scheme outruns its
    * own output; expect cost proportional to the genuine pair graph
    * there.
    *
    * That regime is DETECTED, not silently paid: before the candidate
    * join, one vocabulary-sized aggregate over the deletion keys
    * bounds the candidate count (Σ per-key C(n,2)); when it exceeds
    * `denseRatio × rows` (and the `denseFloor` absolute floor, so
    * small inputs never trip), `denseGuard` decides — `"warn"`
    * (default) logs the measured blow-up with the regime guidance and
    * proceeds, `"error"` throws instead of starting the wall-clock
    * wall, `"off"` skips the probe entirely (no extra pass). The
    * probe costs one extra scan+explode of the input — bounded,
    * shuffle-safe (map-side-combined, vocabulary-sized), and the
    * price of never hitting a surprise quadratic output.
    * Same unique-`idCol` contract as [[selfJoin1]]. */
  def selfJoin2(df: DataFrame, idCol: String, strCol: String,
      denseGuard: String = "warn", denseRatio: Double = 32.0,
      denseFloor: Long = 1000000L): DataFrame =
    deletionSelfJoin(df, idCol, strCol, deletionKeys2, 2,
      denseGuard, denseRatio, denseFloor)

  /** Candidate-pair upper bound of a blocking-key frame: Σ over keys
    * of C(fan-in, 2) — what the equi-join materializes before the
    * length-band filter and verify. One aggregate, map-side combined,
    * output two longs. Shared by the deletion-key guards
    * ([[selfJoin1]]/[[selfJoin2]]) and the q-gram prefix guard
    * ([[selfJoin]]). */
  private def candidateBound(keys: DataFrame,
      keyCol: String = "dkey"): (Long, Long) = {
    val r = keys.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0L))
          .cast("long").as("cand"),
        coalesce(sum(col("n")), lit(0L)).cast("long").as("keyrows"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Exact thresholded distance for the verify step: the banded-DP
    * built-in in general, the allocation-free [[graft.functions.Ed1]]
    * kernel at k=1 (same 0/1/-1 contract — Ed1Spec pins the
    * equivalence; the r18 probe measured the DP at ~2.4 µs/pair,
    * the largest single term of cls_fuzzy_join). */
  private def thresholdDist(a: Column, b: Column, k: Int): Column =
    if (k == 1) call_function("graft_ed1", a, b)
    else levenshtein(a, b, k)

  private def deletionSelfJoin(df: DataFrame, idCol: String,
      strCol: String, keysOf: Column => Column, k: Int,
      denseGuard: String = "off", denseRatio: Double = 32.0,
      denseFloor: Long = 1000000L): DataFrame = {
    require(Set("warn", "error", "off")(denseGuard),
      s"fuzzyJoin: denseGuard must be warn|error|off, got $denseGuard")
    val base = df
      .filter(col(idCol).isNotNull && col(strCol).isNotNull)
      .select(col(idCol).as("id"), col(strCol).as("str"),
        length(col(strCol)).as("len"))
    // Int64-hashed deletion keys (r18, guide §2.3 — shuffle fewer
    // bytes / narrower types): the candidate join needs only key
    // EQUALITY, so each O(len)-byte deletion key collapses to its
    // xxhash64 before the exchange, and the row's own string no
    // longer rides the key frame at all (it used to cross the
    // exchange len+1 times — once per key). A 64-bit collision can
    // only ADD a candidate pair, which the exact verify rejects; a
    // true pair admitted via a collided key was already admitted via
    // its theorem-guaranteed shared key, so the post-distinct output
    // is identical (FuzzyJoinSpec differentials).
    val keys0 = base.select(col("id"), col("len"),
        explode(keysOf(col("str"))).as("__dk"))
      .select(col("id"), col("len"), xxhash64(col("__dk")).as("dkey"))
    // At k=2 the key material is O(len³) BYTES of substring building
    // per row (1 + len + C(len,2) deletions) and the self-join computes
    // it for BOTH sides; the hashed frame is narrow (20 B/row), so
    // pinning it halves the generation cost and feeds the self-join's
    // build side from cache (r18, measured: 29.3 → 7.7 s on the sf0.1
    // radius-2 entry, on top of the 129.6 → 29.3 s restructure). k=1
    // keys are
    // len+1 per row — regeneration is cheaper than materializing the
    // cache there (the itemsets3 lesson), so only k≥2 pins.
    val keys = if (k >= 2) CacheScope.pin(keys0) else keys0
    if (denseGuard != "off") {
      val rows = base.count()
      val (cand, _) = candidateBound(keys)
      if (cand > denseFloor && cand > denseRatio * rows) {
        val msg = s"fuzzyJoin: dense-output regime detected at k=$k — " +
          s"the deletion-key blocking admits ~$cand candidate pairs " +
          s"for $rows rows (> $denseRatio×). The TRUE <=$k-edit pair " +
          "set on a saturating key space grows combinatorially with " +
          "density; no blocking outruns its own output. Options: " +
          "resolve to cluster representatives instead of " +
          "materializing pairs (EntityResolution.resolve), raise " +
          "distinctness of the key (longer/namespaced codes), or " +
          "accept the cost with denseGuard=off."
        if (denseGuard == "error") throw new IllegalStateException(msg)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
    }
    val a = keys.select(col("id").as("id_a"), col("len").as("len_a"),
      col("dkey"))
    val b = keys.select(col("id").as("id_b"), col("len").as("len_b"),
      col("dkey").as("dkey_b"))
    // Candidate pairs dedup on IDS ALONE (16 bytes/row through the
    // distinct exchange instead of ids + both strings); the strings
    // attach AFTER the distinct — one copy per surviving pair — via
    // two id-keyed joins against the (id, str) projection.
    val cand = a.join(b,
        col("dkey") === col("dkey_b") && col("id_a") < col("id_b") &&
          abs(col("len_a") - col("len_b")) <= k)
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("str").as("str_a")),
        Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("str").as("str_b")),
        Seq("id_b"))
      .withColumn("dist",
        thresholdDist(col("str_a"), col("str_b"), k).cast("long"))
      .filter(col("dist") >= 0) // threshold'd verify: -1 = over k
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Cross-TABLE k=1 similarity join (record linkage / crosswalk
    * building: a clean registry against a dirty feed): all pairs
    * `(id_a, id_b, dist)` with `id_a` from `left`, `id_b` from
    * `right`, and `levenshtein <= 1` — the [[selfJoin1]] deletion
    * blocking between two frames, same exactness and same bounded
    * per-key fan-in. NULL ids/strings drop on both sides. Contract:
    * `leftId` and `rightId` are each unique per row — strings
    * re-attach to the deduped id pairs by id, so a duplicated id emits
    * one pair row per duplicate base row. */
  def join1(left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String): DataFrame = {
    // same r18 restructure as [[deletionSelfJoin]]: hashed keys
    // through the exchange, ids-only distinct, strings re-attached
    // once per surviving pair, Ed1 verify
    def cleaned(df: DataFrame, id: String, str: String, tag: String)
        : DataFrame = df
      .filter(col(id).isNotNull && col(str).isNotNull)
      .select(col(id).as(s"id_$tag"), col(str).as(s"str_$tag"),
        length(col(str)).as(s"len_$tag"))
    def keyed(df: DataFrame, tag: String): DataFrame = df
      .select(col(s"id_$tag"), col(s"len_$tag"),
        explode(deletionKeys(col(s"str_$tag"))).as("__dk"))
      .select(col(s"id_$tag"), col(s"len_$tag"),
        xxhash64(col("__dk")).as("dkey"))
    val la = cleaned(left, leftId, leftStr, "a")
    val rb = cleaned(right, rightId, rightStr, "b")
    keyed(la, "a")
      .join(keyed(rb, "b"), Seq("dkey"))
      .filter(abs(col("len_a") - col("len_b")) <= 1)
      .select(col("id_a"), col("id_b"))
      .distinct()
      .join(la.select(col("id_a"), col("str_a")), Seq("id_a"))
      .join(rb.select(col("id_b"), col("str_b")), Seq("id_b"))
      .withColumn("dist",
        thresholdDist(col("str_a"), col("str_b"), 1).cast("long"))
      .filter(col("dist") >= 0) // threshold'd verify: -1 = over 1
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
