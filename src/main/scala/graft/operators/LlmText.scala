package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-side operators of a large-scale training-data pipeline over the
  * `documents` table: exact + MinHash/LSH near dedup, SimHash
  * fingerprints, rolling-hash chunk fingerprints, and per-document text
  * statistics (token counts, ratios, quality score, language guess).
  *
  * Cross-engine determinism rule: every hash is an md5 HEX STRING and
  * every "min hash" is a lexicographic min over those strings — md5 is
  * the one hash both Spark and DuckDB produce bit-identically, and
  * ASCII-hex string comparison is total and engine-independent (integer
  * conversions like Spark's xxhash64 or DuckDB's hash() have no
  * cross-engine twin).
  *
  * Scale shape: near-dedup is shingle → signature → band → BUCKET
  * EQUI-JOIN → verify-on-candidates. The only join key is (band index,
  * band signature); there is never an all-pairs comparison, so the plan
  * is shuffle-bounded by the number of true collisions — the standard
  * 100-TB-safe LSH layout.
  *
  * Keep in sync with [[LlmTextSql]].
  */
object LlmText {

  val NumHashes = 8
  val BandRows = 2 // 4 bands × 2 rows
  val NumBands = NumHashes / BandRows
  val JaccardThreshold = 0.5

  /** Whitespace tokens of lower(text), empties dropped — the native
    * [[graft.functions.TokenSplit]] scan (byte-parity with the
    * split/filter chain proven by NgramShinglesSpec's token test). */
  private def toks(c: Column): Column =
    call_function("graft_tokens", c)

  /** doc_id + distinct 3-gram shingle set (docs with <3 tokens drop).
    * Shingling is the native [[graft.functions.NgramShingles]] kernel
    * (one fused pass; total on short docs by construction — the
    * composable chain needed a when() guard against filter/projection
    * reordering under ANSI mode); its differential spec proves
    * byte-parity with the chain, so the DuckDB twin is untouched. */
  def shingles(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        call_function("graft_ngrams", col("text"), lit(3)).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** MinHash signature: element i = min over shingles of md5("i:"+s).
    * Computed by the native [[graft.functions.MinHashSig]] kernel (one
    * pass, one reused digest — the chain ran NumHashes transform
    * lambdas with an md5 allocation per (shingle, hash)); identical
    * output, proven differentially by MinHashSigSpec. */
  def minhash(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("shingles"),
      call_function("graft_minhash", col("shingles"), lit(NumHashes))
        .as("sig"))
      .select(col("doc_id") +: col("shingles") +:
        (0 until NumHashes).map(i =>
          element_at(col("sig"), i + 1).as(s"h$i")): _*)

  /** Exact dedup (hash-groupBy): every doc keyed by md5(text), keep =
    * group min doc_id. Single shuffle on the hash. */
  def dedupExact(documents: DataFrame): DataFrame = {
    val wHash = Window.partitionBy(col("content_hash"))
    documents
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .withColumn("keep_id", min(col("doc_id")).over(wHash))
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("int"))
  }

  /** The shingle set as 64-bit hashes — the verify-join payload.
    * Set-level Jaccard is invariant under an injective element map, so
    * verifying over per-element xxhash64 values gives THE SAME
    * intersection/union sizes as the strings unless two distinct
    * shingles of one candidate pair collide in 64 bits (≥ ~10¹²
    * corpus-wide distinct shingles before a collision is even likely;
    * the fixed gate/ladder fixtures are verified collision-free by
    * the oracle match itself). Why: the raw string arrays average
    * ~20 B/shingle and the Jaccard-verify join shuffles BOTH sides'
    * full sets per candidate pair — at the 100× ladder rung (500k
    * docs) that payload spilled and turned the verify stage ~2×
    * superlinear (6.3 s at 10× → 140 s at 100×); 8-byte elements cut
    * the shuffled bytes ~3× and replace UTF8String comparisons with
    * long compares in the intersect/union kernels. */
  private[graft] def hashedShingles(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      transform(col("shingles"), s => xxhash64(s)).as("shingles"))

  /** Exact shingle-Jaccard over CANDIDATE pairs only (the verify tail
    * both near-dup operators share): join the shingle sets back
    * (as 64-bit element hashes — see [[hashedShingles]]) and keep
    * pairs at/above the threshold. */
  private[graft] def verifyJaccard(cand: DataFrame, hsh: DataFrame): DataFrame =
    cand
      .join(hsh.select(col("doc_id").as("id_a"), col("shingles").as("sa")),
        Seq("id_a"))
      .join(hsh.select(col("doc_id").as("id_b"), col("shingles").as("sb")),
        Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** MinHash-LSH near-dup pairs: band-bucket equi-join for candidates,
    * exact shingle-Jaccard verification on candidates only.
    *
    * The shingle and band frames are pinned: the self-join plus the
    * two verify joins would otherwise re-tokenize and re-hash the corpus
    * 4× (8.6s → ~2s at sf0.1). At cluster scale these are the signature
    * tables a dedup pipeline checkpoints between stages. */
  def dedupNear(documents: DataFrame): DataFrame = {
    val sh = CacheScope.pin(shingles(documents))
    // pinned as LONG arrays (~3× smaller than the strings): both
    // verify joins read this, never the string sets
    val hsh = CacheScope.pin(hashedShingles(sh))
    val sig = minhash(sh)
    val bands = CacheScope.pin(sig.select(col("doc_id"),
      explode(array((0 until NumBands).map(b =>
        struct(lit(b).as("b"),
          concat_ws("|", col(s"h${BandRows * b}"),
            col(s"h${BandRows * b + 1}")).as("key"))): _*)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"),
        col("band.key").as("key")))

    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()

    verifyJaccard(cand, hsh)
  }

  /** Document frequency above which a shingle stops generating candidate
    * pairs in [[dedupNgram]]: a gram shared by df docs emits O(df²)
    * pairs, so unbounded df makes boilerplate phrases ("all rights
    * reserved") quadratic hot keys. Near-duplicates at J ≥ 0.5 share
    * many grams; losing the ubiquitous ones costs recall only for a
    * pair whose EVERY shared gram is corpus-wide boilerplate — which at
    * J ≥ 0.5 means the documents are boilerplate. Production corpora
    * should pass `dfCapFraction` too: the effective cap is
    * `max(NgramDfCap, ⌈dfCapFraction·N⌉)`, keeping the admitted grams
    * a constant corpus FRACTION as N grows instead of silently
    * shrinking each document's candidate surface. */
  val NgramDfCap = 20

  /** Minimum sub-cap grams a pair must share to become a candidate in
    * [[dedupNgram]] (the standard multi-seed requirement). One shared
    * gram is mostly coincidence: at sf0.1 it admits ~1.1M candidate
    * pairs of which 256 are real, and the exact-Jaccard verify on the
    * full shingle arrays then dominates the query (~7s). Requiring 3
    * drops candidates ~100× while true pairs are untouched by a wide
    * margin — at J ≥ 0.5 the intersection is ≥ ⅓ of the combined
    * shingle count (~35 grams for typical documents), so a true pair
    * below the bar would need all but two of its shared grams to be
    * corpus-wide boilerplate.
    *
    * SHORT documents break that arithmetic: a doc with < 3·minShared
    * shingles can sit at J ≥ 0.5 while sharing only ⌈n/3⌉ < minShared
    * grams. [[dedupNgram]] therefore gates each pair on
    * `least(minShared, ceil(min(|sa|,|sb|)/3))` — the J ≥ 0.5 recall
    * floor (intersection ≥ ⅓ of the smaller set) holds for every
    * document length, so the candidate bar can never drop a pair the
    * exact-Jaccard verify would keep. */
  val NgramMinShared = 3

  /** n-gram Jaccard near-dup pairs WITHOUT signatures: the classic
    * inverted-index layout. Post the distinct 3-gram shingles, drop
    * grams with document frequency > [[NgramDfCap]] (quadratic hot
    * keys, see above), self-join the postings on the gram, keep pairs
    * sharing ≥ [[NgramMinShared]] grams, verify those with exact
    * Jaccard on the full shingle sets.
    *
    * Scale shape vs [[dedupNear]]: no hashing pass and full recall on
    * every pair sharing [[NgramMinShared]] sub-cap grams (LSH has
    * band-miss false negatives), in exchange for a candidate join keyed
    * on raw grams whose volume is Σ_gram df² — bounded by the df cap,
    * so per-key work is ≤ cap² and the plan stays a shuffle-bounded
    * equi-join. The pair count is a partial-aggregate (map-side
    * combine); the df filter is a groupBy(gram) count joined back
    * onto the postings — see the skew note in the body. */
  /** The candidate stage of [[dedupNgram]], from a [[shingles]] frame:
    * postings → df cap → gram self-join → shared-gram bar. */
  private def ngramCandidates(sh: DataFrame,
      dfCap: Int = NgramDfCap, minShared: Int = NgramMinShared,
      dfCapFraction: Double = 0.0): DataFrame = {
    require(dfCapFraction >= 0 && dfCapFraction < 1,
      s"ngramCandidates: dfCapFraction must be in [0, 1), got " +
        dfCapFraction)
    // Postings carry the gram as its 64-bit hash, not the string: the
    // df aggregation and the candidate self-join both shuffle on the
    // gram, and an 8-byte key is ~3× less payload than the raw 3-gram
    // text. Collision honesty (ADVICE r17): a 64-bit collision can
    // only (a) ADD candidate pairs that share a merged gram — which
    // the exact-Jaccard verify behind this stage rejects — or
    // (b) push a rare gram's MERGED df over the cap and silently drop
    // its candidates: a recall loss the verify never sees, with
    // probability ~ (#grams)²/2⁶⁵ of any collision at all, negligible
    // but real, NOT "verified away". The hash runs POST-explode, so
    // it is a plain codegen'd scalar, not an interpreted per-element
    // lambda.
    // Per-doc shingle counts ride the POSTINGS (+8 B on each of the
    // ~50 posting rows per doc) and pass through the pair aggregation
    // as max() — n_sh is functionally dependent on the doc id, so
    // max ≡ the value. The previous formulation equi-joined a counts
    // table onto the AGGREGATED pairs instead: the pair frame is the
    // largest in the whole operator (Σ_gram C(df,2) distinct pairs —
    // ~112M rows at the 100× ladder rung, of which the bar keeps 1M),
    // and shuffling it twice by id cost more than the pair aggregation
    // itself (ngramstage probe: ~45 s of the 115 s candidate stage).
    val posting =
      sh.select(col("doc_id"), size(col("shingles")).as("n_sh"),
          explode(col("shingles")).as("gram0"))
        .select(col("doc_id"), col("n_sh"),
          xxhash64(col("gram0")).as("gram"))
    // Gram df as a groupBy + join-back, NOT a count window (VERDICT
    // r17 #5): a window partition materializes on ONE task, so a
    // corpus-wide boilerplate shingle would funnel its entire posting
    // list through a single straggler before the cap could drop it.
    // The groupBy gets map-side partial aggregation (a hot gram
    // arrives at its reducer as per-mapper partials, O(mappers) rows),
    // and the join back is an equi-join AQE can skew-split — the hot
    // gram's posting rows then just probe an absent key (it is capped
    // OUT of the counts side) and vanish without a blowup.
    val dfCounts = posting.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
    // corpus-relative cap (max(absolute, ⌈f·N⌉)): the absolute cap
    // alone admits a SHRINKING per-doc gram fraction as the corpus
    // grows. The default f = 0 keeps the absolute behavior with no
    // extra stage; N is one count over the per-doc shingle frame.
    val rareGrams =
      (if (dfCapFraction == 0.0) dfCounts.filter(col("df") <= dfCap)
      else dfCounts
        .crossJoin(broadcast(sh.agg(count(lit(1)).as("n_docs"))))
        .filter(col("df") <= greatest(lit(dfCap.toLong),
          ceil(lit(dfCapFraction) * col("n_docs")).cast("long"))))
        .select(col("gram"))
    val rare = CacheScope.pin(
      posting.join(rareGrams, Seq("gram"))
        .select(col("doc_id"), col("n_sh"), col("gram")))

    rare.as("x")
      .join(rare.as("y"),
        col("x.gram") === col("y.gram") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.n_sh").as("na0"), col("y.n_sh").as("nb0"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"),
        max(col("na0")).as("na"), max(col("nb0")).as("nb"))
      // ceil(min/3): the J >= 0.5 bar a pair of this length can actually
      // owe — see [[NgramMinShared]]'s short-document note
      .filter(col("shared") >= least(lit(minShared.toLong),
        ceil(least(col("na"), col("nb")).cast("double") / 3.0)))
      .select(col("id_a"), col("id_b"))
  }

  def dedupNgram(documents: DataFrame, dfCap: Int = NgramDfCap,
      minShared: Int = NgramMinShared, dfCapFraction: Double = 0.0)
      : DataFrame = {
    val sh = CacheScope.pin(shingles(documents))
    verifyJaccard(ngramCandidates(sh, dfCap, minShared, dfCapFraction),
      CacheScope.pin(hashedShingles(sh)))
  }

  /** Training-set curation: the end-to-end composition a data pipeline
    * actually runs — keep documents that (a) clear a quality bar,
    * (b) look like the target language, and (c) are not near-duplicates
    * of a kept lower-id document. Composes [[textStats]] and
    * [[dedupNear]]; the dedup side stays a bucketed equi-join. */
  def curate(documents: DataFrame, minQuality: Double = 0.5,
      lang: String = "en"): DataFrame = {
    val quality = textStats(documents)
      .filter(col("quality_score") >= minQuality &&
        col("lang_guess") === lang)
      .select(col("doc_id"), col("quality_score"))
    // drop the higher-id member of each near-dup pair (keep-min rule)
    val dupLosers = dedupNear(documents)
      .select(col("id_b").as("doc_id")).distinct()
    quality.join(dupLosers, Seq("doc_id"), "left_anti")
      .withColumn("kept", lit(1))
  }

  /** Transitive near-dup CLUSTERS from a pair set — what a production
    * dedup actually keeps: one representative per connected component
    * of the pair graph, not per pair (A~B and B~C must not keep both A
    * and C). Distributed min-label propagation: every doc starts
    * labeled with its own id; each round takes the min of its own and
    * its neighbors' labels (two shuffle-bounded equi-joins on doc_id +
    * one map-side-combined aggregate); fixpoint = each doc carries its
    * component's min id. Rounds needed = the component DIAMETER —
    * near-dup clusters are short chains in practice, so this converges
    * in a handful of rounds at any corpus size (pathological
    * high-diameter graphs want [[ccStars]] instead — and
    * [[EntityResolution.resolve]] defaults there).
    * The driver-side loop holds only a changed-row COUNT per round —
    * the iterative-graph idiom (Pregel-style), not a collect.
    *
    * Lineage is CUT every round (`localCheckpoint`, the same
    * discipline as [[ccStars]] and [[PageRank]]): the round plan
    * references `labels` twice (directly and through the neighbor
    * aggregate), so an uncut loop DOUBLES the logical plan per round —
    * caching truncates execution but not analysis, and by round ~12
    * Catalyst is walking million-node trees (measured: a 12-link
    * chain fixture at 100% CPU for tens of minutes, tens of GB of
    * plan objects). With the cut, every round analyzes a constant-
    * size plan over a LogicalRDD. */
  private[graft] def clustersFromPairs(pairs: DataFrame,
      docs: DataFrame): DataFrame = {
    val edges = CacheScope.pin(
      pairs.select(col("id_a").as("doc_id"), col("id_b").as("nbr"))
        .unionByName(
          pairs.select(col("id_b").as("doc_id"), col("id_a").as("nbr"))))
    // labelsRoot is the ROOT checkpoint frame (what release() can
    // free); labels is the consumer view (drops the change counter)
    var labelsRoot = CacheScope.track(
      docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
        .localCheckpoint(true))
    var labels = labelsRoot
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      // a propagation round can never exceed |V| rounds; anything close
      // means the loop is broken, not the data
      if (rounds > 100) sys.error("clustersFromPairs: no convergence")
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("nbr"),
          col("cluster_id").as("nbr_label")), Seq("nbr"))
        .groupBy(col("doc_id")).agg(min(col("nbr_label")).as("nbr_min"))
      val next = CacheScope.track(labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"),
            coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"),
          (coalesce(col("nbr_min"), col("cluster_id")) <
            col("cluster_id")).cast("long").as("__chg"))
        .localCheckpoint(true))
      changed = next.agg(coalesce(sum(col("__chg")), lit(0L)))
        .head().getLong(0)
      CacheScope.release(labelsRoot) // superseded round: free blocks now
      labelsRoot = next
      labels = next.drop("__chg")
    }
    labels
      .withColumn("is_dup",
        (col("doc_id") =!= col("cluster_id")).cast("int"))
  }

  /** Near-dup components over the corpus: [[dedupNear]] pairs →
    * [[clustersFromPairs]]. Every document appears; singletons are
    * their own cluster. */
  def dedupClusters(documents: DataFrame): DataFrame =
    clustersFromPairs(dedupNear(documents),
      documents.select(col("doc_id")))

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond") — the O(log n)-round alternative to
    * [[clustersFromPairs]]'s min-label propagation, whose round count
    * is the component DIAMETER. Typo/near-dup clusters are shallow
    * (variants hang off a hub), so propagation wins there; chain-
    * shaped components (doc A ≈ B ≈ C … pairwise-adjacent revisions,
    * temporal crawls) make the diameter linear and propagation
    * unbounded — star contraction converges logarithmically on ANY
    * topology, each round two bounded shuffles over the (shrinking)
    * edge list.
    *
    *  - large-star: every neighbor LARGER than the center links to
    *    the center's minimum (incl. itself) — long chains fold onto
    *    local minima without ever expanding the edge set;
    *  - small-star: every neighbor at most the center (center
    *    included) links to the center's minimum — stars flatten.
    *
    * Fixpoint = edge set unchanged (both passes idempotent there);
    * the surviving edges are exactly (node → component minimum).
    * Returns `(doc_id, cluster_id)` for nodes APPEARING IN PAIRS —
    * same contract as the propagation core; [[dedupClustersStar]]
    * completes singletons. Differential spec pins equality with
    * [[clustersFromPairs]] on random graphs and correctness on chains
    * past the propagation guard. */
  private[graft] def ccStars(pairs: DataFrame,
      maxRounds: Int = 60): DataFrame = {
    var edges = pairs
      .filter(col("id_a").isNotNull && col("id_b").isNotNull &&
        col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct()
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      if (rounds > maxRounds) sys.error("ccStars: no convergence")
      // large-star over BOTH directions: center c, neighbors n;
      // m = min(c, min n); every n > c links to m
      val dirAll = edges.select(col("u").as("c"), col("v").as("n"))
        .unionByName(edges.select(col("v").as("c"), col("u").as("n")))
      val minsL = dirAll.groupBy(col("c"))
        .agg(least(min(col("n")), col("c")).as("m"))
      val ls = dirAll.join(minsL, Seq("c"))
        .filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
      // small-star over the small-pointing edges: center c = u,
      // neighbors n = v (all < c); m = min n; every n links to m,
      // and c itself links to m
      val minsS = ls.groupBy(col("u").as("c"))
        .agg(min(col("v")).as("m"))
      val ss = ls.select(col("u").as("c"), col("v").as("n"))
        .join(minsS, Seq("c"))
        .select(col("n").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(minsS.select(col("c").as("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(true)
      // fixpoint: symmetric difference empty — both directions probed
      // in ONE action (r18: the two sequential isEmpty probes were two
      // job launches per round; the union short-circuits identically)
      converged =
        ss.join(edges, Seq("u", "v"), "left_anti")
          .unionByName(edges.join(ss, Seq("u", "v"), "left_anti"))
          .isEmpty
      CacheScope.release(edges) // superseded round: free blocks now
      edges = ss
    }
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
  }

  /** [[dedupClusters]] computed by star contraction instead of label
    * propagation — identical output by construction (both emit the
    * component minimum), different round complexity. The gate runs
    * both against the same reachability oracle. */
  def dedupClustersStar(documents: DataFrame): DataFrame = {
    val stars = ccStars(dedupNear(documents))
    documents.select(col("doc_id"))
      .join(stars.withColumnRenamed("cluster_id", "__m"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__m"), col("doc_id")).as("cluster_id"))
      .withColumn("is_dup",
        (col("doc_id") =!= col("cluster_id")).cast("int"))
  }

  /** LEAKAGE-SAFE train/val/test split: the split is a pure function
    * of the NEAR-DUP CLUSTER id, not the document id — every member
    * of a cluster lands in the same split, so a near-duplicate of a
    * test document can never sit in train (the eval-contamination
    * vector [[LlmPrep.splitAssign]]'s per-document hash cannot close:
    * two near-identical docs hash independently and straddle splits
    * with probability 2·p·(1−p)). Same per-mille md5 idiom and the
    * same train/val/test thresholds as splitAssign, applied to
    * `cluster_id`; singletons (the overwhelming majority) degrade to
    * exactly a per-document hash on their own id. Cost over
    * splitAssign: the [[dedupClusters]] pass — LSH-banded pairs plus
    * O(diameter) label rounds, never all-pairs. */
  def splitSafe(documents: DataFrame,
      trainPm: Int = LlmPrep.SplitTrainPm,
      valPm: Int = LlmPrep.SplitValPm): DataFrame = {
    val pm = conv(substring(
      md5(concat(lit("split:"), col("cluster_id").cast("string"))), 1, 4),
      16, 10).cast("long") % 1000
    dedupClusters(documents)
      .select(col("doc_id"), col("cluster_id"),
        when(pm < trainPm, "train")
          .when(pm < valPm, "val")
          .otherwise("test").as("split"))
  }

  /** Canonical member per cluster from pre-computed inputs: the
    * longest member wins (token count), ties to the smallest doc_id —
    * the "keep the richest representative" policy web-scale dedup
    * applies instead of keep-smallest-id. One max_by aggregate per
    * cluster (no per-cluster sort; the shuffle key is cluster_id on
    * both the aggregate and the join-back, so the exchange is reused),
    * then a keyed join-back to flag every member. */
  private[graft] def canonicalFromClusters(clusters: DataFrame,
      sized: DataFrame): DataFrame = {
    val j = clusters.select(col("doc_id"), col("cluster_id"))
      .join(sized, Seq("doc_id"))
    val rep = j.groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
        struct(col("n_tokens"), (-col("doc_id")).as("inv"))).as("rep_id"),
        count(lit(1)).as("n_members"))
    j.join(rep, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_tokens"),
        col("n_members"),
        (col("doc_id") === col("rep_id")).cast("int").as("keep"))
  }

  /** Canonical selection over the near-dup components: [[dedupClusters]]
    * labels, sized by token count, then [[canonicalFromClusters]] —
    * every document flagged keep/drop with its cluster and the
    * cluster's member count. */
  def dedupCanonical(documents: DataFrame): DataFrame =
    canonicalFromClusters(dedupClusters(documents),
      documents.select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens")))

  /** 16-bit SimHash over all tokens (with multiplicity): bit p of the
    * fingerprint is the sign of Σ ±1 over tokens, where a token votes +1
    * iff the p-th hex nibble of its md5 has its high bit set. */
  def simhash(documents: DataFrame): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val bitSums = (1 to 16).map(p =>
      sum(when(substring(col("h"), p, 1).isin(
        "8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1))
        .as(s"s$p"))
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        concat((1 to 16).map(p =>
          when(col(s"s$p") > 0, "1").otherwise("0")): _*).as("simhash16"))
  }

  /** Chunk fingerprint (rolling-hash style): md5 of every 8-char window
    * at stride 16; fingerprint = lexicographic min chunk hash. */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      expr("""transform(sequence(1, greatest(length(text) - 7, 1), 16),
               p -> substr(md5(substring(text, p, 8)), 1, 8))""")
        .as("chunks"))
      .select(col("doc_id"), array_min(col("chunks")).as("fingerprint"),
        size(col("chunks")).cast("long").as("n_chunks"))

  /** Per-document statistics: token counts, type-token ratio, char/punct
    * counts, stopword ratio, BPE-ish unit count, quality score, n-gram
    * language guess. */
  def textStats(documents: DataFrame): DataFrame = {
    val en = Seq("the", "a", "of", "and", "to")
    val de = Seq("der", "die", "das", "und", "ist")
    val fr = Seq("le", "la", "les", "et", "est")
    def hits(ws: Seq[String]) =
      size(filter(col("toks"), x => x.isin(ws.map(lit(_)): _*)))
    documents
      .select(col("doc_id"), col("text"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct_tokens",
        size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_chars_nospace",
        length(regexp_replace(col("text"), "\\s+", "")).cast("long"))
      .withColumn("n_punct",
        (length(col("text")) -
          length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", "")))
          .cast("long"))
      .withColumn("n_bpe_units",
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))
          .cast("long"))
      .withColumn("en_hits", hits(en).cast("long"))
      .withColumn("de_hits", hits(de).cast("long"))
      .withColumn("fr_hits", hits(fr).cast("long"))
      .withColumn("lang_guess",
        when(col("en_hits") >= col("de_hits") &&
          col("en_hits") >= col("fr_hits") && col("en_hits") > 0, "en")
          .when(col("de_hits") >= col("fr_hits") && col("de_hits") > 0, "de")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("unknown"))
      .withColumn("ttr",
        round(col("n_distinct_tokens").cast("double") / col("n_tokens"), 6))
      .withColumn("stopword_ratio",
        round(col("en_hits").cast("double") / col("n_tokens"), 6))
      // quality uses the UNROUNDED ratio: a pre-rounded ttr is a multiple
      // of 1e-6, so 0.5*ttr would sit exactly on round()'s half boundary,
      // where Spark (shortest-decimal HALF_UP) and DuckDB (x*1e6 float)
      // legitimately disagree by one ulp.
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_tokens") / lit(50.0)) *
          (lit(0.5) + lit(0.5) *
            (col("n_distinct_tokens").cast("double") / col("n_tokens"))), 6))
      .drop("text", "toks")
  }

  /** Repetition screen thresholds (token-adapted Gopher rules —
    * Rae et al. 2021 §A1.1 define the repetition filters over char
    * fractions of duplicate lines/n-grams; this corpus has no line
    * structure, so the same three screens are expressed over token
    * fractions, with thresholds sitting just above this corpus's
    * medians so each rule genuinely participates). */
  val RepTopWordMax = 0.10
  val RepTop2Max = 0.12
  val RepDup3Max = 0.05

  /** Raw (UNROUNDED) repetition fractions over a text column, all
    * from ONE fused kernel scan ([[graft.functions.RepMetrics]] —
    * whole-stage codegen's subexpression elimination evaluates the
    * struct once however many fields are read). Shared by
    * [[repetition]] and the streaming ingest gate
    * ([[graft.streaming.StreamingScrub]]) so batch and stream cannot
    * drift. Returns (n_tokens, top_word_frac, top2_frac, dup3_frac). */
  private[graft] def repFracs(text: Column)
      : (Column, Column, Column, Column) = {
    val m = call_function("graft_rep_metrics", text)
    val n = m.getField("n_tokens")
    // every division when()-guarded: the expressions must be TOTAL on
    // 0-token docs (ANSI double/0 throws, and Catalyst may evaluate a
    // collapsed projection before the n >= 1 filter)
    val twf = when(n >= 1, m.getField("top_word_n").cast("double") / n)
      .otherwise(lit(0.0))
    val t2f = when(n >= 2,
      least(lit(1.0), lit(2.0) * m.getField("top2_n") / n))
      .otherwise(lit(0.0))
    val d3f = when(n >= 3,
      lit(1.0) - m.getField("distinct3").cast("double") / (n - 2))
      .otherwise(lit(0.0))
    (n, twf, t2f, d3f)
  }

  /** True iff the document clears EVERY repetition screen. Empty/
    * whitespace-only docs (0 tokens) FAIL — they are junk by the same
    * standard the screens enforce. Column-level so a streaming ingest
    * can filter on it as a pure projection (no join, no state); the
    * thresholds are corpus-tuned — callers screening short-form text
    * must widen them (top_word_frac is ≥ 1/n even for all-distinct
    * tokens, so the defaults reject any doc under 10 tokens). */
  def passesRepetition(text: Column,
      topWordMax: Double = RepTopWordMax, top2Max: Double = RepTop2Max,
      dup3Max: Double = RepDup3Max): Column = {
    val (n, twf, t2f, d3f) = repFracs(text)
    n >= 1 && !(twf > topWordMax || t2f > top2Max || d3f > dup3Max)
  }

  /** Gopher-style repetition quality screens, per document:
    *  - `top_word_frac`: occurrences of the most frequent token /
    *    n_tokens (catches "spam spam spam" keyword stuffing);
    *  - `top2_frac`: token positions covered by the most frequent
    *    2-gram, `min(1, 2·count/n_tokens)` (template boilerplate);
    *  - `dup3_frac`: fraction of 3-gram positions that are repeats,
    *    `1 − distinct3/(n_tokens−2)` (copy-paste loops);
    *  - `repetitive`: 1 iff any screen exceeds its threshold (the
    *    UNROUNDED values decide, so the flag can't disagree with the
    *    oracle at round()'s half boundary — see textStats).
    *
    * Scale shape: every metric is computed LOCALLY per row by the
    * fused [[graft.functions.RepMetrics]] kernel — one text scan, no
    * explode, no shuffle, no per-gram aggregate; the plan is a single
    * codegen'd projection over the corpus scan, embarrassingly
    * parallel at any corpus size (the composable alternative shuffles
    * a (doc, gram) count per metric). Keep in sync with
    * [[LlmTextSql.repetitionSql]]. */
  def repetition(documents: DataFrame,
      topWordMax: Double = RepTopWordMax, top2Max: Double = RepTop2Max,
      dup3Max: Double = RepDup3Max): DataFrame = {
    val (n, twf, t2f, d3f) = repFracs(col("text"))
    documents
      .select(col("doc_id"), n.as("n_tokens"), twf.as("twf"),
        t2f.as("t2f"), d3f.as("d3f"))
      .filter(col("n_tokens") >= 1)
      .select(col("doc_id"), col("n_tokens"),
        round(col("twf"), 6).as("top_word_frac"),
        round(col("t2f"), 6).as("top2_frac"),
        round(col("d3f"), 6).as("dup3_frac"),
        (col("twf") > topWordMax || col("t2f") > top2Max ||
          col("d3f") > dup3Max).cast("int").as("repetitive"))
  }

  /** Text normalization — the canonical-form pass every dedup/
    * fingerprint stage should see first: Unicode NFC (the native
    * [[graft.functions.NfcNormalize]] expression — composed and
    * decomposed accents hash identically after it), control chars →
    * space, whitespace runs collapsed, ends trimmed. Control chars
    * are replaced BEFORE the `\s+` collapse so the collapse only ever
    * sees plain spaces (Java and RE2 disagree on whether `\s` matches
    * vertical tab — this ordering makes the disagreement unreachable,
    * which is what keeps the DuckDB twin exact). Pure projection,
    * whole-stage codegen, zero shuffle. */
  def normalizeText(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      trim(regexp_replace(regexp_replace(
        call_function("graft_nfc", col("text")),
        "[\\x00-\\x1F\\x7F]", " "), "\\s+", " ")).as("text_norm"))
      .withColumn("n_chars_norm",
        length(col("text_norm")).cast("long"))
}

/** DuckDB twin of [[LlmText]] — same hash family (md5 strings), same
  * shingling, same band layout, so the gate compares the FULL algorithm
  * including LSH recall, not just the verified tail. */
object LlmTextSql {

  import LlmText.{BandRows, JaccardThreshold, NumBands, NumHashes}

  /** Twin of [[LlmText.normalizeText]] — DuckDB's nfc_normalize
    * implements the same Unicode NFC standard; control strip precedes
    * the whitespace collapse on both sides. */
  val normalizeSql: String =
    """SELECT doc_id,
      trim(regexp_replace(regexp_replace(nfc_normalize(text),
        '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g'))
        AS text_norm,
      CAST(length(trim(regexp_replace(regexp_replace(
        nfc_normalize(text),
        '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')))
        AS BIGINT) AS n_chars_norm
    FROM documents"""

  val toksCte: String =
    """tk AS (SELECT doc_id, text,
      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
        AS toks
      FROM documents)"""

  val shCte: String =
    """sh AS (SELECT doc_id,
      list_distinct([array_to_string(toks[i:i+2], ' ')
        for i in range(1, len(toks) - 1)]) AS shingles
      FROM tk WHERE len(toks) >= 3)"""

  val sigCte: String = {
    val hs = (0 until NumHashes).map(i =>
      s"""list_aggregate(list_transform(shingles,
         s -> md5('$i:' || s)), 'min') AS h$i""").mkString(", ")
    s"sig AS (SELECT doc_id, shingles, $hs FROM sh)"
  }

  val dedupExactSql: String =
    """SELECT doc_id, md5(text) AS content_hash,
      min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
      CAST(doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS INTEGER)
        AS is_dup
    FROM documents"""

  val dedupNearSql: String = {
    val bandSelects = (0 until NumBands).map(b =>
      s"""SELECT doc_id, $b AS b,
         h${BandRows * b} || '|' || h${BandRows * b + 1} AS key FROM sig""")
      .mkString(" UNION ALL ")
    s"""WITH $toksCte, $shCte, $sigCte,
    bands AS ($bandSelects),
    cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
        AND x.doc_id < y.doc_id),
    ver AS (SELECT c.id_a, c.id_b,
      CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b)
    SELECT id_a, id_b, round(j, 6) AS jaccard FROM ver
    WHERE j >= $JaccardThreshold"""
  }

  val dedupNgramSql: String = {
    s"""WITH $toksCte, $shCte,
    posting AS (SELECT doc_id, g.gram
      FROM sh, UNNEST(shingles) AS g(gram)),
    rare AS (SELECT doc_id, gram FROM (
      SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
      FROM posting) WHERE df <= ${LlmText.NgramDfCap}),
    cnt AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        count(*) AS n_shared
      FROM rare x JOIN rare y ON x.gram = y.gram
        AND x.doc_id < y.doc_id
      GROUP BY 1, 2),
    cand AS (SELECT s.id_a, s.id_b FROM shared s
      JOIN cnt ca ON ca.doc_id = s.id_a
      JOIN cnt cb ON cb.doc_id = s.id_b
      WHERE s.n_shared >= least(${LlmText.NgramMinShared},
        CAST(ceil(CAST(least(ca.n_sh, cb.n_sh) AS DOUBLE) / 3.0)
          AS BIGINT))),
    ver AS (SELECT c.id_a, c.id_b,
      CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b)
    SELECT id_a, id_b, round(j, 6) AS jaccard FROM ver
    WHERE j >= $JaccardThreshold"""
  }

  /** Exact transitive closure of the near-dup pair graph (recursive
    * CTE): cluster id = min id reachable from a doc (including
    * itself). The Spark side's min-label propagation fixpoint computes
    * the identical quantity, so the gate compares the FULL clustering,
    * not just the pair set. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE
    pairs AS (SELECT id_a, id_b FROM ($dedupNearSql)),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    comp AS (SELECT src AS doc_id, min(dst) AS min_reach
      FROM reach GROUP BY src)
    SELECT d.doc_id,
      coalesce(least(c.min_reach, d.doc_id), d.doc_id) AS cluster_id,
      CAST(coalesce(least(c.min_reach, d.doc_id), d.doc_id) <> d.doc_id
        AS INTEGER) AS is_dup
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id"""

  /** Twin of [[LlmText.splitSafe]] — the clustering twin's output fed
    * through the identical per-mille hash of cluster_id. */
  val splitSafeSql: String =
    s"""WITH cl AS ($dedupClustersSql)
    SELECT doc_id, cluster_id,
      CASE WHEN pm < ${LlmPrep.SplitTrainPm} THEN 'train'
           WHEN pm < ${LlmPrep.SplitValPm} THEN 'val'
           ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
        CAST('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)),
          1, 4) AS BIGINT) % 1000 AS pm
      FROM cl)"""

  /** Twin of [[LlmText.dedupCanonical]] — row_number with the same
    * (n_tokens DESC, doc_id ASC) order is exactly the max_by
    * tie-break. */
  val dedupCanonicalSql: String =
    s"""WITH cl AS ($dedupClustersSql),
    sized AS (SELECT doc_id,
      CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
        x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    j AS (SELECT cl.doc_id, cl.cluster_id, s.n_tokens
      FROM cl JOIN sized s USING (doc_id)),
    r AS (SELECT doc_id, cluster_id, n_tokens,
        row_number() OVER (PARTITION BY cluster_id
          ORDER BY n_tokens DESC, doc_id) AS rn,
        count(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM j)
    SELECT doc_id, cluster_id, n_tokens,
      CAST(n_members AS BIGINT) AS n_members,
      CAST(rn = 1 AS INTEGER) AS keep
    FROM r"""

  def curateSql(minQuality: Double = 0.5, lang: String = "en"): String =
    s"""WITH stats AS (${LlmTextSql.textStatsSql}),
    losers AS (SELECT DISTINCT id_b AS doc_id
      FROM (${LlmTextSql.dedupNearSql}))
    SELECT s.doc_id, s.quality_score, 1 AS kept
    FROM stats s ANTI JOIN losers USING (doc_id)
    WHERE s.quality_score >= $minQuality AND s.lang_guess = '$lang'"""

  val simhashSql: String = {
    val sums = (1 to 16).map(p =>
      s"""sum(CASE WHEN substr(h, $p, 1) IN
         ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$p""")
      .mkString(", ")
    val bits = (1 to 16).map(p =>
      s"CASE WHEN s$p > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH $toksCte,
    tok AS (SELECT doc_id, md5(t.tok) AS h FROM tk, UNNEST(toks) AS t(tok)),
    bs AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id)
    SELECT doc_id, $bits AS simhash16 FROM bs"""
  }

  val fingerprintSql: String =
    """WITH ch AS (SELECT doc_id,
      [substr(md5(substr(text, p, 8)), 1, 8)
       for p in range(1, greatest(length(text) - 7, 1) + 1, 16)] AS chunks
      FROM documents)
    SELECT doc_id, list_aggregate(chunks, 'min') AS fingerprint,
      CAST(len(chunks) AS BIGINT) AS n_chunks
    FROM ch"""

  val textStatsSql: String = {
    def hits(ws: Seq[String]) =
      s"len(list_filter(toks, x -> x IN (${ws.map("'" + _ + "'").mkString(",")})))"
    val en = hits(Seq("the", "a", "of", "and", "to"))
    val de = hits(Seq("der", "die", "das", "und", "ist"))
    val fr = hits(Seq("le", "la", "les", "et", "est"))
    s"""WITH $toksCte,
    st AS (SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
      CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT)
        AS n_chars_nospace,
      CAST(length(text) -
        length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS BIGINT)
        AS n_punct,
      CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
        AS BIGINT) AS n_bpe_units,
      CAST($en AS BIGINT) AS en_hits,
      CAST($de AS BIGINT) AS de_hits,
      CAST($fr AS BIGINT) AS fr_hits
      FROM tk WHERE len(toks) >= 1)
    SELECT *,
      CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0
             THEN 'en'
           WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
           WHEN fr_hits > 0 THEN 'fr'
           ELSE 'unknown' END AS lang_guess,
      round(CAST(n_distinct_tokens AS DOUBLE) / n_tokens, 6) AS ttr,
      round(CAST(en_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
      round(least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE)
          / CAST(50.0 AS DOUBLE)) *
        (CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) *
          (CAST(n_distinct_tokens AS DOUBLE) / n_tokens)),
        6) AS quality_score
    FROM st"""
  }

  /** Twin of [[LlmText.repetition]] — explode/groupBy formulation (the
    * plan the Spark side's fused kernels replace), so the two
    * derivations check each other. Flag decided on UNROUNDED values,
    * same as the Spark side. */
  val repetitionSql: String = {
    import LlmText.{RepDup3Max, RepTop2Max, RepTopWordMax}
    s"""WITH $toksCte,
    st AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
      FROM tk WHERE len(toks) >= 1),
    wc AS (SELECT doc_id, max(c) AS topw FROM (
      SELECT doc_id, t.tok, count(*) AS c FROM st, UNNEST(toks) AS t(tok)
      GROUP BY 1, 2) GROUP BY 1),
    bg AS (SELECT doc_id, [array_to_string(toks[i:i+1], ' ')
        for i in range(1, len(toks))] AS grams
      FROM st WHERE n_tokens >= 2),
    bc AS (SELECT doc_id, max(c) AS top2 FROM (
      SELECT doc_id, g.gram, count(*) AS c FROM bg, UNNEST(grams) AS g(gram)
      GROUP BY 1, 2) GROUP BY 1),
    tri AS (SELECT doc_id,
      len(list_distinct([array_to_string(toks[i:i+2], ' ')
        for i in range(1, len(toks) - 1)])) AS d3
      FROM st WHERE n_tokens >= 3),
    m AS (SELECT s.doc_id, s.n_tokens,
      CAST(w.topw AS DOUBLE) / s.n_tokens AS twf,
      CASE WHEN s.n_tokens >= 2 THEN least(CAST(1.0 AS DOUBLE),
        (CAST(2.0 AS DOUBLE) * b.top2) / s.n_tokens)
        ELSE CAST(0.0 AS DOUBLE) END AS t2f,
      CASE WHEN s.n_tokens >= 3 THEN CAST(1.0 AS DOUBLE)
        - CAST(t.d3 AS DOUBLE) / (s.n_tokens - 2)
        ELSE CAST(0.0 AS DOUBLE) END AS d3f
      FROM st s JOIN wc w USING (doc_id)
      LEFT JOIN bc b USING (doc_id) LEFT JOIN tri t USING (doc_id))
    SELECT doc_id, n_tokens, round(twf, 6) AS top_word_frac,
      round(t2f, 6) AS top2_frac, round(d3f, 6) AS dup3_frac,
      CAST(twf > $RepTopWordMax OR t2f > $RepTop2Max OR d3f > $RepDup3Max
        AS INTEGER) AS repetitive
    FROM m"""
  }
}
