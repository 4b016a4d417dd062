package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id,
  * embedding: array<float> dim 64, label).
  *
  * Two operators:
  *  - [[knnBrute]] — exact top-k cosine per query vector. The query set
  *    is a small fraction (vec_id % 20 == 0), so the pair generation is
  *    a broadcast nested-loop of queries × corpus: the CORRECTNESS
  *    baseline, linear in corpus size per query, and the thing you run
  *    at 100 TB only for evaluation samples.
  *  - [[knnIvf]] — the scale path: a deterministic coarse quantizer
  *    (sign bits of the first 4 dimensions → 16 cells) turns the search
  *    into an EQUI-JOIN on the cell id; each query probes only its own
  *    cell. This is IVF with nprobe=1 — recall is traded for a
  *    shuffle-bounded plan with no cross join.
  *
  * Determinism: elements are cast float→double BEFORE any arithmetic on
  * both engines (float32 upcasts are exact); dot products accumulate
  * left-to-right (Spark `aggregate` fold); ranking uses round(cos, 6)
  * with vec_id tie-break so top-k membership cannot flip on sub-1e-6
  * float noise between engines.
  *
  * Keep in sync with [[LlmSimSql]].
  */
object LlmSim {

  val QueryMod = 20
  val TopK = 5
  val IvfTopK = 3
  val IvfDims = 4

  /** Left-to-right dot product via the native codegen'd
    * [[graft.functions.DotProduct]] expression (bit-identical to the
    * zip_with+aggregate fold it replaces — see DotProductSpec).
    * Requires `GraftFunctions.install` on the session (all graft
    * session builders do this). */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def withVec(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** (vec_id, v, norm, cell) rows of a batch — the quantizer-cell
    * kernel shared with [[LlmIngest.ingestVectors]] so the index and
    * probe sides can never drift apart. */
  private[graft] def cellRows(embeddings: DataFrame,
      cellDims: Int = IvfDims): DataFrame =
    withVec(embeddings).withColumn("cell", cell(col("v"), cellDims))

  private def ranked(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_r").desc, col("vec_id"))
    pairs
      .withColumn("cos_r", round(col("cos"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("cos_r").as("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** Exact top-k cosine neighbors for each query vector (vec_id % 20). */
  def knnBrute(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val e = withVec(embeddings)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"))
    val pairs = broadcast(q).join(e, col("vec_id") =!= col("qid"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (col("qnorm") * col("norm")))
    ranked(pairs, k)
  }

  /** Hard-negative mining for contrastive/retrieval training: for
    * each anchor vector (vec_id % [[QueryMod]]), the top-k most
    * similar vectors with a DIFFERENT label — close enough to be
    * confusable, labeled otherwise; exactly the negatives that
    * sharpen a DPR/contrastive objective, where random negatives are
    * too easy to carry gradient. Same ranking determinism as
    * [[knnBrute]] (round-6 cosine, vec_id tie-break). Brute top-k is
    * the oracle-checkable fixture; at corpus scale the candidate set
    * comes from the quantizer cells exactly like [[knnIvf]] — the
    * label filter composes with any candidate source. */
  def hardNegatives(embeddings: DataFrame): DataFrame = {
    val e = withVec(embeddings)
      .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"), col("label").as("qlabel"))
    val pairs = broadcast(q).join(e,
        col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (col("qnorm") * col("norm")))
    ranked(pairs, TopK)
  }

  /** Sign-quantizer cell id over the first `dims` dimensions —
    * 2^dims seed cells, the codebook-size knob. */
  private def cell(v: Column, dims: Int = IvfDims): Column =
    concat((1 to dims).map(i =>
      when(element_at(v, i) >= 0, "1").otherwise("0")): _*)

  /** Embedding-cosine near-dup pairs, cell-bucketed: candidate pairs
    * come from the same quantizer cell (equi-join — the scale path, no
    * all-pairs), verified by exact cosine ≥ [[EmbedDupThreshold]].
    * The threshold is calibrated to the synthetic embeddings (max
    * pairwise cosine ≈ 0.51); a production corpus would use ~0.99. */
  val EmbedDupThreshold = 0.4

  /** `cellDims` is the codebook-size knob (2^cellDims cells): at a
    * FIXED codebook the within-cell self-join is quadratic in corpus
    * size, so callers must grow it with the corpus — IvfDims +
    * log2(scale) keeps expected cell size (and thus cost per row)
    * constant, the same k ∝ corpus rule [[semDedup]] documents. The
    * default matches the llm_dedup_embed oracle fixture. */
  def dedupEmbed(embeddings: DataFrame,
      cellDims: Int = IvfDims): DataFrame = {
    val e = withVec(embeddings)
      .withColumn("cell", cell(col("v"), cellDims))
    val a = e.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      // the NaN drop is EXPLICIT: Spark (and DuckDB) order NaN above
      // every number, so `cosine >= t` alone would emit every pair
      // touching a NaN/zero-norm vector as a "duplicate" — a NaN
      // cosine is absence of evidence, not a match (r18; keeps this
      // operator and the dedupEmbedPq prefilter output-identical on
      // degenerate input too)
      .filter(col("cosine") >= EmbedDupThreshold &&
        !isnan(col("cosine")))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** PQ-prefiltered [[dedupEmbed]] — identical candidate generation
    * (same sign cells) and the identical exact round-6 verify, but the
    * within-cell candidate join ships each side as ONE packed 8-byte
    * PQ code word plus an 8-byte error bound ([[Pq.withPacked]])
    * instead of the 64-double vector (~540 B/row of join payload →
    * ~32 B), and each candidate pair is scored by [[Pq.M]] SDC table
    * lookups ([[graft.functions.PqSdc]]) instead of a 64-dim dot.
    * Float vectors are fetched — two id equi-joins against the pinned
    * vector table — ONLY for pairs surviving the prefilter.
    *
    * Prefilter modes (both verify survivors exactly, so neither can
    * emit a false pair; they differ in what they may MISS):
    *  - `exactBound = true` (default, the gate entry): prune only
    *    when the triangle inequality PROVES the pair is under the
    *    threshold — on the unit sphere cos(a,b) = 1 − ‖â−b̂‖²/2 and
    *    ‖â−b̂‖ ≥ sdc − e_a − e_b, so pairs with
    *    1 − max(0, sdc − e_a − e_b − 10⁻³)²/2 < threshold − 10⁻⁶
    *    cannot round-6 to the threshold (the 10⁻³ slack dwarfs every
    *    float/round-6 accounting term; e is the stored per-vector
    *    reconstruction bound). Output is IDENTICAL to [[dedupEmbed]]
    *    on ANY input — spec-pinned and oracle-checked against the
    *    same DuckDB SQL. Non-finite vectors (a NaN/Inf coordinate)
    *    are pre-dropped to MATCH [[dedupEmbed]]'s explicit NaN-cosine
    *    drop (r18: investigating ADVICE r17's divergence report found
    *    BOTH engines order NaN above every number, so the bare
    *    `cosine >= t` filter was emitting every degenerate pair as a
    *    "dup" — the drop is now explicit in both operators and the
    *    oracle); the pre-filter keeps the fail-loud encode kernel and
    *    the codebook trainer off poisoned input, output-identical on
    *    any input. Its pruning power depends on reconstruction
    *    error: clustered production embeddings (e ≪ 1) prune nearly
    *    every non-dup; the isotropic noise fixture (e ≈ 0.6) prunes
    *    ~nothing, leaving this mode strictly slower there — which the
    *    ladder measures honestly rather than hiding.
    *  - `exactBound = false`: prune by the RAW SDC estimate
    *    cos ≈ 1 − sdc²/2 at `margin` slack below the threshold.
    *    Estimator history, both signs measured the hard way: for a
    *    RANDOM pair the unbiased estimate adds the reconstruction
    *    energies (E‖â−b̂‖² = ‖q_a−q_b‖² + ‖r_a‖² + ‖r_b‖² on
    *    independent residuals — subtracting them instead kept
    *    99.998% of 197M pairs at the 100× rung), and r17 shipped that
    *    +e² debias. But the keep rule's job is recall on TRUE pairs,
    *    and a true near-dup's residuals are CORRELATED (â ≈ b̂ means
    *    the quantizer errs the same way on both: r_a ≈ r_b cancels in
    *    the difference), so for exactly the pairs that must survive,
    *    sdc ≈ the true distance and the +e² debias over-penalizes
    *    them by ~e_a²+e_b². Invisible at 64 dims (e² ≈ 0.35 against
    *    a 0.2 margin still left fixture recall 1.0); FATAL at high
    *    reconstruction error — the 768-dim probe measured recall 0/4
    *    under the debias, 4/4 raw. Raw's cost is keep-rate on random
    *    pairs (it overestimates their cos by ~(e_a²+e_b²)/2), which
    *    the exact verify absorbs as wasted fetches, never as a wrong
    *    pair. Not lossless: a true pair whose raw estimate falls
    *    below threshold − margin is missed (only possible when
    *    residuals DON'T fully cancel); the spec AUDITS the fixture
    *    recall vs [[dedupEmbed]], and the ladder times this as the
    *    scale path. */
  /** `dims` must equal the embedding column's dimension (default: the
    * house 64-dim fixture layout). The PQ slicer would otherwise
    * silently quantize only a PREFIX of each vector — codes, error
    * bounds and the "provably lossless" exact-bound prune would all
    * describe a projection, not the vector — so the dimension is
    * verified against the data with a one-row probe (the sanctioned
    * bounded-scalar-collect class) and a mismatch fails loudly. */
  def dedupEmbedPq(embeddings: DataFrame, cellDims: Int = IvfDims,
      exactBound: Boolean = true, margin: Double = 0.2,
      dims: Int = Pq.M * Pq.SubDim): DataFrame = {
    require(dims % Pq.M == 0,
      s"dedupEmbedPq: dims $dims not divisible into ${Pq.M} subspaces")
    val subDim = dims / Pq.M
    embeddings.select(size(col("embedding")).as("n")).limit(1)
      .collect().headOption.foreach(r => require(r.getInt(0) == dims,
        s"dedupEmbedPq: dims = $dims but the embedding column has " +
          s"${r.getInt(0)} dimensions — a mismatched slicer would " +
          "silently quantize a prefix"))
    // non-finite pre-drop: norm = sqrt(Σx²) is NaN iff any coordinate
    // is NaN, +Inf iff any is ±Inf — dedupEmbed's NaN-cosine filter
    // drops exactly these rows from every pair, so dropping them here
    // preserves output identity while keeping the fail-loud assign
    // kernel (and the codebook trainer) off poisoned input
    val nrm = sqrt(call_function("graft_dot",
      col("embedding").cast("array<double>"),
      col("embedding").cast("array<double>")))
    val finite = embeddings.filter(
      !isnan(nrm) && nrm =!= lit(Double.PositiveInfinity))
    val (cvsL, bbsL) =
      Pq.localCodebook(Pq.codebook(finite, exactFold = false, subDim))
    val e = CacheScope.pin(withVec(finite)
      .withColumn("cell", cell(col("v"), cellDims)))
    val vn = when(col("norm") > 0,
      transform(col("v"), x => x / col("norm"))).otherwise(col("v"))
    val codes = Pq
      .withPacked(e.withColumn("vn", vn), col("vn"), cvsL, bbsL)
      .select(col("vec_id"), col("cell"), col("packed"), col("err"))
    val a = codes.select(col("cell"), col("vec_id").as("id_a"),
      col("packed").as("pa"), col("err").as("ea"))
    val b = codes.select(col("cell"), col("vec_id").as("id_b"),
      col("packed").as("pb"), col("err").as("eb"))
    val sdcSq = call_function("graft_sdc", col("pa"), col("pb"),
      cvsL, bbsL)
    val keep =
      if (exactBound) {
        val lb = greatest(
          sqrt(greatest(sdcSq, lit(0.0))) - col("ea") - col("eb") -
            lit(1e-3), lit(0.0))
        lit(1.0) - lb * lb / 2 >= lit(EmbedDupThreshold - 1e-6)
      } else
        lit(1.0) - sdcSq / 2 >= lit(EmbedDupThreshold - margin)
    val cand = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(keep)
      .select(col("id_a"), col("id_b"))
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("norm").as("na")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("norm").as("nb")), Seq("id_b"))
      .withColumn("cosine",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      // same explicit NaN drop as [[dedupEmbed]] (zero-norm vectors
      // survive the finite pre-drop and produce 0/0 here)
      .filter(col("cosine") >= EmbedDupThreshold &&
        !isnan(col("cosine")))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Semantic eval-set contamination — the embedding-space analogue of
    * [[LlmPrep.contamination]]: a TRAIN vector whose cosine to any EVAL
    * vector reaches [[EmbedDupThreshold]] is a paraphrase-contamination
    * suspect the n-gram screen cannot see (same split convention:
    * vec_id ≡ 0 mod [[QueryMod]] plays the held-out eval set).
    * Output is the contamination edge list (eval_id, train_id, cosine).
    *
    * Scale shape: deliberately EXACT, not cell-bucketed — an eval
    * suite is bounded by construction (thousands of rows, not corpus-
    * scale), so broadcasting it turns the screen into one linear scan
    * of the corpus with n_eval dot products per row and ZERO recall
    * loss; decontamination is recall-critical, which is why the
    * quantizer-cell shortcut ([[dedupEmbed]]'s shape) is wrong here —
    * a contaminated pair straddling a cell boundary must still be
    * caught. The threshold reuses [[EmbedDupThreshold]]'s calibration
    * to the synthetic corpus (max pairwise cosine ≈ 0.51); production
    * would use ~0.9. */
  def contaminationEmbed(embeddings: DataFrame,
      evalMod: Int = QueryMod,
      threshold: Double = EmbedDupThreshold): DataFrame = {
    val e = withVec(embeddings)
    val ev = e.filter(col("vec_id") % evalMod === 0)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"),
        col("norm").as("en"))
    e.filter(col("vec_id") % evalMod =!= 0)
      .select(col("vec_id").as("train_id"), col("v"), col("norm"))
      .crossJoin(broadcast(ev))
      .withColumn("cosine",
        round(dot(col("v"), col("ev")) / (col("norm") * col("en")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("eval_id"), col("train_id"), col("cosine"))
  }

  /** IVF(nprobe=1) top-k: candidates share the query's quantizer cell.
    * `cellDims` as in [[dedupEmbed]] — grow with the corpus. */
  def knnIvf(embeddings: DataFrame,
      cellDims: Int = IvfDims): DataFrame = {
    val e = withVec(embeddings)
      .withColumn("cell", cell(col("v"), cellDims))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"), col("cell"))
    val pairs = q.join(e, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (col("qnorm") * col("norm")))
    ranked(pairs, IvfTopK)
  }

  val Nprobe = 2

  /** IVF with a TRAINED codebook + multi-probe — the production ANN
    * shape. Training is one Lloyd step seeded by the deterministic sign
    * cells: centroid = dimension-wise mean of the cell's members. The
    * corpus is inverted into its nearest centroid's list; each query
    * probes its [[Nprobe]] nearest centroids, so recall recovers from
    * boundary effects the single-cell variant misses while the plan
    * stays an equi-join on cent_id with a ≤16-row broadcast codebook
    * (no cross join; assignment is map-side against the broadcast).
    *
    * Determinism for the DuckDB gate: with `exactFold` (the default,
    * what the llm_knn_ivf2 oracle checks) centroid sums fold in vec_id
    * order — bit-exact across engines but it materializes each cell's
    * membership per dimension. `exactFold = false` is the PRODUCTION
    * training path: a plain partial-aggregating `avg` per (cell, pos) —
    * same algorithm, sum order unspecified (float noise ≪ the round(·,6)
    * ranking granularity), map-side combined, no per-cell list build.
    * Assignment/top-k rank on round(·,6) with id tie-breaks either way.
    * Keep in sync with [[LlmSimSql.knnIvfTrainedSql]]. */
  def knnIvfTrained(embeddings: DataFrame,
      exactFold: Boolean = true, nprobe: Int = Nprobe,
      cellDims: Int = IvfDims, k: Int = IvfTopK): DataFrame = {
    val sims = trainedSims(embeddings, exactFold, cellDims, n = nprobe)
    val corpus = sims.filter(col("nr") === 1)
      .select(col("cent_id"), col("vec_id"), col("v"), col("norm"))
    val probes = sims
      .filter(col("vec_id") % QueryMod === 0 && col("nr") <= nprobe)
      .select(col("cent_id"), col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"))
    val pairs = probes.join(corpus, Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (col("qnorm") * col("norm")))
    ranked(pairs, k)
  }

  /** ANN quality audit — per-query recall@k of the production IVF
    * path ([[knnIvfTrained]]) against the exact [[knnBrute]] ranking:
    * (qid, n_hits, recall). The "measure, don't guess" primitive for
    * the approximate family — at 100 TB you run the exact side only
    * over this bounded query sample (it is already a broadcast of
    * queries × one corpus scan), and the recall number decides the
    * nprobe/cellDims ladder, instead of trusting the index blindly.
    * Both sides truncate to the same k so the ratio is a true
    * recall@k — `k` is passed through to BOTH rankings (the brute side
    * ranks k, the IVF side ranks k), so any k ≥ 1 measures a real
    * recall@k rather than capping the approx side at its serving
    * default. `nprobe`/`cellDims` expose the IVF ladder knobs the
    * audit exists to tune. Keep in sync with
    * [[LlmSimSql.annRecallSql]] (which pins the gate's defaults). */
  def annRecall(embeddings: DataFrame, k: Int = IvfTopK,
      nprobe: Int = Nprobe, cellDims: Int = IvfDims,
      exactFold: Boolean = true): DataFrame = {
    require(k >= 1, s"annRecall: k must be >= 1, got $k")
    val exact = knnBrute(embeddings, k)
      .select(col("qid"), col("vec_id"))
    val approx = knnIvfTrained(embeddings, exactFold, nprobe, cellDims, k)
      .select(col("qid"), col("vec_id"))
    exact
      .join(approx.withColumn("hit", lit(1)), Seq("qid", "vec_id"),
        "left")
      .groupBy(col("qid")).agg(count(col("hit")).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits") / lit(k.toDouble), 6).as("recall"))
  }

  /** One Lloyd step from the deterministic sign-cell seeds: the
    * trained codebook (cent_id, cv, cnorm), 2^cellDims rows. */
  private def codebook(e: DataFrame, exactFold: Boolean): DataFrame = {
    val dims = e.select(col("cell"), col("vec_id"),
      posexplode(col("v")).as(Seq("pos", "x")))
    val sums =
      if (!exactFold)
        dims.groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("c"))
      else dims.groupBy(col("cell"), col("pos"))
        .agg(
          aggregate(
            transform(
              array_sort(collect_list(struct(col("vec_id"), col("x")))),
              s => s("x")),
            lit(0.0), (acc, v) => acc + v).as("sum"),
          count(lit(1)).as("n"))
        .withColumn("c", col("sum") / col("n"))
    sums.groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s("c")).as("cv"))
      .withColumn("cnorm", sqrt(dot(col("cv"), col("cv"))))
      .select(col("cell").as("cent_id"), col("cv"), col("cnorm"))
  }

  /** Collected codebook literals for the fused kernel scan:
    * cent_id-sorted (ids, cvs, cnorms). BOUNDED at 2^cellDims rows by
    * construction — the same sanctioned driver-collect class as
    * [[Pq.localCodebook]] (the FAISS every-worker-holds-the-codebook
    * shape). */
  private[graft] def localBook(cents: DataFrame): (Column, Column, Column) = {
    val rows = cents.select(col("cent_id"), col("cv"), col("cnorm"))
      .collect()
      .map(r => (r.getString(0),
        r.getAs[scala.collection.Seq[Double]]("cv").toSeq,
        r.getDouble(2)))
      .sortBy(_._1)
    (typedLit(rows.map(_._1).toSeq), typedLit(rows.map(_._2).toSeq),
      typedLit(rows.map(_._3).toSeq))
  }

  /** The trained coarse codebook (cent_id, cv, cnorm) of a corpus —
    * [[codebook]] over the sign-cell seed frame, exposed so
    * [[Pq.freeze]] can PERSIST the coarse quantizer next to the PQ
    * codebook (the streamed IVF-PQ index assigns every arriving batch
    * against this frozen book; retraining it would silently re-cell
    * the already-stored corpus). */
  private[graft] def coarseBook(embeddings: DataFrame,
      exactFold: Boolean, cellDims: Int = IvfDims): DataFrame =
    codebook(cellRows(embeddings, cellDims), exactFold)

  /** Top-`n` coarse cells of each vector against a FROZEN coarse book
    * (literal columns from [[localBook]]): (vec_id, cent_id, sim_r,
    * nr ≤ n) — the serving-time twin of [[topNFrame]]'s assignment
    * half (same fused kernel, same (round(·,6) DESC, cent_id) order),
    * shared by the streamed index maintenance
    * ([[graft.streaming.StreamingPqEncode]]: n=1 corpus cells) and the
    * stored-index query path ([[Pq.searchIvfIndex]]: n=nprobe probe
    * cells). Map-only — no shuffle, O(batch). */
  private[graft] def topCellsFrozen(vecs: DataFrame, ids: Column,
      cvs: Column, norms: Column, n: Int): DataFrame =
    withVec(vecs).select(col("vec_id"),
        posexplode(call_function("graft_ivf_topn",
          col("v"), col("norm"), ids, cvs, norms, lit(n)))
          .as(Seq("nr0", "tc")))
      .select(col("vec_id"),
        col("tc.cent_id").as("cent_id"), col("tc.sim_r").as("sim_r"),
        (col("nr0") + 1).as("nr"))

  /** (vec_id, v, norm, cent_id, sim_r, nr ≤ n): each vector's top-n
    * centroids via the fused native [[graft.functions.IvfTopN]]
    * kernel — one codegen'd call per corpus row against the literal
    * codebook, O(corpus) output rows. Ordering is IDENTICAL to a
    * row_number window over (sim_r DESC, cent_id ASC), which the
    * kernel-vs-window differential in LlmSpec pins. This replaced a
    * corpus × cells crossJoin+window (quadratic rows AND pinned
    * bytes once cellDims obeys the k ∝ corpus rule — the simscale
    * probe measured knnIvfTrained at 129 s on 10× and
    * non-terminating at 100×) and an interpreted per-row HOF fold
    * (256 lambda closures + BigDecimal rounds per vector). */
  private def topNFrame(embeddings: DataFrame, exactFold: Boolean,
      cellDims: Int, n: Int): DataFrame = {
    val e = withVec(embeddings)
      .withColumn("cell", cell(col("v"), cellDims))
    val (ids, cvs, norms) = localBook(codebook(e, exactFold))
    e.select(col("vec_id"), col("v"), col("norm"),
        posexplode(call_function("graft_ivf_topn",
          col("v"), col("norm"), ids, cvs, norms, lit(n)))
          .as(Seq("nr0", "tc")))
      .select(col("vec_id"), col("v"), col("norm"),
        col("tc.cent_id").as("cent_id"), col("tc.sim_r").as("sim_r"),
        (col("nr0") + 1).as("nr"))
  }

  /** Shared trainer+assigner behind [[knnIvfTrained]]: the pinned
    * top-`n` frame of [[topNFrame]] — consumed by BOTH the corpus
    * (nr=1) and probe (nr ≤ nprobe) branches, so it persists as the
    * materialized inverted index of a production deployment.
    * Re-invocations build an identical plan, which the CacheManager
    * dedups against the existing blocks. */
  private[graft] def trainedSims(embeddings: DataFrame,
      exactFold: Boolean, cellDims: Int = IvfDims,
      n: Int = Nprobe): DataFrame =
    CacheScope.pin(topNFrame(embeddings, exactFold, cellDims, n))

  /** Window-ranking REFERENCE of [[trainedSims]] (corpus × cells rows
    * through a shuffle) — retained ONLY for the differential spec
    * that pins the fused kernel to the ranking it replaced; not on
    * any production path. */
  private[graft] def trainedSimsWindow(embeddings: DataFrame,
      exactFold: Boolean, cellDims: Int = IvfDims): DataFrame = {
    val e = withVec(embeddings)
      .withColumn("cell", cell(col("v"), cellDims))
    val cents = codebook(e, exactFold)
    val simw = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim_r").desc, col("cent_id"))
    e.crossJoin(broadcast(cents))
      .withColumn("sim_r",
        round(dot(col("v"), col("cv")) / (col("norm") * col("cnorm")), 6))
      .withColumn("nr", row_number().over(simw))
  }

  /** Cluster assignment ONLY — [[topNFrame]] at n=1 (map-side fused
    * scan, no pin: callers pin if they reuse it). Ties → smallest
    * cent_id, identical to the window's (sim_r desc, cent_id)
    * order. The assignment stage stays O(corpus) rows regardless of
    * the cell count, which is what lets [[semDedup]]'s codebook grow
    * with the corpus. */
  private[graft] def assignTrained(embeddings: DataFrame,
      exactFold: Boolean, cellDims: Int): DataFrame =
    topNFrame(embeddings, exactFold, cellDims, n = 1)
      .select(col("vec_id"), col("v"), col("norm"),
        col("cent_id"), col("sim_r"))

  /** Same synthetic-corpus calibration rationale as
    * [[EmbedDupThreshold]]; production corpora use ~0.99+. */
  val SemDedupThreshold = 0.4

  /** Semantic dedup in the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the trained codebook,
    * then inside each cluster mark cosine-near-duplicate groups and
    * keep, per group, the member FARTHEST from its centroid (the
    * paper's keep-low-centroid-similarity rule — the member that adds
    * the most diversity). One row per input vector: its cluster, its
    * centroid similarity, and the keep verdict.
    *
    * Drop rule, deterministic and transitivity-free: x is dropped iff
    * some same-cluster y has round(cos(x, y), 6) ≥
    * [[SemDedupThreshold]] and (y.cent_sim, y.vec_id) < (x.cent_sim,
    * x.vec_id) lexicographically — every near-dup neighborhood keeps
    * exactly its minimal members, and the witness ordering makes the
    * verdict independent of evaluation order on both engines.
    *
    * Scale shape: clustering is a map-side broadcast score, the pair
    * search is an EQUI-JOIN on the cluster id (never all-pairs), and
    * the verdict is a left-anti membership probe. Within-cluster work
    * is inherently quadratic in CLUSTER SIZE — the SemDeDup bargain —
    * so `cellDims` is the knob that must grow with the corpus:
    * 2^cellDims codebook seeds, i.e. the paper's k ∝ corpus rule
    * (134M docs / 11k clusters). Measured in round 10 (COVERAGE.md,
    * Round 10 additions #11): at 10× corpus with cellDims+4 (16× the
    * cells, ~fixed cluster size) wall time stayed linear, while the
    * fixed-k foil went quadratic. Keep in sync with
    * [[LlmSimSql.semDedupSql]] (which pins the gate's default dims). */
  def semDedup(embeddings: DataFrame,
      exactFold: Boolean = true, cellDims: Int = IvfDims): DataFrame = {
    val assigned = CacheScope.pin(
      assignTrained(embeddings, exactFold, cellDims))
    val a = assigned.select(col("cent_id"), col("vec_id").as("id_a"),
      col("v").as("va"), col("norm").as("na"), col("sim_r").as("ca"))
    val b = assigned.select(col("cent_id"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("norm").as("nb"), col("sim_r").as("cb"))
    val drops = a.join(b, Seq("cent_id"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(round(dot(col("va"), col("vb")) / (col("na") * col("nb")),
        6) >= SemDedupThreshold)
      .filter(col("cb") < col("ca") ||
        (col("cb") === col("ca") && col("id_b") < col("id_a")))
      .select(col("id_a").as("vec_id")).distinct()
    assigned
      .join(drops.withColumn("__drop", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id").as("cluster"),
        col("sim_r").as("cent_sim"), col("__drop").isNull.as("keep"))
  }

  /** Neighborhood size for [[labelNoise]]. */
  val LabelK = 3

  /** Label-noise screen (neighbor-agreement, confident-learning
    * style): a vector whose [[LabelK]] nearest same-cell neighbors
    * majority-vote a different label is a mislabeling suspect — the
    * standard embedding-space audit before training on labeled data.
    * One row per vector that HAS at least one same-cell neighbor
    * (lone vectors carry no evidence and are excluded): its own
    * label, the neighborhood's majority label, and the agree verdict.
    *
    * Determinism: neighbors rank by (round(cos, 6) desc, vec_id); the
    * majority vote breaks ties by (count desc, label asc).
    *
    * Scale shape: [[dedupEmbed]]'s — candidates come from a sign-cell
    * EQUI-JOIN (never all-pairs), the top-k window partitions by the
    * left vector id, and the vote is two bounded aggregations. At
    * 100 TB the cell width grows with the corpus exactly like
    * [[semDedup]]'s codebook. Keep in sync with
    * [[LlmSimSql.labelNoiseSql]]. */
  /** Reciprocal (mutual) nearest-neighbor pairs: `(id_a, id_b,
    * cosine)` where a's top-1 neighbor is b AND b's is a — the
    * high-precision near-dup/crosslink signal (a one-way NN can be a
    * hub artifact; mutuality kills hubs), the pair primitive behind
    * reciprocal-rank fusion and RNN-descent graph builders.
    *
    * Neighbors are searched inside the trained quantizer cell
    * ([[assignTrained]] — the [[semDedup]] bargain: an equi-join on
    * cent_id, never all-pairs; cell count is the corpus-growth knob).
    * Top-1 is deterministic: (round(cos, 6) DESC, vec_id ASC).
    * Vectors alone in their cell have no neighbor and emit nothing. */
  def rnnPairs(embeddings: DataFrame, exactFold: Boolean = true,
      cellDims: Int = IvfDims): DataFrame = {
    val assigned = CacheScope.pin(
      assignTrained(embeddings, exactFold, cellDims)
        .select(col("vec_id"), col("v"), col("norm"), col("cent_id")))
    val a = assigned.select(col("cent_id"), col("vec_id").as("qid"),
      col("v").as("qv"), col("norm").as("qn"))
    val b = assigned.select(col("cent_id"), col("vec_id").as("nid"),
      col("v").as("nv"), col("norm").as("nn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val nn1 = a.join(b, Seq("cent_id"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos",
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("nid"), col("cos"))
    nn1.alias("x").join(nn1.alias("y"),
        col("x.qid") === col("y.nid") && col("x.nid") === col("y.qid") &&
          col("x.qid") < col("x.nid"))
      .select(col("x.qid").as("id_a"), col("x.nid").as("id_b"),
        col("x.cos").as("cosine"))
      .orderBy(col("id_a"))
  }

  def labelNoise(embeddings: DataFrame, k: Int = LabelK,
      cellDims: Int = IvfDims): DataFrame = {
    val ec = labeled(embeddings, cellDims)
    labelVerdicts(ec, ec, k)
  }

  /** The (cell, vec_id, v, norm, label) projection shared by
    * [[labelNoise]] and the streaming audit. */
  private[graft] def labeled(embeddings: DataFrame,
      cellDims: Int): DataFrame =
    embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("cell", cell(col("v"), cellDims))

  /** [[labelNoise]]'s kernel: verdicts for every `left` vector whose
    * neighbor candidates come from `right` (same-id pairs excluded, so
    * left ≡ right is the batch self-screen and a disjoint `right` is
    * the audit-against-reference shape). Both frames must be
    * [[labeled]] projections built with the same cell width. */
  private[graft] def labelVerdicts(left: DataFrame, right: DataFrame,
      k: Int = LabelK): DataFrame = {
    val b = right.select(col("cell"), col("vec_id").as("nid"),
      col("v").as("nv"), col("norm").as("nn"),
      col("label").as("nlabel"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_r").desc, col("nid"))
    val topk = left.join(b, Seq("cell"))
      .filter(col("vec_id") =!= col("nid"))
      .withColumn("cos_r",
        round(dot(col("v"), col("nv")) / (col("norm") * col("nn")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
    val vw = Window.partitionBy(col("vec_id"))
      .orderBy(col("votes").desc, col("nlabel"))
    topk.groupBy(col("vec_id"), col("label"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("vec_id"), col("label"),
        col("nlabel").as("neigh_label"),
        (col("nlabel") === col("label")).as("agree"))
  }

  /** Int8 symmetric-quantization audit per embedding: the per-vector
    * scale (max |x| / 127) and the RMS reconstruction error of
    * round-to-nearest int8 quantization. The audit a pipeline runs
    * before shipping a quantized ANN index — vectors whose rms_err is
    * an outlier (heavy-tailed coordinates) need a different codec.
    *
    * Pure per-row projection: no shuffle, no state — embarrassingly
    * parallel at any scale. Determinism: the quantized value is spelled
    * floor(x/scale + 0.5) (identical IEEE ops in both engines — no
    * engine-specific rounding mode), the squared error is a
    * multiplication (exact), and the error sum is the same
    * left-to-right fold as the [[dot]] kernel. Keep in sync with
    * [[LlmSimSql.embedQuantSql]]. */
  def embedQuant(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", col("amax") / 127)
      .withColumn("sqerr", when(col("amax") === 0, lit(0.0)).otherwise(
        expr("""aggregate(v, cast(0.0 as double), (acc, x) ->
          acc + (x - floor(x / scale + 0.5) * scale)
              * (x - floor(x / scale + 0.5) * scale))""")))
      .select(col("vec_id"), size(col("v")).cast("long").as("n_dims"),
        round(col("scale"), 6).as("scale"),
        round(sqrt(col("sqerr") / size(col("v"))), 6).as("rms_err"))
}

/** DuckDB twin of [[LlmSim]]. The dot product is spelled as the same
  * left-to-right fold (list_reduce over list_zip) — NOT
  * list_dot_product, whose summation order is unspecified. */
object LlmSimSql {

  import LlmSim._

  // list_prepend(0.0) + 2-arg list_reduce == Spark aggregate(zip, 0.0,
  // (acc,x) -> acc+x): identical left-to-right IEEE accumulation.
  private val dotFold =
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(list_zip(%s, %s), p -> p[1] * p[2])), " +
      "(acc, x) -> acc + x)"

  private def dot(a: String, b: String) = dotFold.format(a, b)

  private val eCte =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       sqrt(${dot("CAST(embedding AS DOUBLE[])",
      "CAST(embedding AS DOUBLE[])")}) AS norm
       FROM embeddings)"""

  val knnBruteSql: String =
    s"""WITH $eCte,
    q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM e
          WHERE vec_id % $QueryMod = 0),
    pairs AS (SELECT qid, e.vec_id,
      ${dot("qv", "v")} / (qnorm * norm) AS cos
      FROM q, e WHERE e.vec_id <> qid),
    rk AS (SELECT qid, vec_id, round(cos, 6) AS cosine,
      CAST(row_number() OVER (PARTITION BY qid
        ORDER BY round(cos, 6) DESC, vec_id) AS BIGINT) AS rank
      FROM pairs)
    SELECT qid, vec_id, cosine, rank FROM rk WHERE rank <= $TopK"""

  val hardNegativesSql: String =
    s"""WITH el AS (SELECT vec_id, label,
       CAST(embedding AS DOUBLE[]) AS v,
       sqrt(${dot("CAST(embedding AS DOUBLE[])",
      "CAST(embedding AS DOUBLE[])")}) AS norm
       FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm,
          label AS qlabel FROM el WHERE vec_id % $QueryMod = 0),
    pairs AS (SELECT qid, el.vec_id,
      ${dot("qv", "v")} / (qnorm * norm) AS cos
      FROM q, el WHERE el.vec_id <> qid AND el.label <> qlabel),
    rk AS (SELECT qid, vec_id, round(cos, 6) AS cosine,
      CAST(row_number() OVER (PARTITION BY qid
        ORDER BY round(cos, 6) DESC, vec_id) AS BIGINT) AS rank
      FROM pairs)
    SELECT qid, vec_id, cosine, rank FROM rk WHERE rank <= $TopK"""

  private val cellExpr = (1 to IvfDims).map(i =>
    s"CASE WHEN v[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")

  val dedupEmbedSql: String =
    s"""WITH $eCte,
    ec AS (SELECT *, $cellExpr AS cell FROM e),
    pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      round(${dot("a.v", "b.v")} / (a.norm * b.norm), 6) AS cosine
      FROM ec a JOIN ec b ON a.cell = b.cell AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM pairs
    WHERE cosine >= ${LlmSim.EmbedDupThreshold} AND NOT isnan(cosine)"""

  val contaminationEmbedSql: String =
    s"""WITH $eCte,
    ev AS (SELECT vec_id AS eval_id, v AS ev, norm AS en FROM e
           WHERE vec_id % $QueryMod = 0),
    tr AS (SELECT vec_id AS train_id, v, norm FROM e
           WHERE vec_id % $QueryMod <> 0),
    pairs AS (SELECT eval_id, train_id,
      round(${dot("v", "ev")} / (norm * en), 6) AS cosine
      FROM tr, ev)
    SELECT eval_id, train_id, cosine FROM pairs
    WHERE cosine >= ${LlmSim.EmbedDupThreshold}"""

  val knnIvfSql: String =
    s"""WITH $eCte,
    ec AS (SELECT *, $cellExpr AS cell FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm, cell FROM ec
          WHERE vec_id % $QueryMod = 0),
    pairs AS (SELECT qid, ec.vec_id,
      ${dot("qv", "v")} / (qnorm * norm) AS cos
      FROM q JOIN ec USING (cell) WHERE ec.vec_id <> qid),
    rk AS (SELECT qid, vec_id, round(cos, 6) AS cosine,
      CAST(row_number() OVER (PARTITION BY qid
        ORDER BY round(cos, 6) DESC, vec_id) AS BIGINT) AS rank
      FROM pairs)
    SELECT qid, vec_id, cosine, rank FROM rk WHERE rank <= $IvfTopK"""

  /** Shared trainer+assigner CTE chain — twin of
    * [[LlmSim.trainedSims]]: same seed cells, same vec_id-ordered
    * centroid fold, same round(·,6)+cent_id assignment ranking.
    * `private[operators]` so [[PqSql.searchIvfSql]] can compose the
    * coarse-quantizer half of IVF-PQ from the SAME chain the IVF
    * oracles use. */
  private[operators] val trainedCtes =
    s"""$eCte,
    ec AS (SELECT *, $cellExpr AS cell FROM e),
    dims AS (SELECT cell, vec_id, t.i AS pos, v[t.i] AS x
      FROM ec CROSS JOIN generate_series(1, 64) AS t(i)),
    sums AS (SELECT cell, pos,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list(x ORDER BY vec_id)), (acc, y) -> acc + y) AS s,
      count(*) AS n
      FROM dims GROUP BY cell, pos),
    cents AS (SELECT cell AS cent_id, list(s / n ORDER BY pos) AS cv
      FROM sums GROUP BY cell),
    centn AS (SELECT cent_id, cv, sqrt(${dot("cv", "cv")}) AS cnorm
      FROM cents),
    sims0 AS (SELECT ec.vec_id, ec.v, ec.norm, c.cent_id,
      round(${dot("ec.v", "c.cv")} / (ec.norm * c.cnorm), 6) AS sim_r
      FROM ec CROSS JOIN centn c),
    sims AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        ORDER BY sim_r DESC, cent_id) AS nr
      FROM sims0)"""

  /** Twin of [[LlmSim.knnIvfTrained]]. */
  val knnIvfTrainedSql: String =
    s"""WITH $trainedCtes,
    corpus AS (SELECT cent_id, vec_id, v, norm FROM sims WHERE nr = 1),
    probes AS (SELECT cent_id, vec_id AS qid, v AS qv, norm AS qnorm
      FROM sims WHERE vec_id % $QueryMod = 0 AND nr <= ${LlmSim.Nprobe}),
    pairs AS (SELECT qid, corpus.vec_id,
      ${dot("qv", "v")} / (qnorm * norm) AS cos
      FROM probes JOIN corpus USING (cent_id)
      WHERE corpus.vec_id <> qid),
    rk AS (SELECT qid, vec_id, round(cos, 6) AS cosine,
      CAST(row_number() OVER (PARTITION BY qid
        ORDER BY round(cos, 6) DESC, vec_id) AS BIGINT) AS rank
      FROM pairs)
    SELECT qid, vec_id, cosine, rank FROM rk WHERE rank <= $IvfTopK"""

  /** Twin of [[LlmSim.annRecall]]: the trained-IVF chain and the
    * brute chain truncated to the same k, matched per (qid, vec_id). */
  val annRecallSql: String =
    s"""WITH $trainedCtes,
    corpus AS (SELECT cent_id, vec_id, v, norm FROM sims WHERE nr = 1),
    probes AS (SELECT cent_id, vec_id AS qid, v AS qv, norm AS qnorm
      FROM sims WHERE vec_id % $QueryMod = 0 AND nr <= ${LlmSim.Nprobe}),
    apairs AS (SELECT qid, corpus.vec_id,
      ${dot("qv", "v")} / (qnorm * norm) AS cos
      FROM probes JOIN corpus USING (cent_id)
      WHERE corpus.vec_id <> qid),
    ark AS (SELECT qid, vec_id,
      row_number() OVER (PARTITION BY qid
        ORDER BY round(cos, 6) DESC, vec_id) AS rank
      FROM apairs),
    approx AS (SELECT qid, vec_id FROM ark WHERE rank <= $IvfTopK),
    q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm FROM e
          WHERE vec_id % $QueryMod = 0),
    bpairs AS (SELECT qid, e.vec_id,
      ${dot("qv", "v")} / (qnorm * norm) AS cos
      FROM q, e WHERE e.vec_id <> qid),
    brk AS (SELECT qid, vec_id,
      row_number() OVER (PARTITION BY qid
        ORDER BY round(cos, 6) DESC, vec_id) AS rank
      FROM bpairs),
    xact AS (SELECT qid, vec_id FROM brk WHERE rank <= $IvfTopK),
    hits AS (SELECT x.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hits
      FROM xact x LEFT JOIN approx a
        ON x.qid = a.qid AND x.vec_id = a.vec_id
      GROUP BY x.qid)
    SELECT qid, n_hits,
      round(n_hits / CAST($IvfTopK AS DOUBLE), 6) AS recall
    FROM hits"""

  /** Twin of [[LlmSim.semDedup]]: same trained assignment, same
    * round(·,6) pair cosine, same (cent_sim, vec_id) witness order. */
  val semDedupSql: String =
    s"""WITH $trainedCtes,
    assigned AS (SELECT vec_id, v, norm, cent_id, sim_r
      FROM sims WHERE nr = 1),
    drops AS (SELECT DISTINCT a.vec_id
      FROM assigned a JOIN assigned b ON a.cent_id = b.cent_id
        AND a.vec_id <> b.vec_id
        AND round(${dot("a.v", "b.v")} / (a.norm * b.norm), 6)
          >= ${LlmSim.SemDedupThreshold}
        AND (b.sim_r < a.sim_r
          OR (b.sim_r = a.sim_r AND b.vec_id < a.vec_id)))
    SELECT a.vec_id, a.cent_id AS cluster, a.sim_r AS cent_sim,
      d.vec_id IS NULL AS keep
    FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id"""

  /** Twin of [[LlmSim.rnnPairs]]: same trained assignment, same
    * (round(cos,6) DESC, vec_id) top-1, same mutuality join. */
  val rnnPairsSql: String =
    s"""WITH $trainedCtes,
    assigned AS (SELECT vec_id, v, norm, cent_id
      FROM sims WHERE nr = 1),
    nn AS (SELECT qid, nid, cos FROM (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
        round(${dot("a.v", "b.v")} / (a.norm * b.norm), 6) AS cos,
        row_number() OVER (PARTITION BY a.vec_id ORDER BY
          round(${dot("a.v", "b.v")} / (a.norm * b.norm), 6) DESC,
          b.vec_id) AS rk
      FROM assigned a JOIN assigned b ON a.cent_id = b.cent_id
        AND a.vec_id <> b.vec_id)
      WHERE rk = 1)
    SELECT x.qid AS id_a, x.nid AS id_b, x.cos AS cosine
    FROM nn x JOIN nn y ON x.qid = y.nid AND x.nid = y.qid
      AND x.qid < x.nid
    ORDER BY id_a"""

  /** Twin of [[LlmSim.labelNoise]]: same cell equi-join, same
    * (round(cos, 6) desc, id) neighbor rank, same (votes desc, label)
    * majority tie-break. */
  val labelNoiseSql: String =
    s"""WITH el AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      sqrt(${dot("CAST(embedding AS DOUBLE[])",
      "CAST(embedding AS DOUBLE[])")}) AS norm, label
      FROM embeddings),
    ec AS (SELECT *, $cellExpr AS cell FROM el),
    topk AS (SELECT * FROM (
      SELECT a.vec_id, a.label, b.label AS nlabel,
        row_number() OVER (PARTITION BY a.vec_id ORDER BY
          round(${dot("a.v", "b.v")} / (a.norm * b.norm), 6) DESC,
          b.vec_id) AS rk
      FROM ec a JOIN ec b ON a.cell = b.cell
        AND a.vec_id <> b.vec_id)
      WHERE rk <= ${LlmSim.LabelK}),
    votes AS (SELECT vec_id, label, nlabel, count(*) AS n
      FROM topk GROUP BY vec_id, label, nlabel),
    top1 AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        ORDER BY n DESC, nlabel) AS vr
      FROM votes)
    SELECT vec_id, label, nlabel AS neigh_label,
      nlabel = label AS agree
    FROM top1 WHERE vr = 1"""

  /** Twin of [[LlmSim.embedQuant]]: same floor(x/scale + 0.5)
    * quantization, exact-multiplication squared error, same
    * left-to-right fold. */
  val embedQuantSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    a AS (SELECT vec_id, v,
      list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax
      FROM e),
    s AS (SELECT vec_id, v, amax, amax / 127 AS scale FROM a),
    q AS (SELECT vec_id, len(v) AS n_dims, scale,
      CASE WHEN amax = 0 THEN 0.0 ELSE
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(v, x ->
            (x - floor(x / scale + 0.5) * scale)
              * (x - floor(x / scale + 0.5) * scale))),
          (acc, x) -> acc + x) END AS sqerr
      FROM s)
    SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims,
      round(scale, 6) AS scale,
      round(sqrt(sqerr / n_dims), 6) AS rms_err
    FROM q"""
}
