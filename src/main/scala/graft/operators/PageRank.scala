package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank (Brin & Page 1998) — the canonical
  * iterative-join analytics shape: each round is
  * `ranks ⋈ edges → groupBy(dst) → sum` (a map-side-combinable
  * aggregate over the edge list), `r' = (1-d)/N + d·Σ r/outdeg`, with
  * the rank vector quantized to `scale` decimals EVERY round so the
  * result is independent of float summation order — the property that
  * makes a cross-engine oracle possible at all (and, at cluster
  * scale, makes reruns bit-reproducible regardless of partitioning).
  *
  * Exchange discipline (round 13): every round-invariant frame is
  * CACHED on the `hashpartitioning` of its join key once, up front —
  * edges repartitioned by `src`, `outdeg`/`nodes` shuffle-produced on
  * their keys. An InMemoryRelation's output partitioning is stable
  * (AQE keeps cached-plan partitioning unless
  * `canChangeCachedPlanOutputPartitioning` is flipped), so Catalyst's
  * EnsureRequirements inserts NO Exchange on the EDGE side of any
  * round's join. The rank side is ADAPTIVE by node count:
  *
  *  - `n <= broadcastNodesMax` (default 1M — tens of MB of rank
  *    rows): the node-sized frames take explicit `broadcast()` hints,
  *    so a round is broadcast-hash joins probing the cached edge scan
  *    IN PLACE plus the one inherent `groupBy(dst)` transpose — one
  *    shuffle per round, no sorts. (Pinned caches defeat AQE's
  *    runtime SMJ→BHJ conversion — there is no shuffle stage to
  *    size — so without the hint the toy-scale plan silently paid
  *    sort-merge machinery per round: measured 4.5 → 10.4 s on the
  *    sf0.1 bench when this was hint-free.)
  *  - above the ceiling: no broadcast; the rank frame shuffles onto
  *    its join key and co-partitions with the caches — two Exchanges
  *    per round, neither on the edge key.
  *
  * PageRankSpec asserts BOTH plan shapes and their result equality.
  * The caches are released before returning.
  *
  * Durability: the rank frame's lineage is cut per round.
  * `localCheckpoint` (default) stores the cut on executor-local
  * storage — right for single-node and short jobs, lost on executor
  * death; pass `reliable = true` (with
  * `sparkContext.setCheckpointDir` configured) to write round cuts to
  * the checkpoint directory instead, the 1000-executor-run setting
  * where losing round 37 of 50 to one preemption is not acceptable.
  * The cached round-invariant frames need no such treatment: an
  * evicted or lost cache block recomputes from source lineage.
  *
  * Dangling nodes (no out-edges) leak their mass by default — the
  * convention the SQL twin replays. `redistributeDangling = true`
  * adds the standard correction: each round the dangling mass `m`
  * (one scalar aggregate — a bounded per-round driver probe, the
  * same sanctioned shape as the N count) is spread uniformly,
  * `r' = (1-d)/N + d·(Σ r/outdeg + m/N)`, making the rank vector sum
  * to ~1 every round (PageRankSpec pins the invariant).
  *
  * Scale: the rank frame is node-sized, edges are scanned (never
  * re-shuffled) once per round — the classic Pregel-style cost.
  * Iteration count is a hyperparameter bounded by construction, same
  * driver-loop contract as [[BpeTrain]].
  *
  * Cite: generic engine capability; no counterpart in the reference.
  */
object PageRank {

  /** Node-count ceiling for the broadcast-shaped round (rank rows are
    * ~16 bytes: 1M ≈ tens of MB on the driver and per executor). */
  val BroadcastNodesMax = 1000000L

  /** Run `iters` rounds over `edges` (columns `src`, `dst`;
    * multi-edges count multiply, NULL endpoints dropped). Returns
    * `(node, rank)` for every node appearing as src or dst. */
  def run(edges: DataFrame, iters: Int = 10, damping: Double = 0.85,
      scale: Int = 9, reliable: Boolean = false,
      redistributeDangling: Boolean = false,
      broadcastNodesMax: Long = BroadcastNodesMax): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1,
      s"pageRank: damping in (0,1), got $damping")
    def cut(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)

    val p = pin(edges)
    try {
      val bcast = p.n <= broadcastNodesMax
      var ranks = cut(p.nodes.select(col("node"),
        round(lit(1.0) / lit(p.n), scale).as("r")))
      // Lineage-cut cadence (r18): each cut is an eager action (a
      // job), so cutting every round costs `iters` job launches for
      // plans that stay tiny when composed two-deep. Two rounds per
      // cut halves the launches; the per-round quantization is in the
      // PLAN, so results are bit-identical regardless of cadence.
      // Dangling redistribution needs a materialized rank frame per
      // round (the scalar mass probe), so it keeps cadence 1.
      val cutEvery = if (redistributeDangling) 1 else 2
      var done = 0
      while (done < iters) {
        val step = math.min(cutEvery, iters - done)
        var cur = ranks
        (1 to step).foreach { _ =>
          // dangling mass: one scalar aggregate per round (opt-in)
          val dm =
            if (!redistributeDangling) 0.0
            else cur.join(p.outdeg, cur("node") === p.outdeg("src"),
                "left_anti")
              .agg(coalesce(sum(col("r")), lit(0.0))).head().getDouble(0)
          cur = iterate(p, cur, damping, scale, dm, bcast)
        }
        val next = cut(cur)
        CacheScope.release(ranks) // superseded round: free blocks now
        ranks = next
        done += step
      }
      ranks.select(col("node"), col("r").as("rank"))
    } finally p.release()
  }

  /** The round-invariant frames, each cached on the hash partitioning
    * of its join key, plus the node count and a cache-release handle. */
  private[graft] case class Pinned(e: DataFrame, nodes: DataFrame,
    outdeg: DataFrame, n: Double, release: () => Unit)

  /** Cache the round-invariant frames on their join keys ONCE: edges
    * by src (the explicit repartition — a raw scan has no
    * partitioning), outdeg by construction (groupBy on the already-
    * partitioned edges), nodes by an explicit repartition-then-
    * distinct. The cache — not a checkpoint — is what makes the
    * partitioning visible to every later round's planner.
    *
    * Cache WIDTH adapts to the input: cached plans keep their
    * partition count for the whole run (AQE cannot re-coalesce inside
    * an InMemoryRelation), so pinning a toy graph at the configured
    * shuffle width makes EVERY round schedule that many tasks per
    * cache scan — pure scheduling overhead that doubled the sf0.1
    * bench entry. The width is [[CacheScope.pinWidth]] of the edge
    * scan: a 100 TB edge list pins at full shuffle width, a toy graph
    * at a handful of tasks per round. */
  private[graft] def pin(edges: DataFrame): Pinned = {
    val filtered = edges
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"))
    val width = CacheScope.pinWidth(filtered)
    val (frames, release) = CacheScope.collect {
      val e0 = filtered.repartition(width, col("src"))
      val outdeg = CacheScope.pin(e0.groupBy(col("src"))
        .agg(count(lit(1)).cast("double").as("od")))
      // out-degree rides INSIDE the cached edge row (r18): the
      // ranks⋈outdeg join every round used to run before the edge
      // probe — one extra join (and, in the broadcast shape, one
      // extra broadcast build) per round for a value that is
      // round-INVARIANT. Joining it here costs one co-partitioned
      // join at pin time (outdeg derives from e0's partitioning —
      // no exchange) and removes the per-round join outright.
      val e = CacheScope.pin(e0.join(outdeg, Seq("src")))
      val nodes = CacheScope.pin(e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .repartition(width, col("node"))
        .distinct())
      (e, nodes, outdeg)
    }
    val (e, nodes, outdeg) = frames
    // Materialize every cache up front (two bounded one-row probes —
    // the sanctioned scalar shape; N is needed anyway): an
    // UNmaterialized cached adaptive plan reports unknown partitioning
    // at planning time, which would hand round 1 a spurious Exchange.
    val n = nodes.count().toDouble
    outdeg.count()
    Pinned(e, nodes, outdeg, n, release)
  }

  /** One un-cut rank iteration over pinned inputs. `broadcastRanks`
    * selects the plan shape (see object doc); PageRankSpec asserts
    * both: broadcast → ONE shuffle (the groupBy(dst) transpose),
    * co-partitioned → two, and never one on the edge key. */
  private[graft] def iterate(p: Pinned, ranks: DataFrame,
      damping: Double, scale: Int, dm: Double,
      broadcastRanks: Boolean = false): DataFrame = {
    val r = if (broadcastRanks) broadcast(ranks) else ranks
    // od is pre-joined into the cached edge row (see pin), so a round
    // is ONE rank⋈edges join plus the inherent groupBy(dst) transpose
    val contrib = r.join(p.e, r("node") === p.e("src"))
      .groupBy(col("dst"))
      .agg(sum(col("r") / col("od")).as("c"))
    val cj = if (broadcastRanks) broadcast(contrib) else contrib
    p.nodes
      .join(cj, p.nodes("node") === cj("dst"), "left")
      .select(col("node"),
        round(lit((1.0 - damping) / p.n + damping * dm / p.n) +
          lit(damping) * coalesce(col("c"), lit(0.0)),
          scale).as("r"))
  }
}
