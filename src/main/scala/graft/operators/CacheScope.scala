package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Tracked persists. Operators that cache an internal frame (the
  * canonical log every RCO output re-reads, a scored frame consumed by
  * several stages) call [[pin]] instead of `persist` directly. With no
  * scope open it IS `persist(MEMORY_AND_DISK)` — single-query callers
  * keep the warm cache they want. Inside [[collect]] every pin is also
  * recorded, so an orchestrator that loops (a fleet run over N sites)
  * can release each iteration's frames instead of accumulating O(N)
  * dead cache entries whose eviction pressure lands on whoever runs
  * last — the exact pathology the bench's clearState works around,
  * which production loops otherwise had no handle for.
  *
  * Thread-local: plan construction (where persist() calls happen) is
  * single-threaded per pipeline run; the concurrent table WRITES only
  * consume already-pinned frames and never pin.
  *
  * Pins taken with NO scope open ("orphans") are bounded: the newest
  * [[OrphanCap]] stay persisted, the oldest beyond that are evicted
  * (unpersisted — correctness-safe for [[pin]]s, whose lineage is
  * intact: Spark recomputes). A loop that calls a pinning operator
  * without opening a scope therefore cycles a bounded cache instead
  * of accumulating O(iterations) dead entries for the session
  * lifetime; single-query callers are far under the cap and keep
  * every warm frame.
  *
  * [[track]]ed frames are `localCheckpoint`s — lineage CUT, NOT
  * recomputable: unpersisting one that still backs a consumer's plan
  * fails that consumer with missing-checkpoint-block errors. Orphan
  * tracks therefore live in their OWN bounded ring whose overflow
  * drops the oldest REFERENCE without unpersisting: a frame the
  * caller still holds stays valid indefinitely, and a frame nobody
  * references anymore is reclaimed by Spark's ContextCleaner when the
  * RDD is garbage-collected. Iterative operators additionally
  * unpersist their superseded per-round checkpoints eagerly (they
  * alone know when a round's frame is dead), so the ring normally
  * holds only final results awaiting consumption.
  */
object CacheScope {

  private val active = new ThreadLocal[ArrayBuffer[DataFrame]]()

  /** Orphan-pin LRU bound; generous vs any single query's pin count
    * (the widest pipeline pins < 12 frames per site). */
  val OrphanCap = 48

  private val orphans =
    new java.util.ArrayDeque[DataFrame](OrphanCap + 1)

  /** Orphan [[track]]s — non-recomputable checkpoints, so overflow
    * drops the reference instead of unpersisting (see class doc). */
  private val trackedOrphans =
    new java.util.ArrayDeque[DataFrame](OrphanCap + 1)

  /** Persist `df` (MEMORY_AND_DISK); register it with the open scope,
    * if any, for later release. An already-persisted frame is returned
    * untouched and NOT registered: composed operators that share a
    * subtree (the curation report pins the same scored frame through
    * four stages) would otherwise re-persist it — a WARN-per-call from
    * the CacheManager — and hand the scope a double-release entry for
    * a pin this call did not create.
    *
    * Throws IllegalArgumentException when `df` is built on a [[cut]].
    * A cut's `LogicalRDD` leaf keeps raw expression ids in the
    * partitioning and ordering of its canonical form, so once a
    * consumer's self-join re-instances that leaf the consumer's plan no
    * longer matches the pin, and every consumer silently recomputes the
    * frame. A frame over a cut that several consumers read must itself
    * be a cut (BrandcodeResolve's per-CO frame). */
  def pin(df: DataFrame): DataFrame = {
    require(!df.queryExecution.analyzed.exists {
      case l: LogicalRDD => l.outputOrdering.nonEmpty ||
        !l.outputPartitioning.isInstanceOf[UnknownPartitioning]
      case _ => false
    }, "a pin over a cut stops matching once re-instanced; cut it instead")
    if (df.storageLevel != StorageLevel.NONE) return df
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    val buf = active.get()
    if (buf != null) buf += c
    else orphans.synchronized {
      orphans.addLast(c)
      while (orphans.size > OrphanCap) {
        orphans.pollFirst().unpersist(); ()
      }
    }
    c
  }

  /** Scale-adaptive pin width (the PageRank.pin idiom, r19): the
    * narrow frame's own scan partition count capped by the configured
    * shuffle width. Cached plans keep their partition count for the
    * whole run (AQE never re-coalesces inside an `InMemoryRelation` —
    * `canChangeCachedPlanOutputPartitioning` stays false so pinned
    * partitioning remains reusable by consumers), so a frame pinned
    * at the full shuffle width schedules that many tasks per consumer
    * scan regardless of data size — measured ~0.2 CPU-s of per-task
    * constant overhead at bench SF, which made several iterative
    * entries run FASTER on 8 cores than 32. A tiny input pins a
    * handful of partitions; a 100 TB scan pins at full shuffle width.
    * Pass a NARROW frame (scan + filter/select only): `.rdd` on a
    * shuffled frame would execute its stages just to count. */
  def pinWidth(narrow: DataFrame): Int =
    math.max(1, math.min(narrow.rdd.getNumPartitions,
      narrow.sparkSession.sessionState.conf.numShufflePartitions))

  /** Register an ALREADY-persisted frame (a `localCheckpoint`, an
    * externally cached input) for release exactly like a [[pin]]:
    * with the open scope if any, in the orphan ring otherwise. [[pin]]
    * deliberately skips persisted frames (it must not double-release
    * a pin it didn't create); iterative operators that CUT lineage
    * per round — the localCheckpoint returns a new, already-persisted
    * frame — use this so their final frame is still collectable.
    *
    * A tracked frame's blocks are its ONLY copy (lineage is cut), so
    * the orphan path never unpersists on overflow: the oldest
    * reference is dropped and block reclamation is left to Spark's
    * ContextCleaner (which unpersists an RDD once it is garbage-
    * collected — i.e. once neither the caller nor any plan holds it).
    * Frames a caller still references thus stay consumable no matter
    * how many later pins/tracks occur. */
  def track(df: DataFrame): DataFrame = {
    val buf = active.get()
    if (buf != null) buf += df
    else trackedOrphans.synchronized {
      trackedOrphans.addLast(df)
      while (trackedOrphans.size > OrphanCap) {
        trackedOrphans.pollFirst(); ()
      }
    }
    df
  }

  /** Eager, lineage-CUT materialization of `df`, [[track]]ed. A
    * [[pin]] is an `InMemoryRelation` carrying its source's whole
    * physical plan, which Spark re-renders at every execution start and
    * AQE stage update of every plan over it; a cut is a `LogicalRDD`
    * leaf that keeps `df`'s partitioning, ordering and size
    * ([[org.apache.spark.sql.GraftCheckpoint]]). Its blocks cannot be
    * recomputed — the [[track]] contract. */
  def cut(df: DataFrame): DataFrame =
    track(org.apache.spark.sql.GraftCheckpoint.local(df))

  /** Free the blocks behind a frame REGARDLESS of how it is persisted.
    * `Dataset.unpersist` only clears CacheManager entries ([[pin]]s);
    * on a `localCheckpoint`-backed frame it is a measured NO-OP in
    * Spark 4.1 — the blocks belong to the internal RDD inside the
    * plan's `LogicalRDD` leaf, which stays in `getPersistentRDDs`
    * until the RDD object is garbage-collected and the ContextCleaner
    * sweeps it. Iterative operators call this on SUPERSEDED per-round
    * checkpoints (they alone know a round's frame is dead) so block
    * lifetime is one round, not a GC cycle; [[collect]]'s release
    * handle uses it so a fleet scope frees tracked checkpoints
    * deterministically too. Never called by ring overflow — overflow
    * cannot know liveness, so it only drops references.
    *
    * ROOT-only on purpose: only a frame whose plan IS the checkpoint
    * (the direct `localCheckpoint` result) frees its internal RDD. A
    * `LogicalRDD` reached deeper in a derived plan may belong to a
    * caller (a shared merge map, a fleet-owned canonical log) — no
    * ownership can be proven there, so those blocks are left to their
    * owner / the ContextCleaner. Operators therefore release the
    * checkpoint frame itself, not plans derived from it. */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
  }

  /** Run `body` with a scope open; returns its result plus a release
    * handle that unpersists every frame pinned during the call (double
    * release is harmless). Nested scopes stack: the inner scope's pins
    * belong to the inner handle only.
    *
    * If `body` throws, everything pinned so far is unpersisted before
    * the rethrow — the caller never receives the release handle on that
    * path, so a site whose plan construction fails mid-build must not
    * leave its pins registered for the rest of a fleet loop. */
  def collect[T](body: => T): (T, () => Unit) = {
    val outer = active.get()
    val buf = ArrayBuffer.empty[DataFrame]
    active.set(buf)
    val result =
      try body
      catch {
        case e: Throwable =>
          buf.foreach(df => release(df))
          throw e
      }
      finally active.set(outer)
    (result, () => buf.foreach(df => release(df)))
  }
}
