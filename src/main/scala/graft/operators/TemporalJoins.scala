package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic temporal operators: as-of joins (backward, forward, and
  * nearest — the three pandas merge_asof directions), point-in-interval
  * (inner/left) and interval-overlap range joins — the join shapes
  * Spark has no native operator for — plus gap sessionization as a
  * generic API. The as-of and sessionize families each ALSO ship a
  * TIME-SLICED two-pass form ([[asofBackwardSliced]],
  * [[sessionizeByGapSliced]]) that breaks one hot key's serial window
  * scan over (key, slice) tasks — the skew shape salting cannot fix.
  *
  * The reference resolves its interval/as-of lookups (SURVEY §2.5 J7)
  * with per-key loops (`ref/RCO_Maple_orchestrator.R:214-263` walks COs
  * one at a time; `App/etl/transform/mes_etl.py:204-213` scans rows per
  * changeover) — O(lookups × events) per key and driver-bound. The RCO
  * operators here already re-express those sites as merged-stream window
  * plans inline (BrandcodeResolve, FirstStopAfterCo, GanttGenerate);
  * this module is the same idea exposed as REUSABLE operators any
  * caller can apply to its own tables, the way DuckDB exposes `ASOF
  * JOIN` and Flink exposes temporal/interval joins as first-class
  * relational operators.
  *
  * Scale shapes (the reason these are not inequality joins):
  *  - [[asofBackward]]: union + one window over (keys, time) — ONE
  *    shuffle on the equi-keys, linear scan per partition. A naive
  *    `l.t >= r.t` theta-join is a broadcast-nested-loop in Spark:
  *    O(|L|×|R|) per key and un-broadcastable once the right side
  *    scales with the corpus.
  *  - [[intervalJoinPoints]]: intervals exploded into fixed-width time
  *    buckets, points bucketed once, then a plain EQUI-join on
  *    (keys, bucket) + exact containment filter. Expansion factor is
  *    `interval_len / bucketWidth + 1` rows per interval — O(1) when
  *    the width is chosen near the typical interval length — and the
  *    join stays shuffle-hash/sort-merge at any scale.
  */
object TemporalJoins {

  private val T    = "__t"
  private val SIDE = "__side"
  private val M    = "__match"
  private val MB   = "__match_bwd"
  private val MF   = "__match_fwd"

  /** Epoch seconds of a time column. Parquet timestamps arrive as
    * TIMESTAMP_NTZ in Spark 4, which cannot cast to BIGINT directly —
    * hop through TIMESTAMP (sessions pin UTC, so the hop is exact). */
  private def epochSec(c: Column): Column = c.cast("timestamp").cast("long")

  /** Epoch MICROseconds — for gap/staleness arithmetic, where
    * second-truncation would mis-classify sub-second phases (a 1800.5 s
    * gap must exceed an 1800 s threshold; floor(diff)=1800 would not). */
  private def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Backward as-of join: for every left row, attach the LATEST right
    * row of the same key with `rightTime <= leftTime` (DuckDB
    * `ASOF JOIN … ON l.t >= r.t` / pandas `merge_asof` semantics,
    * left-outer flavor: unmatched left rows survive with nulls).
    *
    * Implementation: tag right rows side=0 and left rows side=1, union
    * by name, then one `last(struct(right cols), ignoreNulls)` window
    * partitioned by `on` and ordered by (time, side) — at equal
    * timestamps the right row sorts first, so a left row sees a
    * same-instant right row (>= semantics). The right payload rides in
    * ONE struct so a legitimately-NULL right attribute is carried
    * as-is rather than forward-filled past (last(_, ignoreNulls) on a
    * bare column would skip it).
    *
    * `tolerance`: when set (seconds), matches older than
    * `leftTime - tolerance` are nulled out — the window still fills
    * them, the filter is a projection.
    *
    * Requires: right unique per (on, rightTime) — duplicate instants
    * have no deterministic "latest"; pre-aggregate the right side
    * (e.g. `max_by`) exactly as a DuckDB ASOF caller must. Left and
    * right non-key column names must not collide.
    *
    * Join-semantics parity on NULLs: right rows with a NULL key or
    * NULL `rightTime` are dropped up front — an equi/inequality join
    * predicate can never be satisfied by them, but the window
    * partition WOULD group NULL keys together and an
    * ascending-nulls-first NULL time would win every `last()`, so
    * without the filter they'd produce matches no ASOF join makes.
    * NULL-key left rows pass through unmatched, and so do left rows
    * with a NULL `leftTime` — in BOTH directions (DuckDB ASOF /
    * pandas merge_asof semantics; the forward scan's descending order
    * would otherwise hand them the earliest right row).
    *
    * The matched right timestamp is emitted as `asofTsCol` (default
    * `asof_ts`); right value columns keep their names.
    *
    * Scale ceiling: the window partitions by `on` alone, so ONE key's
    * whole history is a single task's serial scan — fine until a hot
    * key's row count rivals what one core can sort; past that, use
    * [[asofBackwardSliced]] (same semantics, per-key work split over
    * time slices). */
  def asofBackward(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long] = None,
      asofTsCol: String = "asof_ts"): DataFrame =
    asofImpl(left, right, on, leftTime, rightTime, tolerance, asofTsCol,
      forward = false)

  /** Forward as-of join: the EARLIEST right row with
    * `rightTime >= leftTime` (pandas `merge_asof(direction='forward')`,
    * DuckDB `ASOF … ON l.t <= r.t`). Same machinery as
    * [[asofBackward]] with the scan order reversed; `tolerance` bounds
    * how far AHEAD the match may be. */
  def asofForward(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long] = None,
      asofTsCol: String = "asof_ts"): DataFrame =
    asofImpl(left, right, on, leftTime, rightTime, tolerance, asofTsCol,
      forward = true)

  /** Fail fast on the collision contract instead of silently
    * mis-projecting: the merged-stream union would fold a colliding
    * left column and right value column into ONE column, and the
    * final `col(M)(c)` projection would then carry left values into
    * the supposed right payload. Returns the right value columns. */
  private def checkAsofContract(left: DataFrame, right: DataFrame,
      on: Seq[String], rightTime: String,
      asofTsCol: String): Seq[String] = {
    val valueCols = right.columns.toSeq.filterNot(on.contains)
      .filterNot(_ == rightTime)
    val collisions = left.columns.toSeq.intersect(valueCols :+ asofTsCol)
    require(collisions.isEmpty,
      s"asof join: left columns collide with right value columns or " +
        s"asofTsCol: ${collisions.mkString(", ")} — rename one side " +
        "before joining")
    // asofTsCol itself must be fresh on the RIGHT side too: renaming
    // rightTime onto an existing right value column would leave two
    // identically-named columns and die ambiguously downstream
    require(!valueCols.contains(asofTsCol),
      s"asof join: asofTsCol '$asofTsCol' collides with a right value " +
        "column — pick a fresh name")
    val reserved = Seq(T, SIDE, M, MB, MF)
    require(!reserved.contains(asofTsCol),
      s"asof join: asofTsCol '$asofTsCol' is reserved for internal use")
    val usedReserved =
      (left.columns ++ right.columns).toSeq.intersect(reserved)
    require(usedReserved.isEmpty,
      s"asof join: column names ${usedReserved.mkString(", ")} are " +
        "reserved for internal use")
    valueCols
  }

  private def asofImpl(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long],
      asofTsCol: String,
      forward: Boolean): DataFrame = {
    val valueCols = checkAsofContract(left, right, on, rightTime, asofTsCol)
    val lTagged = left
      .withColumn(T, col(leftTime))
      .withColumn(SIDE, lit(1))
    val rTagged = right
      .filter(col(rightTime).isNotNull &&
        on.map(col(_).isNotNull).reduce(_ && _))
      .withColumn(T, col(rightTime))
      .withColumn(SIDE, lit(0))
      .withColumnRenamed(rightTime, asofTsCol)
    val merged = lTagged.unionByName(rTagged, allowMissingColumns = true)

    // backward scans time ascending (last seen = latest ≤ t); forward
    // scans descending (last seen = earliest ≥ t). Right sorts before
    // left at equal instants either way, so both directions include
    // the same-instant match (>= / <= semantics).
    val w = Window.partitionBy(on.map(col): _*)
      .orderBy(if (forward) col(T).desc else col(T).asc, col(SIDE))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = last(
      when(col(SIDE) === 0, struct((asofTsCol +: valueCols).map(col): _*)),
      ignoreNulls = true).over(w)

    val inTol: Column = tolerance match {
      case Some(s) if forward =>
        epochUs(col(M)(asofTsCol)) <= epochUs(col(T)) + lit(s * 1000000L)
      case Some(s) =>
        epochUs(col(M)(asofTsCol)) >= epochUs(col(T)) - lit(s * 1000000L)
      case None => lit(true)
    }
    // `col(T).isNotNull`: a NULL-time left row must stay unmatched in
    // BOTH directions. Backward gets this for free (asc puts NULLs
    // first — nothing precedes them), but forward's desc ordering puts
    // NULLs LAST, where last() would hand them the EARLIEST right row;
    // DuckDB ASOF and pandas merge_asof leave them unmatched.
    merged
      .withColumn(M, packed)
      .filter(col(SIDE) === 1)
      .withColumn(M, when(col(T).isNotNull && inTol, col(M)))
      .select(left.columns.map(col) ++
        (asofTsCol +: valueCols).map(c => col(M)(c).as(c)): _*)
  }

  /** Nearest as-of join: for every left row, the right row of the
    * same key whose time is CLOSEST in either direction — the third
    * pandas `merge_asof` direction (`direction='nearest'`). An
    * equidistant pair resolves to the BACKWARD (earlier) row, the
    * pandas convention. `tolerance` bounds the absolute distance.
    *
    * Implementation: the same merged tag-union as [[asofBackward]],
    * with BOTH direction windows over it — identical partition keys,
    * so ONE shuffle feeds two sorted passes — then a per-row pick of
    * the closer candidate. NULL contracts as the directional
    * operators (NULL-key/time rights dropped; NULL-key/time lefts
    * unmatched). */
  def asofNearest(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long] = None,
      asofTsCol: String = "asof_ts"): DataFrame = {
    val valueCols = checkAsofContract(left, right, on, rightTime, asofTsCol)
    val lTagged = left
      .withColumn(T, col(leftTime))
      .withColumn(SIDE, lit(1))
    val rTagged = right
      .filter(col(rightTime).isNotNull &&
        on.map(col(_).isNotNull).reduce(_ && _))
      .withColumn(T, col(rightTime))
      .withColumn(SIDE, lit(0))
      .withColumnRenamed(rightTime, asofTsCol)
    val merged = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val payload = when(col(SIDE) === 0,
      struct((asofTsCol +: valueCols).map(col): _*))
    def w(fwd: Boolean) = Window.partitionBy(on.map(col): _*)
      .orderBy(if (fwd) col(T).desc else col(T).asc, col(SIDE))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val (nearer, inTol) = nearestPick(col(T), asofTsCol, tolerance)
    merged
      .withColumn(MB, last(payload, ignoreNulls = true).over(w(false)))
      .withColumn(MF, last(payload, ignoreNulls = true).over(w(true)))
      .filter(col(SIDE) === 1)
      .withColumn(M, nearer)
      .withColumn(M, when(col(T).isNotNull && inTol, col(M)))
      .select(left.columns.map(col) ++
        (asofTsCol +: valueCols).map(c => col(M)(c).as(c)): _*)
  }

  /** Closer-candidate pick shared by the nearest forms ([[asofNearest]]
    * and [[asofNearestSliced]]): the `MB`/`MF` payload structs are
    * compared by distance from `timeCol`, an equidistant pair resolves
    * BACKWARD (pandas), and `inTol` bounds the absolute distance of
    * the PICKED match in `M` — one definition so the tie and tolerance
    * conventions cannot drift between the plain and sliced forms. */
  private def nearestPick(timeCol: Column, asofTsCol: String,
      tolerance: Option[Long]): (Column, Column) = {
    val distB = epochUs(timeCol) - epochUs(col(MB)(asofTsCol))
    val distF = epochUs(col(MF)(asofTsCol)) - epochUs(timeCol)
    val nearer = when(col(MF).isNull, col(MB))
      .when(col(MB).isNull, col(MF))
      .when(distB <= distF, col(MB)) // tie → backward, pandas rule
      .otherwise(col(MF))
    val inTol: Column = tolerance match {
      case Some(s) =>
        abs(epochUs(col(M)(asofTsCol)) - epochUs(timeCol)) <=
          lit(s * 1000000L)
      case None => lit(true)
    }
    (nearer, inTol)
  }

  /** Time-sliced backward as-of join — identical semantics to
    * [[asofBackward]], different scale envelope. The plain operator's
    * window partitions by the join keys alone, so ONE key's entire
    * history is one task's serial scan: correct at any size, but a
    * single key holding half the corpus becomes the straggler that
    * bounds the stage, and (unlike an equi-join) a window cannot be
    * salted — [[SkewJoin]] has no analogue here. This variant breaks
    * the scan into fixed-width time slices, two passes:
    *
    *  1. LOCAL: the same merged-stream window partitioned by
    *     (keys, slice) — a hot key spreads over `range/width` tasks.
    *     A left row whose latest right row lives in its own slice is
    *     already done (at a width near the typical right-event
    *     spacing, that is almost all of them).
    *  2. CARRY-IN: per (key, slice), the latest right row of that
    *     slice (one tiny agg row each); a running `last` over the
    *     key's slice sequence gives every slice the newest right row
    *     from any EARLIER slice; one equi-join on (keys, slice) fills
    *     the lefts pass 1 left unmatched. The per-key serial work
    *     drops from O(rows of the key) to O(slices of the key) —
    *     bounded by time range / width, not by data volume.
    *
    * Same contracts as [[asofBackward]] (right unique per
    * (keys, time); no name collisions; NULL keys/times unmatched).
    * `sliceWidthSec` only moves WORK between the passes — any width
    * gives the same rows (spec-asserted) — so pick it near the
    * typical right-side event spacing per key. */
  def asofBackwardSliced(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      sliceWidthSec: Long,
      tolerance: Option[Long] = None,
      asofTsCol: String = "asof_ts"): DataFrame =
    asofSlicedImpl(left, right, on, leftTime, rightTime, sliceWidthSec,
      tolerance, asofTsCol, forward = false)

  /** Forward twin of [[asofBackwardSliced]]: earliest right row
    * at-or-after, carry-in from LATER slices. */
  def asofForwardSliced(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      sliceWidthSec: Long,
      tolerance: Option[Long] = None,
      asofTsCol: String = "asof_ts"): DataFrame =
    asofSlicedImpl(left, right, on, leftTime, rightTime, sliceWidthSec,
      tolerance, asofTsCol, forward = true)

  /** Time-sliced [[asofNearest]] — identical semantics (closest row
    * either side, equidistant ties backward, tolerance on absolute
    * distance), hot-key-safe like the directional sliced forms.
    *
    * Composition, not a third machinery: the left is tagged with ONE
    * materialized row id, both directional sliced as-ofs run over it
    * (tolerance deferred — it must act on the PICKED side, exactly as
    * the plain nearest does), and a per-row pick keeps the closer
    * candidate. The id join is an equi-join on a dense unique key —
    * uniformly distributed, no new skew surface.
    *
    * The id frame is `localCheckpoint`ed, not merely cached: both
    * branches MUST read the same ids, and `monotonically_increasing_id`
    * over a recomputed partition of a shuffle output can renumber rows
    * — a cached-but-evicted partition would then silently misalign the
    * two branch joins. Truncating the lineage makes recomputation
    * impossible: an executor loss fails the job loudly (retry it)
    * instead of corrupting the match. */
  def asofNearestSliced(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      sliceWidthSec: Long,
      tolerance: Option[Long] = None,
      asofTsCol: String = "asof_ts"): DataFrame = {
    val RID = "__rid"
    require(!(left.columns ++ right.columns).contains(RID),
      s"nearest sliced asof join: column name $RID is reserved")
    val valueCols = checkAsofContract(left, right, on, rightTime, asofTsCol)
    val lId = left.withColumn(RID, monotonically_increasing_id())
      .localCheckpoint(true)
    def branch(forward: Boolean, tag: String) =
      asofSlicedImpl(lId, right, on, leftTime, rightTime, sliceWidthSec,
        tolerance = None, asofTsCol, forward)
        .select(col(RID),
          // matched-timestamp gating: rightTime is never NULL on a
          // match (NULL-time rights are dropped), so a NULL asofTsCol
          // IS "no match" — re-pack the flattened payload as a struct
          // that is NULL precisely then
          when(col(asofTsCol).isNotNull,
            struct((asofTsCol +: valueCols).map(col): _*)).as(tag))
    val (nearer, inTol) = nearestPick(col(leftTime), asofTsCol, tolerance)
    lId.join(branch(forward = false, MB), Seq(RID))
      .join(branch(forward = true, MF), Seq(RID))
      .withColumn(M, nearer)
      .withColumn(M, when(inTol, col(M)))
      .select(left.columns.map(col) ++
        (asofTsCol +: valueCols).map(c => col(M)(c).as(c)): _*)
  }

  private def asofSlicedImpl(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      sliceWidthSec: Long,
      tolerance: Option[Long],
      asofTsCol: String,
      forward: Boolean): DataFrame = {
    require(sliceWidthSec > 0,
      s"sliceWidthSec must be positive, got $sliceWidthSec")
    val S = "__slice"
    val R = "__slice_pick"
    val C = "__carry"
    val usedReserved =
      (left.columns ++ right.columns).toSeq.intersect(Seq(S, R, C))
    require(usedReserved.isEmpty,
      s"sliced asof join: column names ${usedReserved.mkString(", ")} " +
        "are reserved for internal use")
    require(!Seq(S, R, C).contains(asofTsCol),
      s"sliced asof join: asofTsCol '$asofTsCol' is reserved for " +
        "internal use")
    // validates the full collision contract AND returns the value
    // columns — one derivation shared with the plain operators
    val valueCols = checkAsofContract(left, right, on, rightTime, asofTsCol)
    val w = lit(sliceWidthSec)
    val lS = left.withColumn(S, floor(epochSec(col(leftTime)) / w))
    val rS = right
      .filter(col(rightTime).isNotNull &&
        on.map(col(_).isNotNull).reduce(_ && _))
      .withColumn(S, floor(epochSec(col(rightTime)) / w))

    // Pass 1: as-of within each (keys, slice). Tolerance is NOT
    // applied here — it must act on the final stitched match.
    val local = asofImpl(lS, rS, on :+ S, leftTime, rightTime,
      tolerance = None, asofTsCol, forward)

    // Pass 2: boundary summary. perSlice is ONE row per right
    // key-slice; `slices` adds the left's key-slices so a left slice
    // with no right rows at all still receives its carry. Both frames
    // are O(distinct key-slices) — KBs per key even at 100 TB.
    val payload = struct(col(rightTime).as(asofTsCol) +:
      valueCols.map(col): _*)
    val pick =
      if (forward) min_by(payload, col(rightTime))
      else max_by(payload, col(rightTime))
    val onS = (on :+ S).map(col)
    val perSlice = rS.groupBy(onS: _*).agg(pick.as(R))
    // the slice universe takes the RIGHT side's key-slices from the
    // already-aggregated perSlice (one row each), not from a second
    // scan of the raw right table
    val slices = lS
      .filter(col(S).isNotNull && on.map(col(_).isNotNull).reduce(_ && _))
      .select(onS: _*)
      .union(perSlice.select(onS: _*))
      .distinct()
    val seq0 = Window.partitionBy(on.map(col): _*).orderBy(col(S))
    val carryCol =
      if (forward)
        first(col(R), ignoreNulls = true)
          .over(seq0.rowsBetween(1, Window.unboundedFollowing))
      else
        last(col(R), ignoreNulls = true)
          .over(seq0.rowsBetween(Window.unboundedPreceding, -1))
    val carry = slices.join(perSlice, on :+ S, "left")
      .withColumn(C, carryCol)
      .select(onS :+ col(C): _*)

    // Pass 3: stitch. The in-slice match always wins when present —
    // it is strictly closer in time than anything carried across the
    // slice boundary. Gating on the matched TIMESTAMP (not the value
    // columns) keeps a legitimately-NULL right attribute from being
    // "filled" by the carry.
    val localPayload = struct((asofTsCol +: valueCols).map(col): _*)
    val stitched = local.join(carry, on :+ S, "left")
      .withColumn(C,
        when(col(asofTsCol).isNotNull, localPayload).otherwise(col(C)))
    val inTol: Column = tolerance match {
      case Some(s) if forward =>
        epochUs(col(C)(asofTsCol)) <=
          epochUs(col(leftTime)) + lit(s * 1000000L)
      case Some(s) =>
        epochUs(col(C)(asofTsCol)) >=
          epochUs(col(leftTime)) - lit(s * 1000000L)
      case None => lit(true)
    }
    stitched
      .withColumn(C, when(inTol, col(C)))
      .select(left.columns.map(col) ++
        (asofTsCol +: valueCols).map(c => col(C)(c).as(c)): _*)
  }

  /** Point-in-interval range join: every (point, interval) pair of the
    * same key with `startCol <= pointTime < endCol` (half-open, the
    * convention every RCO window in this repo uses), inner flavor.
    *
    * Implementation: each interval row explodes into the time buckets
    * of width `bucketWidthSec` it overlaps; each point lands in exactly
    * ONE bucket; the join is a plain equi-join on (on…, bucket) plus
    * the exact containment filter. No duplicate elimination is needed —
    * a point's single bucket meets each interval at most once.
    *
    * `bucketWidthSec` tunes the expansion factor
    * (`len/width + 1` bucket rows per interval): pick it near the
    * typical interval length — [[suggestBucketWidth]] probes the
    * distribution for you. Degenerate (end < start) intervals
    * produce no buckets and thus no matches.
    *
    * `maxBucketsPerInterval`: when set, an interval whose expansion
    * exceeds the cap FAILS THE JOB with a clear error instead of
    * silently inflating the shuffle (one mis-entered year-long
    * interval at a 60 s width is half a million exploded rows; a
    * skewed interval table is millions). Production callers should
    * set it to a small multiple of their expected `len/width`.
    *
    * `joinType`: `inner`, or `left` — points in no interval survive
    * once with NULL interval columns. Left works because containment
    * rides IN the join condition (the plan stays an equi-join on
    * (keys, bucket); the range is an extra join predicate, not a
    * post-filter that would eat the outer nulls) and a point owns
    * exactly ONE bucket, so "unmatched" is decided in one place.
    * The symmetric interval-side outer does NOT exist here by
    * design: an interval owns MANY buckets, so an outer on the
    * exploded side would emit its unmatched row once per bucket —
    * compose it instead (inner join, then left-join the aggregate
    * back onto the interval table), as `ClassicQueries.rangeJoin`
    * does. */
  def intervalJoinPoints(
      points: DataFrame,
      intervals: DataFrame,
      on: Seq[String],
      pointTime: String,
      startCol: String,
      endCol: String,
      bucketWidthSec: Long,
      maxBucketsPerInterval: Option[Long] = None,
      joinType: String = "inner"): DataFrame = {
    require(bucketWidthSec > 0,
      s"bucketWidthSec must be positive, got $bucketWidthSec " +
        "(a non-positive width would flag every interval degenerate " +
        "and silently return nothing)")
    require(joinType == "inner" || joinType == "left" ||
      joinType == "left_outer",
      s"intervalJoinPoints supports inner/left joins, got $joinType " +
        "(an interval-side outer would duplicate unmatched intervals " +
        "per bucket — compose it from the inner join instead)")
    val B = "__bucket"
    val w = lit(bucketWidthSec)
    val iv = intervals.withColumn(B,
      explodedBuckets(col(startCol), col(endCol), bucketWidthSec,
        maxBucketsPerInterval))
    val pt = points.withColumn(B, floor(epochSec(col(pointTime)) / w))
    // Condition references columns THROUGH their side's frame — bare
    // col(name) is ambiguous the moment both sides share a column
    // name (e.g. points "ts" vs an interval table also carrying "ts").
    pt.join(iv,
        on.map(k => pt(k) === iv(k)).reduce(_ && _) && (pt(B) === iv(B)) &&
          pt(pointTime) >= iv(startCol) && pt(pointTime) < iv(endCol),
        joinType)
      .select(points.columns.map(pt(_)) ++
        intervals.columns.filterNot(on.contains).map(iv(_)): _*)
  }

  /** Bucket list of one interval: `[floor(s/w) .. floor(e/w)]`.
    * Guard 1: sequence(a, b) with b < a infers step -1 and would emit
    * a (potentially enormous) DESCENDING bucket list for a degenerate
    * interval — emit an empty array instead, dropping the row.
    * Guard 2 (`cap`): fail loudly on an interval that would explode
    * past the caller's expansion budget. */
  private def explodedBuckets(s: Column, e: Column, widthSec: Long,
      cap: Option[Long]): Column = {
    val w = lit(widthSec)
    val bs = floor(epochSec(s) / w)
    val be = floor(epochSec(e) / w)
    val seq = sequence(bs, be)
    val guarded = cap match {
      case Some(c) =>
        when(assert_true(be - bs < lit(c),
          concat(lit("interval expands into "), be - bs + lit(1L),
            lit(s" buckets > maxBucketsPerInterval $c at " +
              s"bucketWidthSec $widthSec — widen the bucket " +
              "(suggestBucketWidth probes the length distribution) " +
              "or clean the interval, start="), s, lit(" end="), e))
          .isNull, seq)
      case None => seq
    }
    explode(when(be >= bs, guarded).otherwise(array().cast("array<long>")))
  }

  /** Width-selection probe for the interval joins: the `percentile`
    * (default p75) interval length in seconds, floored at 1 — a
    * bucket width near the typical interval keeps the expansion
    * factor O(1) per row. ONE tiny aggregate and a single-row
    * collect (a scalar probe, not a driver loop); run it once per
    * table shape, not per query. */
  def suggestBucketWidth(intervals: DataFrame, startCol: String,
      endCol: String, percentile: Double = 0.75): Long = {
    require(percentile > 0 && percentile <= 1,
      s"percentile must be in (0, 1], got $percentile")
    val len = epochSec(col(endCol)) - epochSec(col(startCol))
    val p = intervals.filter(len > 0)
      .agg(percentile_approx(len, lit(percentile), lit(10000)))
      .head()
    if (p.isNullAt(0)) 1L else math.max(1L, p.getLong(0))
  }

  /** Interval-overlap join: every (left, right) interval pair of the
    * same key whose half-open ranges overlap
    * (`lStart < rEnd && rStart < lEnd`), inner flavor — the
    * interval × interval sibling of [[intervalJoinPoints]].
    *
    * Same bucketization, plus the FIRST-SHARED-BUCKET trick in place
    * of a dedup: two overlapping intervals co-occupy every bucket of
    * their overlap range, so the equi-join would emit the pair once
    * per shared bucket; instead the join keeps only the bucket both
    * ranges start sharing (`greatest(floor(lStart/w), floor(rStart/w))`)
    * — exactly one emission per pair, no `distinct` shuffle. The
    * exact overlap filter then discards bucket-level false positives. */
  def intervalJoinIntervals(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      lStart: String, lEnd: String,
      rStart: String, rEnd: String,
      bucketWidthSec: Long,
      maxBucketsPerInterval: Option[Long] = None): DataFrame = {
    require(bucketWidthSec > 0,
      s"bucketWidthSec must be positive, got $bucketWidthSec")
    val B = "__bucket"
    val w = lit(bucketWidthSec)
    val l = left.withColumn(B,
      explodedBuckets(col(lStart), col(lEnd), bucketWidthSec,
        maxBucketsPerInterval))
    val r = right.withColumn(B,
      explodedBuckets(col(rStart), col(rEnd), bucketWidthSec,
        maxBucketsPerInterval))
    // All bound references go THROUGH l()/r() — with bare col(...)
    // the query dies with an ambiguous-reference AnalysisException as
    // soon as both sides name a bound the same (both "start", say).
    l.join(r, on.map(k => l(k) === r(k)).reduce(_ && _) && (l(B) === r(B)))
      .filter(l(B) === greatest(
        floor(epochSec(l(lStart)) / w), floor(epochSec(r(rStart)) / w)))
      .filter(l(lStart) < r(rEnd) && r(rStart) < l(lEnd))
      .select(left.columns.map(l(_)) ++
        right.columns.filterNot(on.contains).map(r(_)): _*)
  }

  /** Generic gap sessionization: rows of the same key whose times are
    * within `gapSec` of their predecessor share a `sessionCol` id
    * (1-based per key). Gaps are compared at MICROsecond precision
    * (`gap > gapSec` exactly, not `floor(gap) > gapSec` — a 1800.5 s
    * gap must open a session at gapSec=1800). The generic API form of the engine's RCO
    * [[Sessionize]] (which adds the reference's trigger disjuncts and
    * overrides on top of this same window shape): one shuffle on the
    * keys, a lag + running sum per partition.
    *
    * Deterministic under timestamp ties WITHOUT a tiebreak column: tied
    * rows can never open a session against each other (gap 0), and
    * whichever of them the sort visits first absorbs any boundary
    * against the preceding row — every tied row ends up with the same
    * running-boundary count either way.
    *
    * Scale ceiling (measured in round 11 on a hot-key shape,
    * COVERAGE.md, Round 11 additions R2): one key's rows are ONE
    * task's serial scan. Past a single core's sort budget, use
    * [[sessionizeByGapSliced]] — session ids are a running boundary
    * count, i.e. a PREFIX SUM, which composes across time slices. */
  def sessionizeByGap(
      df: DataFrame,
      on: Seq[String],
      time: String,
      gapSec: Long,
      sessionCol: String = "session_id"): DataFrame = {
    val t = epochUs(col(time))
    val w = Window.partitionBy(on.map(col): _*).orderBy(t)
    val prev = lag(t, 1).over(w)
    val boundary =
      when(prev.isNull || t - prev > gapSec * 1000000L, 1L).otherwise(0L)
    df.withColumn(sessionCol, sum(boundary)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Time-sliced [[sessionizeByGap]] — identical session ids, per-key
    * serial work split over fixed-width time slices (the hot-key
    * escape, sibling of [[asofBackwardSliced]]).
    *
    * Why this decomposes: a row's session id is the running count of
    * session boundaries at-or-before it — a prefix sum, and prefix
    * sums compose. Per (key, slice): a local window computes each
    * row's INNER boundary count (gaps wholly inside the slice) and a
    * 3-column summary (min time, max time, inner-boundary total).
    * Per key, over the TINY slice-summary sequence (O(slices), not
    * O(rows)): whether each slice's first row opens a session (its
    * min vs the previous slice's max — the only cross-slice fact
    * needed, because timestamp ties can never straddle a slice) and
    * the cumulative boundary count entering the slice. One equi-join
    * on (key, slice) stitches: id = carry-in offset + first-row
    * boundary + inner count.
    *
    * NULL-key rows group together and get session ids exactly like
    * the plain operator (the stitch join is NULL-SAFE on the keys —
    * a plain equi-join would silently drop them). Requires non-NULL
    * `time` values (a NULL has no slice; the plain operator's NULL
    * ordering is itself undocumented — filter upstream).
    * `sliceWidthSec` only moves work between the local and carry
    * passes; any width gives identical ids (spec-asserted). */
  def sessionizeByGapSliced(
      df: DataFrame,
      on: Seq[String],
      time: String,
      gapSec: Long,
      sliceWidthSec: Long,
      sessionCol: String = "session_id"): DataFrame = {
    require(sliceWidthSec > 0,
      s"sliceWidthSec must be positive, got $sliceWidthSec")
    val S = "__slice"
    val reserved = Seq(S, "__ib", "__icum", "__mn", "__mx", "__nb",
      "__bf", "__off")
    val used = df.columns.toSeq.intersect(reserved)
    require(used.isEmpty,
      s"sessionizeByGapSliced: column names ${used.mkString(", ")} are " +
        "reserved for internal use")
    val t = epochUs(col(time))
    val gapUs = gapSec * 1000000L
    val d = df.withColumn(S, floor(epochSec(col(time)) / lit(sliceWidthSec)))
    val wLocal = Window.partitionBy((on :+ S).map(col): _*).orderBy(t)
    val prev = lag(t, 1).over(wLocal)
    val innerB =
      when(prev.isNotNull && t - prev > gapUs, 1L).otherwise(0L)
    val local = d.withColumn("__ib", innerB)
      .withColumn("__icum", sum(col("__ib"))
        .over(wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val summary = local.groupBy((on :+ S).map(col): _*)
      .agg(min(t).as("__mn"), max(t).as("__mx"), sum(col("__ib")).as("__nb"))
    val wKey = Window.partitionBy(on.map(col): _*).orderBy(col(S))
    val prevLast = lag(col("__mx"), 1).over(wKey)
    val offsets = summary
      .withColumn("__bf",
        when(prevLast.isNull || col("__mn") - prevLast > gapUs, 1L)
          .otherwise(0L))
      .withColumn("__off", coalesce(
        sum(col("__bf") + col("__nb"))
          .over(wKey.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select((on :+ S).map(col) ++ Seq(col("__bf"), col("__off")): _*)
    // NULL-SAFE stitch: every window/groupBy above treats a NULL key
    // as one group (matching the plain operator); a bare equi-join
    // here would be the one step that silently DROPS those rows. The
    // offsets side's keys are renamed first — offsets derives from
    // `local`, and a null-safe condition between same-lineage
    // attributes trips the ambiguous-self-join check.
    val keyAlias = (on :+ S).map(k => k -> s"__o_$k")
    val aliasClash = df.columns.toSeq.intersect(keyAlias.map(_._2))
    require(aliasClash.isEmpty,
      s"sessionizeByGapSliced: column names ${aliasClash.mkString(", ")} " +
        "are reserved for internal use")
    val oR = offsets.select(
      keyAlias.map { case (k, a) => col(k).as(a) } ++
        Seq(col("__bf"), col("__off")): _*)
    local.join(oR,
        keyAlias.map { case (k, a) => col(k) <=> col(a) }.reduce(_ && _))
      .select(df.columns.filterNot(_ == sessionCol).map(col) :+
        (col("__off") + col("__bf") + col("__icum")).as(sessionCol): _*)
  }
}
