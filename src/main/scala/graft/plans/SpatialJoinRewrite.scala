package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}
import JoinRuleSupport.Bounds

/** Catalyst optimizer rule: rewrite the NATURAL spatial predicate join
  *
  * {{{ points JOIN boxes ON x >= x0 AND x <= x1 AND y >= y0 AND y <= y1 }}}
  *
  * — which vanilla Spark can only plan as a (Broadcast)NestedLoopJoin,
  * O(|points|·|boxes|) — into the engine's cell-keyed equi-join: key each
  * point to its grid cell, explode each box to the covering cell rectangle,
  * hash-join on the cell pair, re-apply the ORIGINAL predicate as the exact
  * refinement. This is `SpatialJoin.joinPointsInBoxes` surfaced as an
  * optimizer rewrite, so users write the natural condition and still get
  * the 100 TB-correct plan.
  *
  * Correctness argument (same as the DataFrame version, SpatialJoinSpec):
  * the cell map is monotone and IDENTICAL on both sides, so a point
  * satisfying the range predicates has its cell inside the box's covering
  * rectangle — candidate generation is a pure superset step and the kept
  * original predicate decides membership. A qualifying pair matches on
  * exactly ONE cell (the point's), so no duplicates are introduced. Out-of-
  * domain coordinates clamp to the boundary cells on BOTH sides (monotone,
  * consistent), which also bounds the per-box explode at 2^bits cells/axis.
  * Strict vs inclusive bounds don't matter for the superset step; extra
  * conjuncts simply ride along in the refinement.
  *
  * Applies to Inner, LeftSemi and LeftAnti joins whose condition contains,
  * for two distinct double point-side attributes, a lower and an upper
  * bound built from the other side. LeftAnti (the scale form of the
  * reference's `--negate` filters, `commands/filter.rs:110-119`) is safe
  * for the same reason LeftSemi is: the point side keys to exactly ONE
  * cell, so cond-satisfying right rows survive the cell equi-filter
  * unduplicated — a left row has a rewritten match iff it has an original
  * match, hence identical anti semantics. The mirrored (explode-the-left)
  * form stays Inner-only. Enable with [[SpatialPlanner.enable]]
  * (`spark.experimental.extraOptimizations` — fixed-point safe via the
  * marker-column guard).
  */
object SpatialJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** 2^bits cells per axis. Default `auto`: derive the grid from the BOX
    * side's extents at rewrite time (the SQL mirror of
    * `SpatialJoin.bitsForBoxes` — without it, a 100 TB point table joined
    * against sub-degree boxes through the natural SQL predicate got the
    * fixed 620 km-cell pathology the DataFrame API's adaptive grid fixes);
    * a box side estimated above [[STATS_MAX_BYTES_KEY]] skips the stats job.
    * Pin per session with `spark.conf.set("spark.graft.spatialJoin.bits",
    * n)` to skip the stats job. */
  val BITS_KEY = "spark.graft.spatialJoin.bits"
  /** Where the rule publishes the grid it actually chose (observability —
    * same key the DataFrame API publishes). */
  val LAST_BITS_KEY: String = graft.join.SpatialJoin.LAST_BITS_KEY
  private val DEFAULT_BITS = 6

  private def confBits: Option[Int] = conf.getConfString(BITS_KEY, "auto") match {
    case "auto" => None
    case s =>
      val b = s.toInt
      // cap at 12: the box side chains two Generates, so a world-spanning
      // box explodes to (2^bits)^2 cells — 2^24 ≈ 16.7M rows worst case at
      // 12, survivable; at 20 it would be ~10^12 rows from one conf setting
      require(b >= 1 && b <= 12, s"$BITS_KEY must be in [1,12], got $b")
      Some(b)
  }

  // adaptive bits are memoized per (box-plan, bound-exprs) in the SHARED
  // graft.join.SpatialJoin.BitsMemo (one cache semantics for the DataFrame
  // API and this rule): the stats sub-query is a driver-side action at
  // OPTIMIZE time — repeated optimizations of the same join (fixed-point
  // passes, bench reps, the per-call child sessions q43/q51/q56 create)
  // must not re-run it. Keyed by plan, not session: the bits are a pure
  // function of the data the plan identifies (a hash collision or an
  // in-place rewrite serves stale bits — cost-only, the kept original
  // predicate decides membership).

  /** Planning-cost guard: the adaptive stats job prices a pruned-column
    * agg over the box side, which is unbounded for arbitrary user SQL —
    * above this logical-stats size the rule skips the job and keeps the
    * fixed default (pin [[BITS_KEY]] to tune such joins explicitly).
    * Conf-tunable: a deployment whose box dimension tables legitimately
    * exceed the default 256 MB raises it instead of pinning bits. The
    * interval rule honours the same key. */
  val STATS_MAX_BYTES_KEY = "spark.graft.spatialJoin.statsMaxBytes"

  /** The grid for one rewrite: the pinned conf value, else the box-extent
    * derivation over the (small) box side. Both rule axes are mapped by
    * the SAME 360°-wide [[cellIdx]], so the shared formula
    * `SpatialJoin.bitsFromExtents` is called with spanX = spanY = 360
    * (each component then dominates the DataFrame API's lon/lat-split
    * call, hence the rule's adaptive grid is never coarser than
    * `bitsForBoxes` on the same table — asserted in SpatialJoinSpec).
    * The stats job's guards (size, reentrancy, failure → the fixed
    * default) are [[JoinRuleSupport.statsDerived]]'s; the size conf is
    * only consulted — and so only validated — on this adaptive path, so
    * pinned-bits sessions never fail on a malformed value. */
  private def gridBits(boxSide: LogicalPlan, bx: Bounds, by: Bounds): Int = {
    val b = confBits.getOrElse {
      JoinRuleSupport.statsDerived(boxSide, "rule", Seq(bx.lower, bx.upper, by.lower, by.upper),
          DEFAULT_BITS,
          Seq(Alias(Subtract(bx.upper, bx.lower), "dx")(), Alias(Subtract(by.upper, by.lower), "dy")()),
          "percentile_approx(dx, 0.5, 100) AS ex", "percentile_approx(dy, 0.5, 100) AS ey",
          "max(dx) AS mx", "max(dy) AS my") { row =>
        if (row.isNullAt(0) || row.isNullAt(1)) DEFAULT_BITS
        else graft.join.SpatialJoin.bitsFromExtents(
          row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3),
          spanX = 360.0, spanY = 360.0)
      }
    }
    JoinRuleSupport.publish(LAST_BITS_KEY, b)
    b
  }

  private val GX = "__graft_gx"
  private val GY = "__graft_gy"

  /** Monotone clamped grid index — float op order identical on both sides
    * (mirror of SpatialJoin.cellCols with a lower clamp for unbounded
    * domains). */
  private def cellIdx(e: Expression, l: Long): Expression =
    Greatest(Seq(
      Least(Seq(
        Floor(Multiply(Divide(Add(e, Literal(180.0)), Literal(360.0)), Literal(l.toDouble))),
        Literal(l - 1))),
      Literal(0L)))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, jt @ (Inner | LeftSemi | LeftAnti), Some(cond), hint)
        if j.resolved &&
          !left.output.exists(_.name == GX) && !right.output.exists(_.name == GX) =>
      val conjuncts = splitConjunctivePredicates(cond)
      // rescue ONLY would-be nested-loop joins: any existing cross-side
      // equality conjunct already gives the planner a hash-join key, and
      // rewriting would just add a redundant explode (this also makes the
      // rule a no-op on its own output — fixed-point safe twice over)
      val hasEquiKey = JoinRuleSupport.hasCrossSideEquiKey(conjuncts, left, right)
      // point coords on the LEFT (explode the right side) — works for
      // Inner, LeftSemi and LeftAnti. Mirrored form (coords on the RIGHT,
      // explode the LEFT) only for Inner: exploding the left side would
      // let a LeftSemi/LeftAnti emit one row per matching cell.
      def boundsOf(pts: LogicalPlan, boxes: LogicalPlan) =
        JoinRuleSupport.rangeBounds(conjuncts, pts, boxes, _ == DoubleType)
      val axesL = if (hasEquiKey) AttributeMap.empty[Bounds] else boundsOf(left, right)
      val axesR =
        if (hasEquiKey || axesL.size >= 2 || jt != Inner) AttributeMap.empty[Bounds]
        else boundsOf(right, left)
      if (axesL.size < 2 && axesR.size < 2) j
      else {
        val pointsOnLeft = axesL.size >= 2
        val (ptsSide, boxSide, axes) =
          if (pointsOnLeft) (left, right, axesL) else (right, left, axesR)
        // deterministic axis pick: the two bounded attributes in output order
        val Seq(xa, ya) = ptsSide.output.filter(axes.contains).take(2)
        val bx = axes(xa); val by = axes(ya)
        val l = 1L << gridBits(boxSide, bx, by)
        // point side: one cell per row
        val pgx = Alias(cellIdx(xa, l), GX)()
        val pgy = Alias(cellIdx(ya, l), GY)()
        val pts = Project(ptsSide.output :+ pgx :+ pgy, ptsSide)
        // box side: explode the covering cell rectangle
        val bgxAttr = AttributeReference(GX, LongType, nullable = false)()
        val bgyAttr = AttributeReference(GY, LongType, nullable = false)()
        // Sequence is TimeZoneAwareExpression: the analyzer normally fills
        // the zone in — an optimizer rule must set it or the plan reports
        // unresolved
        def seqOf(a: Expression, b: Expression) =
          Sequence(a, b, None, Some(conf.sessionLocalTimeZone))
        val genX = Generate(
          Explode(seqOf(cellIdx(bx.lower, l), cellIdx(bx.upper, l))),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(bgxAttr), child = boxSide)
        val genY = Generate(
          Explode(seqOf(cellIdx(by.lower, l), cellIdx(by.upper, l))),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(bgyAttr), child = genX)
        val newCond = And(And(
          EqualTo(pgx.toAttribute, bgxAttr),
          EqualTo(pgy.toAttribute, bgyAttr)), cond)
        // children keep the ORIGINAL left/right order so the join output
        // (and LeftSemi semantics) are untouched
        val rewritten =
          if (pointsOnLeft) Join(pts, genY, jt, Some(newCond), hint)
          else Join(genY, pts, jt, Some(newCond), hint)
        Project(j.output, rewritten)
      }
  }
}

/** Runtime entry points for live sessions; new sessions should prefer
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
object SpatialPlanner {
  /** Opt the session into the spatial, temporal AND similarity join
    * rewrites. */
  def enable(spark: SparkSession): Unit = {
    var cur = spark.experimental.extraOptimizations
    if (!cur.contains(SpatialJoinRewrite)) cur = cur :+ SpatialJoinRewrite
    if (!cur.contains(IntervalJoinRewrite)) cur = cur :+ IntervalJoinRewrite
    if (!cur.contains(HammingJoinRewrite)) cur = cur :+ HammingJoinRewrite
    spark.experimental.extraOptimizations = cur
    // planning-time twin, mirroring the GraftExtensions registration: the
    // extraOptimizations batch happens to run after RewriteSubquery, but
    // the strategy makes EXISTS/NOT EXISTS coverage independent of batch
    // ordering on both enable paths
    val strats = spark.experimental.extraStrategies
    if (!strats.contains(HammingJoinStrategy))
      spark.experimental.extraStrategies = strats :+ HammingJoinStrategy
  }

  /** Register `h3_cell(lat, lon, res)` and `simhash64(text)` for
    * `spark.sql` users on an already-running session. */
  def registerSql(spark: SparkSession): Unit = {
    Seq(GraftExtensions.h3CellFunction, GraftExtensions.simhash64Function)
      .foreach { case (id, info, builder) =>
        org.apache.spark.sql.graft.bridge.registerFunction(spark, id, info, builder)
      }
  }
}
