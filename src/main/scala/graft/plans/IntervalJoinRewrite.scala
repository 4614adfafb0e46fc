package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import JoinRuleSupport.Bounds

/** Catalyst optimizer rule: rewrite the NATURAL temporal range join
  *
  * {{{ events JOIN windows ON ts >= start AND ts < end }}}
  *
  * — which vanilla Spark can only plan as a (Broadcast)NestedLoopJoin —
  * into the engine's bucket-keyed equi-join: the event side keys to ONE
  * power-of-two-microsecond bucket, the window side explodes to its
  * covering bucket range, hash-join on the bucket, re-apply the ORIGINAL
  * predicate as the exact refinement. This is `IntervalJoin
  * .joinPointsInIntervals` surfaced for SQL users, the temporal sibling
  * of [[SpatialJoinRewrite]].
  *
  * Correctness: `quot(µs, w)` (integral division) is monotone for w > 0,
  * so `lo ≤ t ∧ t ≤/<
  * hi ⇒ bucket(t) ∈ [bucket(lo), bucket(hi)]` — candidate generation is
  * a pure superset step regardless of bound strictness, and the kept
  * original predicate decides membership. A qualifying pair matches on
  * exactly ONE bucket (the event's), so no duplicates: Inner, LeftSemi
  * and LeftAnti all keep their semantics (the [[SpatialJoinRewrite]]
  * argument, one axis). TIMESTAMP and TIMESTAMP_NTZ both match (NTZ is
  * cast in the session zone, identically on both sides).
  *
  * The bucket width is stats-derived at optimize time (median/max window
  * length through [[JoinRuleSupport.statsDerived]], the same memo,
  * reentrancy guard, and `statsMaxBytes` size guard as the spatial rule;
  * `spark.graft.intervalJoin.widthPow` pins it) and
  * published to [[graft.join.IntervalJoin.LAST_POW_KEY]]. The AUTO width
  * self-bounds the per-window explode at ~129 buckets (the max/64 rule);
  * a pinned width against longer windows fails in Spark's sequence
  * allocation — pin with care or stay on auto.
  */
object IntervalJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val WIDTH_POW_KEY = "spark.graft.intervalJoin.widthPow"
  private val DEFAULT_POW = 20 // ~1 s buckets

  private val TB = "__graft_tb"

  private def confPow: Option[Int] = conf.getConfString(WIDTH_POW_KEY, "auto") match {
    case "auto" => None
    case s =>
      val p = s.toInt
      require(p >= 1 && p <= 62, s"$WIDTH_POW_KEY must be in [1,62], got $p")
      Some(p)
  }

  /** Cast to TIMESTAMP (µs instant) in the session zone — identical on
    * both sides, so the bucket map stays monotone-consistent. */
  private def toMicros(e: Expression): Expression =
    UnixMicros(e.dataType match {
      case TimestampType => e
      case _ => Cast(e, TimestampType, Some(conf.sessionLocalTimeZone))
    })

  private def widthPow(winSide: LogicalPlan, b: Bounds): Int = {
    val p = confPow.getOrElse {
      JoinRuleSupport.statsDerived(winSide, "ivrule", Seq(b.lower, b.upper), DEFAULT_POW,
          Seq(Alias(Subtract(toMicros(b.upper), toMicros(b.lower)), "len")()),
          "percentile_approx(len, 0.5, 100) AS med", "max(len) AS mx") { row =>
        if (row.isNullAt(0)) DEFAULT_POW
        else graft.join.IntervalJoin.widthPowForLens(
          row.getLong(0).toDouble, row.getLong(1).toDouble)
      }
    }
    JoinRuleSupport.publish(graft.join.IntervalJoin.LAST_POW_KEY, p)
    p
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, jt @ (Inner | LeftSemi | LeftAnti), Some(cond), hint)
        if j.resolved &&
          !left.output.exists(_.name == TB) && !right.output.exists(_.name == TB) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hasEquiKey = JoinRuleSupport.hasCrossSideEquiKey(conjuncts, left, right)
      // defer to the 2-D spatial rule where it applies: a join that ALSO
      // has two double range axes is spatial, not temporal
      def boundsOf(pts: LogicalPlan, wins: LogicalPlan) =
        JoinRuleSupport.rangeBounds(conjuncts, pts, wins,
          t => t == TimestampType || t == TimestampNTZType)
      val axesL = if (hasEquiKey) AttributeMap.empty[Bounds] else boundsOf(left, right)
      val axesR =
        if (hasEquiKey || axesL.nonEmpty || jt != Inner) AttributeMap.empty[Bounds]
        else boundsOf(right, left)
      if (axesL.isEmpty && axesR.isEmpty) j
      else {
        val pointsOnLeft = axesL.nonEmpty
        val (ptsSide, winSide, axes) =
          if (pointsOnLeft) (left, right, axesL) else (right, left, axesR)
        val ta = ptsSide.output.filter(axes.contains).head
        val b = axes(ta)
        val w = 1L << widthPow(winSide, b)
        def bucket(e: Expression): Expression =
          IntegralDivide(toMicros(e), Literal(w))
        val pb = Alias(bucket(ta), TB)()
        val pts = Project(ptsSide.output :+ pb, ptsSide)
        val wbAttr = AttributeReference(TB, LongType, nullable = true)()
        def seqOf(a: Expression, b2: Expression) =
          Sequence(a, b2, None, Some(conf.sessionLocalTimeZone))
        // Drop inverted/empty windows BEFORE the explode, as the API path
        // does (IntervalJoin.joinPointsInIntervals): sequence() walks an
        // inverted range BACKWARDS, so one corrupted row with swapped
        // bounds spanning years would allocate millions of buckets and
        // fail the whole query. Such a row matches nothing under the
        // kept original predicate, so the filter is semantics-preserving
        // (winSide is never the preserved side of a Semi/Anti here); a
        // NULL comparison drops the row exactly as Explode(NULL) would.
        val ordered = Filter(
          LessThanOrEqual(bucket(b.lower), bucket(b.upper)), winSide)
        val gen = Generate(
          Explode(seqOf(bucket(b.lower), bucket(b.upper))),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(wbAttr), child = ordered)
        val newCond = And(EqualTo(pb.toAttribute, wbAttr), cond)
        val rewritten =
          if (pointsOnLeft) Join(pts, gen, jt, Some(newCond), hint)
          else Join(gen, pts, jt, Some(newCond), hint)
        Project(j.output, rewritten)
      }
  }
}
