package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, First}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst optimizer rule: rewrite the NATURAL Hamming-distance join
  *
  * {{{ a JOIN b ON bit_count(a.sim ^ b.sim) <= k }}}
  *
  * — which vanilla Spark can only plan as a (Broadcast)NestedLoopJoin,
  * a full cross product at any scale — into the engine's PIGEONHOLE
  * banded equi-join (the q61 plan, surfaced for SQL users; the
  * similarity sibling of [[SpatialJoinRewrite]]/[[IntervalJoinRewrite]]):
  * both sides explode to `bands` (band, 16-bit-key) rows, hash-join on
  * (band, key), and the ORIGINAL popcount predicate refines exactly.
  *
  * Correctness:
  *  - completeness: with `bands` > k disjoint bands, ≤ k differing bits
  *    cannot touch every band, so every qualifying pair agrees on at
  *    least one whole band — candidate generation is a superset;
  *  - multiplicity (Inner): a pair agreeing on several bands would
  *    duplicate, so the join keeps only the MINIMAL agreeing band via
  *    the unrolled row-local filter AND_{b'<band}(key_b'(l) ≠ key_b'(r))
  *    — each qualifying (l, r) combination survives in exactly one band
  *    row pair, preserving Inner multiplicity without a Distinct;
  *  - multiplicity (LeftSemi/LeftAnti — the decontamination shapes
  *    `EXISTS` / `NOT EXISTS` a near-dup in the eval set): the preserved
  *    side is exploded, so the rewrite first tags each left row with a
  *    MonotonicallyIncreasingID and re-collapses the band rows by
  *    (rid, left.*) after the banded semi/anti join. Semi: a left row
  *    matched iff ≥ 1 of its band rows semi-survives — the group-by
  *    yields it exactly once (rid keeps bitwise-identical duplicates
  *    apart, as Semi semantics demand). Anti: a left row has NO match
  *    iff ALL `bands` of its band rows anti-survive (pigeonhole: a real
  *    match agrees on ≥ 1 whole band), so the group-by counts survivors
  *    and keeps count == bands.
  *
  * `bands` is the smallest power-of-two divisor of the fingerprint
  * width exceeding k (k ≤ 3 → 4×16 bits, the q61 configuration; larger
  * k degrades gracefully to narrower bands). 64-bit (LongType)
  * fingerprints only — the engine's standard; 32-bit keys cap the band
  * key space at 2⁸ (the round-6 q61 finding).
  */
object HammingJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val HB = "__graft_hb"
  private val BITS = 64

  /** (leftSim, rightSim, k, the matched conjunct) when some conjunct is
    * the popcount-of-xor bound with one side's fingerprint on each join
    * side. The conjunct rides along so the rewrite can REPLACE it with a
    * refine over projected fingerprint attributes — leaving the original
    * in the join condition would re-evaluate a non-trivial fingerprint
    * expression (e.g. simhash64(text)) per candidate pair. */
  private def hammingBound(conjuncts: Seq[Expression], left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Int, Expression)] = {
    def kOf(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, LongType) => Some(v.toInt)
      case _ => None
    }
    def sides(x: Expression, y: Expression) = JoinRuleSupport.crossSide(x, y, left, right)
    conjuncts.iterator.flatMap { c =>
      (c match {
        case LessThanOrEqual(BitwiseCount(BitwiseXor(x, y)), kl) =>
          for (k <- kOf(kl); (l, r) <- sides(x, y)) yield (l, r, k)
        case GreaterThanOrEqual(kl, BitwiseCount(BitwiseXor(x, y))) =>
          for (k <- kOf(kl); (l, r) <- sides(x, y)) yield (l, r, k)
        case LessThan(BitwiseCount(BitwiseXor(x, y)), kl) =>
          for (k <- kOf(kl); (l, r) <- sides(x, y)) yield (l, r, k - 1)
        case GreaterThan(kl, BitwiseCount(BitwiseXor(x, y))) =>
          for (k <- kOf(kl); (l, r) <- sides(x, y)) yield (l, r, k - 1)
        case _ => None
      }).map { case (l, r, k) => (l, r, k, c) }
    }.collectFirst { case t if t._1.dataType == LongType &&
      t._2.dataType == LongType && t._3 >= 0 && t._3 < BITS => t }
  }

  /** Fingerprints that are not bare attributes (the simhash64(text) SQL
    * surface) are computed ONCE in a Project below the bander — embedding
    * the raw expression in band keys, minimality terms, and the refine
    * would hash the text O(bands) times per row and per candidate pair,
    * and drag the full text column through the band-row exchange. */
  private def ensureAttr(side: LogicalPlan, fp: Expression): (LogicalPlan, Attribute) =
    fp match {
      case a: Attribute => (side, a)
      case e =>
        val al = Alias(e, HB + "_fp")()
        (Project(side.output :+ al, side), al.toAttribute)
    }

  private def bandKey(sim: Expression, band: Int, w: Int): Expression =
    BitwiseAnd(ShiftRight(sim, Literal(band * w)), Literal((1L << w) - 1))

  /** Explode `side` to one row per band with its 16-bit key. */
  private def banded(side: LogicalPlan, sim: Expression, bands: Int, w: Int)
  : (LogicalPlan, Attribute, Attribute) = {
    val bandAttr = AttributeReference(HB + "_b", IntegerType, nullable = false)()
    val gen = Generate(
      Explode(CreateArray((0 until bands).map(b => Literal(b)))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(bandAttr), child = side)
    // key = (sim >> band*w) & mask, computed once in a Project so the
    // equi-key extractor sees a bare attribute on each side
    val keyAlias = Alias(
      CaseWhen((0 until bands).map(b =>
        (EqualTo(bandAttr, Literal(b)), bandKey(sim, b, w))), None), HB + "_k")()
    val proj = Project(gen.output :+ keyAlias, gen)
    (proj, bandAttr, keyAlias.toAttribute)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j: Join => rewriteJoin(j)
  }

  /** The single-join rewrite, shared by the optimizer-rule path (above)
    * and [[HammingJoinStrategy]] (the physical-planning path that catches
    * joins born AFTER the operator-optimization batch — RewriteSubquery
    * turns `NOT EXISTS` into a LeftAnti join only once that batch is
    * over, so a rule-only registration would silently nested-loop the
    * advertised SQL decontamination shape; GraftExtensionsSpec pins the
    * `spark.sql.extensions` path end-to-end).
    * Returns `j` unchanged when the pattern doesn't match. */
  def rewriteJoin(j: Join): LogicalPlan = j match {
    case Join(left, right, jt @ (Inner | LeftSemi | LeftAnti), Some(cond), hint)
        if j.resolved &&
          !left.output.exists(_.name.startsWith(HB)) &&
          !right.output.exists(_.name.startsWith(HB)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      if (JoinRuleSupport.hasCrossSideEquiKey(conjuncts, left, right)) j
      else hammingBound(conjuncts, left, right) match {
        case None => j
        case Some((ls0, rs0, k, hamConj)) =>
          val bands = Seq(2, 4, 8, 16, 32, 64).find(_ > k).get
          val w = BITS / bands
          val (leftF, ls) = ensureAttr(left, ls0)
          val (rightF, rs) = ensureAttr(right, rs0)
          // the original popcount conjunct, re-expressed over the (possibly
          // projected) fingerprint attributes; other conjuncts ride unchanged
          val refine = LessThanOrEqual(BitwiseCount(BitwiseXor(ls, rs)), Literal(k))
          val rest = conjuncts.filterNot(_ eq hamConj)
          jt match {
            case Inner =>
              val (lp, lb, lk) = banded(leftF, ls, bands, w)
              val (rp, rb, rk) = banded(rightF, rs, bands, w)
              // minimal-band filter: no EARLIER band key also agrees — each
              // qualifying pair survives in exactly one band row pair
              val minimality = (0 until bands - 1).map { b =>
                Or(LessThanOrEqual(lb, Literal(b)),
                  Not(EqualTo(bandKey(ls, b, w), bandKey(rs, b, w))))
              }.reduceLeft(And)
              val newCond = (Seq(EqualTo(lb, rb), EqualTo(lk, rk), minimality, refine) ++ rest)
                .reduceLeft(And)
              Project(j.output, Join(lp, rp, Inner, Some(newCond), hint))
            case semiOrAnti =>
              rewriteSemiAnti(leftF, rightF, left.output, semiOrAnti,
                (refine +: rest).reduceLeft(And), ls, rs, bands, w, hint)
          }
      }
    case _ => j
  }

  /** Semi/Anti via tag-explode-recollapse: rid = MonotonicallyIncreasingID
    * on the preserved side, banded Semi/Anti join on (band, key) + the
    * refine, then re-collapse by rid ALONE — the payload columns come back
    * through First (every band row of a group is bitwise-identical, so
    * First is deterministic). Grouping on rid only matters twice: left
    * relations may carry UNGROUPABLE column types (maps), and the
    * NormalizeFloatingNumbers batch would rewrite float grouping keys
    * (-0.0 → 0.0, NaN canonicalization) — a semi/anti join must return
    * left rows byte-unchanged. Semi keeps every group (≥ 1 band row
    * matched); Anti keeps groups where ALL `bands` band rows anti-survived
    * (count == bands — pigeonhole: a real match agrees on at least one
    * whole band). rid keeps bitwise-identical left duplicates apart, as
    * Semi/Anti multiplicity demands; the payload aliases reuse the
    * original exprIds so the outer Project resolves untouched. */
  private def rewriteSemiAnti(leftF: LogicalPlan, right: LogicalPlan,
      leftOut: Seq[Attribute], jt: JoinType, cond: Expression,
      ls: Expression, rs: Expression,
      bands: Int, w: Int, hint: JoinHint): LogicalPlan = {
    val ridAlias = Alias(MonotonicallyIncreasingID(), HB + "_rid")()
    val leftTagged = Project(leftF.output :+ ridAlias, leftF)
    val (lp, lb, lk) = banded(leftTagged, ls, bands, w)
    val (rp, rb, rk) = banded(right, rs, bands, w)
    val newCond = Seq(EqualTo(lb, rb), EqualTo(lk, rk), cond).reduceLeft(And)
    val core = Join(lp, rp, jt, Some(newCond), hint)
    val grouping = Seq(ridAlias.toAttribute)
    val payload: Seq[NamedExpression] = leftOut.map { a =>
      Alias(First(a, ignoreNulls = false).toAggregateExpression(), a.name)(a.exprId)
    }
    jt match {
      case LeftSemi =>
        Project(leftOut, Aggregate(grouping, payload, core))
      case _ => // LeftAnti
        val cnt = Alias(Count(Literal(1)).toAggregateExpression(), HB + "_c")()
        val agg = Aggregate(grouping, payload :+ cnt, core)
        Project(leftOut,
          Filter(EqualTo(cnt.toAttribute, Literal(bands.toLong)), agg))
    }
  }
}

/** Physical-planning twin of [[HammingJoinRewrite]]: strategies run AFTER
  * every optimizer batch, so this catches the LeftAnti/LeftSemi joins that
  * RewriteSubquery manufactures from `NOT EXISTS` / `EXISTS` — which the
  * operator-optimization batch (where injected optimizer rules live) never
  * sees. On a match it hands the banded logical plan back to the planner
  * via planLater; on the rewritten inner join (which HAS equi keys) the
  * guard declines, so rule + strategy never loop. */
object HammingJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.execution.SparkPlan
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: Join =>
      val rewritten = HammingJoinRewrite.rewriteJoin(j)
      if (rewritten eq j) Nil else Seq(planLater(rewritten))
    case _ => Nil
  }
}
