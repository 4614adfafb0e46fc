package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** Scaffolding shared by the three natural-join rewrites
  * ([[SpatialJoinRewrite]], [[IntervalJoinRewrite]], [[HammingJoinRewrite]]):
  * the cross-side operand test, the range-bound matcher, and the
  * memoized, size- and reentrancy-guarded stats job behind the adaptive
  * grid/width. */
private[plans] object JoinRuleSupport {

  /** `(x, y)` reordered so the first operand reads only `left` and the
    * second only `right`; None when they do not straddle the join. */
  def crossSide(x: Expression, y: Expression, left: LogicalPlan,
                right: LogicalPlan): Option[(Expression, Expression)] = {
    def on(e: Expression, side: LogicalPlan) =
      e.references.nonEmpty && e.references.subsetOf(side.outputSet)
    if (on(x, left) && on(y, right)) Some((x, y))
    else if (on(x, right) && on(y, left)) Some((y, x))
    else None
  }

  /** Some conjunct is an equality across the two sides: the planner
    * already has a hash-join key, so a rewrite would only add a redundant
    * explode (this also makes each rule a no-op on its own output). */
  def hasCrossSideEquiKey(conjuncts: Seq[Expression], left: LogicalPlan,
                          right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) => crossSide(a, b, left, right).isDefined
      case _ => false
    }

  final case class Bounds(lower: Expression, upper: Expression)

  /** For each `left` attribute of a type passing `ofType` that is bounded
    * from below AND above by deterministic `right`-side expressions of such
    * a type, its (first-seen) bounds. Strict and inclusive bounds match
    * alike: the rewrites only generate candidates and keep the original
    * predicate as the refinement. */
  def rangeBounds(conjuncts: Seq[Expression], left: LogicalPlan, right: LogicalPlan,
                  ofType: DataType => Boolean): AttributeMap[Bounds] = {
    def attr(e: Expression): Option[Attribute] = e match {
      case a: AttributeReference if ofType(a.dataType) && left.outputSet.contains(a) => Some(a)
      case _ => None
    }
    def isBound(e: Expression): Boolean =
      ofType(e.dataType) && e.references.nonEmpty &&
        e.references.subsetOf(right.outputSet) && e.deterministic
    val lowers = scala.collection.mutable.Map[Attribute, Expression]()
    val uppers = scala.collection.mutable.Map[Attribute, Expression]()
    // `a` op `b` with `a` the bounded attribute: record `b`, report a match
    def bound(a: Expression, b: Expression, lower: Boolean): Boolean =
      attr(a).filter(_ => isBound(b)).exists { x =>
        (if (lower) lowers else uppers).getOrElseUpdate(x, b)
        true
      }
    conjuncts.foreach {
      case GreaterThanOrEqual(a, b) => bound(a, b, lower = true) || bound(b, a, lower = false)
      case GreaterThan(a, b) => bound(a, b, lower = true) || bound(b, a, lower = false)
      case LessThanOrEqual(a, b) => bound(a, b, lower = false) || bound(b, a, lower = true)
      case LessThan(a, b) => bound(a, b, lower = false) || bound(b, a, lower = true)
      case _ =>
    }
    // AttributeMap keys by exprId — SQL-sourced condition attributes carry
    // view qualifiers that defeat plain case-class equality against output
    AttributeMap(lowers.keySet.intersect(uppers.keySet).map { a =>
      a -> Bounds(lowers(a), uppers(a))
    }.toSeq)
  }

  // `SpatialJoinRewrite.STATS_MAX_BYTES_KEY`, validated LOUDLY and
  // outside the stats job's NonFatal fallback, so a malformed value (e.g.
  // a "1g" suffix) fails the query instead of silently pinning every join
  // to the fixed default
  private def statsMaxBytes: BigInt = {
    val key = SpatialJoinRewrite.STATS_MAX_BYTES_KEY
    val s = SQLConf.get.getConfString(key, (256L << 20).toString)
    try BigInt(s.toLong)
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$key must be a plain byte count, got '$s'")
    }
  }

  // reentrancy guard for the stats sub-query: running it re-enters the
  // optimizer, so a bounds side that ITSELF contains another rewritable
  // natural join would fire a rule recursively and launch nested stats
  // jobs (depth bounded only by query nesting; a StackOverflowError from a
  // deep plan is fatal, not NonFatal). One guard for every rule: inside
  // ANY rule's stats job an inner rewrite keeps its fixed default — the
  // inner join still plans as an equi-join, just untuned, and the OUTER
  // memoized choice is unaffected.
  private val inStatsJob = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** An adaptive parameter (>= 1) from ONE aggregation over `side`:
    * `project` over `side`, then `aggs`, then `derive` on the single row.
    * Memoized in the shared [[graft.join.SpatialJoin.BitsMemo]] under
    * `prefix` + the side's plan key + a digest of `bounds` — keyed
    * POSITIONALLY: expression-level canonicalization keeps
    * AttributeReference exprIds, fresh on every analysis, so binding to
    * ordinals in the side's output makes equal-shaped queries (bench reps,
    * repeated SQL) key equal. Returns `default` without a job when the side
    * is estimated above [[SpatialJoinRewrite.STATS_MAX_BYTES_KEY]] or the
    * call comes from inside a running stats job, and when the job fails
    * (streaming child, no active session). */
  def statsDerived(side: LogicalPlan, prefix: String, bounds: Seq[Expression],
                   default: Int, project: Seq[NamedExpression], aggs: String*)
                  (derive: Row => Int): Int =
    if (inStatsJob.get) default
    else {
      val maxBytes = statsMaxBytes
      try {
        if (side.stats.sizeInBytes > maxBytes) default
        else {
          val boundExprs = bounds.map { e =>
            BindReferences.bindReference(e, side.output).toString
          }.mkString(",")
          val key = prefix + "|" + graft.join.SpatialJoin.planKey(side) +
            "|" + graft.join.SpatialJoin.planDigest(boundExprs)
          graft.join.SpatialJoin.BitsMemo.getOrCompute(key) {
            val spark = SparkSession.active
            inStatsJob.set(java.lang.Boolean.TRUE)
            val row =
              try org.apache.spark.sql.graft.bridge.ofRows(spark, Project(project, side))
                .selectExpr(aggs: _*).head()
              finally inStatsJob.set(java.lang.Boolean.FALSE)
            derive(row)
          }
        }
      } catch { case scala.util.control.NonFatal(_) => default }
    }

  /** Publish the parameter a rewrite chose (observability); best effort. */
  def publish(key: String, v: Int): Unit =
    try SQLConf.get.setConfString(key, v.toString)
    catch { case scala.util.control.NonFatal(_) => () }
}
