package graft.plans

import graft.functions.H3CellExpr
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Cluster deployment entry point: enable the whole engine's Catalyst
  * surface with `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`), the standard mechanism for
  * Spark-native libraries. Injects:
  *  - three optimizer rules: [[SpatialJoinRewrite]] (natural range-predicate
  *    spatial joins → cell-keyed equi-joins), [[IntervalJoinRewrite]]
  *    (temporal range joins → bucket-keyed equi-joins) and
  *    [[HammingJoinRewrite]] (Hamming-distance joins → banded equi-joins);
  *  - [[HammingJoinStrategy]] as a planner strategy, for the semi and
  *    anti joins that `EXISTS` / `NOT EXISTS` become only after the
  *    optimizer's rule batch;
  *  - `h3_cell(lat, lon, res)` as a SQL function backed by the native
  *    codegen'd [[H3CellExpr]], so `spark.sql` users get the icosahedral
  *    encoder without the DataFrame API;
  *  - `simhash64(text)` as a SQL function, so the Hamming near-dup join is
  *    writable end to end in SQL.
  *
  * For an ALREADY-RUNNING session (notebooks), [[SpatialPlanner.enable]]
  * and [[SpatialPlanner.registerSql]] install the same pieces at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SpatialJoinRewrite)
    ext.injectOptimizerRule(_ => IntervalJoinRewrite)
    ext.injectOptimizerRule(_ => HammingJoinRewrite)
    // the operator-optimization batch (where injectOptimizerRule lands)
    // runs BEFORE RewriteSubquery, so the NOT EXISTS decontamination
    // shape only becomes a LeftAnti join after the rule's batch is over —
    // the planner strategy below runs at physical planning and catches it
    // (GraftExtensionsSpec; an AQE runtime-rule injection does NOT)
    ext.injectPlannerStrategy(_ => HammingJoinStrategy)
    ext.injectFunction(GraftExtensions.h3CellFunction)
    ext.injectFunction(GraftExtensions.simhash64Function)
  }
}

object GraftExtensions {
  /** `h3_cell(lat DOUBLE, lon DOUBLE, res INT-literal) -> BIGINT`. */
  val h3CellFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = {
    val id = FunctionIdentifier("h3_cell")
    val info = new ExpressionInfo(classOf[H3CellExpr].getCanonicalName, "h3_cell")
    val builder: Seq[Expression] => Expression = { exprs =>
      require(exprs.length == 3, s"h3_cell expects (lat, lon, res), got ${exprs.length} args")
      val res = exprs(2) match {
        case Literal(i: Int, IntegerType) => i
        case Literal(l: Long, LongType)   => l.toInt
        case other =>
          throw new IllegalArgumentException(
            s"h3_cell resolution must be an integer literal, got $other")
      }
      H3CellExpr(exprs(0), exprs(1), res)
    }
    (id, info, builder)
  }

  /** `simhash64(text STRING) -> BIGINT` — the 64-bit fingerprint, so the
    * natural Hamming near-dup join is writable END-TO-END in SQL and
    * [[HammingJoinRewrite]] picks it up. */
  val simhash64Function: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = {
    val id = FunctionIdentifier("simhash64")
    val info = new ExpressionInfo(
      classOf[graft.functions.Simhash64Expr].getCanonicalName, "simhash64")
    val builder: Seq[Expression] => Expression = { exprs =>
      require(exprs.length == 1, s"simhash64 expects (text), got ${exprs.length} args")
      graft.functions.Simhash64Expr(exprs.head)
    }
    (id, info, builder)
  }
}
