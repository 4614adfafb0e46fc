package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the geohash-from-indices encode: one
  * leaf node calling `Geohash.fromIndices` (the kernel) instead of the
  * former ~40·len-node composed-builtin tree (5 shifts/masks/ors + substr
  * per char, concat over len chars). The behavior on the query domain is
  * identical — the composed tree was the MIRROR of this very kernel; the
  * SpatialJoinSpec differential now checks both call paths against
  * `Geohash.encode` at cell centres — but the plan the
  * analyzer/optimizer walk shrinks from hundreds of expression nodes to
  * one (q02's plan dump 4.3 KB → 1.0 KB). Measured planning-neutral: the
  * per-rep planning floor was the datasource resolution, not the tree
  * (OPTIMIZATION_r08.md "The per-rep planning floor"). The interpreted path
  * (`nullSafeEval`) calls the same kernel, so codegen-on and codegen-off
  * plans agree by construction (the H3CellExpr pattern).
  *
  * Domain note: the kernel uses logical shifts (`>>>`) where the composed
  * tree used arithmetic `shiftright` — identical for the non-negative
  * clamped indices every call site produces (the lonIdxCol/latIdxCol
  * GREATEST(…, 0) clamp exists precisely to keep this domain). */
case class GeohashExpr(left: Expression, right: Expression, len: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def prettyName: String = "geohash_cell"

  override protected def nullSafeEval(lonIdx: Any, latIdx: Any): Any =
    UTF8String.fromString(graft.index.Geohash.fromIndices(
      lonIdx.asInstanceOf[Long], latIdx.asInstanceOf[Long], len))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lo, la) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.index.Geohash.fromIndices($lo, $la, $len))")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
