package graft.functions

import org.apache.spark.sql.Column

/** Column-native (whole-stage-codegen'd) encoders for the hot key paths —
  * native Catalyst expressions, no UDF boxing — pinned to the imperative
  * kernels by differential tests (SpatialJoinSpec).
  */
object GeoCols {

  /** Geohash string from pre-quantized cell indices — a single native
    * codegen'd [[GeohashExpr]] node calling `Geohash.fromIndices` (the
    * kernel). Replaced the composed-builtin mirror (5 shifts/masks/ors +
    * substr per char + concat — ~40·len expression nodes) whose tree made
    * Catalyst planning a measured 20–30% of the q02–q05 bench wall. The
    * differential spec checks it against `Geohash.encode` at cell centres
    * with codegen on and off. */
  def ghCol(lonIdx: Column, latIdx: Column, len: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(GeohashExpr(
      bridge.expression(lonIdx.cast("long")), bridge.expression(latIdx.cast("long")), len))
  }
}
