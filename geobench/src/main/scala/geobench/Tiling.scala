package geobench

import graft.index.{Geohash, H3}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `tiling`: geoq's gh/h3/map tiling over the phash anchors. Each pass
  * encodes every row to its H3 res-7 cell, walks the parent pyramid
  * res 6→1, adds the packed geohash pyramid levels 1..GH_LEVELS, and counts
  * rows per tile. ALU-bound in `index`, with a small shuffle after the
  * partial aggregation. */
final class Tiling(anchors: Anchors, tiny: Boolean) extends Workload {
  val name = "tiling"
  private val repl = if (tiny) 2 else 240
  private var table: DataFrame = _

  def rowsPerPass: Long = anchors.images.toLong * repl

  def prepare(spark: SparkSession): Unit = anchors.prepare(spark)
  def load(spark: SparkSession): Unit = table = anchors.table(spark, repl)

  def ops(spark: SparkSession): Seq[Op] = {
    // H3 ids keep the top nibble 0; packed geohash ids carry their level
    // (>= 1) there, so the two pyramids never share a tile id
    val pyramid = udf((lon: Double, lat: Double) => {
      val out = new Array[Long](Tiling.DEPTH)
      val c7 = H3.latLngToCell(lat, lon, 7)
      out(0) = c7
      var r = 6
      while (r >= 1) { out(7 - r) = H3.cellToParent(c7, r); r -= 1 }
      System.arraycopy(Geohash.packedPyramid(lat, lon, Tiling.GH_LEVELS), 0, out, 7, Tiling.GH_LEVELS)
      out
    })
    Seq(Op("index.tiles", tr => {
      val agg = tr.plan {
        table.select(explode(pyramid(col("lon"), col("lat"))).as("tile"))
          .groupBy("tile").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)), sum("n"), bit_xor(xxhash64(col("tile"), col("n"))))
      }
      val r = agg.head()
      Out(r.getLong(0), s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}", r.getLong(1))
    }))
  }

  def scalingOps: Set[String] = Set("index.tiles")

  def verify(spark: SparkSession, outs: Map[String, Out], wrong: Boolean): Seq[Check] = {
    val total = outs("index.tiles").value.asInstanceOf[Long]
    val expected = rowsPerPass * Tiling.DEPTH + (if (wrong) 1 else 0)
    Seq(Check("tile counts conserve rows x pyramid depth", total == expected,
      s"sum of tile counts $total, expected $expected"))
  }

  def probes(tr: Tracer): Map[String, Double] = {
    val n = math.min(anchors.lon.length, 4000)
    val lon = anchors.lon; val lat = anchors.lat
    val c7 = Array.tabulate(n)(i => H3.latLngToCell(lat(i), lon(i), 7))
    Map(
      "index.h3_encode_ns" -> Probe.nsPerCall(tr, "index.h3_encode", n)(i => H3.latLngToCell(lat(i), lon(i), 7)),
      "index.h3_parent_ns" -> Probe.nsPerCall(tr, "index.h3_parent", n * 6)(i => H3.cellToParent(c7(i / 6), 1 + i % 6)),
      "index.gh_pyramid_ns" -> Probe.nsPerCall(tr, "index.gh_pyramid", n)(i =>
        Geohash.packedPyramid(lat(i), lon(i), Tiling.GH_LEVELS)))
  }
}

object Tiling {
  val GH_LEVELS = 6
  /** Tiles per row: H3 res 7..1 plus geohash levels 1..GH_LEVELS. */
  val DEPTH: Int = 7 + GH_LEVELS
}
