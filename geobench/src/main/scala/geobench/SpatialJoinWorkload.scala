package geobench

import graft.geom.{Geo, Vincenty}
import graft.join.SpatialJoin
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `spatial_join`: the point-in-polygon / kNN half of the engine over the
  * phash anchors, a stated share of them moved into one hot cell for skew.
  * Each pass runs the box join, the geodesic dwithin join, geodesic kNN and
  * the at-scale intersects filter against seeded boxes, query points and
  * polygons. Dominated by `join` and `geom` refine plus shuffle and skew. */
final class SpatialJoinWorkload(seed: Long, anchors: Anchors, tiny: Boolean) extends Workload {
  import SpatialJoinWorkload._
  val name = "spatial_join"
  private val repl = if (tiny) 2 else 8
  private val nBoxes = if (tiny) 40 else 200
  private val nQueries = if (tiny) 8 else 24
  private val nPolys = if (tiny) 10 else 40
  private val rng = new Rng(seed * 7919L + 17)

  private val move = hotCell(seed)

  // boxes (rid, minx, miny, maxx, maxy): a tenth of them over the hot cell
  private val boxes: Seq[(Long, Double, Double, Double, Double)] = (0 until nBoxes).map { i =>
    val (cx, cy) =
      if (i % 10 == 0) (rng.between(HOT_LON - 1, HOT_LON + 1.5), rng.between(HOT_LAT - 1, HOT_LAT + 1.5))
      else (rng.between(-175, 175), rng.between(-80, 80))
    val w = rng.between(0.5, 6.0); val h = rng.between(0.5, 4.0)
    (i.toLong, cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2)
  }
  // query points (qid, qlon, qlat) within 1.5° of the hot cell: every kNN
  // query then completes in the first radius round, so the number of Spark
  // jobs per pass does not depend on the seed
  private val queries: Seq[(Long, Double, Double)] = (0 until nQueries).map { i =>
    (i.toLong, rng.between(HOT_LON - 1.5, HOT_LON + 2.0), rng.between(HOT_LAT - 1.5, HOT_LAT + 2.0))
  }
  // polygons: seeded triangles and quads of 2-8°, a fifth over the hot cell
  private val polys: Seq[(Long, String)] = (0 until nPolys).map { i =>
    val (cx, cy) =
      if (i % 5 == 0) (rng.between(HOT_LON - 1, HOT_LON + 1.5), rng.between(HOT_LAT - 1, HOT_LAT + 1.5))
      else (rng.between(-170, 170), rng.between(-70, 70))
    val r = rng.between(1.0, 4.0)
    val k = 3 + rng.int(2)
    val pts = (0 until k).map { j =>
      val a = 2 * math.Pi * j / k + rng.between(0, 0.5)
      s"${fmt(cx + r * math.cos(a))} ${fmt(cy + r * math.sin(a))}"
    }
    (i.toLong, (pts :+ pts.head).mkString("POLYGON((", ",", "))"))
  }

  private var points: DataFrame = _
  private var boxDf: DataFrame = _
  private var queryDf: DataFrame = _
  private var pointWkb: DataFrame = _
  private var polyWkb: DataFrame = _
  private var lastBits = 0.0
  private var lastOutRows = 0.0

  def rowsPerPass: Long = anchors.images.toLong * repl

  /** The anchors are prepared by the tiling half of the workload. */
  def prepare(spark: SparkSession): Unit = ()

  def load(spark: SparkSession): Unit = {
    import spark.implicits._
    points = anchors.table(spark, repl, move)
    boxDf = boxes.toDF("rid", "minx", "miny", "maxx", "maxy")
    queryDf = queries.toDF("qid", "qlon", "qlat")
    val toWkb = udf((lon: Double, lat: Double) => Geo.toWkb(Geo.point(lon, lat)))
    pointWkb = points.select(col("id"), toWkb(col("lon"), col("lat")).as("wkb")).cache()
    pointWkb.count()
    polyWkb = polys.map { case (id, wkt) => (id, Geo.toWkb(Geo.parseWkt(wkt))) }.toDF("id", "wkb")
  }

  private def box = SpatialJoin.joinPointsInBoxes(points, boxDf)
  private def dwithin = SpatialJoin.dwithinJoin(points, queryDf, RADIUS_M)
  private def knn = SpatialJoin.knnGeodesic(points, queryDf, K)
  private def intersects = SpatialJoin.filterIntersectsAtScale(pointWkb, polyWkb).select("id")

  def ops(spark: SparkSession): Seq[Op] = Seq(
    Op("join.box", tr => {
      val o = Digest.collected(tr)(box)
      lastBits = spark.conf.getOption(SpatialJoin.LAST_BITS_KEY).map(_.toDouble).getOrElse(0.0)
      o
    }),
    Op("join.dwithin", tr => Digest.collected(tr)(dwithin)),
    Op("join.knn", tr => Digest.collected(tr)(knn)),
    Op("join.intersects", tr => Digest.collected(tr)(intersects)))

  /** kNN is left out: its time is driver-side radius rounds of tiny jobs. */
  def scalingOps: Set[String] = Set("join.box", "join.dwithin", "join.intersects")

  override def tracedOps(spark: SparkSession): Seq[Op] = ops(spark).map { op =>
    Op(op.name, tr => {
      val o = op.run(tr)
      lastOutRows = (if (op.name == "join.box") 0.0 else lastOutRows) + o.rows
      o
    })
  }

  override def passMetrics: Map[String, Double] =
    Map("join.grid_bits" -> lastBits, "join.out_rows" -> lastOutRows)

  def verify(spark: SparkSession, outs: Map[String, Out], wrong: Boolean): Seq[Check] = {
    def rows(op: String): Seq[Row] = outs(op).value.asInstanceOf[Array[Row]].toSeq
    val srng = new Rng(seed * 104729L + 3)
    val n = rowsPerPass
    val sample = (0 until (if (tiny) 50 else 300)).map(_ => (srng.long() >>> 1) % n).toSet
    val at = sample.toSeq.map(id => id -> anchors.coords(id, repl, move))
    def pairs(op: String): Set[(Long, Long)] =
      rows(op).map(r => (r.getLong(0), r.getLong(1))).filter(p => sample(p._1)).toSet

    val expBox = at.flatMap { case (id, (x, y)) =>
      boxes.filter(b => x >= b._2 && x <= b._4 && y >= b._3 && y <= b._5).map(b => (id, b._1))
    }.toSet ++ (if (wrong) Set((sample.head, -1L)) else Set.empty)
    val expDwithin = at.flatMap { case (id, (x, y)) =>
      queries.filter(q => Vincenty.distanceFixed(x, y, q._2, q._3) < RADIUS_M).map(q => (id, q._1))
    }.toSet
    val polyGeoms = polys.map(p => Geo.parseWkt(p._2))
    val expIntersects = at.collect {
      case (id, (x, y)) if polyGeoms.exists(_.intersects(Geo.point(x, y))) => id
    }.toSet
    // kNN: the k nearest of ALL points (ties by id) for a few queries
    val qs = queries.take(if (tiny) 4 else 6)
    val all = (0L until n).map(id => (id, anchors.coords(id, repl, move)))
    val expKnn = qs.flatMap { case (qid, qx, qy) =>
      all.map { case (id, (x, y)) => (Vincenty.distanceFixed(x, y, qx, qy), id) }
        .sorted.take(K).zipWithIndex.map { case ((_, id), rank) => (qid, rank + 1, id) }
    }.toSet
    val qids = qs.map(_._1).toSet
    val gotKnn = rows("join.knn").map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .filter(t => qids(t._1)).toSet

    def check[T](name: String, got: Set[T], exp: Set[T]) =
      Check(name, got == exp, s"${got.size} rows, brute force ${exp.size}; " +
        s"missing ${(exp -- got).take(3)}, extra ${(got -- exp).take(3)}")
    Seq(
      check("box join = brute-force containment on a sample", pairs("join.box"), expBox),
      check("dwithin join = brute-force Vincenty on a sample", pairs("join.dwithin"), expDwithin),
      check("kNN = brute-force k nearest for sample queries", gotKnn, expKnn),
      check("intersects filter = brute-force JTS on a sample",
        rows("join.intersects").map(_.getLong(0)).filter(sample).toSet, expIntersects))
  }

  def probes(tr: Tracer): Map[String, Double] = {
    val n = math.min(rowsPerPass, 4000L).toInt
    val pts = (0 until n).map(i => anchors.coords(i.toLong, repl, move)).toArray
    anchors.probes(tr) ++ Map(
      "geom.vincenty_ns" -> Probe.nsPerCall(tr, "geom.vincenty", n) { i =>
        val q = queries(i % queries.size)
        Vincenty.distanceFixed(pts(i)._1, pts(i)._2, q._2, q._3)
      })
  }
}

object SpatialJoinWorkload {
  /** The hot-cell share of the engine's own skew evidence at 10M points
    * (STATUS.md, ScaleSmoke: 80 % of the points in one hot cell). */
  val HOT_SHARE = 0.8
  val HOT_LON = 2.0
  val HOT_LAT = 48.6
  val RADIUS_M = 100000.0
  val K = 8

  /** Moves HOT_SHARE of the rows (chosen by a hash of seed and id) into
    * the 0.5° square at (HOT_LON, HOT_LAT). */
  def hotCell(seed: Long): (Long, Double, Double) => (Double, Double) = (id, x, y) => {
    val h = graft.img.Images.splitmix64(seed * 31L + id)
    if ((h >>> 1) % 1000 < (HOT_SHARE * 1000).toLong)
      (HOT_LON + 0.5 * ((h >>> 11) & 0xFFFFF) / 1048576.0, HOT_LAT + 0.5 * ((h >>> 31) & 0xFFFFF) / 1048576.0)
    else (x, y)
  }

  def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
}
