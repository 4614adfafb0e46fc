package geobench

import graft.core.Entity
import graft.geom.{Geo, Json}
import graft.index.{Geohash, H3, H3Cover}
import graft.ops.GeoOps
import org.apache.spark.sql.{Dataset, SparkSession}

/** `geoq_stream`: geoq's own stream model. Seeded mixed-format lines, the
  * eight input formats of FIXTURES.md §1 in equal parts, led by a fixed
  * set of golden lines; each pass parses
  * the stream and runs `wkt`, `gj f`, `gh covering 3`, `h3 covering 4` and
  * `filter intersects`, collecting every output line in input order. Uses
  * `core`/`geom` for parse and serialise and `index` for polygon covering;
  * no image decode and no large join. */
final class GeoqStream(seed: Long, tiny: Boolean) extends Workload {
  import GeoqStream._
  val name = "geoq_stream"
  private val generated = if (tiny) 300 else 1500
  private val lines: Seq[String] = GOLDEN_INPUT ++ FILTER_INPUT ++ generate(new Rng(seed * 6151L + 5), generated)
  // filter queries: geohash 9q5 (the golden query) plus seeded polygons far
  // from it (lon 0..60), so the golden keep/drop decisions stay fixed
  private val queries: Seq[org.locationtech.jts.geom.Geometry] = {
    val r = new Rng(seed * 3571L + 11)
    Entity.parseLine("9q5").map(_.geom) ++ (0 until 8).map { _ =>
      val (x, y, w) = (r.between(0, 57), r.between(-60, 57), r.between(0.5, 3))
      Geo.boxPolyBL(x, y, x + w, y + w)
    }
  }

  def rowsPerPass: Long = lines.size.toLong
  def prepare(spark: SparkSession): Unit = ()
  def load(spark: SparkSession): Unit = ()

  /** Ordered output lines, plus the (rowId, line) pairs of the golden rows. */
  private def collect[K](ds: Dataset[(Long, K, String)])(implicit o: Ordering[K]): Out = {
    val rows = ds.collect().sortBy(r => (r._1, r._2))
    val out = rows.map(_._3).toSeq
    Out(out.size, Digest.ofLines(out), rows.filter(_._1 < GOLDEN_ROWS).map(r => (r._1, r._3)).toSeq)
  }

  def ops(spark: SparkSession): Seq[Op] = {
    import spark.implicits._
    def feats = GeoOps.parseStrings(spark, lines)
    Seq(
      Op("ops.wkt", tr => collect(tr.plan(GeoOps.wkt(feats)))),
      Op("ops.gj_feature", tr => collect(tr.plan(GeoOps.gjFeature(feats)))),
      Op("ops.gh_covering", tr => collect(tr.plan(GeoOps.ghCovering(feats, 3, echo = false)))),
      Op("ops.h3_covering", tr => collect(tr.plan(GeoOps.h3Covering(feats, 4, echo = false, compact = false)))),
      Op("ops.filter_intersects", tr => collect(tr.plan(
        GeoOps.filterIntersects(feats, queries).map(f => (f.rowId, f.subIdx, f.raw))))))
  }

  /** Every op parses and serialises each line: row work, not job rounds. */
  def scalingOps: Set[String] =
    Set("ops.wkt", "ops.gj_feature", "ops.gh_covering", "ops.h3_covering", "ops.filter_intersects")

  def verify(spark: SparkSession, outs: Map[String, Out], wrong: Boolean): Seq[Check] = {
    def golden(op: String): Seq[(Long, String)] = outs(op).value.asInstanceOf[Seq[(Long, String)]]
    def check(name: String, got: Seq[String], exp: Seq[String]) =
      Check(name, got == exp, s"got ${got.mkString(" | ")}; expected ${exp.mkString(" | ")}")
    val wkt = golden("ops.wkt").filter(_._1 < GOLDEN_INPUT.size).map(_._2)
    val gjf = golden("ops.gj_feature").filter(_._1 < GOLDEN_INPUT.size).map(_._2)
    val gh = golden("ops.gh_covering")
    val kept = golden("ops.filter_intersects").map(_._1).filter(_ >= GOLDEN_INPUT.size)
    Seq(
      check("wkt golden lines", wkt, GOLDEN_WKT.map(l => if (wrong) l + " " else l)),
      check("gj f golden lines", Seq(gjf.head, gjf(5)), GOLDEN_GJF),
      check("gh covering 3 golden lines", gh.filter(_._1 <= 2).map(_._2), GOLDEN_GH),
      check("filter intersects golden keep/drop",
        kept.map(i => FILTER_INPUT((i - GOLDEN_INPUT.size).toInt)),
        Seq(FILTER_INPUT(0), FILTER_INPUT(2))))
  }

  def probes(tr: Tracer): Map[String, Double] = {
    val ls = lines.toArray
    val ents = ls.flatMap(Entity.parseLine)
    val geoms = ents.map(_.geom)
    val wktLines = ls.filter(l => Entity.detect(l).contains(Entity.Wkt))
    val jsonLines = ls.filter(l => Entity.detect(l).contains("geojson"))
    Map(
      "core.detect_ns" -> Probe.nsPerCall(tr, "core.detect", ls.length)(i => Entity.detect(ls(i))),
      "core.parse_line_ns" -> Probe.nsPerCall(tr, "core.parse_line", ls.length)(i => Entity.parseLine(ls(i))),
      "geom.wkt_parse_ns" -> Probe.nsPerCall(tr, "geom.wkt_parse", wktLines.length)(i => Geo.parseWkt(wktLines(i))),
      "geom.json_parse_ns" -> Probe.nsPerCall(tr, "geom.json_parse", jsonLines.length)(i => Json.parse(jsonLines(i))),
      "geom.wkt_write_ns" -> Probe.nsPerCall(tr, "geom.wkt_write", geoms.length)(i => Geo.toWkt(geoms(i))),
      "geom.json_write_ns" -> Probe.nsPerCall(tr, "geom.json_write", geoms.length)(i => Geo.geometryJsonString(geoms(i))),
      "index.gh_cover_ns" -> Probe.nsPerCall(tr, "index.gh_cover", geoms.length)(i => Geohash.covering(geoms(i), 3)),
      "index.gh_cover_cells" -> Probe.mean(geoms.length)(i => Geohash.covering(geoms(i), 3).size.toDouble),
      "index.h3_cover_ns" -> Probe.nsPerCall(tr, "index.h3_cover", geoms.length)(i => H3Cover.geomCells(geoms(i), 4)),
      "index.h3_cover_cells" -> Probe.mean(geoms.length)(i => H3Cover.geomCells(geoms(i), 4).size.toDouble))
  }
}

object GeoqStream {
  /** Golden input lines and outputs from the reference CLI tests
    * (FIXTURES.md §1, the cases PipelineGoldenSpec replays). */
  val GOLDEN_INPUT: Seq[String] = Seq(
    "12,34",
    "12\t34",
    "9q5",
    "LINESTRING (30 10, 10 30, 40 40)",
    """{"type":"Point","coordinates":[125.6, 10.1]}""",
    """{"type":"Feature","properties":{"a": "b"},"geometry":{"type":"Point","coordinates":[125.6, 10.1]}}""",
    """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{},"geometry":{"type":"Point","coordinates":[34.0,12.0]}},{"type":"Feature","properties":{},"geometry":{"type":"Point","coordinates":[78.0,56.0]}}]}""")
  val GOLDEN_WKT: Seq[String] = Seq(
    "POINT(34 12)",
    "POINT(34 12)",
    "POLYGON((-119.53125 33.75,-118.125 33.75,-118.125 35.15625,-119.53125 35.15625,-119.53125 33.75))",
    "LINESTRING(30 10,10 30,40 40)",
    "POINT(125.6 10.1)",
    "POINT(125.6 10.1)",
    "POINT(34 12)",
    "POINT(78 56)")
  val GOLDEN_GJF: Seq[String] = Seq(
    """{"geometry":{"coordinates":[34.0,12.0],"type":"Point"},"properties":{},"type":"Feature"}""",
    """{"geometry":{"coordinates":[125.6,10.1],"type":"Point"},"properties":{"a":"b"},"type":"Feature"}""")
  /** `gh covering 3` of rows 0..2 (`12,34`, `12\t34`, `9q5`). */
  val GOLDEN_GH: Seq[String] = Seq("sf0", "sf0", "9qk", "9qh", "9q7", "9q6", "9q5", "9q4", "9mu", "9mg", "9mf")
  /** `filter intersects 9q5` input: rows 0 and 2 are kept, row 1 dropped. */
  val FILTER_INPUT: Seq[String] = Seq(
    "34.2277,-118.2623",
    """{"type":"Polygon","coordinates":[[[-117.87231445312499,34.77997173591062],[-117.69653320312499,34.77997173591062],[-117.69653320312499,34.90170042871546],[-117.87231445312499,34.90170042871546],[-117.87231445312499,34.77997173591062]]]}""",
    """{"type":"Polygon","coordinates":[[[-118.27880859375001,34.522398580663314],[-117.89154052734375,34.522398580663314],[-117.89154052734375,34.649025753526985],[-118.27880859375001,34.649025753526985],[-118.27880859375001,34.522398580663314]]]}""")
  val GOLDEN_ROWS: Int = GOLDEN_INPUT.size + FILTER_INPUT.size

  private def f(d: Double): String = SpatialJoinWorkload.fmt(d)

  /** `n` seeded lines, the eight input formats FIXTURES.md §1 lists one
    * representative line each for, in equal parts: LatLon comma, LatLon
    * tab, geohash, WKT (point / linestring / polygon), GeoJSON geometry,
    * Feature, FeatureCollection of two features, H3 cell. Shapes span up
    * to ~1°. */
  def generate(r: Rng, n: Int): Seq[String] = (0 until n).map { _ =>
    val (x, y) = (r.between(-170, 170), r.between(-70, 70))
    def ring(k: Int): Seq[(Double, Double)] = {
      val s = r.between(0.1, 0.5)
      val pts = (0 until k).map { j =>
        val a = 2 * math.Pi * j / k + r.between(0, 0.5)
        (x + s * math.cos(a), y + s * math.sin(a))
      }
      pts :+ pts.head
    }
    def line(k: Int): Seq[(Double, Double)] = (0 until k).map(j => (x + 0.2 * j, y + r.between(-0.2, 0.2)))
    def wktCoords(c: Seq[(Double, Double)]) = c.map { case (a, b) => s"${f(a)} ${f(b)}" }.mkString(", ")
    def jsonCoords(c: Seq[(Double, Double)]) = c.map { case (a, b) => s"[${f(a)}, ${f(b)}]" }.mkString("[", ",", "]")
    def geometry: String = r.int(3) match {
      case 0 => s"""{"type":"Point","coordinates":[${f(x)}, ${f(y)}]}"""
      case 1 => s"""{"type":"LineString","coordinates":${jsonCoords(line(2 + r.int(3)))}}"""
      case _ => s"""{"type":"Polygon","coordinates":[${jsonCoords(ring(4 + r.int(3)))}]}"""
    }
    def feature: String = s"""{"type":"Feature","properties":{"n":${r.int(1000)},"tag":"t${r.int(50)}"},"geometry":$geometry}"""
    r.int(8) match {
      case 0 => s"${f(y)},${f(x)}"
      case 1 => s"${f(y)}\t${f(x)}"
      case 2 => Geohash.encode(y, x, 3 + r.int(3))
      case 3 => r.int(3) match {
        case 0 => s"POINT (${f(x)} ${f(y)})"
        case 1 => s"LINESTRING (${wktCoords(line(2 + r.int(3)))})"
        case _ => s"POLYGON ((${wktCoords(ring(4 + r.int(3)))}))"
      }
      case 4 => geometry
      case 5 => feature
      case 6 => s"""{"type":"FeatureCollection","features":[$feature,$feature]}"""
      case _ => H3.toString(H3.latLngToCell(y, x, 5 + r.int(5)))
    }
  }
}
