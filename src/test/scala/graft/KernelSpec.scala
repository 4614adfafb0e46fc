package graft

import graft.core.Entity
import graft.geom._
import graft.index.{Geohash, Hilbert}
import org.scalatest.funsuite.AnyFunSuite

/** Pure-kernel goldens ported from the reference's test suite
  * (`tests/cli_test.rs`, `src/geoq/entity.rs:213-401`, `src/geoq/input.rs:54-76`,
  * `src/geoq/distance.rs:81-120`). No SparkSession needed.
  */
class KernelSpec extends AnyFunSuite {

  // --- input sniffing (input.rs:54-76) ---
  test("format detection priority and regexes") {
    assert(Entity.detect("12,34").contains(Entity.LatLon))
    assert(Entity.detect("12\t34").contains(Entity.LatLon))
    assert(Entity.detect("9q5").contains(Entity.GeohashK))
    assert(Entity.detect("862749967ffffff").contains(Entity.H3Cell))
    assert(Entity.detect("8027ffffffffffff").contains(Entity.H3Cell))
    assert(Entity.detect("8027fffffffff").contains(Entity.GeohashK)) // 13 hex → geohash
    assert(Entity.detect("08027ffffffffffff").contains(Entity.H3Cell)) // leading 0 ok
    assert(Entity.detect("{\"type\":\"Point\",\"coordinates\":[1,2]}").contains("geojson"))
    assert(Entity.detect("LINESTRING (30 10, 10 30, 40 40)").contains(Entity.Wkt))
    assert(Entity.detect("pizza").isEmpty)
  }

  // --- entity parse matrix (entity.rs:271-400) ---
  test("latlon entity") {
    val es = Entity.parseLine("12,34")
    assert(es.map(_.raw) == Seq("12,34"))
    assert(Geo.toWkt(es.head.geom) == "POINT(34 12)")
    assert(Geo.geometryJsonString(es.head.geom) == "{\"coordinates\":[34.0,12.0],\"type\":\"Point\"}")
    assert(Geo.featureJsonString(es.head.geom, es.head.props) ==
      "{\"geometry\":{\"coordinates\":[34.0,12.0],\"type\":\"Point\"},\"properties\":{},\"type\":\"Feature\"}")
  }

  test("geohash entity bbox polygon") {
    val es = Entity.parseLine("9q5")
    assert(Geo.toWkt(es.head.geom) ==
      "POLYGON((-119.53125 33.75,-118.125 33.75,-118.125 35.15625,-119.53125 35.15625,-119.53125 33.75))")
    assert(Geo.geometryJsonString(es.head.geom) ==
      "{\"coordinates\":[[[-119.53125,33.75],[-118.125,33.75],[-118.125,35.15625],[-119.53125,35.15625],[-119.53125,33.75]]],\"type\":\"Polygon\"}")
  }

  test("wkt entity: raw is canonical re-serialization") {
    val es = Entity.parseLine("LINESTRING (30 10, 10 30, 40 40)")
    assert(es.map(_.raw) == Seq("LINESTRING(30 10,10 30,40 40)"))
    assert(Geo.geometryJsonString(es.head.geom) ==
      "{\"coordinates\":[[30.0,10.0],[10.0,30.0],[40.0,40.0]],\"type\":\"LineString\"}")
  }

  test("geojson geometry entity") {
    val raw = "{\"type\": \"LineString\", \"coordinates\": [[-26.01, 59.17], [-15.46, 45.58], [0.35, 35.74]]}"
    val es = Entity.parseLine(raw)
    assert(es.map(_.raw) == Seq(raw)) // raw preserved verbatim
    assert(Geo.toWkt(es.head.geom) == "LINESTRING(-26.01 59.17,-15.46 45.58,0.35 35.74)")
    assert(Geo.geometryJsonString(es.head.geom) ==
      "{\"coordinates\":[[-26.01,59.17],[-15.46,45.58],[0.35,35.74]],\"type\":\"LineString\"}")
  }

  test("geojson feature entity keeps properties") {
    val raw = "{\"type\": \"Feature\", \"properties\": {\"pizza\": \"pie\"}, \"geometry\": {\"type\": \"LineString\", \"coordinates\": [[-26.01, 59.17], [-15.46, 45.58], [0.35, 35.74]]}}"
    val es = Entity.parseLine(raw)
    assert(Geo.featureJsonString(es.head.geom, es.head.props) ==
      "{\"geometry\":{\"coordinates\":[[-26.01,59.17],[-15.46,45.58],[0.35,35.74]],\"type\":\"LineString\"},\"properties\":{\"pizza\":\"pie\"},\"type\":\"Feature\"}")
  }

  test("feature collection unwraps to members with canonical raw") {
    val raw = """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"a":"b"},"geometry":{"type":"Point","coordinates":[34.0,12.0]}},{"type":"Feature","properties":{"c":1},"geometry":{"type":"Point","coordinates":[78.0,56.0]}}]}"""
    val es = Entity.parseLine(raw)
    assert(es.map(_.raw) == Seq(
      "{\"geometry\":{\"coordinates\":[34.0,12.0],\"type\":\"Point\"},\"properties\":{\"a\":\"b\"},\"type\":\"Feature\"}",
      "{\"geometry\":{\"coordinates\":[78.0,56.0],\"type\":\"Point\"},\"properties\":{\"c\":1},\"type\":\"Feature\"}"))
    assert(es.map(e => Geo.toWkt(e.geom)) == Seq("POINT(34 12)", "POINT(78 56)"))
  }

  test("gj geom number round-trip edge case (cli_test.rs:491-500)") {
    val raw = """{"coordinates":[[[-87.97874531338036,34.92420945798039],[-87.9785957342853,34.92418491767909],[-87.97857664070615,34.9242631544226],[-87.97872621980122,34.92428769470051],[-87.97874531338036,34.92420945798039]]],"type":"Polygon"}"""
    val es = Entity.parseLine(raw)
    assert(Geo.geometryJsonString(es.head.geom) == raw)
  }

  test("entity debug labels (cli_test.rs:6-26)") {
    assert(Entity.parseLine("12,34").head.label == "LatLon: 12,34")
    assert(Entity.parseLine("12\t34").head.label == "LatLon: 12\t34")
    assert(Entity.parseLine("9q5").head.label == "Geohash: 9q5")
    assert(Entity.parseLine("{\"type\":\"Point\",\"coordinates\":[125.6, 10.1]}").head.label ==
      "GeoJSON Geometry: {\"type\":\"Point\",\"coordinates\":[125.6, 10.1]}")
    assert(Entity.parseLine("LINESTRING (30 10, 10 30, 40 40)").head.label ==
      "WKT: LINESTRING(30 10,10 30,40 40)")
  }

  // --- geohash kernel (cli_test.rs:155-291,718-758) ---
  test("gh encode goldens") {
    assert(Geohash.encode(12, 34, 7) == "sf0hm8w")
    assert(Geohash.encode(34, -118, 7) == "9qh16ve")
  }

  test("gh children order") {
    val kids = Geohash.children("9q5")
    assert(kids.size == 32)
    assert(kids.head == "9q50")
    assert(kids(10) == "9q5b")
    assert(kids.last == "9q5z")
  }

  test("gh children kernel == q03's column-native suffix explode") {
    // q03 builds children as concat(gh, explode(base32 chars)) in codegen;
    // pin that column mirror to the kernel for arbitrary prefixes
    val suffixes = "0123456789bcdefghjkmnpqrstuvwxyz".map(_.toString)
    Seq("9", "9q", "9q5", "sf0hm8w", "zzzz").foreach { gh =>
      assert(Geohash.children(gh) == suffixes.map(gh + _), gh)
    }
  }

  test("gh neighbors golden order (9g3m)") {
    assert(Geohash.neighbors("9g3m", includeSelf = true) ==
      Seq("9g3m", "9g3q", "9g3w", "9g3t", "9g3s", "9g3k", "9g3h", "9g3j", "9g3n"))
    assert(Geohash.neighbors("9g3m", includeSelf = false) ==
      Seq("9g3q", "9g3w", "9g3t", "9g3s", "9g3k", "9g3h", "9g3j", "9g3n"))
  }

  test("gh covering golden: geohash 9q5 at level 3 (cli_test.rs:308-317)") {
    val g = Entity.parseLine("9q5").head.geom
    assert(Geohash.covering(g, 3) ==
      Seq("9qk", "9qh", "9q7", "9q6", "9q5", "9q4", "9mu", "9mg", "9mf"))
  }

  test("gh covering golden: points (cli_test.rs:304-307,376-383)") {
    assert(Geohash.covering(Entity.parseLine("12,34").head.geom, 3) == Seq("sf0"))
    assert(Geohash.covering(Entity.parseLine("{\"type\":\"Point\",\"coordinates\":[125.6, 10.1]}").head.geom, 3) == Seq("wcc"))
    assert(Geohash.covering(Geo.point(78.0, 56.0), 3) == Seq("v9z"))
  }

  test("gh covering golden: linestring level 3 (cli_test.rs:318-375)") {
    val g = Entity.parseLine("LINESTRING (30 10, 10 30, 40 40)").head.geom
    val expected = Seq("szh", "sz5", "syg", "syf", "syc", "syb", "sy8", "swx", "sww", "swt",
      "swm", "swk", "sw7", "sw6", "sw4", "sw1", "sw0", "sqp", "smz", "smy", "smv", "smu",
      "sms", "sme", "smd", "sm9", "sm3", "sm2", "sm0", "skh", "skd", "skc", "skb", "sk9",
      "sk7", "sk6", "sk5", "sjr", "sjp", "se0", "sdh", "sdd", "sdc", "sdb", "sd9", "sd7",
      "sd6", "sd5", "s9v", "s9u", "s7w", "s7v", "s7u", "s7t", "s7r", "s7q", "s7p")
    assert(Geohash.covering(g, 3) == expected)
  }

  test("gh covering == brute force over every cell at levels 1..3 (edges, corners, poles, holes, empty)") {
    // level-3 cells are 1.40625° on both axes, level-1 cells 45°
    val w3 = 360.0 / 256
    val geoms = Seq(
      "corner of level-1 cells" -> Geo.point(0.0, 0.0),
      "level-1 lon edge" -> Geo.point(45.0, 12.3),
      "corner of level-3 cells" -> Geo.point(5 * w3, 7 * w3),
      "level-3 lon edge" -> Geo.point(-3 * w3, 33.3),
      "level-3 lat edge" -> Geo.point(101.7, -11 * w3),
      "world corner (180, 90)" -> Geo.point(180.0, 90.0),
      "world corner (-180, -90)" -> Geo.point(-180.0, -90.0),
      "line" -> Geo.parseWkt("LINESTRING (30 10, 10 30, 40 40)"),
      "line along a cell edge" -> Geo.parseWkt("LINESTRING (0 -20, 0 20)"),
      "polygon with a hole" -> Geo.parseWkt(
        "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (5 5, 15 5, 15 15, 5 15, 5 5))"),
      "empty" -> Geo.parseWkt("POLYGON EMPTY"))
    val cells = (1 to 3).scanLeft(Seq("")) { (prev, _) =>
      prev.flatMap(Geohash.children)
    }
    for ((name, g) <- geoms; level <- 1 to 3) {
      val got = Geohash.covering(g, level)
      val brute = cells(level).filter(c => Geohash.bboxPolygon(c).intersects(g))
      assert(got.distinct.size == got.size, s"$name L$level: duplicate cells")
      assert(got.toSet == brute.toSet, s"$name L$level")
    }
    // the fixtures really sit on edges and corners
    assert(Geohash.covering(Geo.point(5 * w3, 7 * w3), 3).size == 4)
    assert(Geohash.covering(Geo.point(-3 * w3, 33.3), 3).size == 2)
    assert(Geohash.covering(Geo.point(180.0, 90.0), 3) == Seq("zzz"))
    assert(Geohash.covering(Geo.parseWkt("POLYGON EMPTY"), 3).isEmpty)
    val holed = geoms.toMap.apply("polygon with a hole")
    assert(!Geohash.covering(holed, 3).contains(Geohash.encode(10.0, 10.0, 3)))
  }

  test("gh roots") {
    assert(Geohash.BASE32.mkString == "0123456789bcdefghjkmnpqrstuvwxyz")
  }

  test("gh encode-long: 5 bits per char from LSB (geohash.rs:85-97)") {
    // spot property: decode of encodeLong round-trips the low 60 bits
    val x = 0x123456789abcdefL
    val s = Geohash.encodeLong(x)
    assert(s.length == 12)
    val back = s.foldLeft(0L)((acc, c) => (acc << 5) | Geohash.BASE32.indexOf(c).toLong)
    assert(back == (x & ((1L << 60) - 1)))
  }

  // --- vincenty (distance.rs:81-120) ---
  test("vincenty LA to NY") {
    val d = Vincenty.distance(-118.2437, 34.0522, -74.0060, 40.7128).get
    assert(math.round(d) == 3944422L)
  }

  test("vincenty distanceFixed's fixed-point exit == the full 20-iteration loop, bit for bit") {
    // the loop without the exit; also reports whether lambda ever repeated
    def full(lon1: Double, lat1: Double, lon2: Double, lat2: Double): (Double, Boolean) = {
      val (a, b, f) = (6378137.0, 6356752.314245, 1.0 / 298.257223563)
      if (lon1 == lon2 && lat1 == lat2) return (0.0, true)
      val l = math.toRadians(lon2 - lon1)
      val u1 = math.atan((1.0 - f) * math.tan(math.toRadians(lat1)))
      val u2 = math.atan((1.0 - f) * math.tan(math.toRadians(lat2)))
      val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
      val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)
      var lambda = l
      var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
      var cosSqAlpha = 0.0; var cos2SigmaM = 0.0
      var repeated = false
      for (_ <- 0 until 20) {
        val sinLambda = math.sin(lambda)
        val cosLambda = math.cos(lambda)
        sinSigma = math.sqrt(
          (cosU2 * sinLambda) * (cosU2 * sinLambda) +
            (cosU1 * sinU2 - sinU1 * cosU2 * cosLambda) *
            (cosU1 * sinU2 - sinU1 * cosU2 * cosLambda))
        cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLambda
        sigma = math.atan2(sinSigma, cosSigma)
        val sinAlpha = cosU1 * cosU2 * sinLambda / sinSigma
        cosSqAlpha = 1.0 - sinAlpha * sinAlpha
        cos2SigmaM = cosSigma - 2.0 * sinU1 * sinU2 / cosSqAlpha
        val c = f / 16.0 * cosSqAlpha * (4.0 + f * (4.0 - 3.0 * cosSqAlpha))
        val prev = lambda
        lambda = l + (1.0 - c) * f * sinAlpha *
          (sigma + c * sinSigma *
            (cos2SigmaM + c * cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM)))
        repeated ||= java.lang.Double.doubleToRawLongBits(lambda) ==
          java.lang.Double.doubleToRawLongBits(prev)
      }
      val uSq = cosSqAlpha * (a * a - b * b) / (b * b)
      val aa = 1.0 + uSq / 16384.0 * (4096.0 + uSq * (-768.0 + uSq * (320.0 - 175.0 * uSq)))
      val bb = uSq / 1024.0 * (256.0 + uSq * (-128.0 + uSq * (74.0 - 47.0 * uSq)))
      val deltaSigma = bb * sinSigma *
        (cos2SigmaM + bb / 4.0 *
          (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
            bb / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
            (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM)))
      (b * aa * (sigma - deltaSigma), repeated)
    }
    val rnd = new scala.util.Random(0x5EED)
    def lon() = rnd.nextDouble() * 360 - 180
    def lat() = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
    def tiny() = (rnd.nextDouble() - 0.5) * 1e-6
    val kinds: Seq[(String, () => (Double, Double, Double, Double))] = Seq(
      "random" -> (() => (lon(), lat(), lon(), lat())),
      "near-antipodal" -> { () =>
        val (x, y) = (lon(), lat())
        (x, y, (if (x > 0) x - 180 else x + 180) + rnd.nextDouble() - 0.5, -y + rnd.nextDouble() - 0.5) },
      "very close" -> { () => val (x, y) = (lon(), lat()); (x, y, x + tiny(), y + tiny()) },
      "equatorial" -> (() => (lon(), 0.0, lon(), 0.0)),
      "polar" -> (() => (lon(), 90.0 - rnd.nextDouble() * 1e-3, lon(), -90.0 + rnd.nextDouble() * 1e-3)),
      "coincident" -> { () => val (x, y) = (lon(), lat()); (x, y, x, y) })
    for ((kind, gen) <- kinds) {
      var (exits, runsAll) = (0, 0)
      for (_ <- 0 until 50000) {
        val (x1, y1, x2, y2) = gen()
        val (want, repeated) = full(x1, y1, x2, y2)
        val got = Vincenty.distanceFixed(x1, y1, x2, y2)
        assert(java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want),
          s"$kind ($x1, $y1) → ($x2, $y2): $got vs $want")
        if (repeated) exits += 1 else runsAll += 1
      }
      // every kind but the near-antipodal one mostly reaches a fixed point
      assert(kind == "near-antipodal" || exits > 40000, s"$kind: $exits of 50000 exit early")
      if (kind == "near-antipodal") assert(runsAll > 0, "no pair ran all 20 iterations")
    }
  }

  test("distance 0 for contained point") {
    val poly = Geo.boxPolyBL(-119.53125, 33.75, -118.125, 35.15625)
    val p = Geo.point(-118.2437, 34.0522)
    assert(Relations.distance(p, poly).contains(0.0))
  }

  // --- filter predicate goldens (cli_test.rs:503-657) ---
  test("filter intersects 9q5 golden decisions") {
    val query = Entity.parseLine("9q5").head.geom
    val in1 = Entity.parseLine("34.2277,-118.2623").head.geom
    val in2 = Entity.parseLine("""{"type":"Polygon","coordinates":[[[-117.87231445312499,34.77997173591062],[-117.69653320312499,34.77997173591062],[-117.69653320312499,34.90170042871546],[-117.87231445312499,34.90170042871546],[-117.87231445312499,34.77997173591062]]]}""").head.geom
    val in3 = Entity.parseLine("""{"type":"Polygon","coordinates":[[[-118.27880859375001,34.522398580663314],[-117.89154052734375,34.522398580663314],[-117.89154052734375,34.649025753526985],[-118.27880859375001,34.649025753526985],[-118.27880859375001,34.522398580663314]]]}""").head.geom
    assert(query.intersects(in1))
    assert(!query.intersects(in2))
    assert(query.intersects(in3))
  }

  test("filter intersects linestring x linestring golden") {
    val q = Entity.parseLine("""{"type":"Feature","properties":{},"geometry":{"type":"LineString","coordinates":[[21.4453125,30.44867367928756],[-1.40625,-9.79567758282973]]}}""").head.geom
    val in = Entity.parseLine("""{"type":"Feature","properties":{},"geometry":{"type":"LineString","coordinates":[[-18.6328125,32.54681317351514],[33.75,-2.460181181020993]]}}""").head.geom
    assert(q.intersects(in))
  }

  test("filter contains golden decisions (cli_test.rs:614-633)") {
    val poly = Entity.parseLine("""{"type": "Polygon", "coordinates": [[[-50.185546875, 18.22935133838668], [-43.681640625, 18.22935133838668], [-43.681640625, 26.03704188651584], [-50.185546875, 26.03704188651584], [-50.185546875, 18.22935133838668]]]}""").head.geom.asInstanceOf[org.locationtech.jts.geom.Polygon]
    val ls1 = Entity.parseLine("""{"type": "LineString", "coordinates": [[-44.2529296875, 25.3241665257384], [-42.802734375, 25.502784548755354]]}""").head.geom
    val ls2 = Entity.parseLine("""{"type": "LineString", "coordinates": [[-45.41748046875, 24.186847428521244], [-45, 22.004174972902003]]}""").head.geom
    val pt = Entity.parseLine("""{"type": "Point", "coordinates": [-47.4609375, 21.453068633086783]}""").head.geom
    assert(!Relations.containsPoly(poly, ls1)) // partially outside
    assert(Relations.containsPoly(poly, ls2))
    assert(Relations.containsPoly(poly, pt))
  }

  // --- centroid golden (cli_test.rs:697-715) ---
  test("centroid values") {
    val ls = Entity.parseLine("""{"type": "LineString", "coordinates": [[-44.2529296875, 25.3241665257384], [-42.802734375, 25.502784548755354]]}""").head.geom
    val c1 = ls.getCentroid
    assert(math.abs(c1.getX - -43.52783203125) < 1e-12)
    assert(math.abs(c1.getY - 25.413475537246875) < 1e-12)
    val poly = Entity.parseLine("Polygon ((30 10, 10 30, 40 40, 30 10))").head.geom
    val c2 = poly.getCentroid
    assert(math.abs(c2.getX - 26.66666666666667) < 1e-9)
    assert(math.abs(c2.getY - 26.66666666666667) < 1e-9)
  }

  // --- bbox semantics (bbox.rs) ---
  test("bbox of geometry collection seeds with zero rect (bbox.rs:65-69)") {
    val gc = Geo.factory.createGeometryCollection(Array(
      Geo.point(10, 20): org.locationtech.jts.geom.Geometry))
    assert(Geo.bbox(gc) == (0.0, 0.0, 10.0, 20.0)) // reference quirk
  }

  test("bbox --embed sets the feature bbox member (commands/bbox.rs:37-42)") {
    val e = Entity.parseLine("LINESTRING(30 10,10 30,40 40)").head
    assert(Geo.featureJsonStringBbox(e.geom, e.props) ==
      """{"bbox":[10.0,10.0,40.0,40.0],"geometry":{"coordinates":[[30.0,10.0],[10.0,30.0],[40.0,40.0]],"type":"LineString"},"properties":{},"type":"Feature"}""")
  }

  test("shortest-float formatter is locale-independent") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Num.rust(-119.53125) == "-119.53125")
      assert(Num.json(496760.9360151398) == "496760.9360151398")
    } finally java.util.Locale.setDefault(prev)
  }

  // --- number formatting ---
  test("rust-style and json-style float formatting") {
    assert(Num.rust(34.0) == "34")
    assert(Num.rust(-119.53125) == "-119.53125")
    assert(Num.rust(496760.9360151398) == "496760.9360151398")
    assert(Num.json(34.0) == "34.0")
    assert(Num.json(125.6) == "125.6")
    assert(Num.json(-87.97874531338036) == "-87.97874531338036")
    assert(Num.json(34.92428769470051) == "34.92428769470051")
    assert(Num.rust(0.35) == "0.35")
    assert(Num.json(0.35) == "0.35")
    assert(Num.json(1e-7) == "0.0000001")
  }

  // independent reference for Num's fast paths: the pre-optimization probe
  // algorithm — smallest precision whose %e rendering parses back to the
  // same bits
  private def probeShortest(d: Double): (String, Int) = {
    def fmt(p: Int): String =
      String.format(java.util.Locale.ROOT, "%." + (p - 1) + "e", Double.box(d))
    var lo = 1; var hi = 17
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (java.lang.Double.parseDouble(fmt(mid)) == d) hi = mid else lo = mid + 1
    }
    val s = fmt(lo)
    val ei = s.indexOf('e')
    val mant = s.substring(0, ei).replace("-", "").replace(".", "")
    val trimmed = {
      val t = mant.reverse.dropWhile(_ == '0').reverse
      if (t.isEmpty) "0" else t
    }
    (trimmed, s.substring(ei + 1).toInt + 1)
  }
  private def probePlain(d: Double, forceDot: Boolean): String = {
    val (digits, exp) = probeShortest(math.abs(d))
    val sb = new StringBuilder
    if (d < 0) sb.append('-')
    if (exp <= 0) { sb.append("0."); (exp until 0).foreach(_ => sb.append('0')); sb.append(digits) }
    else if (exp >= digits.length) {
      sb.append(digits); (digits.length until exp).foreach(_ => sb.append('0'))
      if (forceDot) sb.append(".0")
    } else sb.append(digits.substring(0, exp)).append('.').append(digits.substring(exp))
    sb.toString
  }

  test("integral fast path == format/parse probe path (differential)") {
    val rnd = new scala.util.Random(42)
    val integral: Seq[Double] =
      Seq(1.0, -1.0, 34.0, -180.0, 100.0, 12300.0, 65535.0, 4294967296.0,
        999999999999999.0, -999999999999999.0) ++
        (1 to 200).map(_ => rnd.nextLong() % 1000000000000L.toDouble) ++
        (0 to 14).map(k => math.pow(10, k))
    integral.foreach { d =>
      assert(d == math.rint(d))
      assert(Num.rust(d) == probePlain(d, forceDot = false), s"rust($d)")
      assert(Num.json(d) == probePlain(d, forceDot = true), s"json($d)")
      // and the output parses back to the same bits (round-trip safety)
      assert(java.lang.Double.parseDouble(Num.rust(d)) == d)
    }
    // and non-integral and out-of-range values agree too
    val frac = (1 to 200).map(_ => (rnd.nextDouble() - 0.5) * 1e6) ++
      Seq(0.35, 1e-7, -119.53125, 9.007199254740993e15, 1.8e18)
    frac.foreach { d =>
      assert(Num.rust(d) == probePlain(d, forceDot = false), s"rust($d)")
      assert(Num.json(d) == probePlain(d, forceDot = true), s"json($d)")
    }
  }

  test("Schubfach path == format/parse probe path (differential, 200k values per distribution)") {
    val rnd = new scala.util.Random(0x5C4BFAC4L)
    val n = 200000
    def rounded(d: Double, places: Int): Double =
      java.lang.Double.parseDouble(String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(d)))
    val minBits = java.lang.Double.doubleToRawLongBits(java.lang.Double.MIN_NORMAL)
    val topBits = java.lang.Double.doubleToRawLongBits(9.007199254740992e15) // 2^53
    val dists: Seq[(String, () => Double)] = Seq(
      "uniform ±180" -> (() => (rnd.nextDouble() - 0.5) * 360),
      "%.6f coordinates" -> (() => rounded((rnd.nextDouble() - 0.5) * 360, 6)),
      "%.3f coordinates" -> (() => rounded((rnd.nextDouble() - 0.5) * 360, 3)),
      "|d| < 5e-6" -> (() => (rnd.nextDouble() - 0.5) * 1e-5),
      "random bits in [MIN_NORMAL, 2^53)" -> (() => {
        val d = java.lang.Double.longBitsToDouble(minBits + (rnd.nextLong() >>> 1) % (topBits - minBits))
        if (rnd.nextBoolean()) -d else d
      }))
    for ((name, gen) <- dists; _ <- 0 until n) {
      val d = gen()
      if (d != 0.0) { // ±0 is special-cased before either path
        val expect = probePlain(d, forceDot = false)
        assert(Num.rust(d) == expect, s"$name: rust($d)")
        // serde style differs only by the ".0" of an integral value
        assert(Num.json(d) == (if (expect.contains('.')) expect else expect + ".0"), s"$name: json($d)")
      }
    }
  }

  test("formatter boundaries outside the Schubfach range keep the probe path's output") {
    val belowMinNormal = java.lang.Math.nextDown(java.lang.Double.MIN_NORMAL)
    def tiny(zeros: Int, digits: String) = "0." + "0" * zeros + digits
    // (value, rust, json): the probe algorithm's output. Schubfach differs
    // on subnormals (MIN_VALUE → 4.9E-324) and on some doubles ≥ 2^53
    // (1.76244969343576525E18 → …5200)
    val pinned = Seq(
      (java.lang.Double.MIN_NORMAL, tiny(307, "22250738585072014"), tiny(307, "22250738585072014")),
      (belowMinNormal, tiny(307, "2225073858507201"), tiny(307, "2225073858507201")),
      (java.lang.Double.MIN_VALUE, tiny(323, "5"), tiny(323, "5")),
      (9.007199254740992e15, "9007199254740992", "9007199254740992.0"),
      (1.76244969343576525e18, "1762449693435765300", "1762449693435765300.0"))
    for ((d, rust, json) <- pinned; sign <- Seq(1.0, -1.0)) {
      val v = sign * d
      val neg = if (sign < 0) "-" else ""
      assert(Num.rust(v) == neg + rust, s"rust($v)")
      assert(Num.json(v) == neg + json, s"json($v)")
      assert(Num.rust(v) == probePlain(v, forceDot = false), s"rust($v)")
      assert(Num.json(v) == probePlain(v, forceDot = true), s"json($v)")
    }
    assert(Num.rust(-0.0) == "-0" && Num.json(-0.0) == "-0.0")
    assert(Num.rust(Double.NaN) == "NaN" && Num.json(Double.NaN) == "null")
    assert(Num.rust(Double.PositiveInfinity) == "inf" && Num.json(Double.PositiveInfinity) == "null")
    assert(Num.rust(Double.NegativeInfinity) == "-inf" && Num.json(Double.NegativeInfinity) == "null")
  }

  // --- hilbert curve (fgb/hilbert.rs:236-291) ---
  test("hilbert curve basic properties") {
    assert(Hilbert.hilbert(0, 0) == 0)
    // d(1,0)=1 region: curve starts along one axis; just lock a few values
    // as self-consistency anchors (the reference publishes no unit vectors;
    // its own test documents divergence from the fgb crate).
    val vals = Seq((0, 0), (1, 0), (1, 1), (0, 1)).map { case (x, y) => Hilbert.hilbertUnsigned(x, y) }
    assert(vals.distinct.size == 4)
    // locality: adjacent grid cells have nearby indices on average
    assert(Hilbert.hilbertUnsigned(65535, 65535) <= 0xFFFFFFFFL)
  }

  // --- json munge heuristics will be covered in MungeSpec ---

  test("wkt split handles multiple top-level geometries") {
    assert(Entity.splitWkt("POINT(1 2)") == Seq("POINT(1 2)"))
    val two = Entity.splitWkt("POINT(1 2) LINESTRING(0 0,1 1)")
    assert(two == Seq("POINT(1 2)", "LINESTRING(0 0,1 1)"))
    val gc = Entity.splitWkt("GEOMETRYCOLLECTION(POINT(1 2),LINESTRING(0 0,1 1))")
    assert(gc.size == 1)
  }

  test("invalid wkt raises") {
    intercept[graft.core.GeoqException] {
      Entity.parseLine("Polygon ((30 10, 10 30, 40 40, 30 10)")
    }
  }
}
