package graft

import graft.core.Entity
import graft.index.{H3, H3Cover, H3Geo}
import org.locationtech.jts.geom.Coordinate
import org.scalatest.funsuite.AnyFunSuite

/** Validation of the derived H3 geometry (H3Tables/H3Geo).
  *
  * Anchors are published H3 values (docs quickstart/kRing examples, pole
  * cells) that the derivation did NOT fit against, plus cells embedded in
  * the reference (`/root/reference/src/geoq/input.rs:66-76`, README).
  * Property tests then pin global self-consistency: encode↔decode
  * round-trips at every resolution class, parent/child coherence, disk
  * counts/mutuality, covering geometry.
  */
class H3GeoSpec extends AnyFunSuite {

  private val gf = new org.locationtech.jts.geom.GeometryFactory()
  private def hex(c: Long) = java.lang.Long.toHexString(c)
  private def cell(s: String) = java.lang.Long.parseUnsignedLong(s, 16)

  // deterministic scattered sample points (seeded; includes high latitudes)
  private def samplePoints(n: Int): Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val lon = rnd.nextDouble() * 360 - 180
      (lat, lon)
    }
  }

  test("published anchors: SF quickstart cells, centers, poles") {
    assert(hex(H3Geo.latLngToCell(37.3615593, -122.0553238, 5)) == "85283473fffffff")
    assert(hex(H3Geo.latLngToCell(37.775938728915946, -122.41795063018799, 9)) == "8928308280fffff")
    val (clat, clng) = H3Geo.cellToLatLng(cell("85283473fffffff"))
    assert(math.abs(clat - 37.34579337536848) < 1e-9)
    assert(math.abs(clng - -121.97637597255124) < 1e-9)
    assert(hex(H3Geo.latLngToCell(90, 0, 0)) == "8001fffffffffff")
    assert(hex(H3Geo.latLngToCell(-90, 0, 0)) == "80f3fffffffffff")
  }

  test("published anchor: kRing(8928308280fffff, 1) set") {
    val disk = H3Geo.gridDisk(cell("8928308280fffff"), 1).map(hex).toSet
    val expected = Set("8928308280fffff", "8928308280bffff", "89283082873ffff",
      "89283082877ffff", "8928308283bffff", "89283082807ffff", "89283082803ffff")
    assert(disk == expected)
  }

  test("reference-embedded cells parse, validate, and nest coherently") {
    // input.rs:66-76 + README 8c274996e1683ff
    val c6 = cell("862749967ffffff")
    val c12 = cell("8c274996e1683ff")
    assert(H3.isValidCell(c6) && H3.isValidCell(c12))
    // 0x8027ffffffffffff has the reserved high bit set → structurally invalid
    assert(!H3.isValidCell(java.lang.Long.parseUnsignedLong("8027ffffffffffff", 16)))
    // the res-12 README cell descends from the same res-6 neighborhood
    assert(H3.cellToParent(c12, 6) == cell("862749967ffffff") ||
      H3Geo.gridDisk(c6, 1).contains(H3.cellToParent(c12, 6)))
    // both centers in the same ~0.1° neighborhood (Detroit)
    val (a1, o1) = H3Geo.cellToLatLng(c6)
    val (a2, o2) = H3Geo.cellToLatLng(c12)
    assert(math.abs(a1 - a2) < 0.1 && math.abs(o1 - o2) < 0.1)
  }

  test("encode→center→re-encode round-trips at every resolution 0..15") {
    for ((lat, lon) <- samplePoints(60); res <- Seq(0, 1, 2, 3, 7, 8, 14, 15)) {
      val c = H3Geo.latLngToCell(lat, lon, res)
      assert(H3.isValidCell(c), s"invalid cell for ($lat,$lon,$res): ${hex(c)}")
      assert(H3.resolution(c) == res)
      val (cla, cln) = H3Geo.cellToLatLng(c)
      assert(H3Geo.latLngToCell(cla, cln, res) == c,
        s"round-trip failed at ($lat,$lon) res $res: ${hex(c)}")
    }
  }

  test("parent hierarchy coheres with direct encode at the parent resolution") {
    // aperture-7 children do NOT nest exactly: near cell boundaries
    // parent(encode(p,r)) may be a NEIGHBOR of encode(p,r-1) — that is H3
    // semantics, not an error. Exact equality must hold for the large
    // majority; adjacency always.
    var exact = 0; var total = 0
    for ((lat, lon) <- samplePoints(40); res <- Seq(3, 8)) {
      val c = H3Geo.latLngToCell(lat, lon, res)
      val par = H3.cellToParent(c, res - 1)
      val direct = H3Geo.latLngToCell(lat, lon, res - 1)
      total += 1
      if (par == direct) exact += 1
      else assert(H3Geo.gridDisk(direct, 1).contains(par),
        s"parent not even adjacent at ($lat,$lon) res $res")
    }
    assert(exact.toDouble / total > 0.7, s"only $exact/$total exact parent matches")
  }

  test("cellToParent's one mask == the per-digit loop for every (res, parentRes)") {
    // the digit-by-digit form the mask replaced
    def loopParent(cell: Long, parentRes: Int): Long = {
      var out = H3.withResolution(cell, parentRes)
      var r = parentRes + 1
      while (r <= 15) { out = H3.withDigit(out, r, 7); r += 1 }
      out
    }
    // seeded cells at every resolution, plus each pentagon's center chain
    val cells = samplePoints(300).flatMap { case (lat, lon) =>
      (1 to 15).map(res => H3Geo.latLngToCell(lat, lon, res)) } ++
      H3Geo.pentagons.flatMap { bc =>
        Iterator.iterate(H3Geo.res0Cell(bc))(c => H3.cellToChildren(c, H3.resolution(c) + 1).head)
          .slice(1, 16).toSeq }
    assert(cells.map(H3.resolution).toSet == (1 to 15).toSet)
    for (c <- cells; parentRes <- 0 until H3.resolution(c))
      assert(H3.cellToParent(c, parentRes) == loopParent(c, parentRes),
        s"${hex(c)} at parent res $parentRes")
  }

  test("every child's center encodes back to that child; compact restores the parent") {
    for ((lat, lon) <- samplePoints(8); res <- Seq(2, 5)) {
      val c = H3Geo.latLngToCell(lat, lon, res)
      val kids = H3.cellToChildren(c, res + 1)
      assert(kids.size == (if (H3.isPentagon(c)) 6 else 7))
      kids.foreach { k =>
        val (la, ln) = H3Geo.cellToLatLng(k)
        assert(H3Geo.latLngToCell(la, ln, res + 1) == k, s"child ${hex(k)} of ${hex(c)}")
      }
      assert(H3Cover.compact(kids.toSet) == Set(c))
    }
  }

  test("gridDisk counts, ring sizes, and neighbor mutuality") {
    for ((lat, lon) <- samplePoints(12); res <- Seq(3, 6)) {
      val c = H3Geo.latLngToCell(lat, lon, res)
      val d1 = H3Geo.gridDisk(c, 1)
      val d2 = H3Geo.gridDisk(c, 2)
      assert(d1.head == c)
      // pentagon-free neighborhoods: exact hex counts 1+3k(k+1)
      if (!d2.exists(H3.isPentagon)) {
        assert(d1.size == 7, s"disk1 of ${hex(c)}: ${d1.size}")
        assert(d2.size == 19, s"disk2 of ${hex(c)}: ${d2.size}")
      }
      H3Geo.neighbors(c).foreach { n =>
        assert(H3.resolution(n) == res)
        assert(H3Geo.neighbors(n).contains(c), s"mutuality ${hex(c)} / ${hex(n)}")
      }
    }
  }

  test("pentagon boundaries: 5 verts at Class II, 10 (with distortion) at Class III") {
    for (bc <- Seq(4, 58, 117)) {
      val p2 = H3.cellToChildren(H3Geo.res0Cell(bc), 2).find(H3.isPentagon).get
      assert(H3Geo.cellBoundary(p2).length == 5)
      val p3 = H3.cellToChildren(p2, 3).find(H3.isPentagon).get
      val b3 = H3Geo.cellBoundary(p3)
      assert(b3.length == 10, s"pentagon ${hex(p3)} Class III verts: ${b3.length}")
      val poly = H3Geo.cellPolygon(p3)
      assert(poly.isValid)
      val (la, ln) = H3Geo.cellToLatLng(p3)
      assert(poly.contains(gf.createPoint(new Coordinate(ln, la))))
    }
  }

  test("pentagons: 12 per resolution, 5 neighbors, disk1 of 6") {
    assert(H3Geo.pentagons == Seq(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117))
    for (bc <- Seq(4, 83, 117)) {
      val p2 = H3.cellToChildren(H3Geo.res0Cell(bc), 2).find(H3.isPentagon).get
      assert(H3Geo.neighbors(p2).size == 5)
      assert(H3Geo.gridDisk(p2, 1).size == 6)
      val (la, ln) = H3Geo.cellToLatLng(p2)
      assert(H3Geo.latLngToCell(la, ln, 2) == p2)
    }
  }

  test("cell boundary: valid ring, contains center, Class III distortion verts") {
    var sawDistortion = false
    for ((lat, lon) <- samplePoints(40); res <- Seq(2, 3)) {
      val c = H3Geo.latLngToCell(lat, lon, res)
      val poly = H3Geo.cellPolygon(c)
      assert(poly.isValid, s"invalid boundary polygon for ${hex(c)}")
      val b = H3Geo.cellBoundary(c)
      assert(b.length >= (if (H3.isPentagon(c)) 5 else 6))
      if (b.length > 6) sawDistortion = true
      val (cla, cln) = H3Geo.cellToLatLng(c)
      assert(poly.contains(gf.createPoint(new Coordinate(cln, cla))),
        s"center outside boundary for ${hex(c)}")
    }
    // Class III cells crossing icosa edges must have inserted extra verts
    // somewhere in a 40-point global sample... not guaranteed; force one:
    // walk res-3 cells around an icosa vertex until one crosses a face edge
    val pent = H3.cellToChildren(H3Geo.res0Cell(4), 3).find(H3.isPentagon).get
    val ring = H3Geo.gridDisk(pent, 2).filterNot(H3.isPentagon)
    sawDistortion = sawDistortion || ring.exists(c => H3Geo.cellBoundary(c).length > 6)
    assert(sawDistortion, "no Class III distortion vertex found near an icosa vertex")
  }

  test("h3 covering: points, lines, polygons") {
    // point covering = its cell
    val p = Entity.parseLine("34.2277,-118.2623").head.geom
    assert(H3Cover.geomCells(p, 6) == Set(H3Geo.latLngToCell(34.2277, -118.2623, 6)))
    // line: every covering cell's hexagon intersects the line; both endpoint
    // cells present; cells form the full intersection set (no gaps: every
    // disk-neighbor of a covering cell that intersects is itself covered)
    val line = Entity.parseLine("LINESTRING(-118.3 34.0,-117.9 34.25)").head.geom
    val lc = H3Cover.geomCells(line, 6)
    assert(lc.contains(H3Geo.latLngToCell(34.0, -118.3, 6)))
    assert(lc.contains(H3Geo.latLngToCell(34.25, -117.9, 6)))
    lc.foreach(c => assert(H3Geo.cellPolygon(c).intersects(line)))
    lc.foreach(c => H3Geo.neighbors(c).foreach { n =>
      if (H3Geo.cellPolygon(n).intersects(line)) assert(lc.contains(n), s"gap at ${hex(n)}")
    })
    // polygon: exactly the cells whose center is inside
    val poly = Entity.parseLine("POLYGON((-118.3 34.0,-118.0 34.0,-118.0 34.3,-118.3 34.3,-118.3 34.0))")
      .head.geom
    val pc = H3Cover.geomCells(poly, 6)
    assert(pc.nonEmpty)
    pc.foreach { c =>
      val (la, ln) = H3Geo.cellToLatLng(c)
      assert(poly.contains(gf.createPoint(new Coordinate(ln, la))), s"center of ${hex(c)} outside")
    }
    // completeness: each covered cell's neighbors with centers inside are covered
    pc.foreach(c => H3Geo.neighbors(c).foreach { n =>
      val (la, ln) = H3Geo.cellToLatLng(n)
      if (poly.contains(gf.createPoint(new Coordinate(ln, la))))
        assert(pc.contains(n), s"polyfill gap at ${hex(n)}")
    })
    // compact of a full covering round-trips through uncompact-by-children
    val compacted = H3Cover.compact(pc)
    val expanded = compacted.flatMap(c =>
      if (H3.resolution(c) == 6) Seq(c) else H3.cellToChildren(c, 6))
    assert(expanded == pc)
  }

  test("top-down covering: covers the polyfill, multi-res, nesting-free (ref h3.rs:291-418 dead code)") {
    // several deterministic boxes of different extents (multi-res kicks in
    // when a box spans many cells at maxRes)
    val boxes = Seq(
      (-118.3, 34.0, -117.6, 34.6),  // LA-ish, wide → interior parents
      (9.9, 49.9, 10.15, 50.12),     // central Europe, medium
      (-0.2, -0.15, 0.25, 0.2))      // equator/prime-meridian crossing
    for ((x0, y0, x1, y1) <- boxes) {
      val poly = graft.geom.Geo.boxPolyBL(x0, y0, x1, y1)
      val maxRes = 6
      val td = H3Cover.topDownCovering(poly, minRes = 3, maxRes = maxRes)
      assert(td.nonEmpty)
      val pf = H3Cover.polygonCells(poly, maxRes)
      // 1) every emitted maxRes cell is in the polyfill
      td.filter(H3.resolution(_) == maxRes).foreach(c =>
        assert(pf.contains(c), s"non-polyfill leaf ${hex(c)}"))
      // 2) expanding to maxRes covers the ENTIRE polyfill set — NOTE this
      //    is a property of these box fixtures (well inside their start
      //    covers), NOT an algorithm invariant: a geometry that coincides
      //    with its start cover has boundary polyfill cells in neighbor
      //    subtrees the descent correctly prunes (FIXTURES.md §9, q55)
      val expanded = td.flatMap(c =>
        if (H3.resolution(c) == maxRes) Seq(c) else H3.cellToChildren(c, maxRes))
      pf.foreach(c => assert(expanded.contains(c), s"polyfill cell ${hex(c)} uncovered"))
      // 3) emitted parents really had every child center inside (the rule)
      td.filter(H3.resolution(_) < maxRes).foreach { parent =>
        H3.cellToChildren(parent, H3.resolution(parent) + 1).foreach { ch =>
          val (la, ln) = H3Geo.cellToLatLng(ch)
          assert(poly.contains(gf.createPoint(new Coordinate(ln, la))),
            s"child ${hex(ch)} of emitted ${hex(parent)} has center outside")
        }
      }
      // 4) nesting-free: no emitted cell is an ancestor of another
      td.foreach { c =>
        val r = H3.resolution(c)
        (0 until r).foreach(pr =>
          assert(!td.contains(H3.cellToParent(c, pr)),
            s"${hex(c)} nested under an emitted ancestor"))
      }
    }
    // the wide box genuinely exercises multi-resolution output
    val wide = graft.geom.Geo.boxPolyBL(-118.3, 34.0, -117.6, 34.6)
    val tdWide = H3Cover.topDownCovering(wide, minRes = 3, maxRes = 6)
    assert(tdWide.map(H3.resolution).size >= 1 &&
      tdWide.groupBy(H3.resolution).size >= 2, "expected cells at >= 2 resolutions")
    // bad resolution order rejects like the reference
    assertThrows[graft.core.GeoqException](H3Cover.topDownCovering(wide, 7, 6))
  }

  test("whole earth, exhaustively at res 1 and 2: unique centers, round-trips, 12 pentagons") {
    for (res <- Seq(1, 2)) {
      val cells = (0 until 122).flatMap(bc => H3.cellToChildren(H3Geo.res0Cell(bc), res))
      val expected = 122 * math.pow(7, res).toInt - 12 * ((math.pow(7, res).toInt - 1) / 6)
      assert(cells.size == expected, s"res $res cell count") // 842 / 5882
      assert(cells.count(H3.isPentagon) == 12)
      assert(cells.distinct.size == cells.size)
      // every center re-encodes to its own cell (global bijectivity of the
      // decode→encode pair at this res)
      val centers = cells.map { c =>
        val (la, ln) = H3Geo.cellToLatLng(c)
        assert(H3Geo.latLngToCell(la, ln, res) == c, s"round-trip ${hex(c)}")
        (math.rint(la * 1e9) / 1e9, math.rint(ln * 1e9) / 1e9)
      }
      assert(centers.distinct.size == cells.size, s"res $res centers collide")
    }
  }

  test("property: every random point lies inside its cell's boundary polygon") {
    for ((lat, lon) <- samplePoints(80); res <- Seq(2, 3)) {
      val c = H3Geo.latLngToCell(lat, lon, res)
      val poly = H3Geo.cellPolygon(c)
      val p = gf.createPoint(new Coordinate(lon, lat))
      // planar containment; cells crossing the antimeridian are the one
      // legitimate planar artifact (same as the reference's geo-crate view)
      val (_, cLng) = H3Geo.cellToLatLng(c)
      val crossesAm = H3Geo.cellBoundary(c).map(_._2).max -
        H3Geo.cellBoundary(c).map(_._2).min > 180
      if (!crossesAm)
        assert(poly.covers(p), s"point ($lat,$lon) outside ${hex(c)} at res $res")
    }
  }

  test("cellGeometrySplit: valid across the antimeridian and at the poles") {
    // whole earth at res 1: every cell's split geometry is valid and covers
    // its own center — including the two pole cells and every ±180 straddler
    var nWrap = 0; var nPole = 0
    for (bc <- 0 until 122; c <- H3.cellToChildren(H3Geo.res0Cell(bc), 1)) {
      val g = H3Geo.cellGeometrySplit(c)
      assert(g.isValid, s"invalid split geometry for ${hex(c)}")
      val span = H3Geo.cellBoundary(c).map(_._2)
      if (span.max - span.min > 180) nWrap += 1
      if (g.getGeometryType == "MultiPolygon") assert(g.getNumGeometries >= 2)
      val (la, ln) = H3Geo.cellToLatLng(c)
      if (math.abs(la) > 89.999) nPole += 1
      assert(g.covers(gf.createPoint(new Coordinate(ln, la))),
        s"split geometry of ${hex(c)} misses its center")
      // every piece stays inside the canonical lon/lat frame
      assert(g.getEnvelopeInternal.getMinX >= -180.000001 &&
        g.getEnvelopeInternal.getMaxX <= 180.000001, s"${hex(c)} out of frame")
    }
    assert(nWrap > 0, "no wrapping cells at res 1?!")
  }

  test("h3 covering works across the antimeridian (split geometry in the flood)") {
    // a box hugging +180: its covering must include cells whose canonical
    // centers are on the OTHER side (lon < 0) but whose hexagons reach in
    val box = gf.createPolygon(Array(
      new Coordinate(179.2, 10.0), new Coordinate(179.999, 10.0),
      new Coordinate(179.999, 12.0), new Coordinate(179.2, 12.0),
      new Coordinate(179.2, 10.0)))
    val cov = H3Cover.intersectingCells(box, 5)
    assert(cov.nonEmpty)
    // exactness: every covering cell's split geometry really intersects
    cov.foreach(c => assert(H3Geo.cellGeometrySplit(c).intersects(box), hex(c)))
    // completeness: no neighbor of a covering cell intersects yet is missing
    cov.foreach(c => H3Geo.neighbors(c).foreach { nb =>
      if (H3Geo.cellGeometrySplit(nb).intersects(box))
        assert(cov.contains(nb), s"antimeridian covering gap at ${hex(nb)}")
    })
    // at least one covering cell is a straddler whose center lies west of -179
    assert(cov.exists { c =>
      val (_, ln) = H3Geo.cellToLatLng(c); ln < -179.0
    }, "no across-the-meridian cell found — split geometry not effective")
    // polyfill center-containment semantics also hold near the meridian
    val pc = H3Cover.polygonCells(box, 5)
    pc.foreach { c =>
      val (la, ln) = H3Geo.cellToLatLng(c)
      assert(box.contains(gf.createPoint(new Coordinate(ln, la))), hex(c))
    }
  }

  test("differential: integer lattice-step neighbors == geodesic probe neighbors") {
    // whole earth, exhaustively, at res 1 and 2 (every icosa edge/vertex
    // crossing and all 12 pentagons at both resolution classes)
    for (res <- Seq(1, 2)) {
      val cells = (0 until 122).flatMap(bc => H3.cellToChildren(H3Geo.res0Cell(bc), res))
      cells.foreach { c =>
        assert(H3Geo.neighbors(c).toSet == H3Geo.probeNeighbors(c).toSet,
          s"lattice/probe mismatch at ${hex(c)} res $res")
      }
    }
    // random cells at every res 0..15 (two per res), incl. both classes
    for (res <- 0 to 15; (lat, lon) <- samplePoints(2 + res)) {
      val c = H3Geo.latLngToCell(lat, lon, res)
      assert(H3Geo.neighbors(c).toSet == H3Geo.probeNeighbors(c).toSet,
        s"lattice/probe mismatch at ${hex(c)} res $res")
    }
    // pentagons at res 1..5 (deleted-K stepping + overage repeats)
    for (bc <- H3Geo.pentagons; res <- 1 to 3) {
      val p = H3.cellToChildren(H3Geo.res0Cell(bc), res).find(H3.isPentagon).get
      assert(H3Geo.neighbors(p).toSet == H3Geo.probeNeighbors(p).toSet,
        s"pentagon lattice/probe mismatch at ${hex(p)} res $res")
      assert(H3Geo.neighbors(p).size == 5)
    }
  }

  test("H3 entities parse in mixed streams with reference props") {
    val es = Entity.parseLine("862749967ffffff")
    assert(es.size == 1)
    val e = es.head
    assert(e.kind == Entity.H3Cell)
    assert(e.raw == "862749967ffffff")
    assert(e.geom.getGeometryType == "Polygon")
    assert(e.label == "H3 Cell: 862749967ffffff at resolution 6")
    // synthesized properties {resolution, id, index} (entity.rs:161-167)
    assert(graft.geom.Json.write(e.props).contains("\"resolution\":6"))
    // leading-zero 16-char form accepted (input.rs:74-75)
    assert(Entity.parseLine("0862749967ffffff").head.raw == "862749967ffffff")
    // structurally invalid cell string fails fast
    intercept[graft.core.GeoqException] {
      Entity.parseLine("8027ffffffffffff")
    }
  }
}
