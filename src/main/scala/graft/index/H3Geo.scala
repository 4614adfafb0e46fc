package graft.index

import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}

/** H3 icosahedral cell geometry — latLngToCell, cellToLatLng, cellToBoundary,
  * gridDisk — re-derived from the PUBLIC H3 index specification (the
  * reference delegates to the h3ron/libh3 C library, `Cargo.toml:31`; no H3
  * jar exists on this classpath, so the math is reimplemented).
  *
  * Everything here follows the published spec algorithms: gnomonic
  * projection onto 20 icosahedron faces, aperture-7 hex grid (alternating
  * Class II/III orientations per resolution), IJK+ coordinate arithmetic,
  * face-overage adjustment, and Class III icosa-edge distortion vertices in
  * cell boundaries. The big spec data tables (base cell placements,
  * rotations, face neighbors) are NOT hardcoded: [[H3Tables]] derives them
  * at init from the 20 face-center constants plus the base-cell numbering
  * rule (descending center latitude), and self-validates against published
  * anchor vectors (see H3GeoSpec). Known deviations, documented in
  * FIXTURES.md: gridDisk returns the correct cell SET in deterministic
  * BFS-ring order (the C library's spiral order is not reproduced).
  */
object H3Geo {
  import H3Math._

  def isPentagon(baseCell: Int): Boolean = H3Tables.pentagonBaseCells.contains(baseCell)

  /** All 12 pentagon base cells, derived (validated == spec set). */
  def pentagons: Seq[Int] = H3Tables.pentagonBaseCells.toSeq.sorted

  // ---------------------------------------------------------------- encode

  /** Point (degrees) → H3 cell at `res` (spec: geoToH3 / latLngToCell). */
  def latLngToCell(lat: Double, lon: Double, res: Int): Long = {
    require(res >= 0 && res <= 15, s"invalid H3 resolution $res")
    val latR = math.toRadians(lat)
    val lonR = math.toRadians(lon)
    // _geoToHex2d: closest face + gnomonic projection
    val face = closestFace(latR, lonR)
    val sqd = dist3dSq(geoToVec3d(latR, lonR), H3Tables.faceCenterPoint(face))
    var r = math.acos(1.0 - sqd / 2.0)
    val ijk = new IJK(0, 0, 0)
    if (r >= EPSILON) {
      var theta = posAngle(H3Tables.faceAxesAzRads0(face) -
        posAngle(geoAzimuthRads(H3Tables.faceCenterLat(face), H3Tables.faceCenterLng(face), latR, lonR)))
      if (isClassIII(res)) theta = posAngle(theta - M_AP7_ROT_RADS)
      r = math.tan(r) / RES0_U_GNOMONIC
      var i = 0
      while (i < res) { r *= M_SQRT7; i += 1 }
      hex2dToCoordIJK(r * math.cos(theta), r * math.sin(theta), ijk)
    }
    faceIjkToH3(face, ijk, res)
  }

  /** _faceIjkToH3: FaceIJK at res → canonical H3 index. */
  private[index] def faceIjkToH3(face: Int, ijkIn: IJK, res: Int): Long = {
    var h = initCell(res)
    if (res == 0) {
      if (ijkIn.max > MAX_FACE_COORD) throw graft.core.GeoqException("h3 encode: coordinate overage at res 0")
      return withBaseCell(h, H3Tables.baseCellLookup(face, ijkIn))
    }
    val ijk = ijkIn.copy()
    // build the index digits from res down to 1
    var r = res - 1
    while (r >= 0) {
      val lastI = ijk.i; val lastJ = ijk.j; val lastK = ijk.k
      if (isClassIII(r + 1)) upAp7(ijk) else upAp7r(ijk)
      val center = ijk.copy()
      if (isClassIII(r + 1)) downAp7(center) else downAp7r(center)
      val diff = new IJK(lastI - center.i, lastJ - center.j, lastK - center.k)
      diff.normalize()
      h = H3.withDigit(h, r + 1, unitIjkToDigit(diff))
      r -= 1
    }
    if (ijk.max > MAX_FACE_COORD) throw graft.core.GeoqException("h3 encode: base cell coordinate overage")
    val baseCell = H3Tables.baseCellLookup(face, ijk)
    h = withBaseCell(h, baseCell)
    val numRots = H3Tables.baseCellRotationLookup(face, ijk)
    if (isPentagon(baseCell)) {
      // force rotation out of the deleted K-axis sub-sequence
      if (leadingNonZeroDigit(h) == K_AXES_DIGIT) {
        if (H3Tables.isCwOffset(baseCell, face)) h = rotate60cw(h)
        else h = rotate60ccw(h)
      }
      var i = 0
      while (i < numRots) { h = rotatePent60ccw(h); i += 1 }
    } else {
      var i = 0
      while (i < numRots) { h = rotate60ccw(h); i += 1 }
    }
    h
  }

  // ---------------------------------------------------------------- decode

  /** Cell → center point (degrees), as (lat, lon). */
  def cellToLatLng(cell: Long): (Double, Double) = {
    val f = h3ToFaceIjk(cell)
    val (lat, lng) = faceIjkToGeo(f.face, f.ijk, H3.resolution(cell))
    (math.toDegrees(lat), math.toDegrees(lng))
  }

  /** _h3ToFaceIjk: index → FaceIJK (with overage adjustment). */
  private[index] def h3ToFaceIjk(cellIn: Long): FaceIJK = {
    var h = cellIn
    val baseCell = H3.baseCell(h)
    val pent = isPentagon(baseCell)
    // all of the deleted sub-sequence 5 needs adjusting
    if (pent && leadingNonZeroDigit(h) == IK_AXES_DIGIT) h = rotate60cw(h)
    val home = H3Tables.homeFijk(baseCell)
    val fijk = new FaceIJK(home.face, home.ijk.copy())
    val res0 = H3.resolution(h)
    // walk the digits down from the home base cell
    var possibleOverage = true
    if (!pent && (res0 == 0 || (fijk.ijk.i == 0 && fijk.ijk.j == 0 && fijk.ijk.k == 0)))
      possibleOverage = false
    var r = 1
    while (r <= res0) {
      if (isClassIII(r)) downAp7(fijk.ijk) else downAp7r(fijk.ijk)
      neighbor(fijk.ijk, H3.digit(h, r))
      r += 1
    }
    if (possibleOverage) {
      val origI = fijk.ijk.i; val origJ = fijk.ijk.j; val origK = fijk.ijk.k
      var res = res0
      if (isClassIII(res)) { downAp7r(fijk.ijk); res += 1 }
      val pentLeading4 = pent && leadingNonZeroDigit(h) == I_AXES_DIGIT
      if (adjustOverageClassII(fijk, res, pentLeading4, substrate = false) != NO_OVERAGE) {
        if (pent) {
          while (adjustOverageClassII(fijk, res, pentLeading4 = false, substrate = false) != NO_OVERAGE) ()
        }
        if (res != res0) upAp7r(fijk.ijk)
      } else if (res != res0) {
        fijk.ijk.i = origI; fijk.ijk.j = origJ; fijk.ijk.k = origK
      }
    }
    fijk
  }

  /** _faceIjkToGeo → (latRad, lngRad). */
  private[index] def faceIjkToGeo(face: Int, ijk: IJK, res: Int): (Double, Double) = {
    val (x, y) = ijkToHex2d(ijk)
    hex2dToGeo(x, y, face, res, substrate = false)
  }

  // -------------------------------------------------------------- boundary

  /** Cell boundary vertices (degrees) as (lat, lon) ring, NOT closed.
    * Both hexagons and pentagons include Class III icosa-edge distortion
    * vertices (spec _faceIjkToCellBoundary / _faceIjkPentToCellBoundary). */
  def cellBoundary(cell: Long): Array[(Double, Double)] = {
    val res = H3.resolution(cell)
    val fijk = h3ToFaceIjk(cell)
    if (H3.isPentagon(cell)) pentBoundary(fijk, res)
    else hexBoundary(fijk, res)
  }

  private def hexBoundary(center: FaceIJK, res: Int): Array[(Double, Double)] = {
    val (verts, adjRes, centerFace) = faceIjkToVerts(center, res, NUM_HEX_VERTS)
    val out = new scala.collection.mutable.ArrayBuffer[(Double, Double)](7)
    var lastFace = -1
    var lastOverage = NO_OVERAGE
    var vert = 0
    while (vert <= NUM_HEX_VERTS) { // extra iteration catches distortion on the last edge
      val v = vert % NUM_HEX_VERTS
      val fijk = new FaceIJK(verts(v).face, verts(v).ijk.copy())
      val overage = adjustOverageClassII(fijk, adjRes, pentLeading4 = false, substrate = true)
      /* Class III cell edges may cross icosahedron edges: each face is a
       * distinct projection plane, so an additional vertex is introduced at
       * the intersection with the face edge. Class II edges have vertices on
       * the face edge and never cross it. */
      if (isClassIII(res) && vert > 0 && fijk.face != lastFace && lastOverage != FACE_EDGE) {
        val lastV = (v + 5) % NUM_HEX_VERTS
        val (ox0, oy0) = ijkToHex2d(verts(lastV).ijk)
        val (ox1, oy1) = ijkToHex2d(verts(v).ijk)
        val maxDim = maxDimByCIIres(adjRes).toDouble
        val face2 = if (lastFace == centerFace) fijk.face else lastFace
        val dir = H3Tables.adjacentFaceDir(centerFace)(face2)
        // icosa face edge endpoints in this face's substrate hex2d frame
        val (e0x, e0y, e1x, e1y) = dir match {
          case IJ => (3.0 * maxDim, 0.0, -1.5 * maxDim, 3.0 * M_SQRT3_2 * maxDim)
          case JK => (-1.5 * maxDim, 3.0 * M_SQRT3_2 * maxDim, -1.5 * maxDim, -3.0 * M_SQRT3_2 * maxDim)
          case _  => (-1.5 * maxDim, -3.0 * M_SQRT3_2 * maxDim, 3.0 * maxDim, 0.0) // KI
        }
        val (ix, iy) = v2dIntersect(ox0, oy0, ox1, oy1, e0x, e0y, e1x, e1y)
        val atVertex = (ix == ox0 && iy == oy0) || (ix == ox1 && iy == oy1)
        if (!atVertex) {
          val (la, ln) = hex2dToGeo(ix, iy, centerFace, adjRes, substrate = true)
          out += ((math.toDegrees(la), math.toDegrees(ln)))
        }
      }
      if (vert < NUM_HEX_VERTS) {
        val (vx, vy) = ijkToHex2d(fijk.ijk)
        val (la, ln) = hex2dToGeo(vx, vy, fijk.face, adjRes, substrate = true)
        out += ((math.toDegrees(la), math.toDegrees(ln)))
      }
      lastFace = fijk.face
      lastOverage = overage
      vert += 1
    }
    out.toArray
  }

  /** Pentagon boundary (spec _faceIjkPentToCellBoundary): 5 vertices, plus
    * — at Class III resolutions — one icosa-edge distortion vertex per edge
    * (every Class III pentagon edge crosses an icosahedron edge; Class II
    * pentagon edges lie ON them). */
  private def pentBoundary(center: FaceIJK, res: Int): Array[(Double, Double)] = {
    val (verts, adjRes, _) = faceIjkToVerts(center, res, NUM_PENT_VERTS)
    val adjusted = (0 until NUM_PENT_VERTS).map { v =>
      val fijk = new FaceIJK(verts(v).face, verts(v).ijk.copy())
      // pentagon verts can overage multiple times
      var ov = adjustOverageClassII(fijk, adjRes, pentLeading4 = false, substrate = true)
      while (ov == NEW_FACE) ov = adjustOverageClassII(fijk, adjRes, pentLeading4 = false, substrate = true)
      fijk
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Double, Double)](10)
    var vert = 0
    while (vert <= NUM_PENT_VERTS) { // extra iteration: distortion on the last edge
      val v = vert % NUM_PENT_VERTS
      val fijk = adjusted(v)
      if (isClassIII(res) && vert > 0) {
        val last = adjusted((v + NUM_PENT_VERTS - 1) % NUM_PENT_VERTS)
        if (last.face != fijk.face && H3Tables.adjacentFaceDir(fijk.face)(last.face) > 0) {
          // move this vertex into the LAST vertex's face frame, intersect
          // the connecting segment with that face's icosa edge
          val (ox0, oy0) = ijkToHex2d(last.ijk)
          val toLast = H3Tables.adjacentFaceDir(fijk.face)(last.face)
          val fo = H3Tables.faceNeighbor(fijk.face, toLast)
          val ijk = fijk.ijk.copy()
          var i = 0
          while (i < fo.ccwRot60) { rotate60ccwIJK(ijk); i += 1 }
          val us = unitScaleByCIIres(adjRes) * 3
          ijk.i += fo.transI * us; ijk.j += fo.transJ * us; ijk.k += fo.transK * us
          ijk.normalize()
          val homeFace = fo.face // == last.face
          val (ox1, oy1) = ijkToHex2d(ijk)
          val maxDim = maxDimByCIIres(adjRes).toDouble
          val dir = H3Tables.adjacentFaceDir(homeFace)(fijk.face)
          val (e0x, e0y, e1x, e1y) = dir match {
            case IJ => (3.0 * maxDim, 0.0, -1.5 * maxDim, 3.0 * M_SQRT3_2 * maxDim)
            case JK => (-1.5 * maxDim, 3.0 * M_SQRT3_2 * maxDim, -1.5 * maxDim, -3.0 * M_SQRT3_2 * maxDim)
            case _  => (-1.5 * maxDim, -3.0 * M_SQRT3_2 * maxDim, 3.0 * maxDim, 0.0)
          }
          val (ix, iy) = v2dIntersect(ox0, oy0, ox1, oy1, e0x, e0y, e1x, e1y)
          val (la, ln) = hex2dToGeo(ix, iy, homeFace, adjRes, substrate = true)
          out += ((math.toDegrees(la), math.toDegrees(ln)))
        }
      }
      if (vert < NUM_PENT_VERTS) {
        val (vx, vy) = ijkToHex2d(fijk.ijk)
        val (la, ln) = hex2dToGeo(vx, vy, fijk.face, adjRes, substrate = true)
        out += ((math.toDegrees(la), math.toDegrees(ln)))
      }
      vert += 1
    }
    out.toArray
  }

  /** Substrate-grid vertices of the cell (spec _faceIjkToVerts): aperture
    * 3·3r down, +7r for Class III. Returns (verts, adjustedRes, centerFace). */
  private def faceIjkToVerts(centerIn: FaceIJK, res: Int, nVerts: Int): (Array[FaceIJK], Int, Int) = {
    // res-0 vertex offsets of an origin-centered cell in the substrate grid
    val vertsCII = Array(new IJK(2, 1, 0), new IJK(1, 2, 0), new IJK(0, 2, 1),
      new IJK(0, 1, 2), new IJK(1, 0, 2), new IJK(2, 0, 1))
    val vertsCIII = Array(new IJK(5, 4, 0), new IJK(1, 5, 0), new IJK(0, 5, 4),
      new IJK(0, 1, 5), new IJK(4, 0, 5), new IJK(5, 0, 1))
    val vtab = if (isClassIII(res)) vertsCIII else vertsCII
    val center = new FaceIJK(centerIn.face, centerIn.ijk.copy())
    var adjRes = res
    // adjust center to the aperture 3·3r substrate grid
    downAp3(center.ijk)
    downAp3r(center.ijk)
    if (isClassIII(res)) { downAp7r(center.ijk); adjRes += 1 }
    val out = new Array[FaceIJK](nVerts)
    var v = 0
    while (v < nVerts) {
      val c = center.ijk.copy()
      c.i += vtab(v).i; c.j += vtab(v).j; c.k += vtab(v).k
      c.normalize()
      out(v) = new FaceIJK(center.face, c)
      v += 1
    }
    (out, adjRes, center.face)
  }

  /** JTS polygon of the cell boundary (lon=x, lat=y, closed CCW ring).
    * PLANAR, like the reference's h3ron view: cells crossing ±180 produce a
    * wrapping ring (see [[cellGeometrySplit]] for the valid split form). */
  def cellPolygon(cell: Long): Polygon = {
    val b = cellBoundary(cell)
    val coords = new Array[Coordinate](b.length + 1)
    var i = 0
    while (i < b.length) { coords(i) = new Coordinate(b(i)._2, b(i)._1); i += 1 }
    coords(b.length) = new Coordinate(b(0)._2, b(0)._1)
    H3Geo.gf.createPolygon(coords)
  }

  /** Cell boundary as a geometry that stays VALID across the antimeridian
    * and at the poles (the reference's planar view is out-of-contract
    * there; convention documented in FIXTURES.md):
    *  - ordinary cells → the planar polygon unchanged;
    *  - cells crossing ±180 → longitudes unwrapped into a continuous frame,
    *    then split at the meridian into a 2-piece MultiPolygon;
    *  - cells containing a pole (the unwrapped ring winds 360°) → closed
    *    over the pole with two synthetic ±90 corners, then split the same
    *    way. Whole-earth tilings (H3Cover floods) use this form. */
  def cellGeometrySplit(cell: Long): org.locationtech.jts.geom.Geometry =
    cellGeometrySplitOf(cellBoundary(cell))

  // --- per-thread boundary/geometry memo ---------------------------------
  // Consecutive covering floods on one row revisit the SAME cells (e.g. a
  // polyfill flood and a line flood whose frontier rings overlap), and
  // boundary + split-polygon construction dominates the flood constant. A
  // small per-thread LRU makes the revisit free with zero cross-thread
  // sharing (JTS geometries lazily cache internal state — envelopes etc. —
  // and must stay thread-confined). Entries are immutable by convention:
  // every consumer only READS the returned boundary/geometry.
  private final class Lru[K, V](cap: Int)
      extends java.util.LinkedHashMap[K, V](cap * 2, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > cap
  }
  private val boundaryTL =
    ThreadLocal.withInitial[Lru[Long, Array[(Double, Double)]]](() => new Lru(128))
  private val splitTL =
    ThreadLocal.withInitial[Lru[Long, org.locationtech.jts.geom.Geometry]](() => new Lru(128))

  /** [[cellBoundary]] through the per-thread memo (hot flood paths). */
  def cellBoundaryCached(cell: Long): Array[(Double, Double)] = {
    val m = boundaryTL.get()
    var b = m.get(cell)
    if (b == null) { b = cellBoundary(cell); m.put(cell, b) }
    b
  }

  /** [[cellGeometrySplit]] through the per-thread memo (hot flood paths). */
  def cellGeometrySplitCached(cell: Long): org.locationtech.jts.geom.Geometry = {
    val m = splitTL.get()
    var g = m.get(cell)
    if (g == null) { g = cellGeometrySplitOf(cellBoundaryCached(cell)); m.put(cell, g) }
    g
  }

  private val neighborsTL =
    ThreadLocal.withInitial[Lru[Long, Seq[Long]]](() => new Lru(256))

  /** [[neighbors]] through the per-thread memo: the flood BFS calls it for
    * every intersecting cell, and the lattice step (decode → unit-step →
    * overage → re-encode ×6) is measurably half the flood's per-cell
    * constant; consecutive floods on one row (polyfill then line cover)
    * revisit the same frontier cells. Same thread-confinement rules as the
    * boundary memo; the returned Seq is immutable. */
  def neighborsCached(cell: Long): Seq[Long] = {
    val m = neighborsTL.get()
    var n = m.get(cell)
    if (n == null) { n = neighbors(cell); m.put(cell, n) }
    n
  }

  /** [[cellGeometrySplit]] from a boundary already in hand — the flood's
    * hot path computes the boundary once for the envelope pre-filter and
    * reuses it here. */
  def cellGeometrySplitOf(b: Array[(Double, Double)]): org.locationtech.jts.geom.Geometry = {
    val n = b.length
    val lons = new Array[Double](n)
    lons(0) = b(0)._2
    var inFrame = true
    var i = 1
    while (i < n) {
      var l = b(i)._2
      while (l - lons(i - 1) > 180) l -= 360
      while (l - lons(i - 1) < -180) l += 360
      if (l < -180 || l > 180) inFrame = false
      lons(i) = l
      i += 1
    }
    // closure longitude: where the ring must return to; differs from the
    // start by ±360 exactly when the ring winds around a pole
    var close = b(0)._2
    while (close - lons(n - 1) > 180) close -= 360
    while (close - lons(n - 1) < -180) close += 360
    val windsPole = math.abs(close - lons(0)) > 1e-9
    if (!windsPole && inFrame) {
      // ordinary cell: planar polygon straight from the boundary already in
      // hand (calling cellPolygon would recompute it — this is the flood's
      // hot path)
      val coords = new Array[Coordinate](n + 1)
      i = 0
      while (i < n) { coords(i) = new Coordinate(b(i)._2, b(i)._1); i += 1 }
      coords(n) = new Coordinate(b(0)._2, b(0)._1)
      return gf.createPolygon(coords)
    }
    val ring = scala.collection.mutable.ArrayBuffer[Coordinate]()
    i = 0
    while (i < n) { ring += new Coordinate(lons(i), b(i)._1); i += 1 }
    if (windsPole) {
      val poleLat = if (b.map(_._1).sum > 0) 90.0 else -90.0
      ring += new Coordinate(close, b(0)._1)
      ring += new Coordinate(close, poleLat)
      ring += new Coordinate(lons(0), poleLat)
    }
    ring += ring.head
    val unwrapped = gf.createPolygon(ring.toArray)
    // clip against the three 360°-wide windows and shift each piece home
    val pieces = Seq(-1, 0, 1).flatMap { k =>
      val win = gf.createPolygon(Array(
        new Coordinate(-180.0 + 360.0 * k, -90.0), new Coordinate(180.0 + 360.0 * k, -90.0),
        new Coordinate(180.0 + 360.0 * k, 90.0), new Coordinate(-180.0 + 360.0 * k, 90.0),
        new Coordinate(-180.0 + 360.0 * k, -90.0)))
      val p0 = unwrapped.intersection(win)
      if (p0.isEmpty) Nil
      else {
        // overlay results can SHARE Coordinate objects with the input ring —
        // deep-copy before the in-place shift or the next window sees a
        // corrupted unwrapped ring
        val p = if (k != 0) p0.copy() else p0
        if (k != 0) p.apply(new org.locationtech.jts.geom.CoordinateFilter {
          def filter(c: Coordinate): Unit = { c.x -= 360.0 * k }
        })
        p.geometryChanged()
        (0 until p.getNumGeometries).map(p.getGeometryN)
          .collect { case poly: Polygon if !poly.isEmpty => poly }
      }
    }
    if (pieces.size == 1) pieces.head
    else {
      // a pole cap spans exactly 360°: its two window pieces tile the frame
      // and share an interior meridian edge — union dissolves it back to
      // one polygon; genuine ±180 straddlers stay a 2-piece MultiPolygon
      org.locationtech.jts.operation.union.UnaryUnionOp.union(
        scala.jdk.CollectionConverters.SeqHasAsJava(pieces.map(_.asInstanceOf[org.locationtech.jts.geom.Geometry])).asJava)
    }
  }

  private[index] val gf = new GeometryFactory()

  // --------------------------------------------------------------- gridDisk

  /** Immediate neighbors of a cell (6, or 5 for pentagons), via integer
    * lattice stepping: decode to the canonical FaceIJK, add each of the six
    * unit vectors in the face frame, overage-adjust across icosa edges
    * (exact integer transform), and re-encode. No floating point anywhere —
    * pure table walks, O(res) per step. The geodesic probe version is kept
    * as [[probeNeighbors]] and pinned set-equal by a differential property
    * test (H3GeoSpec). Returned in deterministic digit-step order (spec
    * deviation, documented in FIXTURES.md: the C library walks directed
    * base-cell neighbor tables; the SET is identical). */
  def neighbors(cell: Long): Seq[Long] = {
    val res = H3.resolution(cell)
    val f0 = h3ToFaceIjk(cell)
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    var d = 1
    while (d <= 6) {
      val n = latticeStep(f0, res, d)
      if (n != cell) out += n
      d += 1
    }
    out.toSeq
  }

  /** The cell one grid step from canonical position `f0` (at `res`) in unit
    * direction `digit` (1..6, face-frame axes). Mirrors the decode path's
    * overage handling: descend Class III to the even substrate res, adjust
    * face overage (repeatedly — steps near icosa vertices can cross twice),
    * come back up, re-encode. */
  private[index] def latticeStep(f0: FaceIJK, res: Int, digit: Int): Long = {
    val fijk = new FaceIJK(f0.face, f0.ijk.copy())
    H3Math.neighbor(fijk.ijk, digit)
    var r = res
    if (isClassIII(r)) { downAp7r(fijk.ijk); r += 1 }
    var guard = 0
    while (adjustOverageClassII(fijk, r, pentLeading4 = false, substrate = false) == NEW_FACE
           && guard < 4) guard += 1
    if (r != res) upAp7r(fijk.ijk)
    faceIjkToH3(fijk.face, fijk.ijk, res)
  }

  /** Geodesic-probe neighbor enumeration — round 2's kernel, retained as the
    * independent reference implementation for the differential property test
    * (it derives adjacency from cell geometry, not lattice arithmetic). */
  private[graft] def probeNeighbors(cell: Long): Seq[Long] = {
    val res = H3.resolution(cell)
    val (clat, clng) = cellToLatLng(cell)
    val c3 = geoToVec3d(math.toRadians(clat), math.toRadians(clng))
    val b = cellBoundary(cell)
    // Use the true topological vertices. Distortion points (Class III face
    // crossings) are extra ring points but lie ON edges; reflecting across
    // every consecutive-pair midpoint still lands in the correct neighbor
    // for the two sub-edges, so dedupe handles them.
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    var i = 0
    while (i < b.length) {
      val j = (i + 1) % b.length
      val n = probePastEdge(c3, b(i), b(j), res)
      if (n != cell) out += n
      i += 1
    }
    out.toSeq
  }

  /** The cell just PAST the edge (v1,v2) as seen from center `c3`:
    * slerp-extrapolate the center→edge-midpoint geodesic to 1.25× its arc.
    * (Reflecting to 2× overshoots into the second ring where icosa-edge
    * distortion shrinks the neighbor; 0.25 of the inradius past the edge
    * is always inside it.) */
  private def probePastEdge(c3: (Double, Double, Double), v1: (Double, Double),
                            v2: (Double, Double), res: Int): Long = {
    // geodesic edge midpoint: normalized 3D chord midpoint (lat/lng averaging
    // breaks on near-pole cells spanning wide longitude ranges)
    val a3 = geoToVec3d(math.toRadians(v1._1), math.toRadians(v1._2))
    val b3 = geoToVec3d(math.toRadians(v2._1), math.toRadians(v2._2))
    val mx = a3._1 + b3._1; val my = a3._2 + b3._2; val mz = a3._3 + b3._3
    val mn = math.sqrt(mx * mx + my * my + mz * mz)
    val m3 = (mx / mn, my / mn, mz / mn)
    val dotCM = math.max(-1.0, math.min(1.0, c3._1 * m3._1 + c3._2 * m3._2 + c3._3 * m3._3))
    val phi = math.acos(dotCM)
    val t = 1.25
    val sa = math.sin((1 - t) * phi) / math.sin(phi)
    val sb = math.sin(t * phi) / math.sin(phi)
    val px = sa * c3._1 + sb * m3._1
    val py = sa * c3._2 + sb * m3._2
    val pz = sa * c3._3 + sb * m3._3
    val pm = math.sqrt(px * px + py * py + pz * pz)
    val plat = math.asin(math.max(-1.0, math.min(1.0, pz / pm)))
    val plng = math.atan2(py, px)
    latLngToCell(math.toDegrees(plat), math.toDegrees(plng), res)
  }

  /** Geodesic probe: the cell reached by stepping just past the edge of `a`
    * whose midpoint lies nearest `b`'s center. Deliberately INDEPENDENT of
    * the lattice-step [[neighbors]] kernel (pure geometry) — q36's mutual-
    * adjacency oracle row uses this so the driver gate cross-validates the
    * lattice adjacency against geometry instead of against itself. */
  def probeToward(a: Long, b: Long): Long = {
    val res = H3.resolution(a)
    val (aLat, aLng) = cellToLatLng(a)
    val a3 = geoToVec3d(math.toRadians(aLat), math.toRadians(aLng))
    val (bLat, bLng) = cellToLatLng(b)
    val b3 = geoToVec3d(math.toRadians(bLat), math.toRadians(bLng))
    val bd = cellBoundary(a)
    var best = -1
    var bestD = Double.MaxValue
    var i = 0
    while (i < bd.length) {
      val j = (i + 1) % bd.length
      val p3 = geoToVec3d(math.toRadians(bd(i)._1), math.toRadians(bd(i)._2))
      val q3 = geoToVec3d(math.toRadians(bd(j)._1), math.toRadians(bd(j)._2))
      val m3 = ((p3._1 + q3._1) / 2, (p3._2 + q3._2) / 2, (p3._3 + q3._3) / 2)
      val d = dist3dSq(m3, b3)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    probePastEdge(a3, bd(best), bd((best + 1) % bd.length), res)
  }

  /** All cells within grid distance k, origin first, then rings in BFS
    * order (each ring's cells in ascending unsigned id order). Set-equal to
    * the C library's gridDisk. */
  def gridDisk(cell: Long, k: Int): Seq[Long] = {
    require(k >= 0, "gridDisk k must be >= 0")
    val seen = scala.collection.mutable.LinkedHashSet[Long](cell)
    var frontier = Seq(cell)
    var ring = 0
    while (ring < k) {
      val next = scala.collection.mutable.SortedSet[Long]()(Ordering.fromLessThan(
        (a, b) => java.lang.Long.compareUnsigned(a, b) < 0))
      frontier.foreach { c =>
        neighbors(c).foreach { n => if (!seen.contains(n)) next += n }
      }
      next.foreach(seen += _)
      frontier = next.toSeq
      ring += 1
    }
    seen.toSeq
  }

  // ---------------------------------------------------------- index bit ops

  private[index] val K_AXES_DIGIT = 1
  private[index] val J_AXES_DIGIT = 2
  private[index] val JK_AXES_DIGIT = 3
  private[index] val I_AXES_DIGIT = 4
  private[index] val IK_AXES_DIGIT = 5
  private[index] val IJ_AXES_DIGIT = 6

  private def initCell(res: Int): Long = {
    // mode=1, given res, all digits 7
    var h = (1L << 59) | (res.toLong << 52)
    var r = 1
    while (r <= 15) { h = H3.withDigit(h, r, 7); r += 1 }
    var rr = 1
    while (rr <= res) { h = H3.withDigit(h, rr, 0); rr += 1 }
    h
  }

  private def withBaseCell(h: Long, bc: Int): Long =
    (h & ~(0x7FL << 45)) | (bc.toLong << 45)

  /** The res-0 index of a base cell. */
  def res0Cell(bc: Int): Long = withBaseCell(initCell(0), bc)

  private[index] def leadingNonZeroDigit(h: Long): Int = {
    val res = H3.resolution(h)
    var r = 1
    while (r <= res) {
      val d = H3.digit(h, r)
      if (d != 0) return d
      r += 1
    }
    0
  }

  private def rotDigit60ccw(d: Int): Int = d match {
    case K_AXES_DIGIT  => IK_AXES_DIGIT
    case IK_AXES_DIGIT => I_AXES_DIGIT
    case I_AXES_DIGIT  => IJ_AXES_DIGIT
    case IJ_AXES_DIGIT => J_AXES_DIGIT
    case J_AXES_DIGIT  => JK_AXES_DIGIT
    case JK_AXES_DIGIT => K_AXES_DIGIT
    case other         => other
  }

  private def rotDigit60cw(d: Int): Int = d match {
    case K_AXES_DIGIT  => JK_AXES_DIGIT
    case JK_AXES_DIGIT => J_AXES_DIGIT
    case J_AXES_DIGIT  => IJ_AXES_DIGIT
    case IJ_AXES_DIGIT => I_AXES_DIGIT
    case I_AXES_DIGIT  => IK_AXES_DIGIT
    case IK_AXES_DIGIT => K_AXES_DIGIT
    case other         => other
  }

  private[index] def rotate60ccw(hIn: Long): Long = {
    var h = hIn
    val res = H3.resolution(h)
    var r = 1
    while (r <= res) { h = H3.withDigit(h, r, rotDigit60ccw(H3.digit(h, r))); r += 1 }
    h
  }

  private[index] def rotate60cw(hIn: Long): Long = {
    var h = hIn
    val res = H3.resolution(h)
    var r = 1
    while (r <= res) { h = H3.withDigit(h, r, rotDigit60cw(H3.digit(h, r))); r += 1 }
    h
  }

  private[index] def rotatePent60ccw(hIn: Long): Long = {
    var h = hIn
    val res = H3.resolution(h)
    var foundFirst = false
    var r = 1
    while (r <= res) {
      h = H3.withDigit(h, r, rotDigit60ccw(H3.digit(h, r)))
      if (!foundFirst && H3.digit(h, r) != 0) {
        foundFirst = true
        if (leadingNonZeroDigit(h) == K_AXES_DIGIT) h = rotate60ccw(h)
      }
      r += 1
    }
    h
  }

  private[index] def rotatePent60cw(hIn: Long): Long = {
    var h = hIn
    val res = H3.resolution(h)
    var foundFirst = false
    var r = 1
    while (r <= res) {
      h = H3.withDigit(h, r, rotDigit60cw(H3.digit(h, r)))
      if (!foundFirst && H3.digit(h, r) != 0) {
        foundFirst = true
        if (leadingNonZeroDigit(h) == K_AXES_DIGIT) h = rotate60cw(h)
      }
      r += 1
    }
    h
  }

  // ------------------------------------------------------- overage handling

  private[index] val NO_OVERAGE = 0
  private[index] val FACE_EDGE = 1
  private[index] val NEW_FACE = 2

  private[index] val IJ = 1 // adjacent-face direction codes
  private[index] val KI = 2
  private[index] val JK = 3

  /** Spec _adjustOverageClassII: move a FaceIJK spilling past the face edge
    * onto the adjacent face's coordinate system. */
  private[index] def adjustOverageClassII(fijk: FaceIJK, res: Int, pentLeading4: Boolean,
                                          substrate: Boolean): Int = {
    var overage = NO_OVERAGE
    val ijk = fijk.ijk
    var maxDim = maxDimByCIIres(res)
    if (substrate) maxDim *= 3
    if (substrate && ijk.i + ijk.j + ijk.k == maxDim) overage = FACE_EDGE
    else if (ijk.i + ijk.j + ijk.k > maxDim) {
      overage = NEW_FACE
      val dir =
        if (ijk.k > 0) { if (ijk.j > 0) JK else KI }
        else IJ
      if (dir == KI && pentLeading4) {
        // rotate out of the deleted K-axes sub-sequence: translate the
        // origin to the pentagon vertex, rotate cw, translate back
        val tmpI = ijk.i - maxDim
        val rI = tmpI + ijk.j; val rJ = ijk.j + ijk.k; val rK = tmpI + ijk.k // rotate60cw of (tmpI, j, k)
        ijk.i = rI + maxDim; ijk.j = rJ; ijk.k = rK
      }
      val fo = H3Tables.faceNeighbor(fijk.face, dir)
      fijk.face = fo.face
      var i = 0
      while (i < fo.ccwRot60) { rotate60ccwIJK(ijk); i += 1 }
      var unitScale = unitScaleByCIIres(res)
      if (substrate) unitScale *= 3
      ijk.i += fo.transI * unitScale
      ijk.j += fo.transJ * unitScale
      ijk.k += fo.transK * unitScale
      ijk.normalize()
      if (substrate && ijk.i + ijk.j + ijk.k == maxDim) overage = FACE_EDGE
    }
    overage
  }

  private[index] def maxDimByCIIres(res: Int): Int = {
    // 2 * 7^(res/2); res must be Class II (even)
    var v = 2
    var r = 0
    while (r < res) { v *= 7; r += 2 }
    v
  }

  private[index] def unitScaleByCIIres(res: Int): Int = {
    var v = 1
    var r = 0
    while (r < res) { v *= 7; r += 2 }
    v
  }
}

/** Mutable IJK+ coordinates (spec CoordIJK). */
private[index] final class IJK(var i: Int, var j: Int, var k: Int) {
  def copy(): IJK = new IJK(i, j, k)
  def max: Int = math.max(i, math.max(j, k))
  def normalize(): Unit = {
    if (i < 0) { j -= i; k -= i; i = 0 }
    if (j < 0) { i -= j; k -= j; j = 0 }
    if (k < 0) { i -= k; j -= k; k = 0 }
    // remove any positive min (at most one axis of i,j,k is redundant)
    var m = i
    if (j < m) m = j
    if (k < m) m = k
    if (m > 0) { i -= m; j -= m; k -= m }
  }
  override def toString = s"($i,$j,$k)"
}

private[index] final class FaceIJK(var face: Int, val ijk: IJK)

/** Scalar math + IJK arithmetic for the H3 grid (spec coordijk.c / vec3d.c). */
private[index] object H3Math {
  val EPSILON = 1e-16 // spec EPSILON (0.0000000000000001)
  val M_SQRT7 = 2.6457513110645905905016157536392604257102
  val M_SIN60 = math.sqrt(3.0) / 2.0
  val M_SQRT3_2 = M_SIN60
  val M_AP7_ROT_RADS = math.asin(math.sqrt(3.0 / 28.0)) // ~0.333473172251832
  val RES0_U_GNOMONIC = 0.38196601125010500003
  val MAX_FACE_COORD = 2
  val NUM_HEX_VERTS = 6
  val NUM_PENT_VERTS = 5

  def isClassIII(res: Int): Boolean = (res % 2) == 1

  def posAngle(a: Double): Double = {
    val twoPi = 2.0 * math.Pi
    var r = a
    if (r < 0.0) r += twoPi
    else if (r >= twoPi) r -= twoPi
    if (r < 0.0) r += twoPi
    r
  }

  def geoToVec3d(lat: Double, lng: Double): (Double, Double, Double) = {
    val r = math.cos(lat)
    (math.cos(lng) * r, math.sin(lng) * r, math.sin(lat))
  }

  def dist3dSq(a: (Double, Double, Double), b: (Double, Double, Double)): Double = {
    val dx = a._1 - b._1; val dy = a._2 - b._2; val dz = a._3 - b._3
    dx * dx + dy * dy + dz * dz
  }

  def closestFace(lat: Double, lng: Double): Int = {
    val v = geoToVec3d(lat, lng)
    var best = 0
    var bestD = Double.MaxValue
    var f = 0
    while (f < 20) {
      val d = dist3dSq(v, H3Tables.faceCenterPoint(f))
      if (d < bestD) { bestD = d; best = f }
      f += 1
    }
    best
  }

  /** Azimuth (radians, clockwise from north) from p1 to p2. */
  def geoAzimuthRads(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double =
    math.atan2(
      math.cos(lat2) * math.sin(lng2 - lng1),
      math.cos(lat1) * math.sin(lat2) - math.sin(lat1) * math.cos(lat2) * math.cos(lng2 - lng1))

  /** Point at (azimuth, angular distance) from p1 (spec _geoAzDistanceRads). */
  def geoAzDistanceRads(lat1: Double, lng1: Double, azIn: Double, distance: Double): (Double, Double) = {
    if (distance < EPSILON) return (lat1, lng1)
    val az = posAngle(azIn)
    if (az < EPSILON || math.abs(az - math.Pi) < EPSILON) {
      // due north or south
      val lat = if (az < EPSILON) lat1 + distance else lat1 - distance
      if (math.abs(lat - math.Pi / 2) < EPSILON) (math.Pi / 2, 0.0)
      else if (math.abs(lat + math.Pi / 2) < EPSILON) (-math.Pi / 2, 0.0)
      else (lat, constrainLng(lng1))
    } else {
      var sinLat = math.sin(lat1) * math.cos(distance) +
        math.cos(lat1) * math.sin(distance) * math.cos(az)
      if (sinLat > 1.0) sinLat = 1.0
      if (sinLat < -1.0) sinLat = -1.0
      val lat = math.asin(sinLat)
      if (math.abs(lat - math.Pi / 2) < EPSILON) (math.Pi / 2, 0.0)
      else if (math.abs(lat + math.Pi / 2) < EPSILON) (-math.Pi / 2, 0.0)
      else {
        var sinLng = math.sin(az) * math.sin(distance) / math.cos(lat)
        var cosLng = (math.cos(distance) - math.sin(lat1) * math.sin(lat)) /
          (math.cos(lat1) * math.cos(lat))
        if (sinLng > 1.0) sinLng = 1.0
        if (sinLng < -1.0) sinLng = -1.0
        if (cosLng > 1.0) cosLng = 1.0
        if (cosLng < -1.0) cosLng = -1.0
        (lat, constrainLng(lng1 + math.atan2(sinLng, cosLng)))
      }
    }
  }

  def constrainLng(lngIn: Double): Double = {
    var lng = lngIn
    while (lng > math.Pi) lng -= 2 * math.Pi
    while (lng < -math.Pi) lng += 2 * math.Pi
    lng
  }

  // ---- IJK arithmetic (spec coordijk.c) ----

  def ijkToHex2d(h: IJK): (Double, Double) = {
    val i = h.i - h.k
    val j = h.j - h.k
    (i - 0.5 * j, j * M_SIN60)
  }

  /** Spec _hex2dToCoordIJK: round a continuous hex2d position to the
    * containing cell's IJK+ coordinates. */
  def hex2dToCoordIJK(x: Double, y: Double, h: IJK): Unit = {
    h.k = 0
    val a1 = math.abs(x)
    val a2 = math.abs(y)
    val x2 = a2 / M_SIN60
    val x1 = a1 + x2 / 2.0
    val m1 = x1.toInt
    val m2 = x2.toInt
    val r1 = x1 - m1
    val r2 = x2 - m2
    if (r1 < 0.5) {
      if (r1 < 1.0 / 3.0) {
        if (r2 < (1.0 + r1) / 2.0) { h.i = m1; h.j = m2 }
        else { h.i = m1; h.j = m2 + 1 }
      } else {
        if (r2 < (1.0 - r1)) h.j = m2 else h.j = m2 + 1
        if ((1.0 - r1) <= r2 && r2 < (2.0 * r1)) h.i = m1 + 1 else h.i = m1
      }
    } else {
      if (r1 < 2.0 / 3.0) {
        if (r2 < (1.0 - r1)) h.j = m2 else h.j = m2 + 1
        if ((2.0 * r1 - 1.0) < r2 && r2 < (1.0 - r1)) h.i = m1 else h.i = m1 + 1
      } else {
        if (r2 < (r1 / 2.0)) { h.i = m1 + 1; h.j = m2 }
        else { h.i = m1 + 1; h.j = m2 + 1 }
      }
    }
    // fold across the axes if necessary
    if (x < 0.0) {
      if (h.j % 2 == 0) {
        val axisi = h.j / 2
        val diff = h.i - axisi
        h.i = h.i - 2 * diff
      } else {
        val axisi = (h.j + 1) / 2
        val diff = h.i - axisi
        h.i = h.i - (2 * diff + 1)
      }
    }
    if (y < 0.0) {
      h.i = h.i - (2 * h.j + 1) / 2
      h.j = -h.j
    }
    h.normalize()
  }

  /** Inverse projection: hex2d on a face at res → (latRad, lngRad). */
  def hex2dToGeo(x: Double, y: Double, face: Int, res: Int, substrate: Boolean): (Double, Double) = {
    var r = math.sqrt(x * x + y * y)
    if (r < EPSILON) return (H3Tables.faceCenterLat(face), H3Tables.faceCenterLng(face))
    var theta = math.atan2(y, x)
    var i = 0
    while (i < res) { r /= M_SQRT7; i += 1 }
    if (substrate) {
      r /= 3.0
      if (isClassIII(res)) r /= M_SQRT7
    }
    r *= RES0_U_GNOMONIC
    r = math.atan(r)
    if (!substrate && isClassIII(res)) theta = posAngle(theta + M_AP7_ROT_RADS)
    theta = posAngle(H3Tables.faceAxesAzRads0(face) - posAngle(theta))
    geoAzDistanceRads(H3Tables.faceCenterLat(face), H3Tables.faceCenterLng(face), theta, r)
  }

  def upAp7(h: IJK): Unit = {
    val i = h.i - h.k
    val j = h.j - h.k
    h.i = math.round((3 * i - j) / 7.0).toInt
    h.j = math.round((i + 2 * j) / 7.0).toInt
    h.k = 0
    h.normalize()
  }

  def upAp7r(h: IJK): Unit = {
    val i = h.i - h.k
    val j = h.j - h.k
    h.i = math.round((2 * i + j) / 7.0).toInt
    h.j = math.round((3 * j - i) / 7.0).toInt
    h.k = 0
    h.normalize()
  }

  private def downCombine(h: IJK, iV: (Int, Int, Int), jV: (Int, Int, Int), kV: (Int, Int, Int)): Unit = {
    val ni = iV._1 * h.i + jV._1 * h.j + kV._1 * h.k
    val nj = iV._2 * h.i + jV._2 * h.j + kV._2 * h.k
    val nk = iV._3 * h.i + jV._3 * h.j + kV._3 * h.k
    h.i = ni; h.j = nj; h.k = nk
    h.normalize()
  }

  def downAp7(h: IJK): Unit = downCombine(h, (3, 0, 1), (1, 3, 0), (0, 1, 3))
  def downAp7r(h: IJK): Unit = downCombine(h, (3, 1, 0), (0, 3, 1), (1, 0, 3))
  def downAp3(h: IJK): Unit = downCombine(h, (2, 0, 1), (1, 2, 0), (0, 1, 2))
  def downAp3r(h: IJK): Unit = downCombine(h, (2, 1, 0), (0, 2, 1), (1, 0, 2))

  private val UNIT_VECS: Array[(Int, Int, Int)] = Array(
    (0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (1, 0, 1), (1, 1, 0))

  def neighbor(h: IJK, digit: Int): Unit = {
    if (digit > 0 && digit < 7) {
      val u = UNIT_VECS(digit)
      h.i += u._1; h.j += u._2; h.k += u._3
      h.normalize()
    }
  }

  def unitIjkToDigit(h: IJK): Int = {
    val c = h.copy()
    c.normalize()
    var d = 0
    while (d < 7) {
      val u = UNIT_VECS(d)
      if (c.i == u._1 && c.j == u._2 && c.k == u._3) return d
      d += 1
    }
    throw graft.core.GeoqException(s"h3: non-unit IJK diff $h")
  }

  def rotate60ccwIJK(h: IJK): Unit = {
    // i -> ij, j -> jk, k -> ik
    val ni = h.i + h.k
    val nj = h.i + h.j
    val nk = h.j + h.k
    h.i = ni; h.j = nj; h.k = nk
    h.normalize()
  }

  /** 2D line intersection (spec _v2dIntersect). */
  def v2dIntersect(p0x: Double, p0y: Double, p1x: Double, p1y: Double,
                   p2x: Double, p2y: Double, p3x: Double, p3y: Double): (Double, Double) = {
    val s1x = p1x - p0x; val s1y = p1y - p0y
    val s2x = p3x - p2x; val s2y = p3y - p2y
    val t = (s2x * (p0y - p2y) - s2y * (p0x - p2x)) / (-s2x * s1y + s1x * s2y)
    (p0x + t * s1x, p0y + t * s1y)
  }
}
