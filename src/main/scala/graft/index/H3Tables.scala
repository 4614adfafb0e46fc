package graft.index

import graft.core.GeoqException

/** Derived H3 spec tables.
  *
  * The H3 C library hardcodes ~1,500 generated table entries (base cell
  * placements, per-face rotations, face neighbors). None of that data is
  * available offline, so this object RE-DERIVES all of it at first use from
  * first principles plus a small set of remembered spec anchors:
  *
  *   1. the 20 icosahedron face centers (spec constants, cross-validated:
  *      they must pair antipodally and tile a regular icosahedron);
  *   2. the 12 icosa vertices — computed exactly as spherical circumcenters
  *      of adjacent face-center triples;
  *   3. per-face i-axis azimuths — computed exactly as the azimuth to one of
  *      the face's 3 vertices, the CHOICE of vertex disambiguated by a
  *      low-precision remembered azimuth (the spec table's leading digits);
  *   4. the 122 base cells — all res-0 FaceIJK lattice positions across the
  *      20 faces clustered by geographic coincidence, then NUMBERED BY
  *      DESCENDING CENTER LATITUDE (the spec's published numbering rule;
  *      validated: the derived pentagon positions must land exactly on the
  *      spec pentagon id set {4,14,24,38,49,58,63,72,83,97,107,117});
  *   5. per-(face,position) rotation counts and the face-neighbor transform
  *      table — solved exactly over the integers from cells shared between
  *      adjacent faces' coordinate systems;
  *   6. the rotation-direction convention and all pentagon conventions
  *      (member-face rotations, cw-offset faces) — FITTED by running the
  *      real encode/decode path against published anchor cells
  *      (geoToH3(37.3615593,-122.0553238,5) = 85283473fffffff; north/south
  *      pole base cells 0/121) and geometric round-trip probes.
  *
  * Any failed validation throws at init (fail-fast) rather than silently
  * producing non-canonical ids.
  */
private[index] object H3Tables {

  final class FaceOrient(val face: Int, val transI: Int, val transJ: Int, val transK: Int,
                         val ccwRot60: Int)

  // -------- public accessors (thread-safe lazy build with reentrancy) -----

  def faceCenterLat(f: Int): Double = T.faceLat(f)
  def faceCenterLng(f: Int): Double = T.faceLng(f)
  def faceCenterPoint(f: Int): (Double, Double, Double) = T.facePoint(f)
  def faceAxesAzRads0(f: Int): Double = T.az0(f)
  def pentagonBaseCells: Set[Int] = T.pentSet
  def homeFijk(bc: Int): FaceIJK = T.home(bc)
  def baseCellLookup(face: Int, ijk: IJK): Int = T.lookupBc(face, ijk)
  def baseCellRotationLookup(face: Int, ijk: IJK): Int = T.lookupRot(face, ijk)
  def isCwOffset(bc: Int, face: Int): Boolean = T.cwOffset.contains((bc, face))
  def faceNeighbor(face: Int, dir: Int): FaceOrient = T.faceNb(face)(dir)
  def adjacentFaceDir(face: Int): Array[Int] = T.adjFaceDir(face)

  @volatile private var built: Builder = null
  private val inProgress = new ThreadLocal[Builder]

  private def T: Builder = {
    val t = built
    if (t != null) t
    else {
      val ip = inProgress.get()
      if (ip != null) ip
      else synchronized {
        if (built == null) {
          val b = new Builder
          inProgress.set(b)
          try { b.build(); built = b } finally inProgress.remove()
        }
        built
      }
    }
  }

  // ------------------------------------------------------------------------

  private final class Builder {
    import H3Math._

    // Spec constants: icosahedron face centers, radians (lat, lng), faces
    // 0-19. Validated in build(): all 20 must pair antipodally and pairwise
    // adjacent-center distances must be identical (regular icosahedron).
    val faceLat: Array[Double] = Array(
      0.803582649718989942, 1.307747883455638156, 1.054751253523952054,
      0.600191595538186799, 0.491715428198773866, 0.172745327415618701,
      0.605929321571350690, 0.427370518328979641, -0.079066118549212831,
      -0.230961644455383637, 0.079066118549212831, 0.230961644455383637,
      -0.172745327415618701, -0.605929321571350690, -0.427370518328979641,
      -0.600191595538186799, -0.491715428198773866, -0.803582649718989942,
      -1.307747883455638156, -1.054751253523952054)
    val faceLng: Array[Double] = Array(
      1.248397419617396099, 2.536945009877921159, -1.347517358900396623,
      -0.450603909469755746, 0.401988202911306943, 1.678146885280433686,
      2.953923329812411617, -1.888876200336285401, -0.733429513380867741,
      0.506495587332349035, 2.408163140208925497, -2.635097066257444203,
      -1.463445768309359553, -0.187669323777381622, 1.252716453253507838,
      2.690988744120037492, -2.739604450678486295, -1.893195233972397139,
      -0.604647643711872080, 1.794075294689396615)

    // Remembered spec azimuths (face center → vertex 0), used ONLY to pick
    // which of the 3 derived vertices is vertex 0 — the stored azimuth is
    // recomputed exactly from the derived vertex. Tolerance-asserted.
    private val az0Approx: Array[Double] = Array(
      5.619958268523939, 5.760339081714187, 0.780213654393430,
      0.430469363979999, 6.130269123335111, 2.692877706530642,
      2.982963003477243, 3.532912002790141, 3.494305004259568,
      3.003214169499538, 5.930472956509811, 0.138378484090254,
      0.448714947059150, 0.158629650112549, 5.891865957979238,
      2.711123289609793, 3.294508837434268, 3.804819692245439,
      3.664438879055192, 2.361378999196363)

    val facePoint = new Array[(Double, Double, Double)](20)
    val az0 = new Array[Double](20)
    var faceAdj: Array[Seq[Int]] = _ // 3 edge-adjacent faces per face
    var vertices: Array[(Double, Double, Double)] = _ // 12 icosa vertices
    var faceVerts: Array[Array[Int]] = _ // per face: vertex ids of [i,j,k] corners

    val NUM_BASE_CELLS = 122
    var home: Array[FaceIJK] = _
    var bcCenter: Array[(Double, Double)] = _
    var pentSet: Set[Int] = _
    // (face, normI, normJ, normK) → (baseCell, ccwRot60)
    private val posToCell = scala.collection.mutable.Map[(Int, Int, Int, Int), Int]()
    private val posToRot = scala.collection.mutable.Map[(Int, Int, Int, Int), Int]()
    var cwOffset: Set[(Int, Int)] = Set.empty
    var faceNb: Array[Array[FaceOrient]] = _ // [face][dir 1..3], slot 0 unused
    var adjFaceDir: Array[Array[Int]] = _

    def lookupBc(face: Int, ijk: IJK): Int = {
      val n = ijk.copy(); n.normalize()
      posToCell.getOrElse((face, n.i, n.j, n.k),
        throw GeoqException(s"h3: no base cell at face $face $n"))
    }

    def lookupRot(face: Int, ijk: IJK): Int = {
      val n = ijk.copy(); n.normalize()
      posToRot.getOrElse((face, n.i, n.j, n.k), 0)
    }

    // ---------------------------------------------------------------- build

    def build(): Unit = {
      deriveFaceGeometry()
      deriveBaseCells()
      deriveFaceNeighbors()
      deriveExtendedPositions()
      fitRotations()
      fitPentagons()
      finalChecks()
    }

    private def norm3(v: (Double, Double, Double)): (Double, Double, Double) = {
      val m = math.sqrt(v._1 * v._1 + v._2 * v._2 + v._3 * v._3)
      (v._1 / m, v._2 / m, v._3 / m)
    }

    private def cross(a: (Double, Double, Double), b: (Double, Double, Double)) =
      (a._2 * b._3 - a._3 * b._2, a._3 * b._1 - a._1 * b._3, a._1 * b._2 - a._2 * b._1)

    private def sub(a: (Double, Double, Double), b: (Double, Double, Double)) =
      (a._1 - b._1, a._2 - b._2, a._3 - b._3)

    private def dot(a: (Double, Double, Double), b: (Double, Double, Double)) =
      a._1 * b._1 + a._2 * b._2 + a._3 * b._3

    private def deriveFaceGeometry(): Unit = {
      var f = 0
      while (f < 20) { facePoint(f) = geoToVec3d(faceLat(f), faceLng(f)); f += 1 }

      // antipodal pairing sanity of the remembered constants
      for (a <- 0 until 20) {
        val anti = (-facePoint(a)._1, -facePoint(a)._2, -facePoint(a)._3)
        val ok = (0 until 20).exists(b => dist3dSq(facePoint(b), anti) < 1e-12)
        if (!ok) throw GeoqException(s"h3 init: face $a has no antipodal twin — face table corrupt")
      }

      // edge adjacency = the 3 nearest other faces (regular solid: all equal)
      val d2 = Array.tabulate(20, 20)((a, b) => dist3dSq(facePoint(a), facePoint(b)))
      val minAdj = (0 until 20).flatMap(a => (0 until 20).collect { case b if b != a => d2(a)(b) }).min
      faceAdj = Array.tabulate(20) { a =>
        val adj = (0 until 20).filter(b => b != a && d2(a)(b) < minAdj * 1.0001)
        if (adj.size != 3) throw GeoqException(s"h3 init: face $a has ${adj.size} edge neighbors")
        adj
      }

      // 12 vertices: spherical circumcenters of (face, neighbor-pair) triples
      val cand = scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()
      for (a <- 0 until 20; pair <- faceAdj(a).combinations(2)) {
        val n1 = sub(facePoint(pair(0)), facePoint(a))
        val n2 = sub(facePoint(pair(1)), facePoint(a))
        var v = norm3(cross(n1, n2))
        if (dot(v, facePoint(a)) < 0) v = (-v._1, -v._2, -v._3)
        // only neighbor-pairs that share a vertex with face a yield a point
        // at the face circumradius; the third pair configuration (the two
        // neighbors across from each other) does not exist for triangles —
        // all 3 pairs share a vertex. Keep all.
        cand += v
      }
      val clusters = scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()
      cand.foreach { v =>
        if (!clusters.exists(c => dist3dSq(c, v) < 1e-12)) clusters += v
      }
      if (clusters.size != 12)
        throw GeoqException(s"h3 init: derived ${clusters.size} icosa vertices, expected 12")
      vertices = clusters.toArray

      // per-face vertex ids + exact az0 (vertex chosen via remembered azimuth)
      faceVerts = new Array[Array[Int]](20)
      f = 0
      while (f < 20) {
        // the face's 3 corners = vertices at the circumradius (min distance)
        val dmin = vertices.indices.map(vi => dist3dSq(facePoint(f), vertices(vi))).min
        val corner = vertices.indices.filter(vi =>
          dist3dSq(facePoint(f), vertices(vi)) < dmin * 1.0001).toArray
        if (corner.length != 3)
          throw GeoqException(s"h3 init: face $f has ${corner.length} corner vertices")
        val withAz = corner.map { vi =>
          val v = vertices(vi)
          val lat = math.asin(math.max(-1, math.min(1, v._3)))
          val lng = math.atan2(v._2, v._1)
          (vi, posAngle(geoAzimuthRads(faceLat(f), faceLng(f), lat, lng)))
        }
        val i0 = withAz.minBy(t => angDiff(t._2, az0Approx(f)))
        if (angDiff(i0._2, az0Approx(f)) > 0.01)
          throw GeoqException(f"h3 init: face $f vertex-0 azimuth ${i0._2}%.6f " +
            f"vs remembered ${az0Approx(f)}%.6f — selector memory corrupt")
        az0(f) = i0._2
        // j vertex at az0 - 2π/3, k vertex at az0 - 4π/3
        val jV = withAz.minBy(t => angDiff(t._2, posAngle(i0._2 - 2 * math.Pi / 3)))
        val kV = withAz.minBy(t => angDiff(t._2, posAngle(i0._2 - 4 * math.Pi / 3)))
        if (Set(i0._1, jV._1, kV._1).size != 3)
          throw GeoqException(s"h3 init: face $f i/j/k vertex assignment degenerate")
        faceVerts(f) = Array(i0._1, jV._1, kV._1)
        f += 1
      }
    }

    private def angDiff(a: Double, b: Double): Double = {
      val d = math.abs(posAngle(a) - posAngle(b))
      math.min(d, 2 * math.Pi - d)
    }

    /** All 19 distinct normalized res-0 positions with coordinates ≤ 2:
      * 10 on-face (i+j+k ≤ 2 — center, 3 interior, 3 edge-midpoints, 3
      * vertices) and 9 "extended" (i+j+k > 2 — positions beyond the face
      * edge whose cells belong to neighbor faces TOPOLOGICALLY; the gnomonic
      * lattice does not extend projectively across icosa edges, so these are
      * resolved through the face-pair transforms, never by projection). */
    private def allPositions: Seq[IJK] = {
      val seen = scala.collection.mutable.LinkedHashSet[(Int, Int, Int)]()
      for (i <- 0 to 2; j <- 0 to 2; k <- 0 to 2) {
        val n = new IJK(i, j, k); n.normalize()
        if (n.max <= 2) seen += ((n.i, n.j, n.k))
      }
      seen.toSeq.map { case (i, j, k) => new IJK(i, j, k) }
    }

    private def onFacePositions: Seq[IJK] = allPositions.filter(p => p.i + p.j + p.k <= 2)

    private def deriveBaseCells(): Unit = {
      // cluster the ON-FACE (face, position) res-0 lattice points by
      // geographic coincidence: 20 centers + 60 interior + 30 shared
      // edge-midpoints + 12 shared vertices = 122
      final case class Member(face: Int, ijk: IJK, geo: (Double, Double))
      val clusters = scala.collection.mutable.ArrayBuffer[
        (scala.collection.mutable.ArrayBuffer[Member], (Double, Double, Double))]()
      for (face <- 0 until 20; pos <- onFacePositions) {
        val (lat, lng) = H3Geo.faceIjkToGeo(face, pos, 0)
        val p3 = geoToVec3d(lat, lng)
        val m = Member(face, pos, (lat, lng))
        clusters.find(c => dist3dSq(c._2, p3) < 1e-10) match {
          case Some(c) => c._1 += m
          case None =>
            clusters += ((scala.collection.mutable.ArrayBuffer(m), p3))
        }
      }
      if (clusters.size != NUM_BASE_CELLS)
        throw GeoqException(s"h3 init: ${clusters.size} res-0 cells, expected 122")

      // pentagon clusters sit exactly on icosa vertices
      def isPentCluster(p3: (Double, Double, Double)): Boolean =
        vertices.exists(v => dist3dSq(v, p3) < 1e-10)

      // SPEC NUMBERING: descending center latitude (ties: none expected —
      // asserted), then the pentagon ids must land on the spec set.
      val ordered = clusters.sortBy(c => -c._1.head.geo._1)
      for (w <- ordered.sliding(2)) {
        if (math.abs(w(0)._1.head.geo._1 - w(1)._1.head.geo._1) < 1e-9)
          throw GeoqException("h3 init: latitude tie in base cell numbering — need a tie-break rule")
      }
      val pentIds = ordered.zipWithIndex.collect { case (c, idx) if isPentCluster(c._2) => idx }
      val SPEC_PENTS = Set(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)
      if (pentIds.toSet != SPEC_PENTS)
        throw GeoqException(s"h3 init: latitude-ordered pentagons at $pentIds != spec $SPEC_PENTS — numbering rule wrong")
      pentSet = SPEC_PENTS

      home = new Array[FaceIJK](NUM_BASE_CELLS)
      bcCenter = new Array[(Double, Double)](NUM_BASE_CELLS)
      ordered.zipWithIndex.foreach { case ((members, _), bc) =>
        bcCenter(bc) = members.head.geo
        // home convention:
        // - pentagons MUST sit at their home face's i-corner (2,0,0): the
        //   spec's deleted-K machinery rotates about origin (maxDim,0,0),
        //   which presumes the i-vertex. Home = lowest face seeing the
        //   vertex as its i-corner.
        // - hexagons: the face whose center is closest; ties (edge-midpoint
        //   cells: 2 equidistant faces) break to the LOWEST face number.
        val h =
          if (isPentCluster(geoToVec3d(members.head.geo._1, members.head.geo._2))) {
            val iCorner = members.filter(m => m.ijk.i == 2 && m.ijk.j == 0 && m.ijk.k == 0)
            if (iCorner.isEmpty)
              throw GeoqException(s"h3 init: pentagon cluster $bc is no face's i-corner")
            iCorner.minBy(_.face)
          } else {
            val withDist = members.map(m =>
              (m, dist3dSq(facePoint(m.face), geoToVec3d(m.geo._1, m.geo._2))))
            val dmin = withDist.map(_._2).min
            withDist.filter(_._2 < dmin + 1e-9).map(_._1).minBy(_.face)
          }
        home(bc) = new FaceIJK(h.face, h.ijk.copy())
        members.foreach { m =>
          posToCell((m.face, m.ijk.i, m.ijk.j, m.ijk.k)) = bc
        }
      }
    }

    /** Solve the rigid transform between adjacent faces' res-0 coordinate
      * systems from their shared ON-FACE cells (the 2 shared vertices + the
      * shared edge midpoint): coords_G = rot60ccw^r(coords_F) + t. */
    private def solvePair(f: Int, g: Int): (Int, IJK) = {
      val shared = scala.collection.mutable.ArrayBuffer[(IJK, IJK)]()
      for (pos <- onFacePositions) {
        val bc = posToCell.get((f, pos.i, pos.j, pos.k))
        if (bc.isDefined) {
          // find this cell's position on face g, if any
          onFacePositions.find(p2 => posToCell.get((g, p2.i, p2.j, p2.k)) == bc) match {
            case Some(p2) => shared += ((pos, p2))
            case None     =>
          }
        }
      }
      if (shared.size < 3)
        throw GeoqException(s"h3 init: faces $f,$g share only ${shared.size} cells")
      val sols = (0 until 6).flatMap { r =>
        val (p0f, p0g) = shared.head
        val rp = p0f.copy()
        (0 until r).foreach(_ => rotate60ccwIJK(rp))
        val t = new IJK(p0g.i - rp.i, p0g.j - rp.j, p0g.k - rp.k)
        val ok = shared.forall { case (pf, pg) =>
          val x = pf.copy()
          (0 until r).foreach(_ => rotate60ccwIJK(x))
          x.i += t.i; x.j += t.j; x.k += t.k
          x.normalize()
          x.i == pg.i && x.j == pg.j && x.k == pg.k
        }
        if (ok) Some((r, t)) else None
      }
      if (sols.size != 1)
        throw GeoqException(s"h3 init: face pair $f→$g has ${sols.size} transforms")
      sols.head
    }

    private def deriveFaceNeighbors(): Unit = {
      faceNb = Array.fill(20)(new Array[FaceOrient](4))
      adjFaceDir = Array.fill(20)(Array.fill(20)(-1))
      for (f <- 0 until 20) {
        val Array(vi, vj, vk) = faceVerts(f)
        def other(fa: Int, a: Int, b: Int): Int = {
          val cands = faceAdj(f).filter { g =>
            val gs = faceVerts(g).toSet
            gs.contains(a) && gs.contains(b)
          }
          if (cands.size != 1)
            throw GeoqException(s"h3 init: edge ($a,$b) of face $f has ${cands.size} partners")
          cands.head
        }
        val gIJ = other(f, vi, vj)
        val gKI = other(f, vk, vi)
        val gJK = other(f, vj, vk)
        Seq((H3Geo.IJ, gIJ), (H3Geo.KI, gKI), (H3Geo.JK, gJK)).foreach { case (dir, g) =>
          val (r, t) = solvePair(f, g)
          faceNb(f)(dir) = new FaceOrient(g, t.i, t.j, t.k, r)
          adjFaceDir(f)(g) = dir
        }
      }
    }

    /** Per-(face,position) digit rotation into the home frame. The rotation
      * DIRECTION convention (whether the face→home frame rotation or its
      * inverse is applied to the digits) is fitted: the correct one makes
      * encode↔decode round-trip globally AND reproduces the published SF
      * anchor cell. */
    private def fitRotations(): Unit = {
      def fill(invert: Boolean): Unit = {
        posToRot.clear()
        for (((face, i, j, k), bc) <- posToCell) {
          val hf = home(bc).face
          val r =
            if (face == hf) 0
            else if (pentSet.contains(bc)) 0 // fitted later in fitPentagons()
            else {
              val rp = solvePairCached(face, hf)._1
              if (invert) (6 - rp) % 6 else rp
            }
          posToRot((face, i, j, k)) = r
        }
      }
      // global hexagon round-trip sweep: encode from probe points at res 2
      // (Class II) and res 3 (Class III — exercises the downAp7r/upAp7r
      // overage path), decode the center, re-encode — must be identical
      def sweepMismatches(): Int = {
        var bad = 0
        for (bc <- 0 until NUM_BASE_CELLS; if !pentSet.contains(bc); res <- Seq(2, 3)) {
          val (la, ln) = bcCenter(bc)
          var az = 0.0
          while (az < 2 * math.Pi) {
            val (pla, pln) = geoAzDistanceRads(la, ln, az, 0.12)
            try {
              val c = H3Geo.latLngToCell(math.toDegrees(pla), math.toDegrees(pln), res)
              if (!pentSet.contains(H3.baseCell(c))) {
                val (cla, cln) = H3Geo.cellToLatLng(c)
                if (H3Geo.latLngToCell(cla, cln, res) != c) bad += 1
              }
            } catch { case _: Exception => bad += 1 }
            az += math.Pi / 4
          }
        }
        bad
      }
      // Published anchor: geoToH3(37.3615593, -122.0553238, 5) = 85283473fffffff
      val want = java.lang.Long.parseUnsignedLong("85283473fffffff", 16)
      def anchorOk: Boolean =
        (try H3Geo.latLngToCell(37.3615593, -122.0553238, 5) catch { case _: Exception => 0L }) == want
      fill(invert = false)
      val okA = anchorOk && sweepMismatches() == 0
      if (!okA) {
        fill(invert = true)
        val okB = anchorOk && sweepMismatches() == 0
        if (!okB)
          throw GeoqException("h3 init: no rotation-direction convention satisfies the SF anchor " +
            "+ global round-trip sweep")
      }
    }

    private val pairCache = scala.collection.mutable.Map[(Int, Int), (Int, IJK)]()
    private def solvePairCached(f: Int, g: Int): (Int, IJK) =
      pairCache.getOrElseUpdate((f, g), solvePair(f, g))

    /** Resolve the 9 extended positions per face (i+j+k > 2) to the cells
      * they denote on the adjacent face, via the solved transforms. Encode
      * lands on these when a point's gnomonic rounding spills one lattice
      * step past the face edge; the identification is topological. */
    private def deriveExtendedPositions(): Unit = {
      for (face <- 0 until 20; pos <- allPositions; if pos.i + pos.j + pos.k > 2) {
        val dir =
          if (pos.k > 0) { if (pos.j > 0) H3Geo.JK else H3Geo.KI }
          else H3Geo.IJ
        val fo = faceNb(face)(dir)
        val (r, t) = solvePairCached(face, fo.face)
        val x = pos.copy()
        (0 until r).foreach(_ => rotate60ccwIJK(x))
        x.i += t.i; x.j += t.j; x.k += t.k
        x.normalize()
        if (x.i + x.j + x.k > 2) {
          val sharedDbg = onFacePositions.flatMap { p =>
            posToCell.get((face, p.i, p.j, p.k)).flatMap { bc =>
              onFacePositions.find(p2 => posToCell.get((fo.face, p2.i, p2.j, p2.k)).contains(bc))
                .map(p2 => s"$p→$p2(bc$bc)")
            }
          }
          throw GeoqException(s"h3 init: extended position $pos of face $face dir $dir → face ${fo.face} " +
            s"r=$r t=$t resolves off-face to $x; shared: ${sharedDbg.mkString(" ")}")
        }
        val bc = posToCell.getOrElse((fo.face, x.i, x.j, x.k),
          throw GeoqException(s"h3 init: extended position $pos of face $face → unmapped $x on ${fo.face}"))
        if (pentSet.contains(bc))
          throw GeoqException(s"h3 init: extended position $pos of face $face resolves to pentagon $bc")
        posToCell((face, pos.i, pos.j, pos.k)) = bc
      }
    }

    /** Decode-lattice sanity for a pentagon base cell: enumerate ALL its
      * descendants at `res` (pure bit ops — no fitted data), decode every
      * center (decode never consults the fitted pentagon values), and demand
      * they form a proper lattice: no two centers closer than half the
      * median nearest-neighbor spacing. A decode bug folds cells on top of
      * each other and fails loudly here, BEFORE table fitting. */
    private def pentagonLatticeCheck(bc: Int, res: Int): Unit = {
      val root = H3Geo.res0Cell(bc)
      val cells = H3.cellToChildren(root, res)
      val pts = cells.map { c =>
        val (la, ln) = H3Geo.cellToLatLng(c)
        (c, geoToVec3d(math.toRadians(la), math.toRadians(ln)))
      }
      val nn = pts.map { case (c, p) =>
        val d = pts.collect { case (c2, p2) if c2 != c => dist3dSq(p, p2) }.min
        (c, d)
      }
      val med = nn.map(_._2).sorted.apply(nn.size / 2)
      val bad = nn.filter(_._2 < med * 0.25)
      if (bad.nonEmpty) {
        val worst = bad.minBy(_._2)
        val other = pts.filter(_._1 != worst._1).minBy(p => dist3dSq(p._2, pts.find(_._1 == worst._1).get._2))
        throw GeoqException(f"h3 init: pentagon $bc res $res decode lattice collision: " +
          f"${java.lang.Long.toHexString(worst._1)} vs ${java.lang.Long.toHexString(other._1)} " +
          f"(d2=${worst._2}%.2e, median=$med%.2e)")
      }
    }

    /** Jointly fit pentagon member-face rotations (0..5) and cw-offset
      * membership: enumerate all descendants of the pentagon base cell at a
      * Class II and a Class III resolution, decode their centers (trusted:
      * decode never consults the fitted values, and the lattice check above
      * vouches for it), group them by the face each center projects to, and
      * pick the (rot, cw) entry under which every center re-encodes to its
      * own cell. */
    private def fitPentagons(): Unit = {
      val chosen = scala.collection.mutable.Set[(Int, Int)]()
      for (bc <- pentSet.toSeq.sorted) {
        pentagonLatticeCheck(bc, 2)
        pentagonLatticeCheck(bc, 3)
        // decoded centers of ALL descendants at a Class II and Class III res,
        // grouped by the face each center projects onto
        val samples = Seq(2, 3).flatMap { res =>
          H3.cellToChildren(H3Geo.res0Cell(bc), res).map { c =>
            val (la, ln) = H3Geo.cellToLatLng(c)
            (c, la, ln, closestFace(math.toRadians(la), math.toRadians(ln)), res)
          }
        }
        val memberFaces =
          posToCell.collect { case ((f, _, _, _), c) if c == bc => f }.toSeq.distinct.sorted
        for (face <- memberFaces) {
          val mine = samples.filter(_._4 == face)
          if (mine.isEmpty)
            throw GeoqException(s"h3 init: pentagon $bc: no centers project to face $face")
          val key = memberKey(bc, face)
          val isHome = face == home(bc).face
          // pentagon rotations live mod 5: rotatePent60ccw^5 = identity (the
          // deleted-K skip makes the orientation group order 5)
          val rots = if (isHome) Seq(0) else 0 until 5
          val scored = (for (r <- rots; cw <- Seq(false, true)) yield {
            posToRot(key) = r
            cwOffset = chosen.toSet ++ (if (cw) Set((bc, face)) else Set.empty[(Int, Int)])
            val bad = mine.count { case (c, la, ln, _, res) =>
              (try H3Geo.latLngToCell(la, ln, res) catch { case _: Exception => -1L }) != c
            }
            ((r, cw), bad)
          }).toSeq
          val best = scored.minBy(_._2)
          posToRot(key) = best._1._1
          if (best._1._2) chosen += ((bc, face))
          cwOffset = chosen.toSet
          if (best._2 != 0)
            throw GeoqException(s"h3 init: pentagon $bc face $face: no (rot,cw) re-encodes " +
              s"all ${mine.size} centers; scores $scored")
          val otherRot = scored.collect { case ((r, _), s) if r != best._1._1 => s }
          if (otherRot.nonEmpty && otherRot.min == 0)
            throw GeoqException(s"h3 init: pentagon $bc face $face rotation ambiguous: $scored")
        }
      }
      cwOffset = chosen.toSet
    }

    private def memberKey(bc: Int, face: Int): (Int, Int, Int, Int) = {
      posToCell.collectFirst { case (k @ (f, _, _, _), c) if c == bc && f == face => k }
        .getOrElse(throw GeoqException(s"h3 init: pentagon $bc not on face $face"))
    }

    private def finalChecks(): Unit = {
      // pole anchors: numbering rule gives bc0 = north pole, bc121 = south
      val n = H3Geo.latLngToCell(90.0, 0.0, 0)
      val s = H3Geo.latLngToCell(-90.0, 0.0, 0)
      if (H3.baseCell(n) != 0 || H3.resolution(n) != 0)
        throw GeoqException(s"h3 init: north pole encodes to bc ${H3.baseCell(n)}, want 0")
      if (H3.baseCell(s) != 121)
        throw GeoqException(s"h3 init: south pole encodes to bc ${H3.baseCell(s)}, want 121")
      // remembered baseCellData anchor rows (spec table, leading entries)
      def checkHome(bc: Int, face: Int, i: Int, j: Int, k: Int): Unit = {
        val h = home(bc)
        if (h.face != face || h.ijk.i != i || h.ijk.j != j || h.ijk.k != k)
          throw GeoqException(s"h3 init: bc $bc home ${h.face}${h.ijk} != spec {$face,($i,$j,$k)}")
      }
      checkHome(0, 1, 1, 0, 0)
      checkHome(2, 1, 0, 0, 0)
      checkHome(4, 0, 2, 0, 0)
      // global encode↔decode round-trip spot check across all base cells
      for (bc <- 0 until NUM_BASE_CELLS) {
        val (la, ln) = bcCenter(bc)
        val c = H3Geo.latLngToCell(math.toDegrees(la), math.toDegrees(ln), 0)
        if (H3.baseCell(c) != bc)
          throw GeoqException(s"h3 init: bc $bc center re-encodes to ${H3.baseCell(c)}")
      }
    }
  }
}
