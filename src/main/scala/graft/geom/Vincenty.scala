package graft.geom

/** Vincenty inverse geodesic distance on the WGS84 ellipsoid.
  *
  * The reference computes all distances this way (geo crate
  * `vincenty_distance`, used at `src/geoq/distance.rs:41,71`); test vector:
  * LA(-118.2437,34.0522) → NY(-74.0060,40.7128) rounds to 3,944,422 m
  * (`src/geoq/distance.rs:87-97`). Implemented from the published Vincenty
  * (1975) inverse formulae; convergence threshold 1e-12, 100 iterations,
  * None on non-convergence (antipodal), 0 for coincident points.
  */
object Vincenty {
  private val A = 6378137.0
  private val B = 6356752.314245
  private val F = 1.0 / 298.257223563

  /** Distance in meters between (lon1,lat1) and (lon2,lat2); None if the
    * iteration fails to converge. */
  def distance(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Option[Double] = {
    val d = distanceRaw(lon1, lat1, lon2, lat2)
    if (java.lang.Double.isNaN(d)) None else Some(d)
  }

  /** Allocation-free form for hot loops: identical math, NaN instead of
    * None on non-convergence (the Option per call was a measurable share
    * of per-row cost in the 32-thread kNN refine kernel). */
  def distanceRaw(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    if (lon1 == lon2 && lat1 == lat2) return 0.0
    val l = math.toRadians(lon2 - lon1)
    val u1 = math.atan((1.0 - F) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1.0 - F) * math.tan(math.toRadians(lat2)))
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)

    var lambda = l
    var iterLimit = 100
    var cosSqAlpha = 0.0
    var sinSigma = 0.0
    var cos2SigmaM = 0.0
    var cosSigma = 0.0
    var sigma = 0.0

    var continue = true
    while (continue && iterLimit > 0) {
      val sinLambda = math.sin(lambda)
      val cosLambda = math.cos(lambda)
      sinSigma = math.sqrt(
        (cosU2 * sinLambda) * (cosU2 * sinLambda) +
          (cosU1 * sinU2 - sinU1 * cosU2 * cosLambda) *
          (cosU1 * sinU2 - sinU1 * cosU2 * cosLambda))
      if (sinSigma == 0.0) return 0.0 // coincident points
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLambda
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinLambda / sinSigma
      cosSqAlpha = 1.0 - sinAlpha * sinAlpha
      cos2SigmaM =
        if (cosSqAlpha == 0.0) 0.0 // equatorial line
        else cosSigma - 2.0 * sinU1 * sinU2 / cosSqAlpha
      val c = F / 16.0 * cosSqAlpha * (4.0 + F * (4.0 - 3.0 * cosSqAlpha))
      val lambdaPrev = lambda
      lambda = l + (1.0 - c) * F * sinAlpha *
        (sigma + c * sinSigma *
          (cos2SigmaM + c * cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM)))
      if (math.abs(lambda - lambdaPrev) <= 1e-12) continue = false
      iterLimit -= 1
    }
    if (continue) return Double.NaN // failed to converge

    val uSq = cosSqAlpha * (A * A - B * B) / (B * B)
    val a = 1.0 + uSq / 16384.0 * (4096.0 + uSq * (-768.0 + uSq * (320.0 - 175.0 * uSq)))
    val b = uSq / 1024.0 * (256.0 + uSq * (-128.0 + uSq * (74.0 - 47.0 * uSq)))
    val deltaSigma = b * sinSigma *
      (cos2SigmaM + b / 4.0 *
        (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
          b / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
          (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM)))
    B * a * (sigma - deltaSigma)
  }

  /** Fixed-iteration variant: the result of running the lambda update
    * exactly `iters` times. Numerically identical to [[distance]] to well
    * below 1e-9 relative once converged, but with a deterministic,
    * loop-free dataflow that an external SQL oracle can replicate
    * term-for-term (the engine's cross-checkable form; production code
    * uses [[distance]]).
    *
    * The loop stops early once an update returns lambda bit-for-bit: every
    * later iteration would recompute the same state from the same lambda,
    * so the output bits equal the full `iters`-iteration loop's (pairs
    * that never reach a fixed point, e.g. near-antipodal ones, run all
    * `iters`). Most pairs repeat within a few iterations.
    */
  def distanceFixed(lon1: Double, lat1: Double, lon2: Double, lat2: Double,
                    iters: Int = 20): Double = {
    if (lon1 == lon2 && lat1 == lat2) return 0.0
    val l = math.toRadians(lon2 - lon1)
    val u1 = math.atan((1.0 - F) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1.0 - F) * math.tan(math.toRadians(lat2)))
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)

    var lambda = l
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cosSqAlpha = 0.0; var cos2SigmaM = 0.0
    var it = 0
    var fixed = false
    while (it < iters && !fixed) {
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
      val c = F / 16.0 * cosSqAlpha * (4.0 + F * (4.0 - 3.0 * cosSqAlpha))
      val lambdaPrev = lambda
      lambda = l + (1.0 - c) * F * sinAlpha *
        (sigma + c * sinSigma *
          (cos2SigmaM + c * cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM)))
      fixed = java.lang.Double.doubleToRawLongBits(lambda) ==
        java.lang.Double.doubleToRawLongBits(lambdaPrev)
      it += 1
    }
    val uSq = cosSqAlpha * (A * A - B * B) / (B * B)
    val a = 1.0 + uSq / 16384.0 * (4096.0 + uSq * (-768.0 + uSq * (320.0 - 175.0 * uSq)))
    val b = uSq / 1024.0 * (256.0 + uSq * (-128.0 + uSq * (74.0 - 47.0 * uSq)))
    val deltaSigma = b * sinSigma *
      (cos2SigmaM + b / 4.0 *
        (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
          b / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
          (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM)))
    B * a * (sigma - deltaSigma)
  }
}
