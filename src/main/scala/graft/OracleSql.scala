package graft

/** DuckDB oracle-SQL generators.
  *
  * The driver re-runs every `SparkEntry.oracleSql` entry in DuckDB over the
  * same parquet tables and hash-compares against the engine output, so these
  * strings define the correctness contract. Two rules keep the comparison
  * float-exact across engines:
  *
  *  1. Any float expression appears with IDENTICAL operation order on both
  *     sides (same IEEE double ops → bit-identical results).
  *  2. Everything downstream of the floats is integer/string math, generated
  *     here as unrolled bit-twiddling SQL mirroring the Scala kernels
  *     (geohash interleave, hilbert curve, 31-bit modular hashes).
  */
object OracleSql {

  /** Derived deterministic points from the events table: Knuth/Fibonacci
    * multiplicative-hash fractions of event_id (exact BIGINT math, then one
    * exact division). Spark side must mirror this expression 1:1. */
  val PTS_CTE: String =
    """pts AS (
      |  SELECT event_id AS id,
      |    -90.0 + 180.0 * (((event_id * 2654435761) % 4294967296) / 4294967296.0) AS lat,
      |    -180.0 + 360.0 * (((event_id * 2246822519) % 4294967296) / 4294967296.0) AS lon
      |  FROM events
      |)""".stripMargin

  /** [[PTS_CTE]]'s hash fractions mapped into a 2°×2° box at the origin —
    * the dense clustered regime for the small-radius geofence join (q48).
    * Spark side must mirror this expression 1:1 (Queries.clusteredPts). */
  val CPTS_CTE: String =
    """cpts AS (
      |  SELECT event_id AS id,
      |    2.0 * (((event_id * 2654435761) % 4294967296) / 4294967296.0) AS lat,
      |    2.0 * (((event_id * 2246822519) % 4294967296) / 4294967296.0) AS lon
      |  FROM events
      |)""".stripMargin

  /** Quantized cell indices for geohash precision `len` (world domain).
    * `floor(((x + off) / ext) * 2^bits)` — same float op order as the Spark
    * side; LEAST guards the x == max edge. */
  def lonIdxSql(len: Int): String = {
    val cells = 1L << ((5 * len + 1) / 2)
    s"LEAST(CAST(floor(((lon + 180.0) / 360.0) * $cells.0) AS BIGINT), ${cells - 1})"
  }
  def latIdxSql(len: Int): String = {
    val cells = 1L << ((5 * len) / 2)
    s"LEAST(CAST(floor(((lat + 90.0) / 180.0) * $cells.0) AS BIGINT), ${cells - 1})"
  }

  /** Geohash string from integer cell-index columns — unrolled interleave +
    * base-32 lookup, mirroring Geohash.fromIndices. */
  def ghFromIndicesSql(lonIdxCol: String, latIdxCol: String, len: Int): String = {
    val nBits = 5 * len
    val lonBits = (nBits + 1) / 2
    val latBits = nBits / 2
    val chars = (0 until len).map { i =>
      val terms = (0 until 5).map { k =>
        val j = 5 * i + k
        val src = if (j % 2 == 0) s"($lonIdxCol >> ${lonBits - 1 - j / 2})"
                  else s"($latIdxCol >> ${latBits - 1 - (j - 1) / 2})"
        s"(($src & 1) << ${4 - k})"
      }
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', 1 + (${terms.mkString(" | ")}), 1)"
    }
    chars.mkString("(", " || ", ")")
  }

  /** Hilbert u32 index of 16-bit grid coords — unrolled port of the curve in
    * graft.index.Hilbert (reference `src/geoq/fgb/hilbert.rs:236-291`).
    * Emits a scalar expression via nested subquery layers; callers embed via
    * [[hilbertLayersSql]] which needs FROM-clause chaining. */
  def hilbertLayersSql(inner: String, xCol: String, yCol: String,
                       keep: Seq[String]): String = {
    val ks = keep.mkString(", ")
    // innermost → outermost projection lists; built as a fold so parens
    // always balance.
    val layers: Seq[String] = Seq(
      s"$ks, $xCol AS x, $yCol AS y",
      s"""$ks, x, y,
         | xor(x, y) AS a0, xor(65535, xor(x, y)) AS b0,
         | xor(65535, (x | y)) AS c0, (x & xor(y, 65535)) AS d0""".stripMargin,
      s"""$ks, x, y,
         | (a0 | (b0 >> 1)) AS a1, xor(a0 >> 1, a0) AS b1,
         | xor(xor(c0 >> 1, b0 & (d0 >> 1)), c0) AS c1,
         | xor(xor(a0 & (c0 >> 1), d0 >> 1), d0) AS d1""".stripMargin,
      s"""$ks, x, y,
         | xor(a1 & (a1 >> 2), b1 & (b1 >> 2)) AS a2,
         | xor(a1 & (b1 >> 2), b1 & (xor(a1, b1) >> 2)) AS b2,
         | xor(c1, xor(a1 & (c1 >> 2), b1 & (d1 >> 2))) AS c2,
         | xor(d1, xor(b1 & (c1 >> 2), xor(a1, b1) & (d1 >> 2))) AS d2""".stripMargin,
      s"""$ks, x, y,
         | xor(a2 & (a2 >> 4), b2 & (b2 >> 4)) AS a3,
         | xor(a2 & (b2 >> 4), b2 & (xor(a2, b2) >> 4)) AS b3,
         | xor(c2, xor(a2 & (c2 >> 4), b2 & (d2 >> 4))) AS c3,
         | xor(d2, xor(b2 & (c2 >> 4), xor(a2, b2) & (d2 >> 4))) AS d3""".stripMargin,
      s"""$ks, x, y,
         | xor(c3, xor(a3 & (c3 >> 8), b3 & (d3 >> 8))) AS c4,
         | xor(d3, xor(b3 & (c3 >> 8), xor(a3, b3) & (d3 >> 8))) AS d4""".stripMargin,
      s"""$ks, xor(x, y) AS i0,
         | xor(c4, c4 >> 1) AS a5, xor(d4, d4 >> 1) AS b5""".stripMargin,
      s"$ks, i0, (b5 | xor(65535, (i0 | a5))) AS i1",
      s"$ks, ((i0 | (i0 << 8)) & 16711935) AS i0a, i1",
      s"$ks, ((i0a | (i0a << 4)) & 252645135) AS i0b, ((i1 | (i1 << 8)) & 16711935) AS i1a",
      s"$ks, ((i0b | (i0b << 2)) & 858993459) AS i0c, ((i1a | (i1a << 4)) & 252645135) AS i1b",
      s"$ks, ((i0c | (i0c << 1)) & 1431655765) AS i0d, ((i1b | (i1b << 2)) & 858993459) AS i1c",
      s"$ks, i0d AS i0f, ((i1c | (i1c << 1)) & 1431655765) AS i1f",
      s"$ks, ((i1f << 1) | i0f) AS h")
    layers.foldLeft(inner) { (acc, proj) => s"(SELECT $proj FROM $acc)" }
  }

  /** Fixed-iteration Vincenty (meters) from (lon, lat) columns of CTE `src`
    * to a constant query point, as a chain of MATERIALIZED CTEs (one per
    * lambda iteration — materialization stops DuckDB from inlining the
    * unrolled recurrence into an exponentially-sized expression tree).
    * Mirrors Vincenty.distanceFixed term-for-term. Returns the WITH-body
    * fragment; the result CTE `vfin` exposes `keep` + `meters`. */
  def vincentyCtes(qLonD: Double, qLatD: Double, src: String,
                   keep: Seq[String], iters: Int = 20): String =
    vincentyCtesExpr(qLonD.toString, qLatD.toString, src, keep, iters)

  /** As [[vincentyCtes]] but the far endpoint is an arbitrary SQL
    * expression over `src` columns (e.g. per-row query coordinates for a
    * distance JOIN oracle) — the generated float math is unchanged. */
  def vincentyCtesExpr(qLon: String, qLat: String, src: String,
                       keep: Seq[String], iters: Int = 20): String = {
    val ks = keep.mkString(", ")
    val F = "0.0033528106647474805"
    val sb = new StringBuilder
    sb.append(
      s"""vin0 AS MATERIALIZED (
         |  SELECT $ks,
         |    radians($qLon - lon) AS l,
         |    sin(atan((1.0 - $F) * tan(radians(lat)))) AS sinU1,
         |    cos(atan((1.0 - $F) * tan(radians(lat)))) AS cosU1,
         |    sin(atan((1.0 - $F) * tan(radians($qLat)))) AS sinU2,
         |    cos(atan((1.0 - $F) * tan(radians($qLat)))) AS cosU2,
         |    radians($qLon - lon) AS lam
         |  FROM $src
         |)""".stripMargin)
    for (k <- 1 to iters) {
      sb.append(",\n")
      sb.append(
        s"""vin$k AS MATERIALIZED (
           |  SELECT $ks, l, sinU1, cosU1, sinU2, cosU2,
           |    l + (1.0 - cc) * $F * sinA
           |      * (sg + cc * sinSg * (c2SM + cc * cosSg * (-1.0 + 2.0 * c2SM * c2SM))) AS lam,
           |    sinSg, cosSg, sg, cosSqA, c2SM
           |  FROM (
           |   SELECT *, ($F / 16.0 * cosSqA * (4.0 + $F * (4.0 - 3.0 * cosSqA))) AS cc FROM (
           |    SELECT *, (CASE WHEN cosSqA = 0.0 THEN 0.0 ELSE cosSg - 2.0 * sinU1 * sinU2 / cosSqA END) AS c2SM, atan2(sinSg, cosSg) AS sg FROM (
           |     SELECT *, (1.0 - sinA * sinA) AS cosSqA FROM (
           |      SELECT *, (cosU1 * cosU2 * sinLam / sinSg) AS sinA FROM (
           |       SELECT *,
           |         sqrt((cosU2 * sinLam) * (cosU2 * sinLam)
           |           + (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) * (cosU1 * sinU2 - sinU1 * cosU2 * cosLam)) AS sinSg,
           |         (sinU1 * sinU2 + cosU1 * cosU2 * cosLam) AS cosSg FROM (
           |        SELECT $ks, l, sinU1, cosU1, sinU2, cosU2,
           |          sin(lam) AS sinLam, cos(lam) AS cosLam FROM vin${k - 1}
           |  ))))))
           |)""".stripMargin)
    }
    sb.append(",\n")
    sb.append(
      s"""vfin AS MATERIALIZED (
         |  SELECT $ks, (6356752.314245 * aa * (sg - dsg)) AS meters FROM (
         |   SELECT *,
         |     (bb * sinSg * (c2SM + bb / 4.0 * (cosSg * (-1.0 + 2.0 * c2SM * c2SM)
         |       - bb / 6.0 * c2SM * (-3.0 + 4.0 * sinSg * sinSg) * (-3.0 + 4.0 * c2SM * c2SM)))) AS dsg
         |   FROM (
         |    SELECT *,
         |      (1.0 + uSq / 16384.0 * (4096.0 + uSq * (-768.0 + uSq * (320.0 - 175.0 * uSq)))) AS aa,
         |      (uSq / 1024.0 * (256.0 + uSq * (-128.0 + uSq * (74.0 - 47.0 * uSq)))) AS bb
         |    FROM (
         |     SELECT $ks, sg, sinSg, cosSg, c2SM,
         |       (cosSqA * (6378137.0e0 * 6378137.0e0 - 6356752.314245e0 * 6356752.314245e0)
         |         / (6356752.314245e0 * 6356752.314245e0)) AS uSq
         |     FROM vin$iters
         |  )))
         |)""".stripMargin)
    sb.toString
  }

  // ---------------- H3 cell construction (pure integer) ----------------

  /** 16 non-pentagon base cells spread across the globe, chosen away from
    * the poles and the antimeridian (centers lat ∈ [-39,60], lng ∈
    * [-124,117]) so constructed cells' planar polygons never wrap ±180 —
    * the reference's geometry is planar too, so wrap handling is out of
    * contract (pentagon set: {4,14,24,38,49,58,63,72,83,97,107,117}). */
  private val H3_BCS = Seq(7, 12, 16, 19, 20, 22, 28, 32, 42, 47, 52, 61, 66, 73, 84, 98)

  /** Portable exact integer division by a power of two (< 2^53 operands):
    * Spark's and DuckDB's `/` are both float division, so divide exactly. */
  private def idiv(e: String, c: Long) = s"CAST((($e) - ($e) % $c) / $c AS BIGINT)"

  private val H = "((event_id * 2654435761) % 4294967296)"

  /** Resolution 5..7 (covers Class III/II/III). */
  val H3_RES_EXPR: String = s"(5 + ${idiv(H, 16)} % 3)"

  /** Digit i (1-based), 0..6, from disjoint-ish hash bits. */
  private def h3Digit(i: Int): String = s"(${idiv(H, 1L << (6 + 3 * (i - 1)))} % 7)"

  /** A structurally valid H3 cell id built from event_id with pure integer
    * math — the SAME string is evaluated by Spark `expr()` and by the DuckDB
    * oracle, so both engines hold identical cells; Spark then runs the real
    * GEOMETRY on them (decode/re-encode/disk/boundary) whose correct outputs
    * are integer-predictable and mirrored by the oracle.
    *
    * Layout: 2^59 (mode 1) + res·2^52 + bc·2^45 + Σ d_i·8^(15-i) for
    * i ≤ res + (8^(15-res) − 1) (trailing digit-7 filler). */
  val H3_CELL_EXPR: String = {
    val bcCase = H3_BCS.zipWithIndex
      .map { case (bc, i) => s"WHEN $i THEN $bc" }
      .mkString(s"(CASE ($H % 16) ", " ", " END)")
    val digitTerms = (1 to 7).map { i =>
      val w = 1L << (3 * (15 - i))
      s"(CASE WHEN $i <= $H3_RES_EXPR THEN ${h3Digit(i)} ELSE 0 END) * $w"
    }.mkString(" + ")
    val filler =
      s"(CASE $H3_RES_EXPR WHEN 5 THEN ${(1L << 30) - 1} WHEN 6 THEN ${(1L << 27) - 1} " +
        s"ELSE ${(1L << 24) - 1} END)"
    s"(576460752303423488 + $H3_RES_EXPR * 4503599627370496 + $bcCase * 35184372088832 + " +
      s"$digitTerms + $filler)"
  }

  /** A pentagon cell at res 5..7: one of the 12 pentagon base cells with
    * ALL-ZERO digits (the pentagon child chain is the all-center-digit
    * path). Pure integer, like H3_CELL_EXPR, shared verbatim with the
    * oracle; the invariants the Spark side computes on it (5 neighbors,
    * disk-1 of 6, 6 children, boundary vertex counts) are integer-
    * predictable constants. */
  val H3_PENT_CELL_EXPR: String = {
    val pents = Seq(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)
    val bcCase = pents.zipWithIndex
      .map { case (bc, i) => s"WHEN $i THEN $bc" }
      .mkString(s"(CASE ($H % 12) ", " ", " END)")
    val filler =
      s"(CASE $H3_RES_EXPR WHEN 5 THEN ${(1L << 30) - 1} WHEN 6 THEN ${(1L << 27) - 1} " +
        s"ELSE ${(1L << 24) - 1} END)"
    s"(576460752303423488 + $H3_RES_EXPR * 4503599627370496 + $bcCase * 35184372088832 + $filler)"
  }

  /** The bit-level parent of H3_CELL_EXPR at res-1: decrement the res field
    * and set the res'th digit to 7. */
  val H3_PARENT_EXPR: String = {
    val dRes = s"(CASE $H3_RES_EXPR WHEN 5 THEN ${h3Digit(5)} WHEN 6 THEN ${h3Digit(6)} " +
      s"ELSE ${h3Digit(7)} END)"
    val w = s"(CASE $H3_RES_EXPR WHEN 5 THEN ${1L << 30} WHEN 6 THEN ${1L << 27} " +
      s"ELSE ${1L << 24} END)"
    s"(($H3_CELL_EXPR) - 4503599627370496 + (7 - $dRes) * $w)"
  }
}
