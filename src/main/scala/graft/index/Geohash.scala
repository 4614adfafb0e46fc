package graft.index

import graft.geom.Geo
import org.locationtech.jts.geom.{Envelope, Geometry, Polygon}
import scala.collection.mutable.ArrayBuffer

/** Geohash kernel — pure functions, no Spark deps.
  *
  * Re-derivation of the public geohash algorithm (bit-interleaved base-32,
  * gustavo niemeyer) covering the surface the reference exposes:
  * encode (`commands/geohash.rs:23-33`), bbox decode (`entity.rs:49-61`),
  * children (`geohash.rs:10-12`), neighbors via the classic lookup-table
  * adjacency (`geohash.rs:14-35`), DFS covering with exact emission order
  * (`geohash.rs:60-80`), and encode_long (`geohash.rs:85-97`).
  */
object Geohash {
  val BASE32: Array[Char] =
    "0123456789bcdefghjkmnpqrstuvwxyz".toCharArray
  private val DECODE: Array[Int] = {
    val a = Array.fill(128)(-1)
    BASE32.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  def isValid(s: String): Boolean =
    s.nonEmpty && s.forall(c => c < 128 && DECODE(Character.toLowerCase(c).toInt) >= 0)

  /** Encode (lat, lon) to a geohash of `len` characters. */
  def encode(lat: Double, lon: Double, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var latMin = -90.0; var latMax = 90.0
    var lonMin = -180.0; var lonMax = 180.0
    var isLon = true
    var bit = 0; var ch = 0
    while (sb.length < len) {
      if (isLon) {
        val mid = (lonMin + lonMax) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonMin = mid }
        else { ch = ch << 1; lonMax = mid }
      } else {
        val mid = (latMin + latMax) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latMin = mid }
        else { ch = ch << 1; latMax = mid }
      }
      isLon = !isLon
      bit += 1
      if (bit == 5) { sb.append(BASE32(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  /** Decode to (minLon, minLat, maxLon, maxLat). */
  def decodeBbox(gh: String): (Double, Double, Double, Double) = {
    var latMin = -90.0; var latMax = 90.0
    var lonMin = -180.0; var lonMax = 180.0
    var isLon = true
    var i = 0
    while (i < gh.length) {
      val c = gh.charAt(i)
      val cd = if (c < 128) DECODE(Character.toLowerCase(c).toInt) else -1
      require(cd >= 0, s"invalid geohash char '$c' in $gh")
      var b = 4
      while (b >= 0) {
        val bit = (cd >> b) & 1
        if (isLon) {
          val mid = (lonMin + lonMax) / 2
          if (bit == 1) lonMin = mid else lonMax = mid
        } else {
          val mid = (latMin + latMax) / 2
          if (bit == 1) latMin = mid else latMax = mid
        }
        isLon = !isLon
        b -= 1
      }
      i += 1
    }
    (lonMin, latMin, lonMax, latMax)
  }

  /** Cell bbox as a closed polygon ring BL→BR→TR→TL→BL (reference
    * `src/geoq/entity.rs:49-61`); empty string = whole world
    * (`src/geoq/geohash.rs:38-42`, ring order differs there but the geometry
    * is the same box — we keep BL order which matches `Rect::to_polygon`). */
  def bboxPolygon(gh: String): Polygon =
    if (gh.isEmpty) Geo.boxPolyBL(-180.0, -90.0, 180.0, 90.0)
    else {
      val (lonMin, latMin, lonMax, latMax) = decodeBbox(gh)
      Geo.boxPolyBL(lonMin, latMin, lonMax, latMax)
    }

  /** The 32 children in base-32 table order (reference `geohash.rs:10-12`). */
  def children(gh: String): Seq[String] = BASE32.toSeq.map(c => gh + c)

  // --- classic geohash adjacency tables (public domain, geohash.org JS) ---
  private val NEIGHBOR: Map[(Char, Int), String] = Map(
    ('n', 0) -> "p0r21436x8zb9dcf5h7kjnmqesgutwvy",
    ('n', 1) -> "bc01fg45238967deuvhjyznpkmstqrwx",
    ('s', 0) -> "14365h7k9dcfesgujnmqp0r2twvyx8zb",
    ('s', 1) -> "238967debc01fg45kmstqrwxuvhjyznp",
    ('e', 0) -> "bc01fg45238967deuvhjyznpkmstqrwx",
    ('e', 1) -> "p0r21436x8zb9dcf5h7kjnmqesgutwvy",
    ('w', 0) -> "238967debc01fg45kmstqrwxuvhjyznp",
    ('w', 1) -> "14365h7k9dcfesgujnmqp0r2twvyx8zb")
  private val BORDER: Map[(Char, Int), String] = Map(
    ('n', 0) -> "prxz", ('n', 1) -> "bcfguvyz",
    ('s', 0) -> "028b", ('s', 1) -> "0145hjnp",
    ('e', 0) -> "bcfguvyz", ('e', 1) -> "prxz",
    ('w', 0) -> "0145hjnp", ('w', 1) -> "028b")

  /** Adjacent cell in direction n/s/e/w. */
  def adjacent(gh: String, dir: Char): String = {
    require(gh.nonEmpty, "adjacent of empty geohash")
    val last = Character.toLowerCase(gh.charAt(gh.length - 1))
    val parent0 = gh.substring(0, gh.length - 1)
    val typ = gh.length % 2 // 1 = odd length, 0 = even
    val parent =
      if (BORDER((dir, typ)).indexOf(last) != -1 && parent0.nonEmpty) adjacent(parent0, dir)
      else parent0
    parent + BASE32(NEIGHBOR((dir, typ)).indexOf(last))
  }

  /** Neighbors in reference order: [self,] N, NE, E, SE, S, SW, W, NW
    * (reference `src/geoq/geohash.rs:14-35`, golden `cli_test.rs:250-291`). */
  def neighbors(gh: String, includeSelf: Boolean): Seq[String] = {
    val n = adjacent(gh, 'n'); val s = adjacent(gh, 's')
    val e = adjacent(gh, 'e'); val w = adjacent(gh, 'w')
    val base = Seq(n, adjacent(n, 'e'), e, adjacent(s, 'e'), s, adjacent(s, 'w'), w, adjacent(n, 'w'))
    if (includeSelf) gh +: base else base
  }

  /** Covering cells at `level` that intersect `geom`, in the reference's
    * exact stack-DFS emission order (`src/geoq/geohash.rs:60-80`,
    * goldens `tests/cli_test.rs:294-472`). */
  def covering(geom: Geometry, level: Int): Seq[String] = {
    val out = new ArrayBuffer[String]
    var stack = List("")
    // JTS PreparedGeometry gives fast repeated intersects tests against the
    // many candidate cells the DFS probes.
    val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(geom)
    // a cell whose bbox misses the geometry's envelope cannot intersect it:
    // test that before building the cell polygon (a level-3 point: 4, not 97)
    val env = geom.getEnvelopeInternal
    while (stack.nonEmpty) {
      val gh = stack.head
      stack = stack.tail
      val (x0, y0, x1, y1) = decodeBbox(gh)
      if (env.intersects(new Envelope(x0, x1, y0, y1)) &&
          prep.intersects(Geo.boxPolyBL(x0, y0, x1, y1))) {
        if (gh.length < level) {
          // reference pushes children 0..z onto a Vec and pops from the end
          // (LIFO), so 'z' is expanded first; prepending 0..z in order onto
          // a List leaves 'z' at the head — same pop order.
          children(gh).foreach { c => stack = c :: stack }
        } else {
          out += gh
        }
      }
    }
    out.toSeq
  }

  /** Geohash from pre-quantized cell indices: `lonIdx` ∈ [0, 2^lonBits),
    * `latIdx` ∈ [0, 2^latBits) where lonBits = ceil(5·len/2),
    * latBits = floor(5·len/2). Bit-interleave starting with the lon MSB —
    * exactly `encode` once the floats are quantized. Exists so the engine
    * and an external SQL oracle can share one integer-only code path after
    * an identical float quantization expression (no cross-engine float
    * divergence).
    */
  def fromIndices(lonIdx: Long, latIdx: Long, len: Int): String = {
    val nBits = 5 * len
    val lonBits = (nBits + 1) / 2
    val latBits = nBits / 2
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) {
      var ch = 0
      var k = 0
      while (k < 5) {
        val j = 5 * i + k // global bit position, 0 = first (lon MSB)
        val bit =
          if ((j & 1) == 0) ((lonIdx >>> (lonBits - 1 - j / 2)) & 1L).toInt
          else ((latIdx >>> (latBits - 1 - (j - 1) / 2)) & 1L).toInt
        ch = (ch << 1) | bit
        k += 1
      }
      sb.append(BASE32(ch))
      i += 1
    }
    sb.toString
  }

  def lonBitsFor(len: Int): Int = (5 * len + 1) / 2
  def latBitsFor(len: Int): Int = (5 * len) / 2

  // ---- packed cell ids: the engine's hot-path representation ----
  // 64-bit layout: level(4) | lonIdx(30) | latIdx(30). String geohashes are
  // for I/O and golden boundaries; joins/aggregations on packed longs avoid
  // per-row string garbage (measured: the string path's allocation rate is
  // the many-core scaling limiter) and hash faster.

  def packCell(lonIdx: Long, latIdx: Long, level: Int): Long =
    (level.toLong << 60) | (lonIdx << 30) | latIdx

  def packedCellOf(lat: Double, lon: Double, level: Int): Long = {
    val lonCells = 1L << lonBitsFor(level)
    val latCells = 1L << latBitsFor(level)
    val li = math.min(math.floor((lon + 180.0) / 360.0 * lonCells).toLong, lonCells - 1)
    val ai = math.min(math.floor((lat + 90.0) / 180.0 * latCells).toLong, latCells - 1)
    packCell(li, ai, level)
  }

  /** Tile pyramid levels 1..maxLevel as packed ids (no allocation beyond
    * the result array). */
  def packedPyramid(lat: Double, lon: Double, maxLevel: Int): Array[Long] = {
    val out = new Array[Long](maxLevel)
    var l = 1
    while (l <= maxLevel) {
      out(l - 1) = packedCellOf(lat, lon, l)
      l += 1
    }
    out
  }

  /** u64 → 12-char geohash, 5 bits per char from the LSB end
    * (reference `src/geoq/geohash.rs:85-97`). */
  def encodeLong(x: Long): String = {
    val bytes = new Array[Char](12)
    var v = x
    var i = 0
    while (i < 12) {
      bytes(11 - i) = BASE32((v & 0x1f).toInt)
      v = v >>> 5
      i += 1
    }
    new String(bytes)
  }
}
