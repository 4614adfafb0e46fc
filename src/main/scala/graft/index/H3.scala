package graft.index

import org.locationtech.jts.geom.Polygon

/** H3 cell index — bit-structure subset (public H3 index spec).
  *
  * The reference delegates H3 math to the h3ron/C library
  * (`/root/reference/Cargo.toml:31`); we re-derive from the published H3
  * index bit layout:
  *
  *   bit 63        reserved (0)
  *   bits 59..62   mode (1 = cell)
  *   bits 56..58   reserved (0)
  *   bits 52..55   resolution (0..15)
  *   bits 45..51   base cell (0..121)
  *   bits 0..44    15 × 3-bit digits, res 1..15; digits beyond the cell's
  *                 resolution are 7 (invalid marker)
  *
  * String form: lowercase hex without leading zeros beyond the natural
  * 15-16 chars (`h3 to-str` golden `commands/h3.rs:178` uses 15-char lpad).
  *
  * Geometry functions (latLngToCell / cellPolygon) are the full icosahedral
  * projection — implemented in [[H3Geo]]; this object holds the pure bit ops.
  */
object H3 {
  val MODE_CELL = 1
  private val RES_OFFSET = 52
  private val BASE_OFFSET = 45
  private val NUM_BASE_CELLS = 122

  def resolution(cell: Long): Int = ((cell >>> RES_OFFSET) & 0xF).toInt
  def baseCell(cell: Long): Int = ((cell >>> BASE_OFFSET) & 0x7F).toInt
  def mode(cell: Long): Int = ((cell >>> 59) & 0xF).toInt

  /** Digit at resolution r (1-based), 0..7. */
  def digit(cell: Long, r: Int): Int =
    ((cell >>> ((15 - r) * 3)) & 0x7).toInt

  def withDigit(cell: Long, r: Int, d: Int): Long = {
    val shift = (15 - r) * 3
    (cell & ~(0x7L << shift)) | (d.toLong << shift)
  }

  def withResolution(cell: Long, res: Int): Long =
    (cell & ~(0xFL << RES_OFFSET)) | (res.toLong << RES_OFFSET)

  /** Structural validity per the public spec (mode, reserved bits, base cell
    * range, digit ranges, unused digits all 7, pentagon K-axis exclusion). */
  def isValidCell(cell: Long): Boolean = {
    if ((cell >>> 63) != 0) return false
    if (mode(cell) != MODE_CELL) return false
    if (((cell >>> 56) & 0x7) != 0) return false
    val bc = baseCell(cell)
    if (bc >= NUM_BASE_CELLS) return false
    val res = resolution(cell)
    if (res < 0 || res > 15) return false
    var r = 1
    var foundFirstNonZero = false
    while (r <= res) {
      val d = digit(cell, r)
      if (d == 7) return false
      if (!foundFirstNonZero && d != 0) {
        foundFirstNonZero = true
        if (H3Geo.isPentagon(bc) && d == 1) return false // K axis deleted on pentagons
      }
      r += 1
    }
    r = res + 1
    while (r <= 15) {
      if (digit(cell, r) != 7) return false
      r += 1
    }
    true
  }

  /** Parse 15-16 hex chars (optional leading 0), reference
    * `commands/h3.rs:186-196`. Throws NumberFormatException on junk. */
  def fromString(s: String): Long = java.lang.Long.parseUnsignedLong(s, 16)

  /** Canonical lowercase hex, no extra padding — matches h3's h3ToString
    * (`%x` of the u64; a res-0..15 cell is always 15 digits since mode=1
    * occupies high bits). */
  def toString(cell: Long): String = java.lang.Long.toHexString(cell)

  /** 15-char zero-padded form used by `h3 to-str` (`commands/h3.rs:178`). */
  def toPaddedString(cell: Long): String = {
    val s = java.lang.Long.toHexString(cell)
    if (s.length >= 15) s else ("0" * (15 - s.length)) + s
  }

  /** Digits parentRes+1..15 are the low 3·(15 − parentRes) bits; a
    * parent has them all set to 7, so one mask fills them. */
  def cellToParent(cell: Long, parentRes: Int): Long = {
    val res = resolution(cell)
    require(parentRes >= 0 && parentRes < res, s"invalid parent res $parentRes for res $res")
    withResolution(cell, parentRes) | ((1L << (3 * (15 - parentRes))) - 1L)
  }

  /** Children at childRes in digit order (0..6; pentagons skip digit 1 on
    * their center-child chain). Iterative level expansion into primitive
    * arrays — the recursive flatMap form allocated ~n boxed Seqs per call
    * and dominated the q37/q55 kernels' allocation rate under concurrent
    * tasks; the emission order (depth-first digit order) is preserved
    * because per-level expansion in slot order IS the DFS leaf order. */
  def cellToChildren(cell: Long, childRes: Int): Seq[Long] = {
    val res = resolution(cell)
    require(childRes > res && childRes <= 15, s"invalid child res $childRes for res $res")
    val isPent = isPentagon(cell)
    var cur = Array(cell)
    // center-chain flags ride along only for pentagons (digit-1 skip)
    var chain: Array[Boolean] = if (isPent) Array(true) else null
    var r = res
    while (r < childRes) {
      var total = 0
      if (isPent) {
        var i = 0
        while (i < cur.length) { total += (if (chain(i)) 6 else 7); i += 1 }
      } else total = cur.length * 7
      val next = new Array[Long](total)
      val nextChain: Array[Boolean] = if (isPent) new Array[Boolean](total) else null
      var o = 0
      var i = 0
      while (i < cur.length) {
        val base = withResolution(cur(i), r + 1)
        val skip1 = isPent && chain(i)
        var d = 0
        while (d <= 6) {
          if (!(skip1 && d == 1)) {
            next(o) = withDigit(base, r + 1, d)
            if (isPent) nextChain(o) = chain(i) && d == 0
            o += 1
          }
          d += 1
        }
        i += 1
      }
      cur = next
      if (isPent) chain = nextChain
      r += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(cur)
  }

  /** True if every digit of `cell` up to res r is 0 (pentagon center chain). */
  private def isCenterChain(cell: Long, r: Int): Boolean = {
    var i = 1
    while (i <= r) {
      if (digit(cell, i) != 0) return false
      i += 1
    }
    true
  }

  def isPentagon(cell: Long): Boolean =
    H3Geo.isPentagon(baseCell(cell)) && {
      val res = resolution(cell)
      var r = 1
      var allZero = true
      while (r <= res && allZero) { allZero = digit(cell, r) == 0; r += 1 }
      allZero
    }

  // Geometry-dependent ops delegate to H3Geo.
  def latLngToCell(lat: Double, lon: Double, res: Int): Long = H3Geo.latLngToCell(lat, lon, res)
  def cellPolygon(cell: Long): Polygon = H3Geo.cellPolygon(cell)
  def gridDisk(cell: Long, k: Int): Seq[Long] = H3Geo.gridDisk(cell, k)
}
