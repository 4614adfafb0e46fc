package graft.geom

/** Shortest-round-trip double formatting.
  *
  * The reference emits floats through two distinct channels whose formats are
  * load-bearing for golden output parity (reference `tests/cli_test.rs:62-98`):
  *  - Rust `{}` Display (WKT bodies, distance TSV): shortest decimal string
  *    that round-trips, integral values WITHOUT a trailing `.0`
  *    (`POINT(34 12)`), and never exponent notation.
  *  - serde_json / ryu (GeoJSON numbers): shortest round-trip, integral values
  *    WITH a trailing `.0` (`[34.0,12.0]`).
  *
  * JDK 17 `Double.toString` is round-trip-safe but not always shortest and
  * switches to exponent notation outside [1e-3, 1e7), so we derive the
  * shortest digit string ourselves. The reference definition is the probe
  * search: smallest precision p in 1..17 such that `%.{p-1}e` parses back
  * to the same bits. Integral values and normal values below 2^53 take
  * faster paths that produce the same digits (pinned in KernelSpec).
  */
object Num {
  /** 2^53: below it every integer is exactly representable. */
  private val TWO_53 = 9.007199254740992e15

  /** (digits, decimalExponent) such that value = 0.d1d2... * 10^exp, i.e.
    * digits with an implied decimal point before the first digit.
    * `d` is finite and positive.
    */
  private def shortest(d: Double): (String, Int) = {
    // Integral fast path: for a nonzero integral double with |d| < 2^53,
    // every integer in range is exactly representable, so NO decimal with
    // fewer significant digits can parse back to the same bits — the
    // shortest round-trip digit string IS the integer's own digits
    // (trailing zeros stripped, exponent = digit count).
    if (d == math.rint(d) && d < TWO_53) {
      val digits = java.lang.Long.toString(d.toLong)
      var end = digits.length
      while (end > 1 && digits.charAt(end - 1) == '0') end -= 1
      return (digits.substring(0, end), digits.length)
    }
    if (d >= java.lang.Double.MIN_NORMAL && d < TWO_53) schubfach(d) else probe(d)
  }

  /** Shortest digits by the Schubfach algorithm (Giulietti, "The Schubfach
    * way to render doubles", 2020; the copy in jackson-core, which Spark
    * ships), ~0.2-0.3 us a call against ~6-8 us for [[probe]]. For normal
    * values below 2^53 both give the same digits. Outside that range they
    * differ: on a subnormal Schubfach may pick a closer two-digit decimal
    * over a one-digit one (`Double.MIN_VALUE`: `4.9E-324`, the probe's
    * `5e-324`), and above 2^53 `%e` rounding and Schubfach's nearest-pick
    * disagree on a few doubles (1.76244969343576525E18).
    *
    * Schubfach renders `123.45`, `0.00123` or `1.2345E-5`: the digits are
    * every character but the point, less leading zeros, each of which
    * lowers the exponent by one.
    */
  private def schubfach(d: Double): (String, Int) = {
    val s = com.fasterxml.jackson.core.io.schubfach.DoubleToDecimal.toString(d)
    val ei = s.indexOf('E')
    val end = if (ei < 0) s.length else ei
    var exp = s.indexOf('.') +
      (if (ei < 0) 0 else Integer.parseInt(s, ei + 1, s.length, 10))
    val sb = new java.lang.StringBuilder(end)
    var i = 0
    while (i < end) {
      val c = s.charAt(i)
      if (c == '0' && sb.length == 0) exp -= 1
      else if (c != '.') sb.append(c)
      i += 1
    }
    var n = sb.length
    while (n > 1 && sb.charAt(n - 1) == '0') n -= 1
    sb.setLength(n)
    (sb.toString, exp)
  }

  /** Shortest digits by search: the smallest precision whose `%e` rendering
    * parses back to the same bits.
    *
    * Locale.ROOT is load-bearing: the default-locale overload renders the
    * mantissa with a comma on e.g. de_DE, which both breaks the parse-back
    * probe and would leak into every WKT/GeoJSON/distance output.
    *
    * Round-trippability is monotone in the digit count (more digits = closer
    * approximation), so the smallest round-tripping precision is found by
    * binary search — ≤5 format+parse probes instead of up to 17.
    */
  private def probe(d: Double): (String, Int) = {
    def fmt(p: Int): String =
      String.format(java.util.Locale.ROOT, "%." + (p - 1) + "e", Double.box(d))
    var lo = 1
    var hi = 17 // 17 significant digits always round-trip a finite double
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (java.lang.Double.parseDouble(fmt(mid)) == d) hi = mid else lo = mid + 1
    }
    val s = fmt(lo)
    val ei = s.indexOf('e')
    val mant = s.substring(0, ei).replace("-", "").replace(".", "")
    // strip trailing zeros the %e padding may have added
    val trimmed = {
      val t = mant.reverse.dropWhile(_ == '0').reverse
      if (t.isEmpty) "0" else t
    }
    val exp = s.substring(ei + 1).toInt + 1
    (trimmed, exp)
  }

  private def plain(digits: String, exp: Int, neg: Boolean, forceDot: Boolean): String = {
    val sb = new StringBuilder
    if (neg) sb.append('-')
    if (digits == "0") {
      sb.append(if (forceDot) "0.0" else "0")
      return sb.toString
    }
    if (exp <= 0) {
      sb.append("0.")
      var i = exp
      while (i < 0) { sb.append('0'); i += 1 }
      sb.append(digits)
    } else if (exp >= digits.length) {
      sb.append(digits)
      var i = digits.length
      while (i < exp) { sb.append('0'); i += 1 }
      if (forceDot) sb.append(".0")
    } else {
      sb.append(digits.substring(0, exp)).append('.').append(digits.substring(exp))
    }
    sb.toString
  }

  /** Rust `{}` style: `34`, `-119.53125`, `496760.9360151398`. */
  def rust(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0" else "0"
    val (digits, exp) = shortest(math.abs(d))
    plain(digits, exp, d < 0, forceDot = false)
  }

  /** serde_json style: `34.0`, `125.6`, `-119.53125`. */
  def json(d: Double): String = {
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    if (d.isNaN || d.isInfinite) return "null"
    val (digits, exp) = shortest(math.abs(d))
    plain(digits, exp, d < 0, forceDot = true)
  }
}
