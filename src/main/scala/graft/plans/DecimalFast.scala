package graft.plans

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.util.ArrayData

/** Allocation-free kernel for the one decimal cast every vector numeric in
  * this engine is pinned to: `BigDecimal.valueOf(d).setScale(s, HALF_UP)`
  * (= Spark's Cast(double→decimal) seed + rounding, = the DuckDB oracle's
  * CAST(x AS DECIMAL(·,s))).
  *
  * `BigDecimal.valueOf(d)` is DEFINED as `new BigDecimal(Double.toString(d))`
  * — so the exact result is a pure function of the toString output.
  * `scaledLong` parses that string directly into (unscaled digits, scale)
  * and rescales with HALF_UP in long arithmetic: bit-identical by
  * construction (same digits, same rounding rule), with zero BigDecimal /
  * BigInteger allocation. The only remaining per-term cost is the
  * Double.toString itself, which the BigDecimal path also paid.
  *
  * Profiled motivation (round 17): embedding_outliers' scoring stage runs
  * decimal_vector_dot twice per corpus row (128 terms), each term paying
  * BigDecimal parse + setScale + add (3 allocations); the centroid
  * aggregate's update pays the same parse + setScale per element. Both hot
  * paths now run on longs, escalating to the exact BigDecimal lane only on
  * magnitudes a real corpus never reaches (guards below).
  */
object DecimalFast {

  private val POW10: Array[Long] = {
    val a = new Array[Long](19)
    a(0) = 1L
    var i = 1
    while (i < 19) { a(i) = a(i - 1) * 10L; i += 1 }
    a
  }

  /** Magnitude guards: |d| below the bound guarantees the scale-`s` unscaled
    * value (≤ |d|·10^s + 1) fits a Long, so `scaledLong` cannot overflow.
    * 9.0e(18−s) < Long.MaxValue/10^s = 9.223e(18−s). */
  final val Fast10 = 9.0e8  // scale-10 terms (decimal_vector_sum)
  final val Fast15 = 9.0e3  // scale-15 terms (decimal_vector_dot)

  /** The reference the fast path must reproduce (also the slow/escalation
    * path for out-of-guard magnitudes). */
  def refTerm(d: Double, s: Int): JBigDecimal =
    JBigDecimal.valueOf(d).setScale(s, RoundingMode.HALF_UP)

  /** Unscaled value of `BigDecimal.valueOf(d).setScale(s, HALF_UP)` as a
    * Long, allocation-free past the Double.toString. `d` must be finite;
    * throws ArithmeticException if the result cannot fit a Long (callers
    * guard with Fast10/Fast15 so the throw is unreachable in the hot paths).
    *
    * Double.toString grammar (finite values): `[-]digits.digits[E[-]digits]`
    * — ≤ 17 significant digits, always a '.', no '+' in the exponent — so
    * the parsed unscaled magnitude always fits a Long with room to spare. */
  def scaledLong(d: Double, s: Int): Long = {
    val str = java.lang.Double.toString(d)
    val len = str.length
    var i = 0
    var neg = false
    if (str.charAt(0) == '-') { neg = true; i = 1 }
    var u = 0L        // mantissa digits as an integer (≤ 17 digits)
    var frac = 0      // digits after the '.'
    var afterDot = false
    var exp = 0
    var scanning = true
    while (i < len && scanning) {
      val c = str.charAt(i)
      if (c == '.') afterDot = true
      else if (c == 'E') {
        var j = i + 1
        var eneg = false
        if (str.charAt(j) == '-') { eneg = true; j += 1 }
        var e = 0
        while (j < len) { e = e * 10 + (str.charAt(j) - '0'); j += 1 }
        exp = if (eneg) -e else e
        scanning = false
      } else {
        u = u * 10L + (c - '0')
        if (afterDot) frac += 1
      }
      i += 1
    }
    if (u == 0L) return 0L // covers 0.0 and -0.0 (BigDecimal drops the sign)
    // value = u · 10^(exp − frac); unscaled at scale s = round(u / 10^k)
    val k = frac - exp - s
    val abs =
      if (k <= 0) {
        // exact scale-up: the product IS the final unscaled value
        if (-k > 18 || u > Long.MaxValue / POW10(-k))
          throw new ArithmeticException(
            s"scaledLong($d, $s) overflows the Long lane")
        u * POW10(-k)
      } else if (k > 18) {
        // |value| < 1e17·10^−19 at scale s — rounds to zero, and the exact
        // midpoint (2u = 10^(k+1)) is unreachable with u < 1e17
        0L
      } else {
        val m = POW10(k)
        val q = u / m
        val r = u - q * m
        if (r + r >= m) q + 1L else q // HALF_UP on the magnitude
      }
    if (neg) -abs else abs
  }

  /** Σ decimal(·,15)(xᵢ·yᵢ) → double: the decimal_vector_dot kernel.
    * Unscaled-Long accumulator with exact BigDecimal escalation (decimal
    * addition is exact and order-free, so lane regrouping cannot change the
    * total). Null semantics of the original fold: length mismatch, a null
    * element, or a non-finite product null the whole sum. */
  def decimalDot15(x: ArrayData, y: ArrayData,
                   leftFloat: Boolean, rightFloat: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var accL = 0L
    var accB: JBigDecimal = null
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val p = (if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)) *
        (if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i))
      if (!java.lang.Double.isFinite(p)) return null
      if (p > -Fast15 && p < Fast15) {
        val t = scaledLong(p, 15)
        val s = accL + t
        if (((accL ^ s) & (t ^ s)) >= 0L) accL = s
        else { // running sum overflowed: bank the Long lane, restart at t
          accB = (if (accB == null) JBigDecimal.ZERO else accB)
            .add(new JBigDecimal(BigInteger.valueOf(accL), 15))
          accL = t
        }
      } else {
        accB = (if (accB == null) JBigDecimal.ZERO else accB)
          .add(refTerm(p, 15))
      }
      i += 1
    }
    val tail = new JBigDecimal(BigInteger.valueOf(accL), 15)
    val total = if (accB == null) tail else accB.add(tail)
    java.lang.Double.valueOf(total.doubleValue())
  }
}
