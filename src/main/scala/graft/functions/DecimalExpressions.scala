package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.Decimal

/** double → DECIMAL(28,10), value-identical to `Cast` but without the
  * per-value `new BigDecimal(String)` parse.
  *
  * Spark's Cast defines the result as
  * `BigDecimal(Double.toString(d))` rounded HALF_UP to scale 10 — the
  * shortest-decimal-representation semantics. The exact sums
  * (`QueryUtils.sumDec` and the sums built on it) apply that cast to
  * every aggregated value, and the BigDecimal construction dominated
  * the measured cost (q01: 5 casts × 600 k rows ≈ 0.4 s of 1.4 s).
  *
  * `unscaled18OrSentinel` decides the scale-10 unscaled long directly
  * (HALF_UP on the 11th fraction digit, carry handled). Anything it
  * does not handle — scientific notation, |d| ≥ 10⁸, NaN/Inf — yields
  * the sentinel, and callers take `reference`, the Cast definition
  * itself, so equality holds by construction there.
  * Property-proven against Cast in DecimalFastSpec.
  */
object DecimalFast {
  private val Precision = 28
  private val Scale = 10
  private val ScaleFactor = 10000000000L // 10^Scale
  // plain Double.toString has < 1e7 magnitude, so <= 7 integer digits;
  // 8 keeps unscaled strictly below 10^18 even after a rounding carry
  private val MaxIntDigits = 8

  /** Reference path: exactly what Cast(double → dec(28,10)) computes. */
  def reference(d: Double): Decimal = {
    val dec = Decimal(d) // BigDecimal.valueOf == new BigDecimal(Double.toString(d))
    if (dec.changePrecision(Precision, Scale)) dec // HALF_UP, like Cast
    else throw new ArithmeticException(
      s"$d cannot be represented as Decimal($Precision, $Scale)")
  }

  /** The fast parse, surfaced as a bare unscaled long for the two-long
    * sum kernel (DecimalSum): returns unscaled(Cast(d → DECIMAL(28,10)))
    * with |u| ≤ 10¹⁸ guaranteed, or Long.MinValue when the fast paths
    * do not apply (NaN/Inf, |d| ≥ 10⁸, digit parse rejected) and the
    * caller must take the exact slow path.
    *
    * Two tiers. The integer tier decides U = halfUp(V·10¹⁰) — where
    * V is the shortest-decimal (Double.toString) value the Cast
    * contract is defined on — WITHOUT rendering the string: with
    * d = ±m·2ᵉ exactly, x = |d|·10¹⁰ = (m·5¹⁰) / 2^s for s = −(e+10),
    * and the shortest-repr guarantee |V−d| ≤ ulp(d)/2 bounds
    * |V·10¹⁰ − x| by (2ᵉ/2)·10¹⁰ = (10¹⁰/2¹¹)·2^(e+10), i.e. by a
    * CONSTANT 4882812.5 in rem units of 2^(e+10). halfUp is
    * discontinuous only at half-integers, so when the distance from
    * x to the nearest half-integer exceeds that bound, every value
    * within it — V included, whichever JDK's shortest-repr produced
    * it — rounds to the same integer, and U follows from pure 128-bit
    * long arithmetic (m·5¹⁰ < 2⁷⁷). Values within the band (~1e-9 of
    * uniformly distributed inputs), |d| < 2⁻²¹ (s > 63), |d| ≥ 10⁸
    * and non-finites fall through to the string tier, which is the
    * reference definition itself. Equality is property-proven against
    * the Cast in DecimalFastSpec, including adversarial half-boundary
    * neighborhoods. */
  def unscaled18OrSentinel(d: Double): Long = {
    if (d == 0.0) return 0L // covers -0.0: toString "-0.0" parses to -0 = 0
    val ad = java.lang.Math.abs(d)
    // window for the integer tier: ad ≥ 4.8e-7 > 2⁻²¹ keeps s ≤ 63
    // (rem fits one long); ad < 1e8 keeps U ≤ 10¹⁸ (V < 10⁸ because
    // 10⁸ is exactly representable, so the shortest repr of any
    // smaller double is smaller). NaN/Inf fail ad < 1e8.
    if (ad < 1.0e8 && ad >= 4.8e-7) {
      val bits = java.lang.Double.doubleToRawLongBits(d)
      val m = (bits & 0x000FFFFFFFFFFFFFL) | 0x0010000000000000L // normal: ad ≫ minNormal
      val e = ((bits >>> 52) & 0x7FF).toInt - 1075
      val s = -(e + 10) // 16 ≤ s ≤ 63 within the window
      val pLo = m * 9765625L // P = m·5¹⁰ (128-bit: pHi:pLo)
      val pHi = java.lang.Math.multiplyHigh(m, 9765625L)
      val floor = (pHi << (64 - s)) | (pLo >>> s)
      val rem = pLo & ((1L << s) - 1) // P mod 2^s (s ≤ 63 ⇒ lo-only)
      val half = 1L << (s - 1)
      val dist = java.lang.Math.abs(rem - half)
      if (dist > 4882812L) { // nearest half-integer beyond the V-uncertainty band
        val u = if (rem >= half) floor + 1 else floor
        if (u <= 1000000000000000000L) return if (d < 0) -u else u
      }
    }
    unscaled18Digits(d)
  }

  /** String tier: parse the plain-notation Double.toString rendering
    * directly (the value definition). Returns the sentinel for
    * NaN/Inf, scientific notation and > MaxIntDigits integer digits. */
  private[graftbridge] def unscaled18Digits(d: Double): Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return Long.MinValue
    val s = java.lang.Double.toString(d)
    val n = s.length
    var i = 0
    var neg = false
    if (s.charAt(0) == '-') { neg = true; i = 1 }
    var intPart = 0L
    var intDigits = 0
    var c = s.charAt(i)
    while (c != '.') { // plain form always contains '.'; 'E' only after it
      if (c == 'E') return Long.MinValue
      intPart = intPart * 10 + (c - '0')
      intDigits += 1
      i += 1
      c = s.charAt(i)
    }
    if (intDigits > MaxIntDigits) return Long.MinValue
    i += 1 // skip '.'
    var frac = 0L
    var fracDigits = 0
    while (i < n && fracDigits < Scale) {
      c = s.charAt(i)
      if (c == 'E') return Long.MinValue
      frac = frac * 10 + (c - '0')
      fracDigits += 1
      i += 1
    }
    if (i < n) {
      // digits beyond scale 10: HALF_UP — the discarded tail is >= half
      // an ulp iff its leading digit is >= 5 (ties round away from zero)
      var j = i
      while (j < n) { if (s.charAt(j) == 'E') return Long.MinValue; j += 1 }
      if (s.charAt(i) - '0' >= 5) {
        frac += 1
        if (frac == ScaleFactor) { frac = 0; intPart += 1 }
      }
    } else {
      while (fracDigits < Scale) { frac = frac * 10; fracDigits += 1 }
    }
    val unscaled = intPart * ScaleFactor + frac
    if (neg) -unscaled else unscaled
  }
}
