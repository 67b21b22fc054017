package graft.functions

import org.apache.spark.sql.types.Decimal

/** double → DECIMAL(28,10), value-identical to `Cast` but without the
  * per-value `new BigDecimal(String)` parse where bit math decides it.
  *
  * Spark's Cast defines the result as
  * `BigDecimal(Double.toString(d))` rounded HALF_UP to scale 10 — the
  * shortest-decimal-representation semantics. The exact sums
  * (`QueryUtils.sumDec` and the sums built on it) apply that cast to
  * every aggregated value, and the BigDecimal construction dominated
  * the measured cost (q01: 5 casts × 600 k rows ≈ 0.4 s of 1.4 s).
  *
  * `unscaled18OrSentinel` has two tiers: an integer tier that decides
  * the scale-10 unscaled long with no string, and `reference`, the Cast
  * definition itself, for the values it leaves. Outside the one-long
  * window (|d| ≥ 10⁸, NaN/Inf) it yields the sentinel, and callers take
  * `reference` too, so equality holds by construction there.
  * Property-proven against Cast in DecimalFastSpec.
  */
object DecimalFast {
  private val Precision = 28
  private val Scale = 10

  /** Reference path: exactly what Cast(double → dec(28,10)) computes. */
  def reference(d: Double): Decimal = {
    val dec = Decimal(d) // BigDecimal.valueOf == new BigDecimal(Double.toString(d))
    if (dec.changePrecision(Precision, Scale)) dec // HALF_UP, like Cast
    else throw new ArithmeticException(
      s"$d cannot be represented as Decimal($Precision, $Scale)")
  }

  /** The parse, surfaced as a bare unscaled long for the exact sums'
    * digit split (`QueryUtils.sumDec`, `DecimalSum`): returns unscaled(Cast(d → DECIMAL(28,10)))
    * with |u| ≤ 10¹⁸ guaranteed, or Long.MinValue outside the one-long
    * window or when d is not finite (|d| ≥ 10⁸, NaN, ±Inf), where the
    * caller must take the exact slow split (`DecimalSum.slowDigit`).
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
    * long arithmetic (m·5¹⁰ < 2⁷⁷). Values within the band and
    * |d| < 2⁻²¹ (s > 63) take the second tier, the unscaled long of
    * `reference(d)`: V < 10⁸ there, so it is at most 10¹⁸. A value of
    * ≤ 10 fraction digits has an integer V·10¹⁰, so x sits 2^(s−1) rem
    * units (give or take the bound) from a half-integer: past the band
    * always below 2¹⁸, never from 2¹⁹, and in between only when d is
    * close enough to V (2 in 3 of `o_totalprice`'s values there).
    * Equality is property-proven against the Cast in DecimalFastSpec,
    * including adversarial half-boundary neighborhoods. */
  def unscaled18OrSentinel(d: Double): Long = {
    if (d == 0.0) return 0L // covers -0.0: toString "-0.0" parses to -0 = 0
    val ad = java.lang.Math.abs(d)
    // ad < 1e8 keeps U ≤ 10¹⁸ (V < 10⁸ because 10⁸ is exactly
    // representable, so the shortest repr of any smaller double is
    // smaller). NaN/Inf fail it.
    if (!(ad < 1.0e8)) return Long.MinValue
    // window for the integer tier: ad ≥ 4.8e-7 > 2⁻²¹ keeps s ≤ 63
    // (rem fits one long)
    if (ad >= 4.8e-7) {
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
        val u = if (rem >= half) floor + 1 else floor // x < 10¹⁸, so u ≤ 10¹⁸
        return if (d < 0) -u else u
      }
    }
    reference(d).toUnscaledLong
  }
}
