package graft.functions

import java.math.BigInteger
import org.apache.spark.sql.types.Decimal

/** The scalar halves of the exact decimal sum.
  *
  * The engine's cross-engine exactness contract sums doubles after a
  * cast to DECIMAL(28,10). Spark's built-in `Sum` keeps that running
  * sum in a DECIMAL(38,10) aggregation-buffer slot, and precision 38 >
  * Decimal.MAX_LONG_DIGITS means every single row update round-trips a
  * BigDecimal through the UnsafeRow buffer (read bytes → BigDecimal →
  * add → serialize bytes). Isolated on q01's aggregate that buffer
  * churn was the residual decimal overhead after the fast cast
  * (~0.3 s/query at sf0.1).
  *
  * `QueryUtils.sumDec` instead splits each value's scale-10 unscaled
  * integer U (|U| < 10²⁸) by floor division into base-2³⁰ digits,
  * U = p2·2⁶⁰ + p1·2³⁰ + p0 with p0, p1 in [0, 2³⁰) and the sign in p2,
  * and sums each digit with Spark's own long `sum`: updates are plain
  * long adds on fixed-width buffer slots, and the ANSI `sum` throws
  * ARITHMETIC_OVERFLOW where a digit sum would leave a long (|total|
  * past ~1.06·10²⁷, or more than 2³³ rows in one group). `combine`
  * materializes the exact DECIMAL(38,10) value once per group. The
  * per-row parse is `DecimalFast.unscaled18OrSentinel`; `slowDigit` is
  * the split of the values it leaves to the sentinel.
  * Equivalence to `sum(cast(c as DECIMAL(28,10)))` is property-proven
  * in ExactSumSpec (grouped, windowed, null and slow-path inputs) and
  * gated by the DuckDB oracle.
  */
object DecimalSum {
  /** Out-of-band marker for "outside the one-long window or not
    * finite" — the parser's real outputs satisfy |u| ≤ 10¹⁸. */
  val Sentinel: Long = Long.MinValue

  /** One base-2³⁰ digit's bits. */
  val DigitMask: Long = (1L << 30) - 1
  private val MaxLong18 = 1000000000000000000L

  /** Digit k (0, 1 or 2) of unscaled(cast) for values the parse leaves
    * to the sentinel: |d| ≥ 10⁸ or not finite. Exact for the whole
    * DECIMAL(28,10) domain: |unscaled| < 10²⁸ → |p2| < 8.7·10⁹. NaN/Inf
    * throw here (NumberFormatException via Decimal(NaN)) where Spark's
    * non-ANSI Cast would return NULL — a deliberate loud-failure
    * divergence, unreachable for the benchmark domain. Only evaluated
    * behind a sentinel check, so it goes straight to the Cast reference
    * without re-running the fast parse. */
  def slowDigit(d: Double, k: Int): Long = {
    val digit = DecimalFast.reference(d).toJavaBigDecimal.unscaledValue().shiftRight(30 * k)
    if (k < 2) digit.longValue() & DigitMask else digit.longValueExact()
  }

  /** Digit sums (s0, s1, s2) → the exact DECIMAL(38,10) value
    * s2·2⁶⁰ + s1·2³⁰ + s0. Compact long-backed when the value is within
    * 10¹⁸ (carrying s0 into s1 and s1 into s2 leaves s2 at 0 or −1),
    * so downstream casts stay on Decimal's fast paths. */
  def combine(s0: Long, s1: Long, s2: Long): Decimal = {
    val t1 = s1 + (s0 >> 30) // cannot wrap while 0 ≤ s1 < 2⁶²
    val t2 = s2 + (t1 >> 30)
    val u = (t2 << 60) | ((t1 & DigitMask) << 30) | (s0 & DigitMask)
    if ((s1 >>> 62) == 0 && (t2 == 0L || t2 == -1L) && -MaxLong18 < u && u < MaxLong18) {
      Decimal.createUnsafe(u, 38, 10)
    } else {
      val bi = BigInteger.valueOf(s2).shiftLeft(60)
        .add(BigInteger.valueOf(s1).shiftLeft(30)).add(BigInteger.valueOf(s0))
      Decimal(new java.math.BigDecimal(bi, 10), 38, 10)
    }
  }
}
