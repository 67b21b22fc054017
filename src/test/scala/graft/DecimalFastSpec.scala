package graft

import graft.functions.{DecimalFast, DecimalSum}
import org.apache.spark.sql.catalyst.expressions.UnscaledValue
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{Decimal, DecimalType}
import org.scalatest.funsuite.AnyFunSuite

/** Proves the fast double→DECIMAL(28,10) kernel equals Spark's Cast —
  * value AND scale — so every dsum/davg consumer keeps bit-identical
  * oracle parity. Sampling is seeded (deterministic across runs).
  */
class DecimalFastSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Reference: exactly what Cast(double → dec(28,10)) computes. */
  private def ref(d: Double): Decimal = {
    val dec = Decimal(d)
    assert(dec.changePrecision(28, 10), s"reference overflow for $d")
    dec
  }

  private def check(d: Double): Unit = {
    val fast = DecimalFastSpec.toDec2810(d)
    val slow = ref(d)
    assert(fast.toJavaBigDecimal == slow.toJavaBigDecimal,
      s"d=$d fast=${fast.toJavaBigDecimal} ref=${slow.toJavaBigDecimal} " +
        s"(toString=${java.lang.Double.toString(d)})")
  }

  test("fast conversion equals Cast on edge values") {
    Seq(0.0, 1.0, 0.05, 0.1, 0.1 + 0.2, 1.0 / 3.0,
      123.456, 999.99999999995, 0.99999999995,
      0.00099999999995, 0.001, 0.0001, 9.999999999e-3,
      1e6, 9999999.9999999, 1e7, 1.23456789e7, 1e15, 1e17, 9.9e17,
      0.12345678901234567, 0.12345678905, 0.12345678904999999,
      Double.MinPositiveValue, 4.9e-300
    ).foreach { d => check(d); check(-d) }
    check(-0.0)
  }

  test("fast conversion throws where Cast overflows Decimal(28,10)") {
    intercept[ArithmeticException](DecimalFastSpec.toDec2810(1e19))
    intercept[ArithmeticException](DecimalFastSpec.toDec2810(-1e19))
  }

  test("fast conversion equals Cast on seeded random doubles") {
    val rnd = new scala.util.Random(42)
    var n = 0
    while (n < 50000) {
      // uniform magnitudes across the plain-notation range
      check((rnd.nextDouble() - 0.5) * 2e7)
      // typical measure values and fraction-heavy
      check((rnd.nextDouble() - 0.5) * 2000.0)
      check(rnd.nextDouble())
      // two-decimal prices at many magnitudes
      check((rnd.nextLong() % 100000000L) / 100.0)
      // arbitrary finite bit patterns below the overflow bound
      val bits = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (java.lang.Double.isFinite(bits) && math.abs(bits) < 1e18) check(bits)
      n += 1
    }
  }

  /** unscaled(Cast(d → DECIMAL(28,10))) as BigInt — the value the
    * parse tiers must reproduce whenever they return a non-sentinel. */
  private def refUnscaled(d: Double): BigInt = {
    val dec = Decimal(d)
    assert(dec.changePrecision(28, 10), s"reference overflow for $d")
    BigInt(dec.toJavaBigDecimal.unscaledValue())
  }

  private def checkUnscaled(d: Double): Unit = {
    val u = DecimalFast.unscaled18OrSentinel(d)
    if (u != Long.MinValue) {
      assert(math.abs(u) <= 1000000000000000000L, s"|u| bound broken for $d: $u")
      assert(BigInt(u) == refUnscaled(d),
        s"d=$d u=$u ref=${refUnscaled(d)} (toString=${java.lang.Double.toString(d)})")
    }
  }

  test("integer-tier unscaled parse equals Cast on half-boundary neighborhoods") {
    // doubles whose value·10¹⁰ sits as close as possible to k + 0.5 —
    // exactly the band where the integer tier must hand off to the
    // Cast rather than guess
    val rnd = new scala.util.Random(1234)
    var n = 0
    while (n < 200000) {
      val k = rnd.nextLong() % 999999999999999999L
      val d = (k + 0.5) / 1e10
      checkUnscaled(d)
      checkUnscaled(Math.nextUp(d)); checkUnscaled(Math.nextDown(d))
      checkUnscaled(Math.nextUp(Math.nextUp(d)))
      checkUnscaled(Math.nextDown(Math.nextDown(d)))
      // exact-integer multiples of 1e-10 (rounding-free anchors)
      val di = k / 1e10
      checkUnscaled(di); checkUnscaled(Math.nextUp(di)); checkUnscaled(Math.nextDown(di))
      n += 1
    }
    // 11-fraction-digit literals ending in 5 (ties in decimal space)
    for (i <- 0 until 20000) {
      val head = rnd.nextInt(1000000)
      val frac = math.abs(rnd.nextLong() % 10000000000L)
      checkUnscaled(java.lang.Double.parseDouble(s"$head.${"%010d".format(frac)}5"))
    }
  }

  test("integer-tier unscaled parse equals Cast on seeded random magnitudes") {
    val rnd = new scala.util.Random(4242)
    var n = 0
    while (n < 2000000) {
      // log-uniform across the full integer-tier window and beyond
      val mag = math.pow(10.0, rnd.nextDouble() * 18.0 - 9.0) // 1e-9 .. 1e9
      checkUnscaled((if (rnd.nextBoolean()) mag else -mag) * rnd.nextDouble())
      n += 1
    }
    // raw bit patterns (any finite double must be value-correct or sentinel)
    var b = 0
    while (b < 500000) {
      val bits = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (java.lang.Double.isFinite(bits) && math.abs(bits) < 1e18) checkUnscaled(bits)
      b += 1
    }
    Seq(0.0, -0.0, 1e8, Math.nextDown(1e8), Math.nextUp(1e8), 4.8e-7,
      Math.nextDown(4.8e-7), 2.4e-7, 1e-10, 5e-11, Math.nextUp(5e-11),
      Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MaxValue).foreach { d =>
      if (java.lang.Double.isFinite(d)) checkUnscaled(d)
      else assert(DecimalFast.unscaled18OrSentinel(d) == Long.MinValue)
    }
  }

  test("finite values the integer tier leaves parse to the Cast's unscaled long, never the sentinel") {
    // sf0.01 `o_totalprice` in [2¹⁸, 2¹⁹), where its band values lie;
    // magnitudes below the tier's 4.8e-7 floor; band values from 10⁷,
    // whose Double.toString is scientific
    val prices = core.Tables.orders(spark, TestSpark.sf001Dir)
      .filter(col("o_totalprice") >= 262144.0 && col("o_totalprice") < 524288.0)
      .select("o_totalprice").collect().map(_.getDouble(0))
    assert(prices.length > 2000)
    (prices.toSeq ++ Seq(1e-10, 2.4e-7, Math.nextDown(4.8e-7), Double.MinPositiveValue,
      1e7, 1.23456789e7, 99999999.99, Math.nextDown(1e8))).foreach { d =>
      Seq(d, -d).foreach { x =>
        val u = DecimalFast.unscaled18OrSentinel(x)
        assert(u != DecimalSum.Sentinel && BigInt(u) == refUnscaled(x), s"d=$x u=$u")
      }
    }
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e8, -1e8,
      Math.nextUp(1e8)).foreach { d =>
      assert(DecimalFast.unscaled18OrSentinel(d) == DecimalSum.Sentinel, s"d=$d")
    }
  }

  test("DataFrame-level: fast expression column equals .cast over the corpus") {
    val li = core.Tables.lineitem(spark, TestSpark.sfDir)
    val exprs = Seq(
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_extendedprice") * (lit(1) - col("l_discount")))
    exprs.foreach { e =>
      val fast = li.select(
        core.QueryUtils.unscaled18(e).as("fast"),
        ColumnBridge.column(UnscaledValue(
          ColumnBridge.expression(e.cast(DecimalType(28, 10))))).as("slow"))
        .filter(col("fast") =!= lit(DecimalSum.Sentinel))
      assert(fast.count() > 0L, e.toString)
      assert(fast.filter(not(col("fast") <=> col("slow"))).count() === 0L, e.toString)
    }
  }
}

object DecimalFastSpec {
  /** double → DECIMAL(28,10) as the exact sums compute it: the fast
    * parse, or the Cast reference where the parse returns the sentinel. */
  def toDec2810(d: Double): Decimal = {
    val u = DecimalFast.unscaled18OrSentinel(d)
    if (u == DecimalSum.Sentinel) DecimalFast.reference(d) else Decimal.createUnsafe(u, 28, 10)
  }
}
