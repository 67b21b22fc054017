package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, CreateNamedStruct, EvalMode, Expression, GreaterThanOrEqual, If, IsNotNull, LessThanOrEqual, Literal, Multiply, Or, Subtract}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal, DecimalType, LongType, StructField, StructType}

/** Exact decimal-sum kernel over a pair of longs.
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
  * `SumScaled128` holds the identical mathematical sum as two longs —
  * sum = shi·10¹⁸ + slo with |slo| < 10¹⁸ maintained by a carry step —
  * so updates are pure long arithmetic on fixed-width buffer slots
  * (codegen'd, allocation-free) and the exact DECIMAL(38,10) value is
  * materialized once per group. Every value a DECIMAL(28,10) can hold
  * splits exactly (|unscaled| < 10²⁸ → hi < 10¹⁰), and the two-long
  * window covers |hi| within a long, |sum| < ~9.2·10²⁶ — ~10× narrower
  * than DECIMAL(38,10), unreachable for this input domain, and guarded:
  * the hi accumulator adds with Catalyst's exact (ANSI) add, so an
  * out-of-window sum throws ARITHMETIC_OVERFLOW like built-in Sum
  * instead of wrapping. The result expression calls `combine` through a
  * StaticInvoke; `QueryUtils` builds the per-row parse
  * (`DecimalFast.unscaled18OrSentinel`) and the slow split
  * (`slowHi18`/`slowLo18`) the same way.
  * Equivalence to `sum(cast(c as DECIMAL(28,10)))` is
  * property-proven in SumScaledSpec (grouped, windowed, null and
  * slow-path inputs) and gated by the DuckDB oracle.
  */
object DecimalSum {
  /** Split base: 10^18, the largest power of ten a long holds with
    * room for one carry add (2·10¹⁸ < 2⁶³). */
  val Base: Long = 1000000000000000000L
  private val BaseBig = java.math.BigInteger.valueOf(Base)

  /** Out-of-band marker for "outside the one-long window or not
    * finite" — the parser's real outputs satisfy |u| ≤ 10¹⁸. */
  val Sentinel: Long = Long.MinValue

  /** hi part (truncated division by 10¹⁸) of unscaled(cast) for values
    * the parse leaves to the sentinel: |d| ≥ 10⁸ or not finite.
    * Exact for the whole DECIMAL(28,10) domain: |unscaled| < 10²⁸ →
    * |hi| < 10¹⁰. NaN/Inf throw here (NumberFormatException via
    * Decimal(NaN)) where Spark's non-ANSI Cast would return NULL — a
    * deliberate loud-failure divergence, unreachable for the benchmark
    * domain. Only evaluated behind a sentinel check, so it goes
    * straight to the Cast reference without re-running the fast parse. */
  def slowHi18(d: Double): Long =
    DecimalFast.reference(d).toJavaBigDecimal.unscaledValue()
      .divide(BaseBig).longValueExact()

  /** lo part (remainder, sign of the dividend) matching slowHi18. */
  def slowLo18(d: Double): Long =
    DecimalFast.reference(d).toJavaBigDecimal.unscaledValue()
      .remainder(BaseBig).longValue()

  /** (hi, lo) → the exact DECIMAL(38,10) value hi·10¹⁸ + lo. Compact
    * long-backed when hi carries nothing, so downstream casts stay on
    * Decimal's fast paths. */
  def combine(hi: Long, lo: Long): Decimal =
    if (hi == 0L) Decimal.createUnsafe(lo, 38, 10)
    else {
      val bi = java.math.BigInteger.valueOf(hi).multiply(BaseBig)
        .add(java.math.BigInteger.valueOf(lo))
      Decimal(new java.math.BigDecimal(bi, 10), 38, 10)
    }
}

/** Sum of exact scale-10 decimals represented as (hi, lo) long parts
  * (value = hi·10¹⁸ + lo). Buffer = (shi, slo, seen): two longs and a
  * bool — fixed-width, mutable, allocation-free in the hash-aggregate
  * row. Null inputs are skipped; an all-null/empty group yields NULL,
  * matching built-in Sum. `emitStruct` returns the normalized parts as
  * struct<hi,lo> instead of the DECIMAL(38,10) value, so a two-level
  * aggregation (partial per key → re-aggregate, q05/q10/q11) never
  * materializes intermediate decimals at all.
  *
  * The lo half's arithmetic is EvalMode.LEGACY: the carry step keeps
  * |slo| < 10¹⁸, so none of it can overflow. Both hi adds are
  * EvalMode.ANSI (`Math.addExact`): on the merge path the incoming hi
  * is a whole partial, so even its `+ carry` can wrap.
  */
case class SumScaled128(
    hiExpr: Expression,
    loExpr: Expression,
    emitStruct: Boolean = false)
    extends DeclarativeAggregate with BinaryLike[Expression] {

  override def left: Expression = hiExpr
  override def right: Expression = loExpr
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sum128"

  override def dataType: DataType =
    if (emitStruct) SumScaled128.PartsType else DecimalType(38, 10)

  private lazy val shi = AttributeReference("shi", LongType, nullable = false)()
  private lazy val slo = AttributeReference("slo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(shi, slo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  /** One carry-normalized accumulation step. Preconditions: |curLo| <
    * 10¹⁸ (buffer invariant) and |inLo| ≤ 10¹⁸ (parser/normalized
    * bound), so |newLo| < 2·10¹⁸ < 2⁶³ and one borrow/carry restores
    * the invariant. */
  private def step(curHi: Expression, curLo: Expression,
      inHi: Expression, inLo: Expression): Seq[Expression] = {
    val base = Literal(DecimalSum.Base)
    val newLo = Add(curLo, inLo, EvalMode.LEGACY)
    val carry = If(GreaterThanOrEqual(newLo, base), Literal(1L),
      If(LessThanOrEqual(newLo, Literal(-DecimalSum.Base)), Literal(-1L), Literal(0L)))
    Seq(
      Add(curHi, Add(inHi, carry, EvalMode.ANSI), EvalMode.ANSI),
      Subtract(newLo, Multiply(carry, base, EvalMode.LEGACY), EvalMode.LEGACY))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // null input (either part) contributes (0, 0) and leaves `seen`
    // untouched; the repeated hiExpr/loExpr subtrees are CSE'd by
    // whole-stage codegen (window call sites pass attribute refs)
    val bothSet = org.apache.spark.sql.catalyst.expressions.And(
      IsNotNull(hiExpr), IsNotNull(loExpr))
    val inHi = If(bothSet, hiExpr, Literal(0L))
    val inLo = If(bothSet, loExpr, Literal(0L))
    step(shi, slo, inHi, inLo) :+ Or(seen, bothSet)
  }

  override lazy val mergeExpressions: Seq[Expression] =
    step(shi.left, slo.left, shi.right, slo.right) :+ Or(seen.left, seen.right)

  override lazy val evaluateExpression: Expression =
    If(seen,
      if (emitStruct) {
        CreateNamedStruct(Seq(Literal("hi"), shi, Literal("lo"), slo))
      } else {
        ColumnBridge.invoke(DecimalSum, "combine", DecimalType(38, 10), Seq(shi, slo),
          Seq(LongType, LongType))
      },
      Literal.create(null, dataType))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SumScaled128 =
    copy(hiExpr = newLeft, loExpr = newRight)
}

object SumScaled128 {
  /** Normalized carry parts of a partial sum (|lo| < 10¹⁸). */
  val PartsType: StructType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))
}
