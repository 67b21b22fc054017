package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One declared engine query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle
  * SQL the driver's correctness gate replays on the same parquet
  * tables. `oracle = None` → the driver records a weaker rows-only
  * check (used for the probabilistic/hash-seeded operators whose
  * exact output no other engine can reproduce). Every declared query
  * is part of the Bench headline set.
  */
final case class GQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryUtils {
  import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, If, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
  import graft.functions.{DecimalFast, DecimalSum, SumScaled128}
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.apache.spark.sql.types.{DoubleType, LongType}

  /** `obj.<method>(d)` for a double argument, as a long. */
  private def ofDouble(obj: AnyRef, method: String, d: Expression): Expression =
    ColumnBridge.invoke(obj, method, LongType, Seq(d), Seq(DoubleType))

  /** The parse half of the exact-sum split: unscaled(cast(c →
    * DECIMAL(28,10))) as a long, or the out-of-band sentinel when the
    * value is outside the one-long window or not finite (|c| ≥ 10⁸,
    * NaN, ±Inf; `DecimalFast.unscaled18OrSentinel`; NULL stays NULL).
    * Queries reach it through `withExactParse`. */
  def unscaled18(c: Column): Column =
    ColumnBridge.column(ofDouble(DecimalFast, "unscaled18OrSentinel", ColumnBridge.expression(c)))

  private def parseOf(c: String): String = s"_u_$c"

  /** Projects each named double column's `unscaled18` parse ONCE per
    * row, as `_u_<column>`, for the name-keyed sums below to read. The
    * parse is the expensive node (128-bit math, or the Cast), and
    * neither window update projections nor aggregate-update codegen
    * reliably CSE it (measured: 3 evaluations/row/input when inlined, 1
    * when pre-projected). A name-keyed sum over a column whose parse
    * was not projected here fails analysis when the frame is built. */
  def withExactParse(cols: String*)(df: DataFrame): DataFrame =
    df.select(col("*") +: cols.map(c => unscaled18(col(c)).as(parseOf(c))): _*)

  /** SumScaled128 over a pre-projected parse column `u` and the original
    * double `d`, which only the slow split (`DecimalSum.slowHi18`/
    * `slowLo18`, behind the sentinel check) reads. All refs are
    * attribute/branch reads — cheap to duplicate across the aggregate's
    * buffer-update expressions. */
  private def sum128(u: Column, d: Column, emitStruct: Boolean): Column = {
    val ue = ColumnBridge.expression(u)
    val de = ColumnBridge.expression(d)
    val sent = Literal(DecimalSum.Sentinel)
    val hi = If(EqualTo(ue, sent), ofDouble(DecimalSum, "slowHi18", de), Literal(0L))
    val lo = If(EqualTo(ue, sent), ofDouble(DecimalSum, "slowLo18", de), ue)
    ColumnBridge.column(SumScaled128(hi, lo, emitStruct).toAggregateExpression())
  }

  /** Exact sum of cast(d → DECIMAL(28,10)) as DECIMAL(38,10), computed
    * by the two-long SumScaled128 kernel (bit-identical to the built-in
    * Sum over the cast — see SumScaledSpec — without its per-row
    * BigDecimal buffer churn), from `u` = `unscaled18(d)` projected
    * above the aggregate. Queries call the name-keyed `sumDec(c)`,
    * which cannot pair a value with another column's parse. */
  def sumDec(u: Column, d: Column): Column = sum128(u, d, emitStruct = false)

  /** Exact sum of column `c`, read with its `withExactParse` parse. */
  def sumDec(c: String): Column = sumDec(col(parseOf(c)), col(c))

  private def partsOf(c: String): String = s"_p_$c"

  /** sumDec emitting the normalized struct<hi,lo> parts instead of the
    * decimal, named `_p_<column>`, for two-level aggregations whose
    * outer level re-sums them with `sumOfParts(c)` (q05/q10/q11). */
  def sumDecParts(c: String): Column =
    sum128(col(parseOf(c)), col(c), emitStruct = true).as(partsOf(c))

  /** Re-aggregate column `c`'s `sumDecParts` partials into the exact
    * DECIMAL(38,10) total. Re-summing parts that were not aggregated
    * fails analysis when the frame is built. */
  def sumOfParts(c: String): Column = {
    val parts = col(partsOf(c))
    val hi = ColumnBridge.expression(parts.getField("hi"))
    val lo = ColumnBridge.expression(parts.getField("lo"))
    ColumnBridge.column(SumScaled128(hi, lo).toAggregateExpression())
  }

  /** Exact decimal sum of column `c`, surfaced as double. Summing
    * doubles directly is order-dependent (shuffle/partition order
    * differs run to run and engine to engine); summing after a cast to
    * DECIMAL(28,10) is exact and associative, so Spark and the DuckDB
    * oracle agree bit-for-bit no matter the plan. The final round()
    * guards the decimal→double conversion ulp. */
  def dsum(c: String): Column = round(sumDec(c).cast(DoubleType), 4)

  /** Deterministic mean: exact decimal sum over exact long count. */
  def davg(c: String): Column = round(sumDec(c).cast(DoubleType) / count(lit(1)), 6)

  /** The `n` smallest non-NULL values of `c`, ascending: Catalyst's bounded
    * CollectTopK, whose partial buffers keep at most `n` each. */
  def smallest(c: Column, n: Int): Column =
    ColumnBridge.column(
      new CollectTopK(ColumnBridge.expression(c), n, reverse = true).toAggregateExpression())

  /** The same casts, spelled for the DuckDB oracle. */
  def sqlDsum(e: String): String =
    s"round(sum(($e)::DECIMAL(28,10))::DOUBLE, 4)"
  def sqlDavg(e: String): String =
    s"round(sum(($e)::DECIMAL(28,10))::DOUBLE / count(*), 6)"
}
