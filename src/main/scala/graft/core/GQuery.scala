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
  import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
  import org.apache.spark.sql.expressions.WindowSpec
  import graft.functions.{DecimalFast, DecimalSum}
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, IntegerType, LongType}

  /** `obj.<method>(args)` as a column. */
  private def kernel(obj: AnyRef, method: String, dataType: DataType, args: Seq[Column],
      inputTypes: Seq[DataType]): Column =
    ColumnBridge.column(
      ColumnBridge.invoke(obj, method, dataType, args.map(ColumnBridge.expression), inputTypes))

  /** The parse half of the exact sum: unscaled(cast(c →
    * DECIMAL(28,10))) as a long, or the out-of-band sentinel when the
    * value is outside the one-long window or not finite (|c| ≥ 10⁸,
    * NaN, ±Inf; `DecimalFast.unscaled18OrSentinel`; NULL stays NULL).
    * Queries reach it through `withExactParse`. */
  def unscaled18(c: Column): Column =
    kernel(DecimalFast, "unscaled18OrSentinel", LongType, Seq(c), Seq(DoubleType))

  private def parseOf(c: String): String = s"_u_$c"

  /** Projects each named double column's `unscaled18` parse ONCE per
    * row, as `_u_<column>`, for the name-keyed sums below to read (the
    * three digit `sum`s of `sumDec`). The parse is the expensive node
    * (128-bit math, or the Cast), and neither window update projections
    * nor aggregate-update codegen reliably CSE it (measured: 3
    * evaluations/row/input when inlined, 1 when pre-projected). A
    * name-keyed sum over a column whose parse was not projected here
    * fails analysis when the frame is built. */
  def withExactParse(cols: String*)(df: DataFrame): DataFrame =
    df.select(col("*") +: cols.map(c => unscaled18(col(c)).as(parseOf(c))): _*)

  /** The base-2³⁰ digits (p0, p1, p2) of cast(d → DECIMAL(28,10))'s
    * unscaled value, from its parse `u`: bit fields of `u`, or
    * `DecimalSum.slowDigit` of the original double `d` behind the
    * sentinel check. A NULL `u` gives NULL digits. */
  private def digits(u: Column, d: Column): Seq[Column] =
    Seq(u.bitwiseAND(DecimalSum.DigitMask), shiftright(u, 30).bitwiseAND(DecimalSum.DigitMask),
      shiftright(u, 60)).zipWithIndex.map { case (p, k) =>
      when(u === DecimalSum.Sentinel,
        kernel(DecimalSum, "slowDigit", LongType, Seq(d, lit(k)), Seq(DoubleType, IntegerType)))
        .otherwise(p)
    }

  /** The exact DECIMAL(38,10) value of three digit sums. */
  private def combine(digitSums: Seq[Column]): Column =
    kernel(DecimalSum, "combine", DecimalType(38, 10), digitSums, Seq.fill(3)(LongType))

  /** Exact sum of cast(d → DECIMAL(28,10)) as DECIMAL(38,10): Spark's
    * long `sum` of each digit, combined once per group (bit-identical
    * to the built-in Sum over the cast — see ExactSumSpec — without its
    * per-row BigDecimal buffer churn), from `u` = `unscaled18(d)`
    * projected above the aggregate. An all-NULL group is NULL. Queries
    * call the name-keyed `sumDec(c)`, which cannot pair a value with
    * another column's parse. */
  def sumDec(u: Column, d: Column): Column = combine(digits(u, d).map(sum))

  /** Exact sum of column `c`, read with its `withExactParse` parse. */
  def sumDec(c: String): Column = sumDec(col(parseOf(c)), col(c))

  /** `sumDec(c)` over the window `w`, combined once per row. */
  def sumDec(c: String, w: WindowSpec): Column =
    combine(digits(col(parseOf(c)), col(c)).map(sum(_).over(w)))

  private def partsOf(c: String): String = s"_p_$c"

  /** sumDec's three digit sums as struct<p0,p1,p2> instead of the
    * decimal, named `_p_<column>`, for two-level aggregations whose
    * outer level re-sums them with `sumOfParts(c)` (q05/q10/q11). */
  def sumDecParts(c: String): Column =
    struct(digits(col(parseOf(c)), col(c)).zipWithIndex.map { case (p, k) =>
      sum(p).as(s"p$k")
    }: _*).as(partsOf(c))

  /** Re-aggregate column `c`'s `sumDecParts` partials into the exact
    * DECIMAL(38,10) total. Re-summing parts that were not aggregated
    * fails analysis when the frame is built. */
  def sumOfParts(c: String): Column =
    combine((0 to 2).map(k => sum(col(partsOf(c)).getField(s"p$k"))))

  /** Exact decimal sum of column `c`, surfaced as double. Summing
    * doubles directly is order-dependent (shuffle/partition order
    * differs run to run and engine to engine); summing after a cast to
    * DECIMAL(28,10) is exact and associative, so Spark and the DuckDB
    * oracle agree bit-for-bit no matter the plan. The final round()
    * guards the decimal→double conversion ulp. Reads the
    * `withExactParse` parse through `sumDec(c)`. */
  def dsum(c: String): Column = round(sumDec(c).cast(DoubleType), 4)

  /** Deterministic mean: `sumDec(c)`'s exact decimal sum over exact
    * long count. */
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
