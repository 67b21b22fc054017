package graft

import graft.core.QueryUtils
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DecimalSum
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Proves the two-long SumScaled128 aggregate (QueryUtils.sumDec /
  * sumDecParts / sumOfParts) is bit-identical to the reference
  * spelling `sum(cast(c AS DECIMAL(28,10)))` — grouped, two-level
  * (struct partials re-aggregated, incl. through ROLLUP's Expand),
  * and windowed — across seeded random corpora that exercise the
  * carry step, negative values, nulls, all-null groups and the
  * slow (sentinel) path. Also unit-proves the carry-step invariant
  * arithmetic on the scalar helpers.
  */
class SumScaledSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def refSum(c: Column): Column =
    sum(c.cast(DecimalType(28, 10)))

  private def newSum(df: DataFrame, c: String): (DataFrame, Column) =
    (df.transform(QueryUtils.withExactParse(c)), QueryUtils.sumDec(c))

  /** Seeded corpus: ~groups of doubles with magnitude mix that forces
    * lo-carries (values near 1e8 have unscaled near 1e18), negatives,
    * slow-path values (|d| >= 1e8 and scientific notation), and nulls. */
  private def corpus(seed: Long, rows: Int, groups: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val data = (0 until rows).map { i =>
      val g = rnd.nextInt(groups).toLong
      val v: java.lang.Double = rnd.nextInt(10) match {
        case 0 => null // null values must be skipped
        case 1 => (rnd.nextDouble() - 0.5) * 2e8 // near the carry bound
        case 2 => (rnd.nextDouble() - 0.5) * 2e12 // slow path (scientific)
        case 3 => rnd.nextDouble() * 1e-5 // tiny / scientific notation
        case 4 => -rnd.nextDouble() * 99999999.0 // large negative
        case _ => (rnd.nextLong() % 10000000L) / 100.0 // price-like
      }
      (i.toLong, g, v)
    }
    // one extra group whose values are ALL null (sum must be NULL)
    val allNull = (0 until 5).map(i => (100000L + i, groups.toLong, null: java.lang.Double))
    spark.createDataFrame(data ++ allNull).toDF("id", "g", "v")
  }

  test("carry-step scalar helpers split and recombine exactly") {
    val cases = Seq(0.0, -0.0, 1.5, -1.5, 99999999.99, -99999999.99,
      1.23e10, -1.23e10, 4.9e-12, 123456789012345.678)
    cases.foreach { d =>
      val u = org.apache.spark.sql.graftbridge.DecimalFast.unscaled18OrSentinel(d)
      val (hi, lo) =
        if (u == DecimalSum.Sentinel) (DecimalSum.slowHi18(d), DecimalSum.slowLo18(d))
        else (0L, u)
      val expect = DecimalFastSpec.toDec2810(d).toJavaBigDecimal
      val got = DecimalSum.combine(hi, lo).toJavaBigDecimal
      assert(got.compareTo(expect) == 0, s"d=$d hi=$hi lo=$lo got=$got expect=$expect")
    }
  }

  test("grouped sumDec equals built-in Sum over the decimal cast") {
    val df = corpus(seed = 7, rows = 20000, groups = 13)
    val (withU, agg) = newSum(df, "v")
    val got = withU.groupBy("g").agg(agg.as("s")).orderBy("g")
    val want = df.groupBy("g").agg(refSum(col("v")).cast(DecimalType(38, 10)).as("s")).orderBy("g")
    val mismatch = got.join(want.withColumnRenamed("s", "ws"), "g")
      .filter(not(col("s") <=> col("ws")))
    assert(mismatch.count() === 0L)
    // the all-null group must be NULL in both
    assert(got.filter(col("s").isNull).count() === 1L)
  }

  test("dsum/davg (rounded doubles) equal the pre-kernel spelling") {
    val df = corpus(seed = 11, rows = 20000, groups = 7)
    val got = df.transform(QueryUtils.withExactParse("v")).groupBy("g").agg(
      QueryUtils.dsum("v").as("s"),
      QueryUtils.davg("v").as("a")).orderBy("g")
    val want = df.groupBy("g").agg(
      round(refSum(col("v")).cast("double"), 4).as("s"),
      round(refSum(col("v")).cast("double") / count(lit(1)), 6).as("a")).orderBy("g")
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("two-level struct partials re-aggregate exactly, incl. through ROLLUP") {
    val df = corpus(seed = 23, rows = 20000, groups = 40)
      .withColumn("g2", col("g") % 5)
    val got = df.transform(QueryUtils.withExactParse("v"))
      .groupBy("g", "g2")
      .agg(count(lit(1)).as("pn"), QueryUtils.sumDecParts("v").as("ps"))
      .rollup("g2")
      .agg(sum(col("pn")).as("n"), round(QueryUtils.sumOfParts(col("ps")).cast("double"), 4).as("s"))
      .orderBy(asc_nulls_first("g2"))
    val want = df
      .rollup("g2")
      .agg(count(lit(1)).as("n"), round(refSum(col("v")).cast("double"), 4).as("s"))
      .orderBy(asc_nulls_first("g2"))
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("windowed sumDec (running frame) equals built-in Sum over the cast") {
    val df = corpus(seed = 31, rows = 5000, groups = 9)
    val w = Window.partitionBy("g").orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    val bad = df.transform(QueryUtils.withExactParse("v"))
      .withColumn("s", QueryUtils.sumDec("v").over(w).cast(DecimalType(38, 10)))
      .withColumn("ws", refSum(col("v")).over(w).cast(DecimalType(38, 10)))
      .filter(not(col("s") <=> col("ws")))
    assert(bad.count() === 0L)
  }

  test("a name-keyed sum without its column's withExactParse fails when the frame is built") {
    val df = corpus(seed = 3, rows = 10, groups = 2).withColumn("w", col("v") * 2)
    intercept[AnalysisException](df.groupBy("g").agg(QueryUtils.dsum("v")))
    // another column's parse does not stand in for v's
    val parsedW = df.transform(QueryUtils.withExactParse("w"))
    intercept[AnalysisException](parsedW.groupBy("g").agg(QueryUtils.davg("v")))
    intercept[AnalysisException](parsedW.groupBy("g").agg(QueryUtils.sumDecParts("v")))
    intercept[AnalysisException](
      parsedW.withColumn("s", QueryUtils.sumDec("v").over(Window.partitionBy("g"))))
  }

  test("lo-carry torture: values pinned near the 10^18 unscaled bound") {
    // every value has |unscaled| in [0.9e18, 1e18] so consecutive adds
    // cross the carry boundary constantly, in both directions
    val rnd = new scala.util.Random(99)
    val data = (0 until 4000).map { i =>
      val sign = if (rnd.nextBoolean()) 1 else -1
      (i.toLong, (i % 3).toLong, sign * (9e7 + rnd.nextDouble() * 1e7))
    }
    val df = spark.createDataFrame(data).toDF("id", "g", "v")
    val (withU, agg) = newSum(df, "v")
    val got = withU.groupBy("g").agg(agg.cast(DecimalType(38, 10)).as("s")).orderBy("g")
    val want = df.groupBy("g").agg(refSum(col("v")).cast(DecimalType(38, 10)).as("s")).orderBy("g")
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("hi-guard torture: out-of-window sums fail loudly instead of wrapping") {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, SumScaled128}
    import spark.implicits._
    // scalar: the guard bound and true-wrap detection
    assert(DecimalSum.checkedHiAdd(8999999999999999999L, 1L) === 9000000000000000000L)
    assert(DecimalSum.checkedHiAdd(-8999999999999999999L, -1L) === -9000000000000000000L)
    intercept[ArithmeticException](DecimalSum.checkedHiAdd(9000000000000000000L, 1L))
    intercept[ArithmeticException](DecimalSum.checkedHiAdd(-9000000000000000000L, -1L))
    // a single merge-path add that wraps clean past the band
    intercept[ArithmeticException](DecimalSum.checkedHiAdd(8e18.toLong, 8e18.toLong))
    // executor path: feed the aggregate raw (hi, lo) parts whose hi sum
    // crosses the window (unreachable from real doubles in a test-sized
    // corpus — |inHi| < 1e10 needs ~9e8 rows — so craft the parts)
    def sumOf(his: Seq[Long]): Seq[org.apache.spark.sql.Row] = {
      val df = his.map(h => (h, 0L)).toDF("hi", "lo")
      val agg = ColumnBridge.column(SumScaled128(
        ColumnBridge.expression(col("hi")),
        ColumnBridge.expression(col("lo"))).toAggregateExpression())
      df.agg(agg.as("s")).collect().toSeq
    }
    assert(sumOf(Seq(4000000000000000000L, 4000000000000000000L)).nonEmpty) // 8e18: in window
    val e = intercept[org.apache.spark.SparkException](
      sumOf(Seq(4000000000000000000L, 4000000000000000000L, 4000000000000000000L)))
    assert(e.getCause.toString.contains("graft_sum128 overflow"), e.toString)
  }
}
