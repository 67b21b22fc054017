package graft

import graft.core.QueryUtils
import graft.functions.DecimalSum
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Proves the exact sum (QueryUtils.sumDec / sumDecParts /
  * sumOfParts: Spark's long `sum` of each base-2³⁰ digit of the
  * scale-10 unscaled value, rebuilt by `DecimalSum.combine`) is
  * bit-identical to the reference spelling `sum(cast(c AS
  * DECIMAL(28,10)))` — grouped, two-level (struct partials
  * re-aggregated, incl. through ROLLUP's Expand), and windowed —
  * across seeded random corpora with negative values, nulls, all-null
  * groups and the slow (sentinel) path, up to DECIMAL(28,10)'s edge.
  * Also unit-proves the digit split and its recombination, and that a
  * digit sum leaving a long throws instead of wrapping.
  */
class ExactSumSpec extends AnyFunSuite {
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

  test("digits split and combine exactly, both signs, up to DECIMAL(28,10)'s edge") {
    val edge = Math.nextDown(1e18) // just under DECIMAL(28,10)'s edge: digit 2 ≈ 8.7·10⁹
    val cases = Seq(0.0, -0.0, 1.5, -1.5, 99999999.99, -99999999.99, 1e8, -1e8,
      1.23e10, -1.23e10, 4.9e-12, 123456789012345.678, -123456789012345.678, 9.99e17, -9.99e17,
      edge, -edge)
    val mask = DecimalSum.DigitMask
    cases.foreach { d =>
      val u = graft.functions.DecimalFast.unscaled18OrSentinel(d)
      val ps =
        if (u == DecimalSum.Sentinel) (0 to 2).map(DecimalSum.slowDigit(d, _))
        else Seq(u & mask, (u >> 30) & mask, u >> 60)
      assert(ps.take(2).forall(p => p >= 0 && p <= mask), s"d=$d digits=$ps")
      val expect = DecimalFastSpec.toDec2810(d).toJavaBigDecimal
      val got = DecimalSum.combine(ps(0), ps(1), ps(2)).toJavaBigDecimal
      assert(got.compareTo(expect) == 0, s"d=$d digits=$ps got=$got expect=$expect")
      // n equal values sum to n times the value, carries and all
      val n = 7L
      val sumN = DecimalSum.combine(n * ps(0), n * ps(1), n * ps(2)).toJavaBigDecimal
      assert(sumN.compareTo(expect.multiply(java.math.BigDecimal.valueOf(n))) == 0, s"d=$d")
    }
    assert(math.abs(DecimalSum.slowDigit(edge, 2)) > 8000000000L)
    assert(DecimalSum.slowDigit(-edge, 2) < 0)
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
      .agg(count(lit(1)).as("pn"), QueryUtils.sumDecParts("v"))
      .rollup("g2")
      .agg(sum(col("pn")).as("n"), round(QueryUtils.sumOfParts("v").cast("double"), 4).as("s"))
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
      .withColumn("s", QueryUtils.sumDec("v", w).cast(DecimalType(38, 10)))
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
      parsedW.withColumn("s", QueryUtils.sumDec("v", Window.partitionBy("g"))))
    // nor do another column's parts re-sum as v's, or parts never aggregated
    val partsW = parsedW.groupBy("g").agg(QueryUtils.sumDecParts("w"))
    intercept[AnalysisException](partsW.agg(QueryUtils.sumOfParts("v")))
    intercept[AnalysisException](
      df.transform(QueryUtils.withExactParse("v")).agg(QueryUtils.sumOfParts("v")))
  }

  test("lo-carry torture: values pinned near the 10^18 unscaled bound") {
    // values with |unscaled| in [0.9e18, 1e18] (the fast parse's edge,
    // near 2⁶⁰), then values just under DECIMAL(28,10)'s edge (|d| ≈
    // 9.99·10¹⁷, the slow split), both signs: every digit carries
    def pinned(lo: Double, span: Double): DataFrame = {
      val rnd = new scala.util.Random(99)
      val data = (0 until 4000).map { i =>
        val sign = if (rnd.nextBoolean()) 1 else -1
        (i.toLong, (i % 3).toLong, sign * (lo + rnd.nextDouble() * span))
      }
      spark.createDataFrame(data).toDF("id", "g", "v")
    }
    Seq(pinned(9e7, 1e7), pinned(9.9e17, 9e15)).foreach { df =>
      val (withU, agg) = newSum(df, "v")
      val got = withU.groupBy("g").agg(agg.cast(DecimalType(38, 10)).as("s")).orderBy("g")
      val want = df.groupBy("g").agg(refSum(col("v")).cast(DecimalType(38, 10)).as("s")).orderBy("g")
      assert(got.collect().toSeq === want.collect().toSeq)
    }
  }

  test("digit-sum overflow torture: a total that leaves a long fails loudly instead of wrapping") {
    import spark.implicits._
    // crafted `_p_v` partials (a real digit 2 is below 8.7e9, so a test-
    // sized corpus cannot reach the bound), sliced in order into
    // `partitions` partitions of near-equal size
    val low = DecimalSum.DigitMask
    def rows(p2s: Seq[Long], partitions: Int) =
      spark.sparkContext.parallelize(p2s.map(p2 => (low, low, p2)), partitions)
    def sumOf(p2s: Seq[Long], partitions: Int): java.math.BigDecimal =
      rows(p2s, partitions).toDF("p0", "p1", "p2").select(struct("p0", "p1", "p2").as("_p_v"))
        .agg(QueryUtils.sumOfParts("v").as("s")).head().getDecimal(0)
    def exact(p2s: Seq[Long]): java.math.BigDecimal = {
      val n = BigInt(p2s.length)
      val u = BigInt(low) * n + (BigInt(low) * n << 30) + (p2s.map(BigInt(_)).sum << 60)
      new java.math.BigDecimal(u.bigInteger, 10)
    }
    def overflows(thunk: => Any): Unit = {
      val e = intercept[Exception](thunk)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists {
        case a: ArithmeticException => a.getMessage.contains("ARITHMETIC_OVERFLOW")
        case _ => false
      }, e.toString)
    }
    val big = 1L << 62
    Seq(1, 2).foreach { partitions =>
      // two partials sum exactly, at the edge of a long on each side
      Seq(Seq(big - 1, big - 1), Seq(-big, -big)).foreach { p2s =>
        assert(sumOf(p2s, partitions).compareTo(exact(p2s)) == 0, s"$p2s $partitions")
      }
    }
    // update path: in one partition the third partial's add leaves a long
    overflows(sumOf(Seq(big, big, big), 1))
    overflows(sumOf(Seq(-big, -big, -big), 1))
    // merge path: two partitions of two partials each, whose sums
    // (2⁶³−2 and −2⁶³) fit a long, so only adding the two partitions'
    // sums leaves it
    Seq(Seq.fill(4)(big - 1), Seq.fill(4)(-big)).foreach { p2s =>
      val perPartition = rows(p2s, 2).glom().collect().map(_.map(r => BigInt(r._3)).sum)
      assert(perPartition.length == 2 && perPartition.forall(_.isValidLong), perPartition.toSeq)
      overflows(sumOf(p2s, 2))
    }
  }
}
