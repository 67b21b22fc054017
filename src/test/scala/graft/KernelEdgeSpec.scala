package graft

import scala.jdk.CollectionConverters._
import graft.core.QueryUtils
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{Murmur3HashFunction, XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, MinHashSigExpr, SignatureUtil, SimHash64Expr}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Edge inputs through every text, signature and decimal kernel of
  * `graftbridge`: NULL, empty and all-whitespace text, token arrays
  * shorter than the shingle size, NULL array elements, and the doubles
  * that the decimal fast parse hands to its slow path. Every case runs
  * twice, through generated code and interpreted, and must give the
  * pinned value both times.
  */
class KernelEdgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Generated code: a projection over local rows is otherwise folded
    * on the driver by the interpreter. Interpreted: no generated code
    * for projections, whole stages or aggregates. */
  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "generated" -> Seq("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def frame(in: DataType, values: Seq[Any]) =
    spark.createDataFrame(values.map(v => Row(v)).asJava, StructType(Seq(StructField("x", in))))

  private def minhash(c: Column): Column =
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(c)))
  private def simhash(c: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(c)))

  /** MinHash by its definition: slot i is the minimum over element
    * hashes h of (a_i·h + b_i) mod p; a NULL element hashes to 42. */
  private def minhashOf(elems: Seq[String]): Seq[Long] = {
    import SignatureUtil.{As, Bs, MinhashFuncs, Prime}
    val hs = elems.map { e =>
      val h = if (e == null) 42 else Murmur3HashFunction.hash(UTF8String.fromString(e), StringType, 42L).toInt
      ((h.toLong % Prime) + Prime) % Prime
    }
    (0 until MinhashFuncs).map(i => hs.map(h => (As(i) * h + Bs(i)) % Prime).min)
  }
  private def xx(s: String): Long = XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L)

  private val Text = StringType
  private val Tokens = ArrayType(StringType)
  private val Sentinel = Long.MinValue

  /** (kernel, input type, kernel column, input, expected output) */
  private val cases: Seq[(String, DataType, Column => Column, Any, Any)] = Seq(
    ("stripNoise", Text, TextFunctions.stripNoise _, null, null),
    ("stripNoise", Text, TextFunctions.stripNoise _, "", ""),
    ("stripNoise", Text, TextFunctions.stripNoise _, " \t\n", " \t\n"),
    ("stripNoise", Text, TextFunctions.stripNoise _, "#t @u http://x.y a,b!", "   a,b!"),
    ("stripNoiseAndPunct", Text, TextFunctions.stripNoiseAndPunct _, null, null),
    ("stripNoiseAndPunct", Text, TextFunctions.stripNoiseAndPunct _, "", ""),
    ("stripNoiseAndPunct", Text, TextFunctions.stripNoiseAndPunct _, "#t @u http://x.y a,b!", "   ab"),
    ("tokens", Text, TextFunctions.tokens _, null, null),
    ("tokens", Text, TextFunctions.tokens _, "", Seq("")),
    ("tokens", Text, TextFunctions.tokens _, " \t\n\u000B\f\r", Seq("")),
    ("tokens", Text, TextFunctions.tokens _, " a \t b ", Seq("a", "b")),
    ("tokenStats", Text, TextFunctions.tokenStats3 _, null, null),
    ("tokenStats", Text, TextFunctions.tokenStats3 _, "", Seq(1L, 0L, 0L)),
    ("tokenStats", Text, TextFunctions.tokenStats3 _, " \t\n ", Seq(1L, 0L, 0L)),
    ("tokenStats", Text, TextFunctions.tokenStats3 _, "the cat", Seq(2L, 1L, 6L)),
    ("markerCounts", Text, TextFunctions.markerCounts _, null, null),
    ("markerCounts", Text, TextFunctions.markerCounts _, "", Seq(0, 0, 0, 0)),
    ("markerCounts", Text, TextFunctions.markerCounts _, "the le el der und", Seq(1, 1, 1, 2)),
    ("wordShingles", Tokens, (c: Column) => TextFunctions.wordShingles(c, 3), null, Seq()),
    ("wordShingles", Tokens, (c: Column) => TextFunctions.wordShingles(c, 3), Seq(), Seq()),
    ("wordShingles", Tokens, (c: Column) => TextFunctions.wordShingles(c, 3), Seq("a", "b"), Seq()),
    ("wordShingles", Tokens, (c: Column) => TextFunctions.wordShingles(c, 3),
      Seq("a", "b", "c"), Seq("a b c")),
    ("wordShingles", Tokens, (c: Column) => TextFunctions.wordShingles(c, 2),
      Seq("a", null, "b"), Seq("a", "b")),
    ("minhash", Tokens, minhash _, null, null),
    ("minhash", Tokens, minhash _, Seq(null), minhashOf(Seq(null))),
    ("minhash", Tokens, minhash _, Seq("a", null), minhashOf(Seq("a", null))),
    ("simhash", Tokens, simhash _, null, null),
    ("simhash", Tokens, simhash _, Seq(), 0L),
    ("simhash", Tokens, simhash _, Seq(null), 42L),
    ("simhash", Tokens, simhash _, Seq("a", null), 42L & xx("a")),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, null, null),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, Double.NaN, Sentinel),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, Double.PositiveInfinity, Sentinel),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, Double.NegativeInfinity, Sentinel),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, 1e8, Sentinel),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, -1.5e8, Sentinel),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, 1e-12, Sentinel),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, 99999999.99, Sentinel),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, -1234.5678, -12345678000000L),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, 0.0, 0L),
    ("unscaled18", DoubleType, QueryUtils.unscaled18 _, -0.0, 0L))

  /** Exact sum of `values` through `QueryUtils.sumDec`. */
  private def sumDec(values: Seq[Any]): Any =
    frame(DoubleType, values).transform(QueryUtils.withExactParse("x"))
      .agg(QueryUtils.sumDec("x")).head().get(0)

  /** (input values, expected exact DECIMAL(38,10) sum) */
  private val sums: Seq[(Seq[Any], Any)] = Seq(
    (Seq(null), null),
    (Seq(1e8, -0.0, 0.0, 2.5, null), new java.math.BigDecimal("100000002.5000000000")),
    (Seq(1e17, 1e17), new java.math.BigDecimal("200000000000000000.0000000000")),
    (Seq(-1.5e8, 1e-12), new java.math.BigDecimal("-150000000.0000000000")))

  modes.foreach { case (mode, conf) =>
    test(s"every kernel gives its pinned output on edge inputs ($mode)") {
      val wrong = TestSpark.withConf(conf: _*) {
        cases.flatMap { case (kernel, in, f, input, expected) =>
          val got = frame(in, Seq(input)).select(f(col("x"))).head().get(0)
          if (got == expected) None else Some(s"$kernel($input): got $got, expected $expected")
        }
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
    }

    test(s"the exact decimal sum gives its pinned total on slow-path inputs ($mode)") {
      TestSpark.withConf(conf: _*) {
        sums.foreach { case (values, expected) => assert(sumDec(values) === expected, values) }
        // NaN has no decimal value: the slow split throws, it never sums to a number
        val e = intercept[Exception](sumDec(Seq(1.0, Double.NaN)))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[NumberFormatException]), e.toString)
      }
    }
  }
}
