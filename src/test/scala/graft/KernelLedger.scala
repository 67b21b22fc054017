package graft

import graft.core.{GraftSession, QueryUtils, Tables}
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnscaledValue
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DecimalType, LongType}

/** The kernel ledger: each custom kernel timed against the built-in
  * spelling it replaced (`TextReference`), in one `local[1]` JVM.
  *
  *   Test/runMain graft.KernelLedger <sfDir> [pairs, default 11] [kernel,...]
  *
  * A run writes one spelling's column through Spark's `noop` sink over
  * the `documents` texts repeated TextRepeat times (the signature lines
  * over each text's non-empty distinct 3-shingles or tokens, as q33 and
  * q34 sign them), the `embeddings`
  * vectors repeated VectorRepeat times, or the `orders` prices or
  * `events` values repeated DecimalRepeat times, read from parquet on
  * each run, so every time includes the scan. The decimal lines time the
  * exact parse, `unscaled18`, over `o_totalprice` (the one column whose
  * values reach its Cast tier) and the exact sum over `value`, each
  * against the built-in cast to DECIMAL(28,10). Both spellings first run
  * once untimed, and must give equal columns; then each pair runs them back
  * to back, the first spelling alternating between pairs. Per kernel it
  * prints the median and quartiles (inclusive) of each spelling's
  * times, and the pairs the kernel won.
  */
object KernelLedger {
  private val TextRepeat = 4
  private val VectorRepeat = 20
  private val DecimalRepeat = 20

  private def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    def at(p: Double): Double = {
      val i = p * (s.length - 1)
      val lo = math.floor(i).toInt
      s(lo) + (s(math.min(lo + 1, s.length - 1)) - s(lo)) * (i - lo)
    }
    (at(0.25), at(0.5), at(0.75))
  }

  private def ms(df: DataFrame, c: Column): Double = {
    val t0 = System.nanoTime()
    df.select(c.as("out")).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pairs = args.lift(1).fold(11)(_.toInt)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.builder("local[1]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir)
      .select(explode(array_repeat(col("text"), lit(TextRepeat))).as("text"))
    val vecs = Tables.embeddings(spark, sfDir)
      .select(explode(array_repeat(VectorFunctions.toDoubleArray(col("embedding")),
        lit(VectorRepeat))).as("v"))
    def repeated(df: DataFrame, c: String): DataFrame =
      df.select(explode(array_repeat(col(c), lit(DecimalRepeat))).as(c))
    val prices = repeated(Tables.orders(spark, sfDir), "o_totalprice")
    val values = repeated(Tables.events(spark, sfDir), "value")
      .transform(QueryUtils.withExactParse("value"))
    def dec(c: String): Column = col(c).cast(DecimalType(28, 10))
    import TextReference._
    val text = col("text")
    val toks = TextFunctions.tokens(text)
    val regexToks = tokensRegex(text)
    val noise = dropPunctuation(stripHashtags(stripMentions(stripUrls(text))))
    val shingles = docs.select(array_distinct(TextFunctions.wordShingles(toks, 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val docToks = docs.select(array_distinct(toks).as("toks")).filter(size(col("toks")) > 0)
    val v = col("v")
    // (kernel, input, kernel column, built-in column)
    val ledger: Seq[(String, DataFrame, Column, Column)] = Seq(
      ("cleanText", docs, TextFunctions.cleanText(text), pyStripRegex(lower(noise))),
      ("tokens", docs, toks, regexToks),
      ("tokenStats3", docs, TextFunctions.tokenStats3(text), array(size(regexToks).cast(LongType),
        stopwordCount(regexToks).cast(LongType), tokenCharSum(regexToks).cast(LongType))),
      ("markerCounts", docs, TextFunctions.markerCounts(text),
        array(TextFunctions.langMarkers.map(markerHits(text, _)): _*)),
      ("wordShingles", docs, TextFunctions.wordShingles(toks, 3), hofShingles(toks, 3)),
      ("minhashSignature", shingles, TextFunctions.minhashSignature(col("sh")),
        hofMinhash(col("sh"))),
      ("simhashSignature", docToks, TextFunctions.simhashSignature(col("toks")),
        hofSimhash(col("toks"))),
      ("dot", vecs, VectorFunctions.dot(v, v), hofDot(v, v)),
      ("unscaled18", prices, QueryUtils.unscaled18(col("o_totalprice")),
        ColumnBridge.column(UnscaledValue(ColumnBridge.expression(dec("o_totalprice"))))),
      ("sumDec", values, QueryUtils.sumDec("value"), sum(dec("value"))))

    println(s"kernel ledger: $sfDir, documents x$TextRepeat, embeddings x$VectorRepeat, " +
      s"orders and events x$DecimalRepeat, local[1], $pairs pairs, ms per run [quartiles]")
    ledger.filter(k => only.forall(_(k._1))).foreach { case (name, df, kernel, builtIn) =>
      val differ = df.select(kernel.as("k"), builtIn.as("b"))
        .filter(not(col("k") <=> col("b"))).count()
      require(differ == 0, s"$name: $differ rows differ from the built-in spelling")
      ms(df, kernel)
      ms(df, builtIn)
      val runs = (0 until pairs).map { p =>
        if (p % 2 == 0) { val k = ms(df, kernel); (k, ms(df, builtIn)) }
        else { val b = ms(df, builtIn); (ms(df, kernel), b) }
      }
      val (k1, k2, k3) = quartiles(runs.map(_._1))
      val (b1, b2, b3) = quartiles(runs.map(_._2))
      val wins = runs.count { case (k, b) => k < b }
      println(f"$name%-18s kernel $k2%9.1f [$k1%.1f, $k3%.1f]  built-in $b2%9.1f [$b1%.1f, $b3%.1f]" +
        f"  kernel faster in $wins of $pairs")
    }
    spark.stop()
  }
}
