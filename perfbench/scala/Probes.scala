package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, IvfTopBucketsExpr, MinHashSigExpr, SimHash64Expr}

import graft.core.{QueryUtils, Tables}
import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.ml.CodebookKMeans

/** Layer probes of the traced run, each a timed call into one public
  * entry point of the program: `Tables.*` loads, the column kernels of
  * `graft.functions` / `QueryUtils`, and `CodebookKMeans.train`.
  *
  * Kernels run over the real sf0.1 columns their queries see, each
  * row repeated so that per-row work, not job overhead, dominates, and
  * cached in memory so the scan under a kernel is cheap and steady. A
  * kernel's ns/row is its probe's time minus the time of the probe that
  * produces its input (the scan, or the tokens/shingles it consumes),
  * divided by the rows, so the fixed cost of a job cancels out. Every probe is the median of `Reps` runs.
  */
final class Probes(spark: SparkSession, tracer: Tracer, probeDir: String) {
  private val Reps = 3
  private val TextRepeat = 8
  private val VectorRepeat = 100
  private val ValueRepeat = 20

  private def medianMs(name: String, module: String)(body: => Unit): Double =
    Harness.median((1 to Reps).map { rep =>
      val t0 = System.nanoTime()
      tracer.span(name, module, name, Probes.ProbePass + rep)(body)
      (System.nanoTime() - t0) / 1e6
    })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** Median over reps of the summed `Tables.<t>` call time, one call
    * per table the workload reads. */
  def tables(dir: String, names: Seq[String]): Double =
    Harness.median((1 to Reps).map { rep =>
      names.map { t =>
        val t0 = System.nanoTime()
        tracer.span("tables", "core", t, Probes.ProbePass + rep)(loaders(t)(spark, dir))
        (System.nanoTime() - t0) / 1e6
      }.sum
    })

  /** The IVF codebook sample exactly as q37 draws it, then the timed
    * `CodebookKMeans.train` (k = 8, 10 iterations, q37's settings). */
  def codebookTrain(): (Double, Seq[Seq[Double]]) = {
    val sample = Tables.embeddings(spark, probeDir)
      .select(VectorFunctions.toDoubleArray(col("embedding")).as("v"),
        pmod(xxhash64(col("vec_id")), lit(1L << 20)).as("h"), col("vec_id"))
      .orderBy("h", "vec_id").limit(512).select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    var code: Array[Array[Double]] = null
    val ms = medianMs("codebook_train", "ml") { code = CodebookKMeans.train(sample, 8, 10) }
    (ms, code.toSeq.map(_.toSeq))
  }

  private def expr(f: Expression => Expression)(c: Column): Column =
    ColumnBridge.column(f(ColumnBridge.expression(c)))

  /** kernel name -> ns per row. */
  def kernels(code: Seq[Seq[Double]]): Map[String, Double] = {
    val docs = Tables.documents(spark, probeDir)
      .select(explode(array_repeat(col("text"), lit(TextRepeat))).as("text"))
    val vecs = Tables.embeddings(spark, probeDir)
      .select(explode(array_repeat(VectorFunctions.toDoubleArray(col("embedding")),
        lit(VectorRepeat))).as("v"))
    val values = Tables.events(spark, probeDir)
      .select(explode(array_repeat(col("value"), lit(ValueRepeat))).as("value"))
    val inputs = Seq(docs, vecs, values).map(_.cache())
    val Seq(docRows, vecRows, valueRows) = inputs.map(_.count().toDouble)

    val text = col("text")
    val toks = TextFunctions.tokens(text)
    val shingleSet = array_distinct(TextFunctions.wordShingles(toks, 3))
    val v = col("v")
    // (name, kernel column, input frame, rows, name of the probe that
    // produces the kernel's input). Each probe reduces its output to one
    // number per row (length/size), so output materialization costs the
    // same in a probe and in the probe it is compared with.
    val probes: Seq[(String, Column, DataFrame, Double, Option[String])] = Seq(
      ("scan", length(text), docs, docRows, None),
      ("strip_noise", length(TextFunctions.stripNoise(text)), docs, docRows, Some("scan")),
      ("clean_text", length(TextFunctions.cleanText(text)), docs, docRows, Some("scan")),
      ("tokens", size(toks), docs, docRows, Some("scan")),
      ("token_stats", size(TextFunctions.tokenStats3(text)), docs, docRows, Some("scan")),
      ("shingles", size(shingleSet), docs, docRows, Some("tokens")),
      ("minhash", size(expr(MinHashSigExpr(_))(shingleSet)), docs, docRows, Some("shingles")),
      ("simhash", expr(SimHash64Expr(_))(array_distinct(toks)), docs, docRows, Some("tokens")),
      ("scan_vector", size(v), vecs, vecRows, None),
      ("dot", VectorFunctions.dot(v, v), vecs, vecRows, Some("scan_vector")),
      ("ivf_top_buckets", size(expr(IvfTopBucketsExpr(_, code, 3))(v)), vecs, vecRows,
        Some("scan_vector")))
    // the exact-decimal sum is an aggregate: compared with a count over
    // the same column
    val aggregates: Seq[(String, DataFrame, Double, Option[String])] = Seq(
      ("scan_value", values.agg(count(col("value"))), valueRows, None),
      ("sum_dec", values.withColumn("_u", QueryUtils.unscaled18(col("value")))
        .agg(QueryUtils.sumDec(col("_u"), col("value"))), valueRows, Some("scan_value")))

    val ms = scala.collection.mutable.Map.empty[String, Double]
    val frames = probes.map { case (name, c, df, rows, base) => (name, df.select(c), rows, base) }
    val nsPerRow = (frames ++ aggregates).map { case (name, df, rows, base) =>
      ms(name) = medianMs(s"kernel.$name", "functions")(noop(df))
      name -> (ms(name) - base.map(ms).getOrElse(0.0)) * 1e6 / rows
    }.toMap
    inputs.foreach(_.unpersist(blocking = true))
    nsPerRow
  }
}

object Probes {
  /** Pass numbers of probe spans start here, apart from query passes. */
  val ProbePass = 100
}
