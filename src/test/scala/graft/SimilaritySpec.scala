package graft

import graft.core.Tables
import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  test("codegen dot product matches the interpreted HOF fold bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2, 0.3), Seq(-0.4, 0.5, 0.6)),
      (Seq.empty[Double], Seq.empty[Double])
    ).toDF("a", "b")
    val rows = df.select(VectorFunctions.dot(col("a"), col("b")).as("fast"),
      TextReference.hofDot(col("a"), col("b")).as("slow")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("dot product is null on unequal lengths, matching the HOF null-pad") {
    import spark.implicits._
    // and on a NULL element, where the HOF product is null too
    val df = Seq[(Seq[Option[Double]], Seq[Option[Double]])](
      (Seq(Some(1.0), Some(2.0), Some(3.0)), Seq(Some(4.0), Some(5.0))),
      (Seq(Some(1.0)), Seq.empty),
      (Seq(Some(1.0), None, Some(2.0)), Seq(Some(1.0), Some(5.0), Some(1.0))),
      (Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), None))
    ).toDF("a", "b")
    val rows = df.select(VectorFunctions.dot(col("a"), col("b")).as("fast"),
      TextReference.hofDot(col("a"), col("b")).as("slow")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0), "expression must null out on a length mismatch or NULL element")
      assert(r.isNullAt(1), "HOF reference semantics: null-padded or null product")
    }
  }

  /** (c_id, bucket): each vector's nearest centroid under q37's trained
    * codebook. */
  private def ivfBuckets(dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id").as("c_id"), VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .crossJoin(Similarity.ivfIndex(spark, dir).select("code"))
      .select(col("c_id"),
        element_at(VectorFunctions.ivfTopBuckets(col("v"), col("code"), 1), 1).as("bucket"))

  test("IVF ANN recall@5 >= 0.8 against the brute-force baseline") {
    def topSets(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val brute = topSets(Similarity.knnBruteForce(spark, sf))
    val ivf = topSets(Similarity.annIvf(spark, sf))
    val recalls = brute.map { case (q, trueTop) =>
      ivf.getOrElse(q, Set.empty).intersect(trueTop).size.toDouble / trueTop.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5 = $mean")
  }

  private def finalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan.toString

  /** `body` on a temp dir whose `embeddings` table is sf0.001's in two
    * files: SinglePartitionStages never counts such an input, so its
    * plans are Spark's own join choice. */
  private def withTwoFiles[T](body: String => T): T =
    TestSpark.withTempDir { dir =>
      Tables.embeddings(spark, sf).repartition(2).write.parquet(s"$dir/embeddings.parquet")
      body(dir)
    }

  test("q35 on two files broadcasts its probe row, with no cartesian product") {
    val rows = Similarity.knnBruteForce(spark, sf).collect().toSeq
    withTwoFiles { dir =>
      val df = Similarity.knnBruteForce(spark, dir)
      assert(df.collect().toSeq === rows)
      val plan = finalPlan(df)
      assert(plan.contains("BroadcastExchange") && !plan.contains("CartesianProduct"), plan)
    }
  }

  test("q35 on two files keeps its broadcast when the corpus is past the broadcast threshold") {
    // the probe row holds the 10 query vectors (about 5 KB) at any
    // corpus size, so it stays the broadcast side where two sides past
    // the threshold would make the cross join a cartesian product
    val rows = Similarity.knnBruteForce(spark, sf).collect().toSeq
    withTwoFiles { dir =>
      val corpusBytes = Tables.embeddings(spark, dir).queryExecution.optimizedPlan.stats.sizeInBytes
      TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "32768") {
        assert(corpusBytes > 32768)
        val df = Similarity.knnBruteForce(spark, dir)
        assert(df.collect().toSeq === rows)
        val plan = finalPlan(df)
        assert(plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
      }
    }
  }

  test("q35 on one file pairs its probe row with the candidates in one task, with no exchange") {
    val df = Similarity.knnBruteForce(spark, sf)
    assert(TestSpark.tasksLaunchedBy("similarity:q35:one-file")(df.collect()) === 1)
    assert(!finalPlan(df).contains("Exchange"), finalPlan(df))
  }

  test("q36 on two files broadcasts one side of its label join") {
    val rows = Similarity.embeddingNearDup(spark, sf).collect().toSeq
    withTwoFiles { dir =>
      val df = Similarity.embeddingNearDup(spark, dir)
      assert(df.collect().toSeq === rows)
      val plan = finalPlan(df)
      assert(plan.contains("BroadcastHashJoin") && plan.contains("BroadcastExchange") &&
        !plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    }
  }

  test("blocked near-dup plan contains no cartesian product") {
    val plan = Similarity.embeddingNearDup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("blocked near-dup self-join computes the embedding pipeline once (reused exchange)") {
    val oneFile = Similarity.embeddingNearDup(spark, sf)
    val rows = oneFile.collect().toSeq
    // one file: the join runs in one task, with nothing to shuffle
    assert(!finalPlan(oneFile).contains("Exchange"), finalPlan(oneFile))
    // two files with broadcasts off: Spark shuffles both sides on label,
    // and the two sides read one exchange
    withTwoFiles { dir =>
      TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val twoFiles = Similarity.embeddingNearDup(spark, dir)
        assert(twoFiles.collect().toSeq === rows)
        val plan = finalPlan(twoFiles)
        assert(plan.contains("ReusedQueryStage") || plan.contains("ReusedExchange"),
          "label self-join must share one exchange: " + plan.take(4000))
      }
    }
  }

  test("q37's in-plan codebook sample is orderBy(h, vec_id).limit(512) at sf0.001, sf0.01 and sf0.1") {
    // CollectTopK keeps the largest values unless reversed: a flipped
    // flag trains on another sample, visible only at sf0.1 (2,000
    // vectors; the smaller scales hold 500, all of them sampled)
    Seq(sf, TestSpark.sf001Dir, TestSpark.sf01Dir).foreach { dir =>
      val h = pmod(xxhash64(col("vec_id")), lit(1L << 20))
      val want = Tables.embeddings(spark, dir).select(h.as("h"), col("vec_id"))
        .orderBy("h", "vec_id").limit(512).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = Similarity.ivfIndex(spark, dir)
        .select(col("sample.h"), col("sample.vec_id")).head()
      assert(got.getSeq[Long](0).zip(got.getSeq[Long](1)) === want, dir)
    }
  }

  test("q37 on embeddings in three files gives the one-file rows and keeps an exchange or broadcast") {
    // SinglePartitionStages stays out of multi-task inputs, so the
    // partial sample and probe buffers merge across tasks here; at sf0.1
    // each file holds more vectors than the 512-vector sample
    TestSpark.withTempDir { dir =>
      val path = s"$dir/embeddings.parquet"
      Tables.embeddings(spark, TestSpark.sf01Dir).repartition(3).write.parquet(path)
      assert(new java.io.File(path).list().count(_.endsWith(".parquet")) === 3)
      val df = Similarity.annIvf(spark, dir)
      val rows = df.collect().toSeq
      assert(rows === Similarity.annIvf(spark, TestSpark.sf01Dir).collect().toSeq)
      val plan = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
        .executedPlan.toString
      assert(plan.contains("Exchange") || plan.contains("Broadcast"), plan.take(4000))
    }
  }

  test("trained IVF codebook yields non-degenerate buckets (no bucket > 40% of vectors)") {
    val buckets = ivfBuckets(sf)
    val counts = buckets.groupBy("bucket").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val total = counts.values.sum.toDouble
    assert(total > 0)
    val maxShare = counts.values.max / total
    assert(counts.size >= 4, s"degenerate codebook: only ${counts.size} buckets used")
    assert(maxShare <= 0.40, s"hot bucket holds ${maxShare * 100}%: $counts")
  }

  test("trained IVF codebook is deterministic across invocations") {
    def snap() = ivfBuckets(sf)
      .orderBy("c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(snap() === snap())
  }

  test("aggregate-argmax bucket assignment equals the window rank-1 spelling") {
    import graft.functions.VectorFunctions._
    import org.apache.spark.sql.expressions.Window
    val emb = core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("centv"), col("nrm").as("centn"))
    val simToCent = emb.join(broadcast(centroids))
      .withColumn("csim", dot(col("v"), col("centv")) / (col("nrm") * col("centn")))
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
    val want = simToCent.withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cent_id").as("bucket"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val got = simToCent.groupBy("vec_id")
      .agg(max(struct(col("csim"), negate(col("cent_id")).as("negc"), col("cent_id"))).as("m"))
      .select(col("vec_id"), col("m.cent_id").as("bucket"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(got === want)
  }

}
