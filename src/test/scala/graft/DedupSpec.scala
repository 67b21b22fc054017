package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the sub-quadratic dedup paths compute the SAME pair sets as
  * their exact counterparts on the sf0.001 corpus.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  test("MinHash-LSH pair set equals exact n-gram Jaccard >= 0.5 pairs") {
    val exact = Dedup.ngramJaccardPairs(spark, sf)
      .select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // LSH verifies candidates with the same exact-Jaccard predicate, so
    // lsh ⊆ exact always (zero false positives by construction). Recall
    // is probabilistic in the banding, so assert a floor rather than
    // exact equality — a corpus change must not read as a code bug.
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.95, s"LSH recall $recall (${lsh.size}/${exact.size})")
    }
  }

  test("banded SimHash pairs equal the cartesian hamming<=6 pair set") {
    val sig = Dedup.simhashSignatures(spark, sf)
    val cartesian = sig.as("a")
      .join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = Dedup.simhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === cartesian)
  }

  test("LSH band self-join computes the signature pipeline once (reused exchange)") {
    val df = Dedup.minhashLshPairs(spark, sf)
    df.collect() // materialize so the adaptive plan is final
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedQueryStage") || plan.contains("ReusedExchange"),
      "band self-join must share one exchange, not recompute signatures: " +
        plan.take(4000))
  }

  test("q32 inverted-index self-join computes the shingle pipeline once (reused exchange)") {
    val df = Dedup.ngramJaccardPairs(spark, sf)
    df.collect() // materialize so the adaptive plan is final
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedQueryStage") || plan.contains("ReusedExchange"),
      "shingle self-join must share one exchange: " + plan.take(4000))
  }

  test("banded SimHash plan contains no nested-loop join") {
    val plan = Dedup.simhashPairs(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("MinHash kernel signatures equal the explode+min aggregate spelling") {
    import graft.functions.TextFunctions._
    import org.apache.spark.sql.graftbridge.SignatureUtil
    val p = SignatureUtil.Prime
    val sh = core.Tables.documents(spark, sf)
      .filter(col("doc_id") < Dedup.MaxDocId)
      .select(col("doc_id"),
        explode(array_distinct(wordShingles(tokens(col("text")), 3))).as("shingle"))
      .withColumn("sh_hash", pmod(hash(col("shingle")).cast("long"), lit(p)))
    val aggCols = (0 until SignatureUtil.MinhashFuncs).map { i =>
      min(pmod(lit(SignatureUtil.As(i)) * col("sh_hash") + lit(SignatureUtil.Bs(i)),
        lit(p))).as(s"mh_$i")
    }
    val want = sh.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val got = Dedup.minhashSignatures(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("SimHash kernel signatures equal the 64-sum aggregate spelling") {
    import graft.functions.TextFunctions._
    val tok = core.Tables.documents(spark, sf)
      .filter(col("doc_id") < Dedup.MaxDocId)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"bit_$i")
    }
    val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { i =>
      when(col(s"bit_$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    val want = agg.select(col("doc_id"), sig.as("simhash"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val got = Dedup.simhashSignatures(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("exact dedup keeps one survivor per distinct content") {
    val docs = core.Tables.documents(spark, sf)
    val total = docs.count()
    val dd = Dedup.dedupExact(spark, sf)
    assert(dd.agg(sum("n_copies")).head().getLong(0) === total)
    assert(dd.select("keeper").distinct().count() === dd.count())
  }
}
