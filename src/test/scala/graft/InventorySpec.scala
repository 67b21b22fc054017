package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Runs every declared query at sf0.001, so a query that throws or
  * changes its result size fails tier-1. Row counts are pinned from a
  * Verify run of the same inventory; the rows-only queries (no SQL
  * oracle) must also repeat exactly.
  */
class InventorySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val pinnedRows: Map[String, Long] = Map(
    "q01_pricing_summary" -> 6L,
    "q02_event_histogram" -> 5L,
    "q03_topk_orders" -> 10L,
    "q04_filter_pushdown" -> 225L,
    "q05_revenue_by_nation" -> 25L,
    "q06_parts_by_brand" -> 25L,
    "q07_semi_join_big_spenders" -> 93L,
    "q08_anti_join_no_big_orders" -> 57L,
    "q09_top_orders_per_customer" -> 449L,
    "q10_rollup_orders" -> 19L,
    "q11_cube_events" -> 48L,
    "q12_distinct_flags" -> 6L,
    "q13_except_nations" -> 15L,
    "q14_intersect_nations" -> 10L,
    "q15_pivot_flags" -> 3L,
    "q16_above_avg_orders" -> 754L,
    "q17_latest_event_per_user" -> 15L,
    "q18_props_sum" -> 5L,
    "q20_clean_text" -> 500L,
    "q21_sentiment_decode" -> 500L,
    "q22_token_stats" -> 500L,
    "q23_quality_score" -> 500L,
    "q24_lang_guess" -> 500L,
    "q25_fingerprint" -> 500L,
    "q26_binary_meta" -> 500L,
    "q30_dedup_exact" -> 500L,
    "q31_dedup_prefix" -> 476L,
    "q32_ngram_jaccard_pairs" -> 28L,
    "q33_minhash_lsh_pairs" -> 28L,
    "q34_simhash_pairs" -> 7320L,
    "q35_knn_bruteforce" -> 50L,
    "q36_embedding_neardup" -> 14L,
    "q37_ann_ivf" -> 50L,
    "q40_tumbling_hourly" -> 868L,
    "q41_sliding_two_hour" -> 664L,
    "q42_sessionize" -> 946L,
    "q43_running_totals" -> 1000L,
    "q45_confusion_matrix" -> 99L,
    "q46_class_report" -> 10L,
    "q47_accuracy" -> 1L)

  private def query(name: String) = SparkEntry.inventory.find(_.name == name).get

  test("every inventory query has a pinned row count") {
    assert(SparkEntry.inventory.map(_.name).sorted === pinnedRows.keys.toSeq.sorted)
  }

  SparkEntry.inventory.foreach { q =>
    test(s"${q.name} runs at sf0.001 with its pinned row count") {
      // collect, not count(): count() lets Catalyst prune the columns a
      // runtime failure would come from
      val rows = q.fn(spark, TestSpark.sfDir).collect()
      assert(rows.length.toLong === pinnedRows(q.name))
    }
  }

  test("rows-only queries give identical sorted output on two executions") {
    Seq("q33_minhash_lsh_pairs", "q34_simhash_pairs", "q37_ann_ivf").foreach { name =>
      def run() = query(name).fn(spark, TestSpark.sfDir).collect().map(_.toString).sorted
      assert(run() === run(), name)
    }
  }

  test("q46 class report has no NULL class") {
    val out = query("q46_class_report").fn(spark, TestSpark.sfDir)
    assert(out.filter(col("class").isNull).count() === 0L)
  }
}
