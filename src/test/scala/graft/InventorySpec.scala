package graft

import scala.sys.process._
import scala.util.Try
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Runs every declared query at sf0.001, so a query that throws or
  * changes its result size, its number of Spark jobs or its output
  * column types fails tier-1; job counts are also pinned at sf0.01,
  * where the two sides of q05's and q06's joins sum past AQE's
  * one-partition target, and at sf0.1, where single inputs outgrow it.
  * Row counts are pinned from a Verify run of the same inventory, job
  * counts from a collect on this session,
  * output schemas from its `df.schema.toDDL`; the rows-only queries
  * (no SQL oracle) must also repeat exactly, and in the same order at
  * any shuffle parallelism. Building a table or a query must
  * launch no Spark job (q37 trains its codebook in its own task). Where
  * `python3` can import `duckdb` and `pandas`, every result at sf0.001,
  * sf0.01 and sf0.1 is also replayed against its DuckDB oracle, as the
  * correctness gate does (`graft.Verify` + `tools/check_oracle.py`).
  */
class InventorySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (rows at sf0.001, then execution jobs at sf0.001, sf0.01 and
    * sf0.1) of each query's collect. */
  private val pinned: Map[String, (Long, Int, Int, Int)] = Map(
    "q01_pricing_summary" -> (6L, 1, 1, 2),
    "q02_event_histogram" -> (5L, 1, 1, 1),
    "q03_topk_orders" -> (10L, 1, 1, 1),
    "q04_filter_pushdown" -> (225L, 1, 1, 3),
    "q05_revenue_by_nation" -> (25L, 1, 1, 7),
    "q06_parts_by_brand" -> (25L, 1, 1, 3),
    "q07_semi_join_big_spenders" -> (93L, 1, 1, 1),
    "q08_anti_join_no_big_orders" -> (57L, 1, 1, 1),
    "q09_top_orders_per_customer" -> (449L, 1, 1, 1),
    "q10_rollup_orders" -> (19L, 1, 1, 1),
    "q11_cube_events" -> (48L, 1, 1, 1),
    "q12_distinct_flags" -> (6L, 1, 1, 2),
    "q13_except_nations" -> (15L, 1, 1, 1),
    "q14_intersect_nations" -> (10L, 1, 1, 1),
    "q15_pivot_flags" -> (3L, 1, 1, 2),
    "q16_above_avg_orders" -> (754L, 1, 1, 1),
    "q17_latest_event_per_user" -> (15L, 1, 1, 1),
    "q18_props_sum" -> (5L, 1, 1, 1),
    "q20_clean_text" -> (500L, 1, 1, 1),
    "q21_sentiment_decode" -> (500L, 1, 1, 1),
    "q22_token_stats" -> (500L, 1, 1, 1),
    "q23_quality_score" -> (500L, 1, 1, 1),
    "q24_lang_guess" -> (500L, 1, 1, 1),
    "q25_fingerprint" -> (500L, 1, 1, 1),
    "q26_binary_meta" -> (500L, 1, 1, 1),
    "q30_dedup_exact" -> (500L, 1, 1, 1),
    "q31_dedup_prefix" -> (476L, 1, 1, 1),
    "q32_ngram_jaccard_pairs" -> (28L, 1, 1, 1),
    "q33_minhash_lsh_pairs" -> (28L, 1, 1, 1),
    "q34_simhash_pairs" -> (7320L, 1, 1, 1),
    "q35_knn_bruteforce" -> (50L, 1, 1, 1),
    "q36_embedding_neardup" -> (14L, 1, 1, 1),
    "q37_ann_ivf" -> (50L, 1, 1, 1),
    "q40_tumbling_hourly" -> (868L, 1, 1, 1),
    "q41_sliding_two_hour" -> (664L, 1, 1, 1),
    "q42_sessionize" -> (946L, 1, 1, 1),
    "q43_running_totals" -> (1000L, 1, 1, 1),
    "q45_confusion_matrix" -> (99L, 1, 1, 1),
    "q46_class_report" -> (10L, 1, 1, 1),
    "q47_accuracy" -> (1L, 1, 1, 1))

  private val pinnedSchemas: Map[String, String] = Map(
    "q01_pricing_summary" ->
      "l_returnflag STRING,l_linestatus STRING,sum_qty DOUBLE,sum_base_price DOUBLE,sum_disc_price DOUBLE,sum_charge DOUBLE,avg_qty DOUBLE,avg_disc DOUBLE,count_order BIGINT NOT NULL",
    "q02_event_histogram" ->
      "event_type STRING,n BIGINT NOT NULL,sum_value DOUBLE",
    "q03_topk_orders" ->
      "o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING,o_totalprice DOUBLE,o_orderdate TIMESTAMP,o_orderpriority STRING",
    "q04_filter_pushdown" ->
      "l_orderkey BIGINT,l_linenumber INT,l_partkey BIGINT,l_quantity DOUBLE,l_extendedprice DOUBLE,l_discount DOUBLE",
    "q05_revenue_by_nation" ->
      "r_name STRING,n_name STRING,revenue DOUBLE,n_orders BIGINT NOT NULL",
    "q06_parts_by_brand" ->
      "p_brand STRING,sum_qty DOUBLE,sum_price DOUBLE,n_items BIGINT NOT NULL",
    "q07_semi_join_big_spenders" ->
      "c_custkey BIGINT,c_name STRING,c_mktsegment STRING",
    "q08_anti_join_no_big_orders" ->
      "c_custkey BIGINT,c_name STRING,c_acctbal DOUBLE",
    "q09_top_orders_per_customer" ->
      "o_custkey BIGINT,rn BIGINT NOT NULL,o_orderkey BIGINT,o_totalprice DOUBLE",
    "q10_rollup_orders" ->
      "o_orderstatus STRING,o_orderpriority STRING,n BIGINT,sum_price DOUBLE",
    "q11_cube_events" ->
      "event_type STRING,dow BIGINT,n BIGINT,sum_value DOUBLE",
    "q12_distinct_flags" ->
      "l_returnflag STRING,l_linestatus STRING",
    "q13_except_nations" ->
      "nationkey INT",
    "q14_intersect_nations" ->
      "nationkey INT",
    "q15_pivot_flags" ->
      "l_returnflag STRING,n_f BIGINT,n_o BIGINT",
    "q16_above_avg_orders" ->
      "o_orderkey BIGINT,o_custkey BIGINT,o_totalprice DOUBLE,cust_avg DOUBLE",
    "q17_latest_event_per_user" ->
      "user_id BIGINT,event_id BIGINT,ts_us BIGINT,event_type STRING",
    "q18_props_sum" ->
      "event_type STRING,sum_k BIGINT,n_k BIGINT NOT NULL",
    "q20_clean_text" ->
      "doc_id BIGINT,clean STRING",
    "q21_sentiment_decode" ->
      "doc_id BIGINT,pred BIGINT,sentiment STRING NOT NULL",
    "q22_token_stats" ->
      "doc_id BIGINT,n_chars BIGINT,n_tokens BIGINT,len_chars BIGINT,chars_match BOOLEAN",
    "q23_quality_score" ->
      "doc_id BIGINT,n_tokens BIGINT,n_stop BIGINT,char_sum BIGINT,stop_ratio DOUBLE,avg_token_len DOUBLE,quality STRING NOT NULL",
    "q24_lang_guess" ->
      "doc_id BIGINT,lang STRING,en_n BIGINT,fr_n BIGINT,es_n BIGINT,de_n BIGINT,guess STRING NOT NULL,hit BOOLEAN",
    "q25_fingerprint" ->
      "doc_id BIGINT,fp STRING",
    "q26_binary_meta" ->
      "doc_id BIGINT,n_bytes BIGINT,payload_md5 STRING",
    "q30_dedup_exact" ->
      "h STRING,keeper BIGINT,n_copies BIGINT NOT NULL",
    "q31_dedup_prefix" ->
      "prefix_key STRING,keeper BIGINT,n_docs BIGINT NOT NULL",
    "q32_ngram_jaccard_pairs" ->
      "a_id BIGINT,b_id BIGINT,n_inter BIGINT NOT NULL,jaccard DOUBLE",
    "q33_minhash_lsh_pairs" ->
      "a_id BIGINT,b_id BIGINT,jaccard DOUBLE",
    "q34_simhash_pairs" ->
      "a_id BIGINT,b_id BIGINT,hamming INT",
    "q35_knn_bruteforce" ->
      "q_id BIGINT,rank BIGINT NOT NULL,c_id BIGINT,sim DOUBLE",
    "q36_embedding_neardup" ->
      "a_id BIGINT,b_id BIGINT,label INT,sim DOUBLE",
    "q37_ann_ivf" ->
      "q_id BIGINT,rank BIGINT NOT NULL,c_id BIGINT,sim DOUBLE",
    "q40_tumbling_hourly" ->
      "ws TIMESTAMP,event_type STRING,n BIGINT NOT NULL,sum_value DOUBLE",
    "q41_sliding_two_hour" ->
      "ws TIMESTAMP,n BIGINT NOT NULL,sum_value DOUBLE",
    "q42_sessionize" ->
      "user_id BIGINT,sess_id BIGINT,n_events BIGINT NOT NULL,start_us BIGINT,end_us BIGINT,sum_value DOUBLE",
    "q43_running_totals" ->
      "user_id BIGINT,idx BIGINT NOT NULL,event_id BIGINT,ts_us BIGINT,cum_value DOUBLE",
    "q45_confusion_matrix" ->
      "label BIGINT,pred BIGINT,n BIGINT NOT NULL",
    "q46_class_report" ->
      "class BIGINT,support BIGINT,tp BIGINT,pred_cnt BIGINT,precision DOUBLE,recall DOUBLE,f1 DOUBLE",
    "q47_accuracy" ->
      "n_correct BIGINT,n BIGINT NOT NULL,accuracy DOUBLE")

  private def query(name: String) = SparkEntry.inventory.find(_.name == name).get

  test("every inventory query has a pinned row count") {
    assert(SparkEntry.inventory.map(_.name).sorted === pinned.keys.toSeq.sorted)
  }

  SparkEntry.inventory.foreach { q =>
    test(s"${q.name} runs at sf0.001 with its pinned row count") {
      // collect, not count(): count() lets Catalyst prune the columns a
      // runtime failure would come from
      val rows = q.fn(spark, TestSpark.sfDir).collect()
      assert(rows.length.toLong === pinned(q.name)._1)
    }
  }

  /** Execution jobs of each query's collect on `sfDir`. A lost fusion or
    * a new exchange shows here without any timing; the query is built
    * outside the count. */
  private def executionJobs(sfDir: String, tag: String): Map[String, Int] =
    SparkEntry.inventory.map { q =>
      val df = q.fn(spark, sfDir)
      q.name -> TestSpark.jobsLaunchedBy(s"exec-jobs:$tag:${q.name}")(df.collect())
    }.toMap

  test("every query launches its pinned number of execution jobs at sf0.001") {
    assert(executionJobs(TestSpark.sfDir, "sf0.001") ===
      pinned.map { case (name, (_, n, _, _)) => name -> n })
  }

  test("every query launches its pinned number of execution jobs at sf0.01") {
    // q05's and q06's broadcasts run in one task here, though their
    // sides sum past the 1 MB target: each side fits on its own
    assert(executionJobs(TestSpark.sf001Dir, "sf0.01") ===
      pinned.map { case (name, (_, _, n, _)) => name -> n })
  }

  test("every query launches its pinned number of execution jobs at sf0.1") {
    // above 1 MB, a stage fits the gate only when it runs as one task,
    // as over one file under the open cost; lineitem's scans and the
    // broadcasts joined to them (q05, q06) keep their jobs, and no other
    // broadcast stays
    assert(executionJobs(TestSpark.sf01Dir, "sf0.1") ===
      pinned.map { case (name, (_, _, _, n)) => name -> n })
  }

  test("rows-only queries give identical sorted output on two executions") {
    Seq("q33_minhash_lsh_pairs", "q34_simhash_pairs", "q37_ann_ivf").foreach { name =>
      def run() = query(name).fn(spark, TestSpark.sfDir).collect().map(_.toString).sorted
      assert(run() === run(), name)
    }
  }

  test("rows-only queries give identical ordered output at shuffle partitions 1, 8 and 32") {
    Seq("q33_minhash_lsh_pairs", "q34_simhash_pairs", "q37_ann_ivf").foreach { name =>
      val outputs = Seq("1", "8", "32").map { n =>
        TestSpark.withConf("spark.sql.shuffle.partitions" -> n) {
          query(name).fn(spark, TestSpark.sfDir).collect().toSeq
        }
      }
      assert(outputs.distinct.size === 1, name)
    }
  }

  test("q46 class report has no NULL class") {
    val out = query("q46_class_report").fn(spark, TestSpark.sfDir)
    assert(out.filter(col("class").isNull).count() === 0L)
  }

  test("every query's output schema equals its pinned DDL") {
    assert(SparkEntry.inventory.map(_.name).sorted === pinnedSchemas.keys.toSeq.sorted)
    val changed = SparkEntry.inventory.map(q => q.name -> q.fn(spark, TestSpark.sfDir).schema.toDDL)
      .filter { case (name, ddl) => ddl != pinnedSchemas(name) }
    assert(changed.isEmpty)
  }

  test("building a table or a query launches no Spark job") {
    import TestSpark.jobsLaunchedBy
    val tableJobs = TablesSpec.loaders.map { case (name, load) =>
      name -> jobsLaunchedBy(s"build-table:$name")(load(spark, TestSpark.sfDir))
    }
    assert(tableJobs === TablesSpec.loaders.map { case (name, _) => name -> 0 })
    val queryJobs = SparkEntry.inventory.map { q =>
      q.name -> jobsLaunchedBy(s"build-query:${q.name}")(q.fn(spark, TestSpark.sfDir))
    }.toMap
    assert(queryJobs === SparkEntry.inventory.map(q => q.name -> 0).toMap)
  }

  private def assumeOracle(): Unit =
    assume(Try(Seq("python3", "-c", "import duckdb, pandas").!).toOption.contains(0),
      "python3 with duckdb and pandas is needed to replay the oracle")

  /** `check_oracle.py`'s exit code and log over the `Verify` dump in `dir`. */
  private def replay(sfDir: String, dir: String): (Int, String) = {
    val log = new StringBuilder
    val exit = Seq("python3", "tools/check_oracle.py", sfDir, dir)
      .!(ProcessLogger(line => log.append(line).append('\n')))
    (exit, log.toString)
  }

  test("every query's sf0.001 result matches its DuckDB oracle") {
    assumeOracle()
    TestSpark.withTempDir { dir =>
      assert(Verify.dump(spark, TestSpark.sfDir, dir).isEmpty)
      val (exit, log) = replay(TestSpark.sfDir, dir)
      assert(exit === 0, log)
      // a query that failed inside Verify leaves no output: not a skip
      FileUtils.deleteDirectory(new java.io.File(s"$dir/q02_event_histogram"))
      val (missingExit, missingLog) = replay(TestSpark.sfDir, dir)
      assert(missingExit === 1, missingLog)
      assert(missingLog.linesIterator.exists(l =>
        l.startsWith("q02_event_histogram") && l.contains("MISSING")), missingLog)
    }
  }

  Seq("sf0.01" -> TestSpark.sf001Dir, "sf0.1" -> TestSpark.sf01Dir).foreach { case (label, sfDir) =>
    test(s"every query's $label result matches its DuckDB oracle") {
      assumeOracle()
      TestSpark.withTempDir { dir =>
        assert(Verify.dump(spark, sfDir, dir).isEmpty)
        val (exit, log) = replay(sfDir, dir)
        assert(exit === 0, log)
      }
    }
  }
}
