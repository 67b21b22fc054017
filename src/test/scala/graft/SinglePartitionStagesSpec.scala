package graft

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{broadcast, col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

/** `SinglePartitionStages` runs small single-input stages on one
  * partition. It must give every query's rows in the order Spark's
  * exchanges give them, save shuffle-map jobs only under its gate, and
  * leave Spark's exchanges in place when the gate fails. The rule is
  * forced off with Spark's own conf: a 1-byte coalescing target, which
  * no non-empty input fits.
  */
class SinglePartitionStagesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def target(size: String) = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> size
  private val sparkExchanges = target("1b")

  private def query(name: String) = SparkEntry.inventory.find(_.name == name).get

  /** Runs `df` and returns the plan AQE finished with; the adaptive
    * node's own string would also print the initial plan. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val adaptive = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
    assert(adaptive.isFinalPlan)
    adaptive.executedPlan.toString
  }

  test("every query's ordered output equals Spark's exchanges at sf0.001") {
    val changed = SparkEntry.inventory.filter { q =>
      val onePartition = q.fn(spark, TestSpark.sfDir).collect().toSeq
      val exchanged = TestSpark.withConf(sparkExchanges)(q.fn(spark, TestSpark.sfDir).collect().toSeq)
      onePartition != exchanged
    }.map(_.name)
    assert(changed.isEmpty)
  }

  test("q20, q30, q40 and q46 launch 1 job each; 3, 4, 4 and 5 with Spark's exchanges") {
    val names = Seq("q20_clean_text", "q30_dedup_exact", "q40_tumbling_hourly", "q46_class_report")
    def jobs(tag: String): Seq[Int] = names.map { name =>
      TestSpark.jobsLaunchedBy(s"stage-jobs:$tag:$name") {
        query(name).fn(spark, TestSpark.sfDir).collect()
      }
    }
    assert(jobs("one-partition") === Seq(1, 1, 1, 1))
    assert(TestSpark.withConf(sparkExchanges)(jobs("exchanges")) === Seq(3, 4, 4, 5))
  }

  test("q30, q40 and q46 plan no exchange; Spark's stay when the gate fails") {
    Seq("q30_dedup_exact", "q40_tumbling_hourly", "q46_class_report").foreach { name =>
      def plan(): String = finalPlan(query(name).fn(spark, TestSpark.sfDir))
      assert(!plan().contains("Exchange"), name)
      Seq(sparkExchanges, "spark.sql.adaptive.coalescePartitions.enabled" -> "false").foreach {
        setting =>
          val exchanged = TestSpark.withConf(setting)(plan())
          assert(exchanged.contains("hashpartitioning") && exchanged.contains("rangepartitioning"),
            s"$name $setting")
      }
    }
  }

  test("a sort over a user's repartition(n) or repartitionByRange keeps its range partitioning") {
    val events = Tables.events(spark, TestSpark.sfDir).select("event_id")
    Seq(events.repartition(4), events.repartitionByRange(4, col("event_id"))).foreach { input =>
      val plan = finalPlan(input.orderBy("event_id"))
      assert(plan.contains("rangepartitioning") && !plan.contains("Coalesce 1"), plan)
    }
  }

  test("a global sort over an empty input returns no rows") {
    val perType = Tables.events(spark, TestSpark.sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    // the optimizer folds `lit(false)` away; `n < 0` is empty only at run time
    assert(perType.filter(lit(false)).orderBy("event_type").collect().isEmpty)
    assert(perType.filter(col("n") < 0).orderBy("event_type").collect().isEmpty)
  }

  test("a sort-merge join keeps both input exchanges; its rows equal Spark's exchanges") {
    def perNation(): DataFrame = {
      val customer = Tables.customer(spark, TestSpark.sfDir)
      val orders = Tables.orders(spark, TestSpark.sfDir)
      customer.hint("merge").join(orders, col("c_custkey") === col("o_custkey"))
        .groupBy("c_nationkey").agg(count(lit(1)).as("n")).orderBy("c_nationkey")
    }
    val plan = finalPlan(perNation())
    assert(plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("hashpartitioning(c_custkey") && plan.contains("hashpartitioning(o_custkey"),
      plan)
    assert(perNation().collect() === TestSpark.withConf(sparkExchanges)(perNation().collect()))
  }

  test("an aggregate under a join keeps the exchange the join's other side is partitioned like") {
    val events = Tables.events(spark, TestSpark.sfDir)
    def joined(hint: String, how: String): Array[String] =
      events.groupBy("event_type").count().hint(hint).join(events, Seq("event_type"), how)
        .orderBy("event_type").collect().map(_.toString).sorted
    Seq("merge" -> "inner", "merge" -> "left", "shuffle_hash" -> "full").foreach { case (hint, how) =>
      assert(joined(hint, how) === TestSpark.withConf(sparkExchanges)(joined(hint, how)), s"$hint $how")
    }
  }

  test("an aggregate on a broadcast join's stream side still runs on one partition") {
    val events = Tables.events(spark, TestSpark.sfDir)
    val types = events.select("event_type").distinct()
    val plan = finalPlan(events.groupBy("event_type").count().join(broadcast(types), "event_type")
      .orderBy("event_type"))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("partitioning("), plan)
  }

  test("a user's repartition(8, cols) folded into an aggregate's exchange keeps 8 partitions") {
    val perType = Tables.events(spark, TestSpark.sfDir).groupBy("event_type").count()
    assert(perType.repartition(8, col("event_type")).rdd.getNumPartitions === 8)
  }

  test("a stage's inputs are summed: events fits a 40k target, events twice does not") {
    val events = Tables.events(spark, TestSpark.sfDir) // one file of about 27 KB
    def perType(input: DataFrame): String =
      finalPlan(input.groupBy("event_type").count().orderBy("event_type"))
    TestSpark.withConf(target("40k")) {
      assert(!perType(events).contains("Exchange"))
      assert(perType(events.union(events)).contains("hashpartitioning"))
    }
    TestSpark.withConf(target("20k")) {
      assert(perType(events).contains("hashpartitioning"))
      assert(perType(events.union(events)).contains("hashpartitioning"))
    }
  }

  test("a scan of two small files keeps its aggregate exchange") {
    TestSpark.withTempDir { dir =>
      Tables.events(spark, TestSpark.sfDir).repartition(2).write.parquet(s"$dir/events")
      val twoFiles = spark.read.parquet(s"$dir/events")
      assert(twoFiles.inputFiles.length === 2)
      assert(finalPlan(twoFiles.groupBy("event_type").count().orderBy("event_type"))
        .contains("hashpartitioning"))
    }
  }
}
