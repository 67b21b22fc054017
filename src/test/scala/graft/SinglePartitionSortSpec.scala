package graft

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

/** `SinglePartitionSort` sorts small results on one partition. It must
  * give every query's rows in the order Spark's range sort gives them,
  * save the sampling job and range map stage only under its gate, and
  * leave Spark's range sort in place when the gate fails. The rule is
  * forced off with Spark's own conf: a 1-byte coalescing target, which
  * no non-empty input fits.
  */
class SinglePartitionSortSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val rangeSort = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"

  private def query(name: String) = SparkEntry.inventory.find(_.name == name).get

  /** Runs `df` and returns the plan AQE finished with; the adaptive
    * node's own string would also print the initial plan. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val adaptive = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
    assert(adaptive.isFinalPlan)
    adaptive.executedPlan.toString
  }

  test("every query's ordered output equals Spark's range sort at sf0.001") {
    val changed = SparkEntry.inventory.filter { q =>
      val onePartition = q.fn(spark, TestSpark.sfDir).collect().toSeq
      val ranged = TestSpark.withConf(rangeSort)(q.fn(spark, TestSpark.sfDir).collect().toSeq)
      onePartition != ranged
    }.map(_.name)
    assert(changed.isEmpty)
  }

  test("q20 and q40 launch 1 and 2 jobs; 3 and 4 with Spark's range sort") {
    def jobs(tag: String): Seq[Int] = Seq("q20_clean_text", "q40_tumbling_hourly").map { name =>
      TestSpark.jobsLaunchedBy(s"sort-jobs:$tag:$name") {
        query(name).fn(spark, TestSpark.sfDir).collect()
      }
    }
    assert(jobs("one-partition") === Seq(1, 2))
    assert(TestSpark.withConf(rangeSort)(jobs("range")) === Seq(3, 4))
  }

  test("q40's final plan sorts one partition; the range sort stays when the gate fails") {
    def q40Plan(): String = finalPlan(query("q40_tumbling_hourly").fn(spark, TestSpark.sfDir))
    val onePartition = q40Plan()
    assert(onePartition.contains("Coalesce 1"))
    assert(!onePartition.contains("rangepartitioning"))
    Seq(rangeSort, "spark.sql.adaptive.coalescePartitions.enabled" -> "false").foreach { setting =>
      assert(TestSpark.withConf(setting)(q40Plan()).contains("rangepartitioning"), setting)
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
}
