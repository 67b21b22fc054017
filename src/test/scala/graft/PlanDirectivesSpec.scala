package graft

import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.{RepartitionOperation, ResolvedHint}
import org.scalatest.funsuite.AnyFunSuite

/** The queries leave join strategy and partitioning to Spark's optimizer
  * and `SinglePartitionStages`: no analyzed query plan holds a strategy
  * hint (`broadcast(...)`, `hint(...)`) or a user repartition
  * (`repartition`, `repartitionByRange`, `coalesce`). Nor does one call
  * Spark's case mapping: `TextKernelUtil.cleanText` lowers text itself,
  * and Spark's `lower` would load ICU's break-iterator data into the heap.
  */
class PlanDirectivesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("no query's analyzed plan holds a strategy hint or a user repartition") {
    val found = SparkEntry.inventory.map { q =>
      val plan = q.fn(spark, TestSpark.sfDir).queryExecution.analyzed
      q.name -> plan.collectWithSubqueries {
        case _: ResolvedHint => "hint"
        case _: RepartitionOperation => "repartition"
      }
    }.filter(_._2.nonEmpty).toMap
    assert(found === Map.empty)
  }

  test("no query's analyzed plan holds a Spark case mapping") {
    val found = SparkEntry.inventory.map { q =>
      val plan = q.fn(spark, TestSpark.sfDir).queryExecution.analyzed
      q.name -> plan.collectWithSubqueries { case p => p.expressions }.flatten
        .flatMap(_.collect { case e @ (_: Lower | _: Upper | _: InitCap) => e.prettyName })
    }.filter(_._2.nonEmpty).toMap
    assert(found === Map.empty)
  }
}
