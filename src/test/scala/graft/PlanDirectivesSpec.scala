package graft

import org.apache.spark.sql.catalyst.plans.logical.{RepartitionOperation, ResolvedHint}
import org.scalatest.funsuite.AnyFunSuite

/** The queries leave join strategy and partitioning to Spark's optimizer
  * and `SinglePartitionStages`: no analyzed query plan holds a strategy
  * hint (`broadcast(...)`, `hint(...)`) or a user repartition
  * (`repartition`, `repartitionByRange`, `coalesce`).
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
}
