package graft

import org.apache.spark.sql.catalyst.plans.logical.{RepartitionOperation, ResolvedHint}
import org.scalatest.funsuite.AnyFunSuite

/** The queries leave join strategy and partitioning to Spark's optimizer
  * and `SinglePartitionStages`: no analyzed query plan holds a strategy
  * hint (`broadcast(...)`, `hint(...)`) or a user repartition
  * (`repartition`, `repartitionByRange`, `coalesce`), except the ones
  * listed here with their reason.
  */
class PlanDirectivesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The directives that stay, by query. q35's broadcast: q35 is a
    * cross join, and without the hint, once both sides pass the
    * broadcast threshold, Spark plans a cartesian product over the
    * corpus instead of streaming it past the broadcast query set. */
  private val allowed = Map("q35_knn_bruteforce" -> Seq("hint"))

  test("no query's analyzed plan holds a strategy hint or a user repartition, except q35's broadcast") {
    val found = SparkEntry.inventory.map { q =>
      val plan = q.fn(spark, TestSpark.sfDir).queryExecution.analyzed
      q.name -> plan.collectWithSubqueries {
        case _: ResolvedHint => "hint"
        case _: RepartitionOperation => "repartition"
      }
    }.filter(_._2.nonEmpty).toMap
    assert(found === allowed)
  }
}
