package graft.core

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, REPARTITION_BY_NUM,
  ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose whole input
  * AQE would read as one partition anyway sorts that one partition,
  * instead of range-partitioning it. `SortExec(global)` over the range
  * exchange `EnsureRequirements` added becomes the same sort over
  * `CoalesceExec(1)`, whose `SinglePartition` satisfies the sort's
  * `OrderedDistribution`: the same rows in the same order, with no
  * `RangePartitioner` sampling job, no range map stage and no range
  * shuffle.
  *
  * The gate: every input of the stage under the exchange has a known
  * size, and their sum fits in the one partition that
  * `CoalesceShufflePartitions` would pack it into, so the stage already
  * ran as one task. Known sizes are a materialized shuffle stage (its
  * map output bytes; not one a user's `repartition(n)` wrote, which AQE
  * does not coalesce), a broadcast stage (0: it does not set the stage's
  * task count) and a file scan with no partition filters that plans one
  * file partition (its file bytes). Anything else (an exchange not yet
  * materialized, a cached or local relation) keeps Spark's range sort;
  * AQE re-applies the rule each time a stage materializes. A user's
  * `repartitionByRange` (not `ENSURE_REQUIREMENTS`) is never touched.
  */
object SinglePartitionSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case sort @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if inputBytes(child).exists(_ <= onePartitionBytes) =>
        sort.withNewChildren(Seq(CoalesceExec(1, child)))
    }

  /** The most bytes `CoalesceShufflePartitions` packs into one partition:
    * when it spreads small inputs over a minimum partition count, that
    * is its minimum partition size, otherwise the advisory size. */
  private def onePartitionBytes: Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST) ||
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).exists(_ > 1))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Summed size of the stage's inputs, or None if one is not known. */
  private def inputBytes(stage: SparkPlan): Option[Long] =
    if (stage.exists(_.isInstanceOf[Exchange])) None
    else stage.collectLeaves().foldLeft(Option(0L)) { (sum, leaf) =>
      sum.flatMap(s => leafBytes(leaf).map(s + _))
    }

  private def leafBytes(leaf: SparkPlan): Option[Long] = leaf match {
    case s: ShuffleQueryStageExec
        if s.isMaterialized && s.shuffle.shuffleOrigin != REPARTITION_BY_NUM =>
      Some(s.mapStats.fold(0L)(_.bytesByPartitionId.sum))
    case _: BroadcastQueryStageExec => Some(0L)
    case scan: FileSourceScanExec if scan.partitionFilters.isEmpty =>
      scan.inputRDD match {
        case rdd: FileScanRDD if rdd.filePartitions.size == 1 =>
          Some(rdd.filePartitions.head.files.map(_.length).sum)
        case _ => None
      }
    case _ => None
  }
}
