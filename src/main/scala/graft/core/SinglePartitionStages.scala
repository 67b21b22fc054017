package graft.core

import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, HashPartitioning,
  PartitioningCollection, SinglePartition, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SortExec, SparkPlan,
  UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, REPARTITION_BY_NUM,
  ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a single-input operator whose whole
  * input AQE would read as one partition anyway reads that one
  * partition, instead of shuffling it. The consumer is any
  * `UnaryExecNode` that requires a child distribution, such as a final
  * hash aggregate, a window, a final window-group limit, an `AllTuples`
  * aggregate or a global sort. When its child is the exchange
  * `EnsureRequirements` added (possibly under the local sort it adds
  * too), that exchange becomes `CoalesceExec(1)`, whose `SinglePartition`
  * satisfies the consumer: the same rows, with no shuffle-map stage, no
  * shuffle and, under a sort, no `RangePartitioner` sampling job. The
  * rule runs bottom-up, so a chain of small stages (scan, partial
  * aggregate, final aggregate, sort) becomes one job of one task.
  *
  * The gate: every input of the stage under the exchange has a known
  * size, and their sum fits in the one partition that
  * `CoalesceShufflePartitions` would pack it into, so the stage already
  * ran as one task. Known sizes are:
  *  - a materialized shuffle stage: its map output bytes; not one a
  *    user's `repartition(n)` wrote, which AQE does not coalesce;
  *  - a broadcast stage: 0, as it does not set the stage's task count;
  *  - a file scan of one file, in no partition directory, of at most
  *    `min(spark.sql.files.maxPartitionBytes, openCostInBytes)` bytes:
  *    its bytes. The split size is never below that minimum, so such a
  *    file always plans exactly one file partition. The check reads the
  *    file index only: asking the scan for its `inputRDD` would set up
  *    the parquet reader (a Hadoop-conf broadcast per scan) on plan
  *    copies that AQE discards at each re-plan.
  *
  * Inputs are summed, so a union of small inputs keeps its exchange once
  * it outgrows the target. Anything else (an exchange not yet
  * materialized, a cached or local relation) keeps Spark's exchange;
  * AQE re-applies the rule each time a stage materializes.
  *
  * The rewrite also changes the consumer's own output partitioning, and
  * an aggregate or window reports its child's: a join above it may have
  * had no exchange of its own on that side, counting on the other side
  * being hash partitioned the same way. So the rule walks the plan from
  * the root and rewrites only consumers whose partitioning no ancestor
  * relies on: a path to the root, or to an exchange, that passes only
  * through operators one partition satisfies and, of operators with
  * two or more inputs, only through the stream side of a broadcast
  * join. Sort-merge, shuffled hash and co-group joins, unions and
  * cartesian products zip or pair their inputs partition by partition,
  * so neither their exchanges nor any consumer below them are touched.
  * A hash partitioned root keeps its partitioning too (so a query that
  * ends in an unsorted aggregate keeps its last exchange), as it may
  * stand for a user's `repartition(n, cols)` that `EnsureRequirements`
  * folded away. A user's `repartition` or `repartitionByRange` (not
  * `ENSURE_REQUIREMENTS`) is never touched, and the rule is inert when
  * partition coalescing is off.
  */
object SinglePartitionStages extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan else rewrite(plan, rootFree(plan))

  /** `EnsureRequirements` drops a user's `repartition(n, cols)` at the
    * root when the plan below is already hash partitioned that way, and
    * AQE then keeps those n partitions as the query's required output. A hash
    * partitioned root may hide one, so it keeps its partitioning. */
  private def rootFree(plan: SparkPlan): Boolean = plan.outputPartitioning match {
    case _: HashPartitioning | _: PartitioningCollection => false
    case _ => true
  }

  /** Rewrites `plan` bottom-up. `free` says no ancestor relies on
    * `plan`'s output partitioning beyond what one partition gives. */
  private def rewrite(plan: SparkPlan, free: Boolean): SparkPlan = {
    val children = plan.children.indices.map(i => rewrite(plan.children(i), childFree(plan, i, free)))
    plan.withNewChildren(children) match {
      case consumer: UnaryExecNode if free && needsDistribution(consumer) => consumer.child match {
        case SmallStage(stage) => consumer.withNewChildren(Seq(CoalesceExec(1, stage)))
        case sort @ SortExec(_, false, SmallStage(stage), _) =>
          consumer.withNewChildren(Seq(sort.withNewChildren(Seq(CoalesceExec(1, stage)))))
        case _ => consumer
      }
      case other => other
    }
  }

  /** No ancestor relies on child `i`'s partitioning: an exchange
    * repartitions it; otherwise the node is free, one partition meets
    * its requirement of child `i`, and every other child is broadcast
    * (the stream side of a broadcast join, not a side of a sort-merge or
    * shuffled hash join, a co-group or a union, which zip their children
    * partition by partition). */
  private def childFree(plan: SparkPlan, i: Int, free: Boolean): Boolean = plan match {
    case _: Exchange => true
    case _ =>
      val required = plan.requiredChildDistribution
      free && SinglePartition.satisfies(required(i)) && required.indices.forall { j =>
        j == i || required(j).isInstanceOf[BroadcastDistribution]
      }
  }

  /** The consumer requires a distribution that one partition satisfies
    * (not one with a fixed partition count). */
  private def needsDistribution(consumer: UnaryExecNode): Boolean = {
    val required = consumer.requiredChildDistribution.head
    required != UnspecifiedDistribution && SinglePartition.satisfies(required)
  }

  /** The stage under an `EnsureRequirements` shuffle whose inputs fit
    * one partition. */
  private object SmallStage {
    def unapply(plan: SparkPlan): Option[SparkPlan] = plan match {
      case ShuffleExchangeExec(_, stage, ENSURE_REQUIREMENTS, _)
          if inputBytes(stage).exists(_ <= onePartitionBytes) => Some(stage)
      case _ => None
    }
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
    case scan: FileSourceScanExec if scan.relation.partitionSchema.isEmpty =>
      val files = scan.relation.location
      val bytes = files.sizeInBytes
      if (files.inputFiles.length == 1 &&
          bytes <= math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)) Some(bytes)
      else None
    case _ => None
  }
}
