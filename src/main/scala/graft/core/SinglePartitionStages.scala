package graft.core

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide}
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, BroadcastDistribution,
  HashPartitioning, PartitioningCollection, SinglePartition, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SortExec, SparkPlan,
  UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS,
  Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a single-input operator whose whole
  * input already ran as one task (see the gate below) reads that one
  * partition, instead of shuffling it. The consumer is any
  * `UnaryExecNode` that requires a child distribution, such as a final
  * hash aggregate, a window, a final window-group limit, an `AllTuples`
  * aggregate or a global sort. When its child is the exchange
  * `EnsureRequirements` added (possibly under the local sort it adds
  * too), that exchange becomes `CoalesceExec(1)`, whose `SinglePartition`
  * satisfies the consumer, or goes when the stage below already declares
  * one partition: the same rows, with no shuffle-map stage, no shuffle
  * and, under a sort, no `RangePartitioner` sampling job. The
  * rule runs bottom-up, so a chain of small stages (scan, partial
  * aggregate, final aggregate, sort) becomes one job of one task.
  *
  * Joins: a broadcast join whose broadcast has not run yet, and each of
  * whose sides fits on its own, runs in its consumer's one task too.
  * The stream side already ran as the one task the broadcast join ran
  * in, and the build side as the broadcast job's one task, so one task
  * over both adds no serial work. A broadcast hash join becomes a
  * shuffled hash join with the same keys, join type, build side and
  * condition, and an inner or cross broadcast nested-loop join becomes
  * a cartesian product with the same condition, each over one partition
  * per side
  * (`CoalesceExec(1)` where a side does not declare one already). That
  * saves the broadcast job, its driver-side collect and the broadcast
  * relation, and neither side is shuffled. An explicit `broadcast(...)`
  * hint is a choice of strategy, not a request for partitioning, so the
  * rule overrides it as it would Spark's own size-based choice. What
  * that saves is jobs. q05's four broadcasts are Spark's own size-based
  * choice, which AQE ran concurrently, and its one task reads all of
  * its input serially: at sf0.001 it leaned slower (0.450 -> 0.493 s,
  * 3 of 3 pairs, inside the host's drift), and at sf0.01 it tied,
  * 428 ms against 482 ms but faster in only 5 of 10 alternating
  * `graft.Bench` pairs (medians of 7 reps, `local[4]`, 4-vCPU host),
  * where q06 ran in 206 ms against 250 ms, faster in 10 of 10. Two
  * broadcast joins always stay: a null-aware anti join (`NOT IN`), which
  * `ShuffledHashJoinExec` has no mode for, and an outer, semi or anti
  * nested-loop join, as `CartesianProductExec` is inner only.
  *
  * The gate: the stage under the exchange (or each side of the join)
  * already ran as one task. A stage fits at any size when it runs as one
  * task: it declares one partition (a rewritten join or consumer below,
  * a one-partition stage), or it is a counted file scan (below), which
  * Spark's split bound plans as one task whatever AQE's target, or it
  * is a unary operator, a cartesian product or the stream side of a
  * broadcast join over inputs that each do. Every other stage is judged
  * by AQE's target: each of its inputs has a known size, and their sum
  * fits in the one partition that `CoalesceShufflePartitions` would pack
  * it into. Known sizes are:
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
  * it outgrows the target, even where each input is one file: its
  * inputs' partitions add up. Anything else (an exchange not yet
  * materialized, a cached or local relation that does not declare one
  * partition) keeps Spark's exchange; AQE re-applies the rule each time
  * a stage materializes.
  *
  * Limit: a one-file stage is judged by its input bytes, not by the rows
  * its operators make. Where they multiply rows (q11's cube `Expand`,
  * an `explode`), all of those rows now reach a consumer in the one
  * task, where the exchange would have spread the consumer over several.
  * At sf0.1 none of the fused queries lost time: in 10 alternating
  * `graft.Bench` pairs at `local[4]` on a 4-vCPU host (medians), q11 ran
  * in 303 ms against 416 ms with the exchange, and q16 and q42, whose
  * windows had spread over 4 or more tasks, in 619 and 594 ms against
  * 974 and 946 ms.
  *
  * The rewrite also changes the consumer's own output partitioning, and
  * an aggregate or window reports its child's, as a broadcast join
  * reports its stream side's: a join above it may have had no exchange
  * of its own on that side, counting on the other side being hash
  * partitioned the same way. So the rule walks the plan from the root
  * and rewrites only consumers and joins whose partitioning no ancestor
  * relies on: a path to the root, or to an exchange, that passes only
  * through operators one partition satisfies and, of operators with two
  * or more inputs, only through the stream side of a broadcast join.
  * Sort-merge, shuffled hash and co-group joins that Spark planned,
  * unions and cartesian products zip or pair their inputs partition by
  * partition, so neither their exchanges nor any consumer or join below
  * them are touched.
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
        case SmallStage(stage) => consumer.withNewChildren(Seq(onOnePartition(stage)))
        case sort @ SortExec(_, false, SmallStage(stage), _) =>
          consumer.withNewChildren(Seq(sort.withNewChildren(Seq(onOnePartition(stage)))))
        case _ => consumer
      }
      case join: BroadcastHashJoinExec if free && !join.isNullAwareAntiJoin =>
        onePartitionSides(join.buildSide, join.left, join.right).fold[SparkPlan](join) {
          case (left, right) => replacing(join, ShuffledHashJoinExec(join.leftKeys, join.rightKeys,
            join.joinType, join.buildSide, join.condition, left, right))
        }
      case join: BroadcastNestedLoopJoinExec if free && join.joinType.isInstanceOf[InnerLike] =>
        onePartitionSides(join.buildSide, join.left, join.right).fold[SparkPlan](join) {
          case (left, right) => replacing(join, CartesianProductExec(left, right, join.condition))
        }
      case other => other
    }
  }

  /** `join` carrying `old`'s tags, its logical link among them. AQE links
    * a new query stage to the first linked node under its exchange, and
    * later swaps that logical node for the stage: without the link, a
    * stage over the join would stand for the join's first input, and a
    * re-plan would run the join again on the stage's output. */
  private def replacing(old: SparkPlan, join: SparkPlan): SparkPlan = {
    join.copyTagsFrom(old)
    join
  }

  /** A broadcast join's (left, right) inputs, each on one partition and
    * the build side without its broadcast, when that broadcast has not
    * run yet and each side fits on its own. */
  private def onePartitionSides(buildSide: BuildSide, left: SparkPlan,
                                right: SparkPlan): Option[(SparkPlan, SparkPlan)] = {
    val sides = (buildSide, left, right) match {
      case (BuildLeft, BroadcastExchangeExec(_, leftInput), _) => Some((leftInput, right))
      case (BuildRight, _, BroadcastExchangeExec(_, rightInput)) => Some((left, rightInput))
      case _ => None
    }
    sides.collect { case (l, r) if fits(l) && fits(r) => (onOnePartition(l), onOnePartition(r)) }
  }

  /** `plan` as one partition: as it is when it already declares one (it
    * was rewritten below), else under `CoalesceExec(1)`. Each extra
    * coalesce would only add an RDD and split a codegen stage. */
  private def onOnePartition(plan: SparkPlan): SparkPlan =
    if (plan.outputPartitioning.satisfies(AllTuples)) plan else CoalesceExec(1, plan)

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
      case ShuffleExchangeExec(_, stage, ENSURE_REQUIREMENTS, _) if fits(stage) => Some(stage)
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

  /** No exchange is left in `stage`, and it runs as one task, or its
    * inputs have known sizes that together fit one partition. */
  private def fits(stage: SparkPlan): Boolean =
    !stage.exists(_.isInstanceOf[Exchange]) &&
      (oneTask(stage) || inputBytes(stage.collectLeaves()).exists(_ <= onePartitionBytes))

  /** `plan` declares one partition, is a file scan the gate counts
    * (Spark plans it as one task whatever its size against the byte
    * target), or is a unary operator, a cartesian product or a broadcast
    * join whose inputs (the stream side's, for a broadcast join) each
    * run as one task. Not a union, whose inputs' partitions add up. */
  private def oneTask(plan: SparkPlan): Boolean = plan.outputPartitioning.numPartitions == 1 ||
    (plan match {
      case scan: FileSourceScanExec => leafBytes(scan).isDefined
      case unary: UnaryExecNode => oneTask(unary.child)
      case product: CartesianProductExec => oneTask(product.left) && oneTask(product.right)
      case join: BroadcastHashJoinExec => oneTask(streamSide(join.buildSide, join.left, join.right))
      case join: BroadcastNestedLoopJoinExec =>
        oneTask(streamSide(join.buildSide, join.left, join.right))
      case _ => false
    })

  private def streamSide(buildSide: BuildSide, left: SparkPlan, right: SparkPlan): SparkPlan =
    if (buildSide == BuildLeft) right else left

  /** Summed size of the leaves, or None if one is not known. */
  private def inputBytes(leaves: Seq[SparkPlan]): Option[Long] =
    leaves.foldLeft(Option(0L))((sum, leaf) => sum.flatMap(s => leafBytes(leaf).map(s + _)))

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
