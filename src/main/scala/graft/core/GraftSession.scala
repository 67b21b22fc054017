package graft.core

import org.apache.spark.sql.SparkSession

/** Single place where engine-level Spark tuning lives, so every entry
  * point (Verify, Bench, tests, serving) runs the same plan-shaping
  * config. The default master (Verify, Bench, perfbench) is
  * `local[$SPARK_GRAFT_CPUS]`, 4 when unset, and perfbench sets it to
  * the host's core count; the specs' session runs `local[8]`. The knobs
  * are the ones that matter on a real cluster too: shuffle parallelism
  * is 32 rather than the 200 default (AQE coalesces it to the data), and
  * timestamps are pinned to UTC for oracle parity. Spark logs at WARN
  * from the moment its context starts (`spark.log.level`). AQE, its partition
  * coalescing and its skew join are Spark's defaults, left unset here;
  * the rule below relies on the first two (SinglePartitionStagesSpec
  * pins all three).
  *
  * Every session also runs [[SinglePartitionStages]] as an AQE
  * query-stage preparation rule. Most queries are chains of small
  * grouped results (aggregate, window, distinct) and small joins ending
  * in a global `orderBy`: when such a single-input operator's stage
  * already ran as one task, the operator runs in that task instead of
  * behind an exchange, which saves the shuffle-map job, its shuffle
  * and, under a sort, the range-bound sampling job. A broadcast join
  * each of whose sides fits on its own runs there as a shuffled hash
  * join or cartesian product, which saves the broadcast job. Joins
  * that Spark planned with exchanges (sort-merge, shuffled hash) keep
  * them, and so does an operator whose partitioning a join or union
  * above it, or the query's output, relies on. The rule adds no setting
  * of its own; its thresholds are Spark's. A stage that runs as one
  * task fits at any size: one that declares one partition, a unary
  * operator or cartesian product over such inputs, or a stage over one
  * file that the file split bound plans as one task (at most
  * `openCostInBytes` and `maxPartitionBytes`). Any other stage fits when
  * its inputs' summed bytes are within AQE's coalescing target
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`, or the
  * advisory partition size when parallelism-first coalescing is off).
  * The rule is inert when AQE or partition coalescing is off. Plans
  * that show it are the final adaptive plans (`isFinalPlan=true`).
  */
object GraftSession {
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(master: String = s"local[$defaultCpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .withExtensions(_.injectQueryStagePrepRule(_ => SinglePartitionStages))
}
