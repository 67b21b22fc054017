package graft.core

import org.apache.spark.sql.SparkSession

/** Single place where engine-level Spark tuning lives, so every entry
  * point (Verify, Bench, tests, serving) runs the same plan-shaping
  * config. Values are chosen for the local[32] harness but the knobs
  * are the ones that matter on a real cluster too: AQE re-plans
  * shuffles at runtime (skew join, partition coalescing), shuffle
  * parallelism is sized to cores rather than the 200 default, and
  * timestamps are pinned to UTC for oracle parity.
  */
object GraftSession {
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(master: String = s"local[$defaultCpus]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
