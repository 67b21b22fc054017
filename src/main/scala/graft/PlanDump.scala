package graft

import java.nio.file.{Files, Paths}
import graft.core.GraftSession
import org.apache.spark.sql.execution.ExplainMode

/** Measurement tooling for the optimization rounds: runs every declared
  * query once and writes the `.explain("formatted")` of the plan that
  * ran (the final adaptive plan, `isFinalPlan=true`) to
  * `<outDir>/<query>_<tag>.txt`, so plan claims (Exchange count, join
  * strategy, PushedFilters/ReadSchema) cite what executed. AQE re-plans
  * as stages finish, so an unexecuted plan can still show exchanges the
  * run never made. Usage: runMain graft.PlanDump <sfDir> <outDir> <tag>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args
    val spark = GraftSession.builder().getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.inventory.foreach { q =>
      val df = q.fn(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${q.name}_$tag.txt"), plan)
    }
    spark.stop()
  }
}
