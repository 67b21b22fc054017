package graft

import java.nio.file.{Files, Paths}
import graft.core.GraftSession
import org.apache.spark.sql.execution.ExplainMode

/** Measurement tooling for the optimization rounds: writes
  * `.explain("formatted")` for every declared query to
  * `<outDir>/<query>_<tag>.txt` so plan claims (Exchange count, join
  * strategy, PushedFilters/ReadSchema) are checkable without running
  * Spark. Usage: runMain graft.PlanDump <sfDir> <outDir> <tag>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.inventory.foreach { q =>
      val plan = q.fn(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${q.name}_$tag.txt"), plan)
    }
    spark.stop()
  }
}
