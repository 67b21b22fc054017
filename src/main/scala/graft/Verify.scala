package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (`tools/check_oracle.py <sfDir> <outDir>`). Exits 1, naming them,
  * when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    val failed = dump(spark, sfDir, outDir)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes every query's result to `<outDir>/<query>` and the oracle
    * SQL to `<outDir>/oracle_sql.json`; returns the queries that failed. */
  def dump(spark: SparkSession, sfDir: String, outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    new ObjectMapper().writeValue(new java.io.File(s"$outDir/oracle_sql.json"),
      new java.util.TreeMap[String, String](SparkEntry.oracleSql.asJava))
    failed
  }
}
