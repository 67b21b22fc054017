package graft

import java.io.File
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Schema drift guard. A declared column missing from the file reads
  * as NULL without any error, so every declared table schema must equal
  * the schema Spark infers from the parquet footer, at every scale.
  * The footer's non-UTC-adjusted timestamps infer as TIMESTAMP_NTZ and
  * are declared TIMESTAMP_LTZ; that mapping is the only allowed
  * difference, and only on the three timestamp columns.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val testdata = new File(TestSpark.sfDir).getParent

  Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
    test(s"every declared table schema equals its parquet footer schema at $sf") {
      val dir = s"$testdata/$sf"
      val mapped = TablesSpec.loaders.flatMap { case (name, declared) =>
        val footer = spark.read.parquet(s"$dir/$name.parquet").schema
        val asDeclared = StructType(footer.map { f =>
          if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType) else f
        })
        assert(declared(spark, dir).schema === asDeclared, name)
        footer.filter(_.dataType == TimestampNTZType).map(_.name)
      }
      assert(mapped.sorted === Seq("l_shipdate", "o_orderdate", "ts"))
    }
  }
}

object TablesSpec {
  /** Every `Tables` loader, by table name. */
  val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
}
