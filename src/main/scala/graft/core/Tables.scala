package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the synthetic test tables (TESTDATA.md). Each table's
  * schema is declared as a typed `StructType`, with no DDL text to
  * parse, so a read launches no Spark job: an undeclared parquet read
  * runs one to infer the schema from the file footer.
  * `TablesSpec` asserts that every declared schema equals the footer
  * schema at every scale, so a dropped, renamed, reordered or retyped
  * column fails loudly instead of reading as NULL. Plain parquet scans
  * so Catalyst's V2ScanRelationPushDown can prune columns and push
  * predicates down to the scan; no caching.
  *
  * `o_orderdate`, `l_shipdate` and `ts` are parquet TIMESTAMP(MICROS)
  * without UTC adjustment. They are declared TIMESTAMP_LTZ
  * (`TimestampType`), not TIMESTAMP_NTZ, which `unix_micros` rejects,
  * so their epoch micros match DuckDB's `epoch_us`.
  */
object Tables {
  private def load(s: SparkSession, d: String, name: String, cols: (String, DataType)*): DataFrame =
    s.read.schema(StructType(cols.map(c => StructField(c._1, c._2)))).parquet(s"$d/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region",
    "r_regionkey" -> IntegerType, "r_name" -> StringType)
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation",
    "n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType)
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer",
    "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
    "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier",
    "s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
    "s_acctbal" -> DoubleType)
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part",
    "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
    "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType)
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders",
    "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
    "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType)
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem",
    "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
    "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
    "l_linestatus" -> StringType, "l_shipdate" -> TimestampType)
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events",
    "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
    "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents",
    "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType, "source" -> StringType,
    "n_chars" -> LongType)
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings",
    "vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
}
