package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the synthetic test tables (TESTDATA.md). Each table's
  * schema is declared, so a read launches no Spark job: an undeclared
  * parquet read runs one to infer the schema from the file footer.
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
  private def load(spark: SparkSession, dir: String, name: String, ddl: String): DataFrame =
    spark.read.schema(ddl).parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region",
    "r_regionkey INT, r_name STRING")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation",
    "n_nationkey INT, n_name STRING, n_regionkey INT")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer",
    "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier",
    "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part",
    "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders",
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP_LTZ, o_orderpriority STRING")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem",
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_LTZ")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events",
    "event_id BIGINT, ts TIMESTAMP_LTZ, user_id BIGINT, event_type STRING, value DOUBLE, " +
      "props STRING")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents",
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings",
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
}
