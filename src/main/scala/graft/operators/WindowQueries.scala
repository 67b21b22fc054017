package graft.operators

import graft.core.{GQuery, Tables}
import graft.core.QueryUtils._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time window operators over `events` — the batch-expressible
  * faces of the streaming inventory (SURVEY.md §2.7), run as batch
  * queries so the DuckDB oracle can replay them. (The same
  * `window()`/aggregation expressions would drop into a Structured
  * Streaming readStream unchanged; no streaming entry point ships.)
  *
  * Event timestamps are emitted as epoch micros (unix_micros /
  * epoch_us) where raw, so nanosecond- and micro-precision engines
  * agree bit-for-bit.
  */
object WindowQueries {

  /** Tumbling 1-hour window per event type (window().start is epoch-
    * aligned, i.e. exactly date_trunc('hour')). */
  def tumblingHourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .transform(withExactParse("value"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum("value").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("ws", "event_type")

  val tumblingHourlySql: String =
    s"""SELECT date_trunc('hour', ts)::TIMESTAMP AS ws, event_type,
       |  count(*) AS n, ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin

  /** Sliding 2-hour window, 1-hour slide: each event lands in exactly
    * two windows (starts at trunc(ts,h) and trunc(ts,h)-1h). */
  def slidingTwoHour(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .transform(withExactParse("value"))
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), dsum("value").as("sum_value"))
      .select(col("w.start").as("ws"), col("n"), col("sum_value"))
      .orderBy("ws")

  val slidingTwoHourSql: String =
    s"""SELECT ws::TIMESTAMP AS ws, count(*) AS n, ${sqlDsum("value")} AS sum_value
       |FROM (
       |  SELECT unnest([date_trunc('hour', ts),
       |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
       |         value
       |  FROM events)
       |GROUP BY 1 ORDER BY ws""".stripMargin

  /** Sessionization: 30-minute-gap sessions per user (gaps-and-islands
    * via lag + running sum — the batch face of what
    * mapGroupsWithState/session_window does in streaming). */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    // order by the derived epoch-micros column, not the timestamp it
    // mirrors: unix_micros is monotone-bijective on TimestampType, so
    // the window order is identical, and the raw ts column no longer
    // rides the exchange + sort (8 bytes/row; it was carried ONLY for
    // the ordering)
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select("event_id", "user_id", "value", "ts_us")
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1)
          .otherwise(0))
      .withColumn("sess_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .transform(withExactParse("value"))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        dsum("value").as("sum_value"))
      .orderBy("user_id", "sess_id")
  }

  val sessionizeSql: String =
    s"""WITH t AS (
       |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events),
       |marked AS (
       |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
       |      OR ts_us - lag(ts_us) OVER w > ${30L * 60 * 1000000} THEN 1 ELSE 0 END AS new_sess
       |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |sess AS (
       |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS sess_id
       |  FROM marked)
       |SELECT user_id, sess_id, count(*) AS n_events,
       |  min(ts_us) AS start_us, max(ts_us) AS end_us,
       |  ${sqlDsum("value")} AS sum_value
       |FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin

  /** q43's slice, users below this id: the oracle's row count stays
    * constant as sf grows. The filter and the oracle SQL read it. */
  private val MaxUserId = 20L

  /** Running per-user cumulative value + event index over time — the
    * ordered-window face (frame = unbounded preceding), over the
    * `MaxUserId` slice. */
  def runningTotals(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .filter(col("user_id") < MaxUserId)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("idx", row_number().over(byUser).cast("long"))
      .transform(withExactParse("value"))
      .withColumn("cum_value",
        round(sumDec("value").over(byUser.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"), 4))
      .select("user_id", "idx", "event_id", "ts_us", "cum_value")
      .orderBy("user_id", "idx")
  }

  val runningTotalsSql: String =
    s"""SELECT user_id, row_number() OVER w AS idx, event_id,
       |  epoch_us(ts) AS ts_us,
       |  round(sum(value::DECIMAL(28,10)) OVER (PARTITION BY user_id
       |    ORDER BY epoch_us(ts), event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE, 4) AS cum_value
       |FROM events WHERE user_id < $MaxUserId
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |ORDER BY user_id, idx""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery("q40_tumbling_hourly", tumblingHourly, Some(tumblingHourlySql)),
    GQuery("q41_sliding_two_hour", slidingTwoHour, Some(slidingTwoHourSql)),
    GQuery("q42_sessionize", sessionize, Some(sessionizeSql)),
    GQuery("q43_running_totals", runningTotals, Some(runningTotalsSql)))
}
