package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization over the events table (q28): a
  * lag/cumulative-sum window formulation that `oracleSql` states in the
  * same form for DuckDB.
  */
object Sessionize {

  val GapMinutes = 30
  private val GapMicros = GapMinutes * 60L * 1000000L

  /** Window formulation: session starts where the gap from the previous
    * event of the same user exceeds GapMinutes; session_no is the running
    * count of starts. One shuffle on user_id; both windows share the same
    * partitioning, so Catalyst plans a single sort+exchange.
    */
  def sessionsBatch(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > GapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_no",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        // decimal sum: exact and order-independent, so the rounded penny
        // matches the oracle regardless of accumulation order
        round(sum(col("value").cast("decimal(26,4)")), 2).cast("double").as("total_value"))
  }

  /** Batch view over the testdata events table for the query registry. */
  def query(s: SparkSession, dir: String): DataFrame =
    sessionsBatch(graft.core.Tables.eventsTs(s, dir))
      .orderBy(col("user_id"), col("session_no"))
      .select(col("user_id"), col("session_no"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"), col("total_value"))

  val oracleSql: String =
    s"""WITH d AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
       |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL $GapMinutes MINUTE
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events),
       |s AS (
       |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM d)
       |SELECT user_id, session_no,
       |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       |  count(*) AS n_events,
       |  CAST(round(sum(CAST(value AS DECIMAL(26,4))), 2) AS DOUBLE) AS total_value
       |FROM s
       |GROUP BY user_id, session_no
       |ORDER BY user_id, session_no""".stripMargin
}
