package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CUSUM changepoint detection over daily event volume — the
  * level-shift detector the engine's monitor family lacks: the trend
  * monitors fit a line and SARIMAX projects seasonality, but a regime
  * CHANGE (deploy doubles traffic on day 40) is classically located by
  * the peak of the cumulative deviation from the global mean. All
  * integer: with D days and total T events, the scaled deviation of
  * day i is D·ct_i − T (sums to zero over the period), and
  * cusum_k = Σ_{i≤k} (D·ct_i − T) — the day where |cusum| peaks is the
  * maximum-likelihood single changepoint (flagged; ties flag each).
  *
  * Scale shape: the corpus-sized work is ONE map-side-combinable
  * GROUP BY day; everything after runs on the daily relation, which is
  * calendar-bounded (a year of 100 TB telemetry is still 365 rows) —
  * its ordered window is metadata-sized by construction, the same
  * adjudication as the monitor family's run-history windows. */
object Changepoint {

  def sql(table: String): String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS ct
       |    FROM $table GROUP BY 1
       |),
       |tot AS (SELECT COUNT(*) AS d, SUM(ct) AS t FROM daily),
       |cu AS (
       |  SELECT day, ct,
       |         SUM(tot.d * ct - tot.t) OVER (ORDER BY day) AS cusum
       |    FROM daily CROSS JOIN tot
       |)
       |SELECT day, CAST(ct AS BIGINT) AS event_ct,
       |       CAST(cusum AS BIGINT) AS cusum_scaled,
       |       ABS(cusum) = (SELECT MAX(ABS(cusum)) FROM cu) AS is_changepoint
       |  FROM cu
       | ORDER BY day""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "events", parallelize = false)))
  }

  def duckSql(): String = sql("events")
}
