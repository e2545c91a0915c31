package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, max, min, round, session_window, sum}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Event sessionization — the gap-based session assignment every
  * behavioral/event pipeline runs (and the canonical demonstration of
  * Spark's session windows): consecutive events of a user belong to one
  * session until a gap of `GapMinutes` or more splits them.
  *
  * Batch form: the classic two-window SQL — a LAG marks session starts,
  * a running SUM of the start flags numbers the sessions — both windows
  * partitioned by user (every user an independent partition at scale,
  * no global sort), then one group-by rolls sessions up. The value sum
  * aggregates exact cents (scaled BIGINT) because a floating SUM's
  * partial order differs between engines.
  *
  * Streaming form ([[streamingSessions]]): the SAME semantics as
  * Spark's native `session_window` with a watermark — gap-merged
  * windows. session_window merges an event that lands EXACTLY at the
  * gap bound (split only when the gap strictly exceeds it), so the
  * batch rule compares epoch MICROSECONDS `> gap` — whole-minute diffs
  * would floor away sub-minute gaps and split exactly-at-bound events
  * — and the replay spec anchors the streaming output to the
  * oracle-checked batch relation row for row, including the
  * at-the-bound merge case.
  */
object Sessions {

  val GapMinutes = 30

  def sql(table: String, gapMinutes: Int = GapMinutes)(d: Dialect): String = {
    val gapUs =
      s"${d.epochMicros("ts")} - ${d.epochMicros("LAG(ts) OVER w")}"
    s"""WITH g AS (
       |  SELECT user_id, event_id, ts, value,
       |         CASE WHEN LAG(ts) OVER w IS NULL
       |                OR $gapUs > ${gapMinutes * 60L * 1000000L}
       |              THEN 1 ELSE 0 END AS is_start
       |    FROM $table
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |),
       |s AS (
       |  SELECT user_id, ts, value,
       |         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                             ROWS UNBOUNDED PRECEDING) AS session_idx
       |    FROM g
       |)
       |SELECT user_id, CAST(session_idx AS INT) AS session_idx,
       |       ${d.fmtTs("MIN(ts)")} AS session_start,
       |       ${d.fmtTs("MAX(ts)")} AS session_end,
       |       CAST(COUNT(*) AS BIGINT) AS event_ct,
       |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       |       CAST(${d.dateDiffMinutes("MIN(ts)", "MAX(ts)")} AS BIGINT) AS duration_min
       |  FROM s
       | GROUP BY user_id, session_idx
       | ORDER BY user_id, session_idx""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "events", parallelize = false))(SparkDialect))
  }

  def duckSql(): String = sql("events")(DuckDialect)

  /** Structured-Streaming sessionization: native gap session windows.
    * With a watermark the state store evicts a user's session
    * `GapMinutes` past the watermark — bounded keyed state at any event
    * rate; output mode "update"/"append" per the sink's needs. On a
    * static frame (the replay spec) it computes the same gap-merged
    * sessions as the batch SQL. */
  def streamingSessions(events: DataFrame,
                        watermark: Option[String] = Some("1 hour"),
                        gapMinutes: Int = GapMinutes): DataFrame = {
    val wm = watermark.fold(events)(w => events.withWatermark("ts", w))
    wm.groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count("*").as("event_ct"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("event_ct"), col("value_cents"))
  }
}
