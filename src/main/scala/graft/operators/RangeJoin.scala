package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distributed RANGE join — matching on a pure interval predicate with
  * NO equi key ("events inside the 5-minute window after each signup",
  * promos ↔ sessions, readings ↔ maintenance windows). Spark plans the
  * naive spelling (`e.ts > s.ts AND e.ts <= s.ts + 5m`) as a broadcast
  * nested loop — quadratic compares, the classic range-join trap.
  *
  * The engine BUCKETIZES: both sides key to fixed 5-minute epoch
  * buckets; a window of length == the bucket width spans at most two
  * buckets, so the window side expands to exactly those two bucket
  * keys, the probe side keeps its single bucket, and the match becomes
  * a plain EQUI-join on the bucket followed by the exact interval
  * filter. No row ever meets more than its two buckets' partners —
  * linear in matches, shuffled once on the bucket key, and no
  * nested-loop operator in the plan (PlanSpec asserts that). Each probe
  * row's bucket is unique, so the two-bucket expansion can never
  * double-count a match.
  *
  * Window sums are cents-scaled integer sums (float addition is
  * aggregation-order-dependent across engines). The DuckDB oracle runs
  * the NAIVE inequality join — a different algorithm producing the same
  * relation, which is what makes the hash compare a strong check.
  */
object RangeJoin {

  /** Window length == bucket width, in microseconds (5 minutes). */
  val WindowUs: Long = 300L * 1000000L

  /** Spark (engine) form: two-bucket expansion + equi-join + exact
    * interval filter. */
  def sparkSql(eventsRel: String): String =
    s"""WITH s AS (
       |  SELECT event_id, ts, unix_micros(CAST(ts AS TIMESTAMP)) AS us
       |    FROM $eventsRel WHERE event_type = 'signup'
       |),
       |e AS (
       |  SELECT event_id, value, unix_micros(CAST(ts AS TIMESTAMP)) AS us
       |    FROM $eventsRel
       |),
       |sx AS (
       |  SELECT event_id, ts, us, b FROM (
       |    SELECT *, (us DIV $WindowUs) AS b0 FROM s
       |  ) z LATERAL VIEW explode(array(b0, b0 + 1)) t AS b
       |),
       |eb AS (
       |  SELECT *, (us DIV $WindowUs) AS b FROM e
       |),
       |hits AS (
       |  SELECT sx.event_id,
       |         CAST(ROUND(eb.value * 100) AS BIGINT) AS cents
       |    FROM sx JOIN eb ON eb.b = sx.b
       |   WHERE eb.us > sx.us AND eb.us <= sx.us + $WindowUs
       |),
       |agg AS (
       |  SELECT event_id, COUNT(*) AS burst_ct, SUM(cents) AS burst_cents
       |    FROM hits GROUP BY event_id
       |)
       |SELECT s.event_id, s.ts,
       |       CAST(COALESCE(a.burst_ct, 0) AS BIGINT) AS burst_ct,
       |       CAST(COALESCE(a.burst_cents, 0) AS BIGINT) AS burst_value_cents
       |  FROM s LEFT JOIN agg a ON a.event_id = s.event_id
       | ORDER BY s.event_id""".stripMargin

  /** DuckDB oracle: the naive pure-inequality join. */
  def duckSql(eventsRel: String): String =
    s"""WITH s AS (
       |  SELECT event_id, ts FROM $eventsRel WHERE event_type = 'signup'
       |)
       |SELECT s.event_id, s.ts,
       |       CAST(COUNT(e.event_id) AS BIGINT) AS burst_ct,
       |       CAST(COALESCE(SUM(CAST(ROUND(e.value * 100) AS BIGINT)), 0)
       |            AS BIGINT) AS burst_value_cents
       |  FROM s LEFT JOIN $eventsRel e
       |    ON e.ts > s.ts AND e.ts <= s.ts + INTERVAL 5 MINUTE
       | GROUP BY s.event_id, s.ts
       | ORDER BY s.event_id""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sparkSql(graft.core.Tables.view(spark, dir, "events", parallelize = false)))
  }
}
