package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distributed INTERVAL-OVERLAP join — both sides are interval sets
  * and the match is mutual overlap, with NO equi key: promo windows ↔
  * activity bursts, maintenance windows ↔ incident spans, ad
  * exposures ↔ sessions. Completes the temporal-join family next to
  * [[AsofJoin]] (latest-prior point) and [[RangeJoin]] (point inside
  * window): here BOTH sides have extent. Spark plans the naive
  * spelling (`a.s < b.e AND b.s < a.e`) as a broadcast nested loop —
  * quadratic compares.
  *
  * The engine BUCKETIZES like the range join, with the two-sided
  * twist: EACH side explodes to the fixed-width buckets its interval
  * covers (width ≥ the longer interval ⇒ at most two each), candidates
  * share a bucket, and the pair DEDUPLICATES by counting it only in
  * the bucket holding `GREATEST(a.start, b.start)` — the overlap's
  * start, which lies inside BOTH intervals, so both sides exploded to
  * that bucket and exactly one bucket claims the pair. One shuffle per
  * side on the bucket key, matches linear in true overlaps, no
  * nested-loop operator (spec tripwire).
  *
  * Overlap length is exact integer microseconds
  * (`LEAST(ends) − GREATEST(starts)` over half-open intervals),
  * reported in whole seconds. Fixture intervals derive
  * deterministically from the events stream — promo windows are
  * [signup, +10 min), bursts are [purchase − 5 min, purchase + 5 min)
  * — so the DuckDB oracle builds the same sets and runs the NAIVE
  * inequality join (its IEJoin): different algorithm, same relation. */
object IntervalJoin {

  /** Bucket width in microseconds — equals the longest interval
    * (10 minutes), so every interval covers at most two buckets. */
  val BucketUs: Long = 600L * 1000000L

  private def sidesSql(eventsRel: String, micros: String => String): String =
    s"""pa AS (
       |  SELECT event_id AS promo_id, ${micros("ts")} AS s,
       |         ${micros("ts")} + $BucketUs AS e
       |    FROM $eventsRel WHERE event_type = 'signup'
       |),
       |pb AS (
       |  SELECT event_id AS burst_id, ${micros("ts")} - ${BucketUs / 2} AS s,
       |         ${micros("ts")} + ${BucketUs / 2} AS e
       |    FROM $eventsRel WHERE event_type = 'purchase'
       |)""".stripMargin

  private def overlapCtes(paRel: String, pbRel: String, bucketUs: Long): String =
    s"""ax AS (
       |  SELECT promo_id, s, e, b FROM $paRel
       |  LATERAL VIEW explode(array_distinct(
       |    array(s DIV $bucketUs, (e - 1) DIV $bucketUs))) t AS b
       |),
       |bx AS (
       |  SELECT burst_id, s, e, b FROM $pbRel
       |  LATERAL VIEW explode(array_distinct(
       |    array(s DIV $bucketUs, (e - 1) DIV $bucketUs))) t AS b
       |)""".stripMargin

  private def overlapSelect(bucketUs: Long): String =
    s"""SELECT a.promo_id, b.burst_id,
       |       CAST((LEAST(a.e, b.e) - GREATEST(a.s, b.s)) DIV 1000000 AS BIGINT)
       |         AS overlap_sec
       |  FROM ax a JOIN bx b ON b.b = a.b
       | WHERE a.s < b.e AND b.s < a.e
       |   AND GREATEST(a.s, b.s) DIV $bucketUs = a.b
       | ORDER BY promo_id, burst_id""".stripMargin

  /** The bucketized-overlap core over ANY two interval relations
    * `paRel(promo_id, s, e)` / `pbRel(burst_id, s, e)` with interval
    * length ≤ `bucketUs`: per-side bucket expansion + equi-join +
    * exact overlap filter + claim-bucket dedup. */
  def overlapSparkSql(paRel: String, pbRel: String,
                      bucketUs: Long = BucketUs): String =
    s"""WITH ${overlapCtes(paRel, pbRel, bucketUs)}
       |${overlapSelect(bucketUs)}""".stripMargin

  /** Spark (engine) form over the events-derived fixture sides. */
  def sparkSql(eventsRel: String): String =
    s"""WITH ${sidesSql(eventsRel, c => s"unix_micros(CAST($c AS TIMESTAMP))")},
       |${overlapCtes("pa", "pb", BucketUs)}
       |${overlapSelect(BucketUs)}""".stripMargin

  /** DuckDB oracle: the naive inequality join. */
  def duckSql(eventsRel: String = "events"): String =
    s"""WITH ${sidesSql(eventsRel, c => s"epoch_us($c)")}
       |SELECT a.promo_id, b.burst_id,
       |       CAST((LEAST(a.e, b.e) - GREATEST(a.s, b.s)) // 1000000 AS BIGINT)
       |         AS overlap_sec
       |  FROM pa a JOIN pb b ON a.s < b.e AND b.s < a.e
       | ORDER BY promo_id, burst_id""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sparkSql(graft.core.Tables.view(spark, dir, "events", parallelize = false)))
  }
}
