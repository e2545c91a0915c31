package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Classic event-analytics operators over the `events` stream table —
  * the companions of gap sessionization ([[Sessions]]):
  *
  *  - Funnel analysis ([[funnelSql]]): ordered step conversion — a
  *    user counts at step k when their earliest step-k event falls
  *    strictly after their earliest qualifying step-(k−1) event and
  *    within the conversion window. Each step is one per-user MIN
  *    aggregate equi-joined to the previous step's relation: k small
  *    aggregates over the (already user-bucketed) event shuffle, never
  *    a per-user sequence sort.
  *
  *  - Cohort retention ([[retentionSql]]): users grouped by first-seen
  *    week, the classic triangle of "active in week n after their
  *    cohort week". Two per-user rollups and one broadcast-sized join —
  *    cohort×week cells are metadata-sized at any event volume.
  *
  * Percentages round with the integer half-up trick (cross-engine
  * exact); week truncation is ISO-Monday `date_trunc('week', …)` in
  * both engines.
  */
object EventAnalytics {

  /** The funnel's ordered steps over `event_type`. */
  val FunnelSteps: Seq[String] = Seq("signup", "view", "purchase")
  /** Conversion window in days between consecutive steps. */
  val WindowDays = 7

  def funnelSql(table: String, steps: Seq[String] = FunnelSteps,
                windowDays: Int = WindowDays)(d: Dialect): String = {
    val stepCtes = steps.zipWithIndex.map { case (step, i) =>
      if (i == 0)
        s"""s0 AS (
           |  SELECT user_id, MIN(ts) AS t0 FROM $table
           |   WHERE event_type = '$step' GROUP BY user_id
           |)""".stripMargin
      else
        s"""s$i AS (
           |  SELECT e.user_id, MIN(e.ts) AS t$i
           |    FROM $table e
           |    JOIN s${i - 1} p ON p.user_id = e.user_id
           |   WHERE e.event_type = '$step'
           |     AND e.ts > p.t${i - 1}
           |     AND CAST(e.ts AS DATE) <= ${d.dateAddDays(s"p.t${i - 1}", windowDays)}
           |   GROUP BY e.user_id
           |)""".stripMargin
    }
    val unions = steps.zipWithIndex.map { case (step, i) =>
      s"SELECT $i AS step_idx, '$step' AS step, COUNT(*) AS users FROM s$i"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${stepCtes.mkString(",\n")},
       |f AS (
       |  $unions
       |),
       |base AS (SELECT users AS u0 FROM f WHERE step_idx = 0)
       |SELECT CAST(step_idx AS INT) AS step_idx, step,
       |       CAST(users AS BIGINT) AS user_ct,
       |       CAST(${d.intDiv("2 * 10000 * users + u0", "2 * u0")} / 10000.0
       |            AS DOUBLE) AS conversion
       |  FROM f CROSS JOIN base
       | ORDER BY step_idx""".stripMargin
  }

  def runFunnel(spark: SparkSession, dir: String): DataFrame = {
    // shuffle-first plan: the per-user window re-keys every row anyway,
    // so the load-time rebalance exchange would be a second full
    // shuffle of the raw rows for nothing
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(funnelSql(events)(SparkDialect))
  }

  def duckFunnelSql(): String = funnelSql("events")(DuckDialect)

  def retentionSql(table: String)(d: Dialect): String =
    s"""WITH firstw AS (
       |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
       |    FROM $table GROUP BY user_id
       |),
       |activity AS (
       |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
       |    FROM $table
       |),
       |cells AS (
       |  SELECT f.cohort, ${d.dateDiffWeek("f.cohort", "a.w")} AS week_n,
       |         COUNT(*) AS users
       |    FROM activity a JOIN firstw f ON f.user_id = a.user_id
       |   GROUP BY f.cohort, ${d.dateDiffWeek("f.cohort", "a.w")}
       |),
       |base AS (SELECT cohort, users AS u0 FROM cells WHERE week_n = 0)
       |SELECT c.cohort, CAST(c.week_n AS INT) AS week_n,
       |       CAST(c.users AS BIGINT) AS user_ct,
       |       CAST(${d.intDiv("2 * 10000 * c.users + b.u0", "2 * b.u0")} / 10000.0
       |            AS DOUBLE) AS retention
       |  FROM cells c JOIN base b ON b.cohort = c.cohort
       | ORDER BY c.cohort, c.week_n""".stripMargin

  def runRetention(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(retentionSql(events)(SparkDialect))
  }

  def duckRetentionSql(): String = retentionSql("events")(DuckDialect)

  /** Sequence-pattern detection (CEP / MATCH_RECOGNIZE-lite): per user,
    * the first `signup` followed by the first later `purchase`, with a
    * `clean` flag when no `error` event falls strictly between them —
    * the "converted without incident" cohort every funnel analysis
    * drills into next. Three per-user aggregates over the same
    * user-bucketed shuffle (first A, first B-after-A, error-existence
    * between) — never a per-user ordered scan, so a user with millions
    * of events costs three combiner groups, not a sort. */
  def patternSql(table: String)(d: Dialect): String =
    s"""WITH a AS (
       |  SELECT user_id, MIN(ts) AS a_ts FROM $table
       |   WHERE event_type = 'signup' GROUP BY user_id
       |),
       |b AS (
       |  SELECT e.user_id, MIN(e.ts) AS b_ts
       |    FROM $table e JOIN a ON a.user_id = e.user_id
       |   WHERE e.event_type = 'purchase' AND e.ts > a.a_ts
       |   GROUP BY e.user_id
       |),
       |err AS (
       |  SELECT DISTINCT e.user_id
       |    FROM $table e
       |    JOIN a ON a.user_id = e.user_id
       |    JOIN b ON b.user_id = e.user_id
       |   WHERE e.event_type = 'error' AND e.ts > a.a_ts AND e.ts < b.b_ts
       |)
       |SELECT a.user_id,
       |       ${d.fmtTs("a.a_ts")} AS signup_ts,
       |       ${d.fmtTs("b.b_ts")} AS purchase_ts,
       |       CAST(${d.dateDiffMinutes("a.a_ts", "b.b_ts")} AS BIGINT)
       |         AS minutes_to_convert,
       |       CAST(CASE WHEN err.user_id IS NULL THEN 1 ELSE 0 END AS INT)
       |         AS clean
       |  FROM a JOIN b ON b.user_id = a.user_id
       |  LEFT JOIN err ON err.user_id = a.user_id
       | ORDER BY a.user_id""".stripMargin

  def runPattern(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(patternSql(events)(SparkDialect))
  }

  def duckPatternSql(): String = patternSql("events")(DuckDialect)

  /** Event-rate anomaly detection — the volume-band monitor at event
    * grain: hourly counts per event type scored against a trailing
    * 24-hour window (mean ± [[AnomalyZ]]·stddev, warm-up of 12 hours
    * before any verdict). The hour grid is whatever hours actually have
    * events (a fully-silent hour surfaces through the freshness-gap
    * monitors, which own absence; this screen owns rate CHANGE).
    *
    * Scale shape: the raw stream collapses to (event_type, hour) counts
    * in one map-side-combined aggregate — everything after that is
    * window arithmetic over a relation with one row per type-hour,
    * metadata-sized at any event volume, partitioned by type. */
  def rateAnomalySql(table: String, z: Double = AnomalyZ)(d: Dialect): String =
    s"""WITH hc AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS ct
       |    FROM $table
       |   GROUP BY event_type, date_trunc('hour', ts)
       |),
       |w AS (
       |  SELECT event_type, hr, ct,
       |         AVG(CAST(ct AS DOUBLE)) OVER trail AS mu,
       |         STDDEV(CAST(ct AS DOUBLE)) OVER trail AS sd,
       |         COUNT(*) OVER trail AS nwin
       |    FROM hc
       |  WINDOW trail AS (PARTITION BY event_type ORDER BY hr
       |                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
       |)
       |SELECT event_type, ${d.fmtTs("hr")} AS hour_ts,
       |       CAST(ct AS BIGINT) AS event_ct,
       |       CAST(ROUND(mu, 4) AS DOUBLE) AS trail_avg,
       |       CAST(ROUND(sd, 4) AS DOUBLE) AS trail_sd,
       |       CAST(ROUND((ct - mu) / sd, 2) AS DOUBLE) AS z_score,
       |       CASE WHEN ct > mu THEN 'SPIKE' ELSE 'DROP' END AS direction
       |  FROM w
       | WHERE nwin >= 12 AND sd > 0 AND ABS(ct - mu) > $z * sd
       | ORDER BY event_type, hr""".stripMargin

  val AnomalyZ = 3.0

  def runRateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(rateAnomalySql(events)(SparkDialect))
  }

  def duckRateAnomalySql(): String = rateAnomalySql("events")(DuckDialect)

  /** Drill-down for the rate-anomaly screen — the reference's
    * lookup-query pattern (every finding links to the rows behind it,
    * `testgen/common/source_data_service.py` shape) applied to the
    * event grain: for each anomalous (type, hour), the first
    * [[LookupRows]] underlying events by id. The anomaly relation is
    * metadata-sized, so the event join broadcasts it; the per-finding
    * row bound keeps the result a review page, not an export. */
  def lookupRateAnomalySql(table: String, z: Double = AnomalyZ,
                           rows: Int = LookupRows)(d: Dialect): String =
    s"""WITH anom AS (
       |  ${rateAnomalySql(table, z)(d).replace("\n", "\n  ")}
       |),
       |ev AS (
       |  SELECT /*+ BROADCAST(a) */ e.event_id, e.ts, e.user_id,
       |         e.event_type, e.value, a.hour_ts, a.z_score, a.direction,
       |         ROW_NUMBER() OVER (PARTITION BY a.event_type, a.hour_ts
       |                            ORDER BY e.event_id) AS rn
       |    FROM $table e
       |    JOIN anom a
       |      ON a.event_type = e.event_type
       |     AND a.hour_ts = ${d.fmtTs("date_trunc('hour', e.ts)")}
       |)
       |SELECT event_type, hour_ts, z_score, direction,
       |       CAST(rn AS INT) AS rn, CAST(event_id AS BIGINT) AS event_id,
       |       ${d.fmtTs("ts")} AS event_ts,
       |       CAST(user_id AS BIGINT) AS user_id,
       |       CAST(ROUND(value * 100) AS BIGINT) AS value_cents
       |  FROM ev
       | WHERE rn <= $rows
       | ORDER BY event_type, hour_ts, rn""".stripMargin

  val LookupRows = 20

  def runLookupRateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(lookupRateAnomalySql(events)(SparkDialect))
  }

  def duckLookupRateAnomalySql(): String =
    lookupRateAnomalySql("events")(DuckDialect)

  /** Semi-structured property extraction + rollup — the JSON-bag shape
    * every event pipeline carries (`props` here is the tracking
    * payload): pull typed fields out of the JSON string with the
    * engine's native path extractor (`get_json_object` /
    * `json_extract_string` — codegen'd, no UDF), then roll up per
    * event type. Averages divide exact integer sums and monetary
    * values aggregate as exact cents, so no float accumulation order
    * can differ across partitions or engines.
    *
    * Scale shape: extraction is per-row in the scan projection; the
    * rollup is a map-side-combined groupBy on event_type — one
    * shuffle of a types-sized relation. */
  def propsStatsSql(table: String)(d: Dialect): String =
    s"""WITH x AS (
       |  SELECT event_type,
       |         TRY_CAST(${d.jsonExtract("props", "$.k")} AS BIGINT) AS k,
       |         CAST(ROUND(value * 100) AS BIGINT) AS cents
       |    FROM $table
       |)
       |SELECT event_type,
       |       CAST(COUNT(*) AS BIGINT) AS event_ct,
       |       CAST(COUNT(k) AS BIGINT) AS k_present_ct,
       |       CAST(MIN(k) AS BIGINT) AS k_min,
       |       CAST(MAX(k) AS BIGINT) AS k_max,
       |       CAST(ROUND(CAST(SUM(k) AS DOUBLE) / COUNT(k), 4) AS DOUBLE) AS k_avg,
       |       CAST(${d.quantileCont("k", 0.5)} AS DOUBLE) AS k_p50,
       |       CAST(SUM(cents) AS BIGINT) AS value_cents
       |  FROM x
       | GROUP BY event_type
       | ORDER BY event_type""".stripMargin

  def runPropsStats(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(propsStatsSql(graft.core.Tables.view(spark, dir, "events"))(SparkDialect))
  }

  def duckPropsStatsSql(): String = propsStatsSql("events")(DuckDialect)

  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
                               event_type: String)
  /** Epoch-micros of each step reached so far (length = furthest+1). */
  final case class FunnelState(reached: Seq[Long])
  final case class FunnelAdvance(user_id: Long, step_idx: Int, step: String,
                                 ts: java.sql.Timestamp)

  /** Streaming funnel — the keyed-state twin of [[funnelSql]]: per
    * user, a tiny `flatMapGroupsWithState` state machine holding the
    * timestamp each step was reached; an event advances the funnel
    * when it is the NEXT step, strictly after the previous step's
    * commit, inside the window — and each advance emits immediately
    * (the batch SQL only reports after the fact). State is
    * O(steps) longs per active user. Advances commit greedily in
    * event-time order within each micro-batch; cross-batch
    * out-of-order delivery commits to the first qualifying event seen
    * — the standard streaming-CEP trade the replay spec pins against
    * the batch counts on an ordered replay. */
  def streamingFunnel(events: Dataset[FunnelEvent],
                      steps: Seq[String] = FunnelSteps,
                      windowDays: Int = WindowDays): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    // the batch SQL's window is DATE-grain (CAST(ts AS DATE) <=
    // prev_date + windowDays, UTC) — mirror it exactly
    def utcDay(us: Long): Long = Math.floorDiv(us, 86400L * 1000000L)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FunnelEvent],
         state: org.apache.spark.sql.streaming.GroupState[FunnelState]) =>
          var reached = state.getOption.map(_.reached).getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer[FunnelAdvance]()
          for (e <- it.toSeq.sortBy(ev => (ev.ts.getTime, ev.event_type))) {
            val next = reached.length
            if (next < steps.length && e.event_type == steps(next)) {
              val us = e.ts.getTime * 1000
              val ok = next == 0 ||
                (us > reached.last &&
                  utcDay(us) <= utcDay(reached.last) + windowDays)
              if (ok) {
                reached = reached :+ us
                out += FunnelAdvance(user, next, steps(next), e.ts)
              }
            }
          }
          state.update(FunnelState(reached))
          out.iterator
      }
  }

  final case class RateEvent(ts: java.sql.Timestamp, event_type: String)
  /** `ring` = the trailing (up to 24) CLOSED hourly counts, ascending;
    * `open` = counts for hours not yet closed by a later hour. */
  final case class RateState(ring: Seq[(Long, Long)], open: Map[Long, Long])
  final case class RateAlert(event_type: String, hour_ts: String,
                             event_ct: Long, trail_avg: Double,
                             trail_sd: Double, z_score: Double,
                             direction: String)

  /** Streaming twin of [[rateAnomalySql]]: per event type, a keyed
    * state machine holds the current open hourly counts plus a ring of
    * the trailing 24 CLOSED hourly counts — an hour closes when a
    * later hour for the same type is observed, exactly the "next
    * present hour" semantics of the batch window's `ROWS 24 PRECEDING`
    * over present type-hours. A closing hour is scored against the
    * ring (mean ± z·sample-stddev, 12-hour warm-up) and an alert emits
    * immediately; the hour then joins the ring and the ring trims to
    * 24 — state is O(25) longs per type no matter how long the stream
    * runs. Events for hours at or before the last closed hour are
    * late-after-close and are dropped (the batch relation re-reads
    * everything; the replay spec pins the ordered-replay parity). */
  def streamingRateAnomalies(events: Dataset[RateEvent],
                             z: Double = AnomalyZ): Dataset[RateAlert] = {
    import events.sparkSession.implicits._
    def hourOf(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 3600000L)
    def fmtHour(h: Long): String =
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(h * 3600000L))
    def r(x: Double, s: Double) = math.rint(x * s) / s
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[RateEvent],
         state: org.apache.spark.sql.streaming.GroupState[RateState]) =>
          val st = state.getOption.getOrElse(RateState(Seq.empty, Map.empty))
          var open = st.open
          var ring = st.ring
          val lastClosed = ring.lastOption.map(_._1).getOrElse(Long.MinValue)
          for (e <- it) {
            val h = hourOf(e.ts)
            if (h > lastClosed) open += h -> (open.getOrElse(h, 0L) + 1L)
          }
          val out = scala.collection.mutable.ArrayBuffer[RateAlert]()
          if (open.nonEmpty) {
            val maxH = open.keys.max
            for (h <- open.keys.filter(_ < maxH).toSeq.sorted) {
              val ct = open(h)
              if (ring.length >= 12) {
                val mu = ring.map(_._2.toDouble).sum / ring.length
                val sd = math.sqrt(ring.map { case (_, c) =>
                  (c - mu) * (c - mu) }.sum / (ring.length - 1))
                if (sd > 0 && math.abs(ct - mu) > z * sd)
                  out += RateAlert(typ, fmtHour(h), ct, r(mu, 1e4), r(sd, 1e4),
                    r((ct - mu) / sd, 100), if (ct > mu) "SPIKE" else "DROP")
              }
              ring = (ring :+ (h -> ct)).takeRight(24)
              open -= h
            }
          }
          state.update(RateState(ring, open))
          out.iterator
      }
  }

  /** Attribution window: a purchase attributes to the most recent click
    * by the same user at most this many seconds before it (inclusive —
    * a click at the purchase instant counts). */
  val AttributionWindowSec = 3600

  /** Shared side CTEs of the attribution relations: clicks deduped to
    * one row per (user, instant) — greatest event_id wins, the same tie
    * rule as [[graft.operators.AsofJoin]] — and raw purchases with
    * cents-exact revenue. */
  private def attrSides(table: String): String =
    s"""cl AS (
       |  SELECT user_id, ts AS click_ts, event_id AS click_id FROM (
       |    SELECT user_id, ts, event_id,
       |           ROW_NUMBER() OVER (PARTITION BY user_id, ts
       |                              ORDER BY event_id DESC) AS rn
       |      FROM $table WHERE event_type = 'click'
       |  ) d WHERE rn = 1
       |),
       |pu AS (
       |  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       |         CAST(ROUND(value * 100) AS BIGINT) AS revenue_cents
       |    FROM $table WHERE event_type = 'purchase'
       |)""".stripMargin

  private def attrOut(d: Dialect): String = {
    val age = d.intDiv(
      s"(${d.epochMicros("purchase_ts")} - ${d.epochMicros("click_ts")})",
      "1000000")
    s"""SELECT purchase_id, user_id, purchase_ts, revenue_cents,
       |       CASE WHEN attributed THEN click_id END AS click_id,
       |       CASE WHEN attributed THEN CAST($age AS BIGINT) END AS click_age_s,
       |       attributed""".stripMargin
  }

  /** Last-touch click attribution, the engine form: like the AS-OF join
    * it is computed JOIN-FREE — union the deduped clicks (side 0) and
    * the purchases (side 1), hash-partition once on user, and carry the
    * latest click forward with LAST_VALUE IGNORE NULLS; a purchase then
    * checks its carried click against the window bound ROW-LOCALLY
    * (the latest click ≤ ts being stale implies NO click is in
    * [ts-w, ts], so the bound check after the running window is exact).
    * One shuffle, no join operator, linear in events per user — where
    * the naive spelling re-materializes every historical click per
    * purchase. */
  def attributionSql(table: String,
                     windowSec: Int = AttributionWindowSec): String =
    s"""WITH ${attrSides(table)},
       |u AS (
       |  SELECT user_id, click_ts AS uts, 0 AS side,
       |         click_id, click_ts,
       |         CAST(NULL AS BIGINT) AS purchase_id,
       |         CAST(NULL AS BIGINT) AS revenue_cents
       |    FROM cl
       |  UNION ALL
       |  SELECT user_id, purchase_ts, 1,
       |         CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
       |         purchase_id, revenue_cents
       |    FROM pu
       |),
       |w AS (
       |  SELECT user_id, uts, side, purchase_id, revenue_cents,
       |         LAST_VALUE(click_id) IGNORE NULLS OVER att AS click_id,
       |         LAST_VALUE(click_ts) IGNORE NULLS OVER att AS click_ts
       |    FROM u
       |  WINDOW att AS (PARTITION BY user_id ORDER BY uts, side
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |${attrOut(SparkDialect)}
       |  FROM (SELECT purchase_id, user_id, uts AS purchase_ts,
       |               revenue_cents, click_id, click_ts,
       |               click_ts IS NOT NULL AND
       |               ${SparkDialect.epochMicros("click_ts")} >=
       |               ${SparkDialect.epochMicros("uts")} - CAST($windowSec AS BIGINT) * 1000000
       |                 AS attributed
       |          FROM w WHERE side = 1) z""".stripMargin

  /** DuckDB oracle: the naive algorithm — LEFT JOIN every in-window
    * click per purchase, prune to the latest by ROW_NUMBER. A genuinely
    * different plan producing the same relation. */
  def duckAttributionSql(windowSec: Int = AttributionWindowSec): String =
    s"""WITH ${attrSides("events")},
       |cand AS (
       |  SELECT p.purchase_id, p.user_id, p.purchase_ts, p.revenue_cents,
       |         c.click_id, c.click_ts,
       |         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
       |                            ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
       |    FROM pu p
       |    LEFT JOIN cl c
       |      ON c.user_id = p.user_id
       |     AND c.click_ts <= p.purchase_ts
       |     AND ${DuckDialect.epochMicros("c.click_ts")} >=
       |         ${DuckDialect.epochMicros("p.purchase_ts")} - CAST($windowSec AS BIGINT) * 1000000
       |)
       |${attrOut(DuckDialect)}
       |  FROM (SELECT purchase_id, user_id, purchase_ts, revenue_cents,
       |               click_id, click_ts, click_id IS NOT NULL AS attributed
       |          FROM cand WHERE rn = 1) z""".stripMargin

  def runAttribution(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(attributionSql(graft.core.Tables.view(spark, dir, "events", parallelize = false)))
  }

  /** All in-window (purchase, click) candidate pairs — the relation the
    * watermarked stream-stream join emits; the batch anchor of the
    * streaming twin's replay spec. */
  def attributionCandidatesSql(table: String,
                               windowSec: Int = AttributionWindowSec,
                               d: Dialect = SparkDialect): String =
    s"""WITH ${attrSides(table)}
       |SELECT p.purchase_id, c.click_id, p.user_id,
       |       p.purchase_ts, c.click_ts
       |  FROM pu p
       |  JOIN cl c
       |    ON c.user_id = p.user_id
       |   AND c.click_ts <= p.purchase_ts
       |   AND ${d.epochMicros("c.click_ts")} >=
       |       ${d.epochMicros("p.purchase_ts")} - CAST($windowSec AS BIGINT) * 1000000""".stripMargin

  /** Multi-touch (linear) attribution over the candidate pairs: every
    * in-window click of a purchase shares its revenue equally, split in
    * EXACT integer cents by largest remainder — base = cents DIV n per
    * touch, and the `cents % n` leftover cents go one each to the most
    * recent touches (recency order, deterministic ties on click_id) —
    * so per-purchase credits sum EXACTLY to the purchase's cents in
    * both engines, no float division. Two windows over the candidate
    * relation, both partitioned by purchase — the shuffle key is the
    * purchase id, never a corpus-wide sort. */
  def multiTouchSql(table: String,
                    windowSec: Int = AttributionWindowSec)
                   (d: Dialect): String =
    s"""WITH cand AS (
       |  ${attributionCandidatesSql(table, windowSec, d).replace("\n", "\n  ")}
       |),
       |rk AS (
       |  SELECT purchase_id, click_id, user_id, purchase_ts, click_ts,
       |         ROW_NUMBER() OVER (PARTITION BY purchase_id
       |                            ORDER BY click_ts DESC, click_id DESC) AS touch_rank,
       |         COUNT(*) OVER (PARTITION BY purchase_id) AS touch_ct
       |    FROM cand
       |),
       |rev AS (
       |  SELECT event_id AS purchase_id,
       |         CAST(ROUND(value * 100) AS BIGINT) AS revenue_cents
       |    FROM $table WHERE event_type = 'purchase'
       |)
       |SELECT r.purchase_id, r.click_id, r.user_id,
       |       CAST(r.touch_rank AS BIGINT) AS touch_rank,
       |       CAST(r.touch_ct AS BIGINT) AS touch_ct,
       |       CAST(${d.intDiv("v.revenue_cents", "r.touch_ct")}
       |            + CASE WHEN r.touch_rank <= v.revenue_cents % r.touch_ct
       |                   THEN 1 ELSE 0 END AS BIGINT) AS credit_cents
       |  FROM rk r JOIN rev v ON v.purchase_id = r.purchase_id
       | ORDER BY r.purchase_id, touch_rank""".stripMargin

  def runMultiTouch(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(multiTouchSql(events)(SparkDialect))
  }

  def duckMultiTouchSql(): String = multiTouchSql("events")(DuckDialect)

  final case class AttrEvent(event_id: Long, user_id: Long,
                             ts: java.sql.Timestamp, event_type: String)

  /** Streaming twin of the candidate relation: a watermarked
    * STREAM-STREAM time-interval join — the one Structured Streaming
    * join shape with state on BOTH sides. Each side watermarks `ts`;
    * the range condition `click_ts ∈ [purchase_ts - w, purchase_ts]`
    * bounds how long a click must be retained (watermark + w) and how
    * long a purchase can still meet a late click (watermark), so state
    * eviction is automatic and the join is append-legal. The batch
    * anchor dedups clicks to the greatest event_id per (user, instant);
    * a stateful stream-side election would not be append-legal, so the
    * twin instead relies on the fixture invariant that no two clicks
    * share a (user, instant) — the replay spec asserts that invariant
    * on the ingested events. Emits every in-window pair, bit-identical to
    * [[attributionCandidatesSql]] on the ingested prefix; last-touch
    * election stays a batch/serving concern. */
  def streamingAttribution(events: Dataset[AttrEvent],
                           windowSec: Int = AttributionWindowSec): DataFrame = {
    val spark = events.sparkSession
    import org.apache.spark.sql.functions.{col, expr}
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      expr(s"""c_user = p_user AND
              |click_ts <= purchase_ts AND
              |click_ts >= purchase_ts - INTERVAL $windowSec SECONDS""".stripMargin))
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"), col("purchase_ts"), col("click_ts"))
  }
}
