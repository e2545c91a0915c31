package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Monitor machinery — the reference has no streaming runtime; monitors
  * are batch snapshots plus time series over run history (reference:
  * testgen/commands/test_thresholds_prediction.py:83-137,
  * testgen/template/execution/update_history_calc_thresholds.sql:22-51,
  * test_types_Freshness_Trend.yaml / gen_Freshness_Trend.sql).
  *
  * The `events` table stands in for run history: its daily volume
  * series drives the same computations the reference applies to signal
  * history.
  *
  *  - history thresholds: last-N window Min/Max/Avg/Stddev recalc per
  *    signal — the reference's non-PREDICT threshold refresh;
  *  - volume bands: mean ± z·sd tolerance bands over a trailing window
  *    with breach flags — the reference's SARIMAX bands replaced by the
  *    documented fallback (its own three-way SE floor makes the simple
  *    band the dominant term on short histories); a full
  *    Kalman/ARIMA(1,1,1) port is future work behind the same shape;
  *  - freshness fingerprint: MD5 over max-of-key/date columns, the
  *    change-detection signal of Freshness_Trend.
  */
object Monitors {

  /** Daily volume signal per monitored series with trailing-window stats
    * and tolerance bands (z = 2, min 5 observations). The window is
    * PARTITIONed BY series, so at "millions of monitored series" every
    * series' band computation is an independent partition of one shuffle
    * — never a single-partition WindowExec. `valueAgg` is the monitored
    * aggregate ({CUSTOM_QUERY} in the reference's gen_Volume_Trend.sql:20
    * shape); the default is the volume signal COUNT(*). */
  def volumeBandsSql(table: String, lookback: Int = 30,
                     seriesExpr: String = "event_type",
                     tsExpr: String = "ts",
                     valueAgg: String = "COUNT(*)")(d: Dialect): String =
    s"""WITH daily AS (
       |  SELECT $seriesExpr AS series,
       |         CAST(date_trunc('day', $tsExpr) AS DATE) AS day, $valueAgg AS ct
       |    FROM $table GROUP BY 1, 2
       |),
       |w AS (
       |  SELECT series, day, ct,
       |         COUNT(*) OVER win AS n_obs,
       |         AVG(CAST(ct AS DOUBLE)) OVER win AS mean_ct,
       |         STDDEV(CAST(ct AS DOUBLE)) OVER win AS sd_ct,
       |         MIN(ct) OVER win AS min_ct,
       |         MAX(ct) OVER win AS max_ct
       |    FROM daily
       |  WINDOW win AS (PARTITION BY series ORDER BY day
       |                 ROWS BETWEEN $lookback PRECEDING AND 1 PRECEDING)
       |)
       |SELECT series, day, ct, CAST(n_obs AS BIGINT) AS n_obs,
       |       CAST(ROUND(mean_ct, 4) AS DOUBLE) AS mean_ct,
       |       CAST(ROUND(sd_ct, 4) AS DOUBLE) AS sd_ct,
       |       CAST(min_ct AS BIGINT) AS min_ct, CAST(max_ct AS BIGINT) AS max_ct,
       |       CAST(ROUND(mean_ct - 2.0 * sd_ct, 4) AS DOUBLE) AS lower_band,
       |       CAST(ROUND(mean_ct + 2.0 * sd_ct, 4) AS DOUBLE) AS upper_band,
       |       CAST(CASE WHEN n_obs >= 5
       |                  AND (ct < mean_ct - 2.0 * sd_ct OR ct > mean_ct + 2.0 * sd_ct)
       |                 THEN 1 ELSE 0 END AS INT) AS breach
       |  FROM w
       | ORDER BY series, day""".stripMargin

  /** Freshness fingerprint per table: md5 over max id/date — equal
    * fingerprints across runs mean no new data
    * (test_types_Freshness_Trend.yaml MD5({CUSTOM_QUERY})). */
  def freshnessSql(d: Dialect): String = {
    def fp(table: String, idCol: String, tsCol: String) =
      s"""SELECT '$table' AS table_name,
         |  MD5(CAST(MAX($idCol) AS ${d.textType}) || '|' || ${d.fmtTs(s"MAX($tsCol)")}) AS fingerprint,
         |  ${d.fmtTs(s"MAX($tsCol)")} AS latest_update
         |FROM $table""".stripMargin
    Seq(
      fp("events", "event_id", "ts"),
      fp("orders", "o_orderkey", "o_orderdate"),
      fp("lineitem", "l_orderkey", "l_shipdate")
    ).mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }

  /** Trend-forecast tolerance bands: per day, an ordinary-least-squares
    * fit over the trailing `lookback` days predicts the next value; the
    * band is prediction ± z·residual-SE. This is the deterministic,
    * SQL-expressible stand-in for the reference's SARIMAX(1,1,1)
    * threshold prediction (reference:
    * testgen/commands/test_thresholds_prediction.py:263-307,
    * testgen/common/time_series_service.py:20-137 — its three-way SE
    * floor makes the residual term dominate on short histories, which is
    * exactly what the OLS band computes). All sums come from one window
    * pass PARTITIONed BY series; no per-test model fitting loop, so the
    * same plan scales to millions of monitored series — each series is an
    * independent partition of one shuffle. `valueAgg` is the monitored
    * aggregate ({CUSTOM_QUERY} in the reference's Metric_Trend /
    * gen_Volume_Trend.sql:20 shape); default is the volume COUNT(*). */
  def trendForecastSql(table: String, lookback: Int = 30, z: Double = 2.0,
                       seriesExpr: String = "event_type",
                       tsExpr: String = "ts",
                       valueAgg: String = "COUNT(*)")(d: Dialect): String = {
    val xi = s"CAST(${d.dateDiffDay("DATE '2020-01-01'", "day")} AS DOUBLE)"
    s"""WITH daily AS (
       |  SELECT $seriesExpr AS series,
       |         CAST(date_trunc('day', $tsExpr) AS DATE) AS day, $valueAgg AS ct
       |    FROM $table GROUP BY 1, 2
       |),
       |x AS (SELECT series, day, ct, $xi AS xi, CAST(ct AS DOUBLE) AS yi FROM daily),
       |w AS (
       |  SELECT series, day, ct, xi,
       |         CAST(COUNT(*) OVER win AS DOUBLE) AS n,
       |         SUM(xi) OVER win AS sx, SUM(yi) OVER win AS sy,
       |         SUM(xi * yi) OVER win AS sxy, SUM(xi * xi) OVER win AS sxx,
       |         SUM(yi * yi) OVER win AS syy
       |    FROM x
       |  WINDOW win AS (PARTITION BY series ORDER BY day
       |                 ROWS BETWEEN $lookback PRECEDING AND 1 PRECEDING)
       |),
       |fit AS (
       |  SELECT series, day, ct, xi, n, sy, sxy,
       |         (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) AS slope,
       |         sx, sxx, syy
       |    FROM w
       |),
       |pred AS (
       |  SELECT series, day, ct, n, slope,
       |         (sy - slope * sx) / NULLIF(n, 0) AS intercept,
       |         SQRT(GREATEST(syy - ((sy - slope * sx) / NULLIF(n, 0)) * sy - slope * sxy, 0)
       |              / NULLIF(n - 2, 0)) AS se,
       |         xi
       |    FROM fit
       |)
       |SELECT series, day, ct, CAST(n AS BIGINT) AS n_obs,
       |       CAST(ROUND(intercept + slope * xi, 4) AS DOUBLE) AS predicted,
       |       CAST(ROUND(intercept + slope * xi - $z * se, 4) AS DOUBLE) AS lower_band,
       |       CAST(ROUND(intercept + slope * xi + $z * se, 4) AS DOUBLE) AS upper_band,
       |       CAST(CASE WHEN n >= 10 AND se IS NOT NULL
       |                  AND (ct < intercept + slope * xi - $z * se
       |                    OR ct > intercept + slope * xi + $z * se)
       |                 THEN 1 ELSE 0 END AS INT) AS breach
       |  FROM pred
       | ORDER BY series, day""".stripMargin
  }

  /** Metric_Trend: a user-defined custom aggregate per monitored series
    * fed through the same trend-band path (reference:
    * gen_query_tests/gen_Volume_Trend.sql:20 — {CUSTOM_QUERY} is an
    * arbitrary aggregate over the subset). The default monitors the daily
    * SUM of the event `value` measure; the sum is computed in DECIMAL so
    * Spark and the oracle agree bit-for-bit before the double-valued OLS. */
  val MetricAgg = "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"

  def metricTrendSql(table: String, valueAgg: String = MetricAgg)(d: Dialect): String =
    trendForecastSql(table, valueAgg = valueAgg)(d)

  /** Freshness gap thresholds: percentile of inter-update gaps × floor
    * multiplier, plus current staleness — the reference's gap model in
    * its SQL-expressible wall-clock form (reference:
    * testgen/common/freshness_service.py:39-120, minimum 5 gaps). The
    * full business-minute model — weekends, holidays, inactive days,
    * update-window hours subtracted per gap — is [[runSchedule]], which
    * pairs [[Freshness.gapThreshold]] with the inferred schedule. */
  // The unpartitioned LAG below windows over DISTINCT HOURS of a
  // table's history — bounded (~9k rows/year) regardless of data
  // scale, so its single-partition WindowExec is metadata-sized by
  // construction (same adjudication as the gated ≤70-row freq windows).
  def freshnessGapsSql(d: Dialect): String = {
    val runTs = s"TIMESTAMP '${graft.profiling.ProfileMetrics.RunDate} 00:00:00'"
    def one(table: String, tsCol: String) =
      s"""SELECT '$table' AS table_name, gap_ct,
         |       CAST(ROUND(gap_p50, 4) AS DOUBLE) AS gap_p50_min,
         |       CAST(ROUND(gap_p95, 4) AS DOUBLE) AS gap_p95_min,
         |       CASE WHEN gap_ct >= 5 THEN CAST(ROUND(gap_p95 * 1.5, 4) AS DOUBLE) END AS threshold_min,
         |       mins_since_update,
         |       CAST(CASE WHEN gap_ct >= 5 AND mins_since_update > gap_p95 * 1.5
         |                 THEN 1 ELSE 0 END AS INT) AS stale
         |  FROM (
         |    SELECT CAST(COUNT(gap_min) AS BIGINT) AS gap_ct,
         |           ${d.quantileCont("CAST(gap_min AS DOUBLE)", 0.5)} AS gap_p50,
         |           ${d.quantileCont("CAST(gap_min AS DOUBLE)", 0.95)} AS gap_p95,
         |           MIN(mins_since) AS mins_since_update
         |      FROM (
         |        SELECT ${d.dateDiffMinutes(s"LAG(u) OVER (ORDER BY u)", "u")} AS gap_min,
         |               ${d.dateDiffMinutes("u", runTs)} AS mins_since
         |          FROM (SELECT DISTINCT CAST(date_trunc('hour', $tsCol) AS TIMESTAMP) AS u
         |                  FROM $table) ups
         |      ) gaps
         |  ) agg""".stripMargin
    Seq(one("events", "ts"), one("orders", "o_orderdate"),
      one("lineitem", "l_shipdate"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }

  def runTrendForecast(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(trendForecastSql(events)(SparkDialect))
  }

  def runFreshnessGaps(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Tables.registerAll(spark, dir)
    spark.sql(freshnessGapsSql(SparkDialect))
  }

  def runMetricTrend(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(metricTrendSql(events)(SparkDialect))
  }

  def duckTrendForecastSql(): String = trendForecastSql("events")(DuckDialect)
  def duckMetricTrendSql(): String = metricTrendSql("events")(DuckDialect)
  def duckFreshnessGapsSql(): String = freshnessGapsSql(DuckDialect)

  def runVolumeBands(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(volumeBandsSql(events)(SparkDialect))
  }

  def runFreshness(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Tables.registerAll(spark, dir)
    spark.sql(freshnessSql(SparkDialect))
  }

  def duckVolumeBandsSql(): String = volumeBandsSql("events")(DuckDialect)
  def duckFreshnessSql(): String = freshnessSql(DuckDialect)

  // ---- landed signal history -> threshold recalc ---------------------
  // The reference recalculates monitor tolerances from the last N LANDED
  // result signals per test definition (reference:
  // testgen/template/execution/update_history_calc_thresholds.sql:22-51:
  // ROW_NUMBER over test_results by test_time DESC, stats over the
  // lookback window). Here each engine run lands one signal row per
  // monitored series into the [[graft.core.RunStore]]; the recalc ranks
  // the landed history per series and derives Value/Min/Max/Avg/Stddev
  // and the avg ± 2·sd tolerance band — so a SECOND run genuinely
  // tightens bands using the FIRST run's landed signals, not a
  // re-derivation from the raw events.

  /** One signal row per monitored series for a run: the run-time volume
    * measurement, optionally over the state as of `cutoffDays` before
    * the latest event (the deterministic "prior run" used by the query
    * entry, mirroring SchemaDrift's seeded two-run history). `run_ts` is
    * the last update each series had seen at that run — the test_time
    * the PREDICT-mode fit consumes ([[predictThresholdsFrom]]). */
  def signalsSql(rel: String, runId: String, cutoffDays: Option[Int])(d: Dialect): String = {
    val where = cutoffDays.fold("") { k =>
      s"\n WHERE CAST(ts AS DATE) <= ${d.dateAddDays(s"(SELECT MAX(CAST(ts AS DATE)) FROM $rel)", -k)}"
    }
    s"""SELECT event_type AS series, '$runId' AS run_id,
       |       MAX(CAST(ts AS TIMESTAMP)) AS run_ts,
       |       CAST(COUNT(*) AS DOUBLE) AS value
       |  FROM $rel$where
       | GROUP BY event_type""".stripMargin
  }

  /** Threshold recalc over landed signal paths
    * (update_history_calc_thresholds.sql:22-51): per series, rank landed
    * signals most-recent-first, aggregate the lookback window. */
  def historyThresholdsSql(paths: Seq[String], lookback: Int = 30)(d: Dialect): String = {
    val hist = paths.map(p => s"SELECT series, run_id, value FROM ${d.readParquet(p)}")
      .mkString("\nUNION ALL\n")
    s"""WITH hist AS (
       |$hist
       |),
       |ranked AS (
       |  SELECT series, value,
       |         ROW_NUMBER() OVER (PARTITION BY series ORDER BY run_id DESC) AS rn
       |    FROM hist
       |)
       |SELECT series,
       |       CAST(COUNT(*) AS BIGINT) AS n_signals,
       |       CAST(ROUND(MAX(CASE WHEN rn = 1 THEN value END), 4) AS DOUBLE) AS current_value,
       |       CAST(ROUND(MIN(value), 4) AS DOUBLE) AS min_signal,
       |       CAST(ROUND(MAX(value), 4) AS DOUBLE) AS max_signal,
       |       CAST(ROUND(AVG(value), 4) AS DOUBLE) AS avg_signal,
       |       CAST(ROUND(STDDEV(value), 4) AS DOUBLE) AS sd_signal,
       |       CAST(ROUND(AVG(value) - 2.0 * STDDEV(value), 4) AS DOUBLE) AS lower_tolerance,
       |       CAST(ROUND(AVG(value) + 2.0 * STDDEV(value), 4) AS DOUBLE) AS upper_tolerance
       |  FROM ranked
       | WHERE rn <= $lookback
       | GROUP BY series
       | ORDER BY series""".stripMargin
  }

  /** Land this run's signals under `root/runId` (Runner's cross-
    * invocation path). `cutoffDays` measures the state as of that many
    * days before the latest event — the deterministic as-of knob used to
    * exercise genuine multi-run histories in one process. */
  def landSignals(spark: SparkSession, dir: String, root: String,
                  runId: String, cutoffDays: Option[Int] = None): String = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    graft.core.RunStore.land(
      spark.sql(signalsSql(events, runId, cutoffDays)(SparkDialect)),
      root, runId, "monitor_signals")
  }

  /** Thresholds from ALL landed signal runs under `root` (most recent
    * `lookback` per series); None until a run has landed. */
  def thresholdsFromHistory(spark: SparkSession, root: String,
                            lookback: Int = 30): Option[DataFrame] = {
    val runs = graft.core.RunStore.runsWith(root, "monitor_signals")
    if (runs.isEmpty) None
    else Some(spark.sql(historyThresholdsSql(
      runs.map(r => graft.core.RunStore.runPath(root, r, "monitor_signals")),
      lookback)(SparkDialect)))
  }

  /** Query entry: seed a deterministic two-run signal history (run_000 =
    * the state one week before the latest event, run_001 = current),
    * land both, recalc thresholds from the LANDED parquet — the DuckDB
    * oracle reads the same files and recomputes the identical recalc. */
  def runHistoryThresholds(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.RunStore.root
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    val p0 = graft.core.RunStore.land(
      spark.sql(signalsSql(events, "run_000", Some(7))(SparkDialect)),
      root, "run_000", "monitor_signals")
    val p1 = graft.core.RunStore.land(
      spark.sql(signalsSql(events, "run_001", None)(SparkDialect)),
      root, "run_001", "monitor_signals")
    spark.sql(historyThresholdsSql(Seq(p0, p1))(SparkDialect))
  }

  def duckHistoryThresholdsSql(): String = {
    val root = graft.core.RunStore.root
    historyThresholdsSql(Seq(
      graft.core.RunStore.runPath(root, "run_000", "monitor_signals"),
      graft.core.RunStore.runPath(root, "run_001", "monitor_signals")))(DuckDialect)
  }

  final case class UpdateEvent(series: String, ts: Long)
  final case class ScheduleRow(series: String, stage: String, frequency: String,
                               active_days: String, window_start: Option[Double],
                               window_end: Option[Double], confidence: Double,
                               num_events: Int, upper_min: Option[Double],
                               staleness_min: Option[Double])

  /** Schedule inference + gap thresholds per monitored table (see
    * [[Freshness]] for the ported model). Update events are the distinct
    * hour-truncated activity times per series — extracted distributed,
    * then each series' (small) history is fit in its own `mapGroups`
    * task. The inferred schedule feeds BACK into the gap thresholds
    * (get_schedule_params): an active schedule's inactive days become
    * excluded days and a sub-daily schedule's update window excludes
    * off-window hours, and the holiday calendar (resolved per series
    * from `holidayCodes` via [[HolidayCalendar]]) subtracts business
    * holidays — so thresholds are in business minutes, the reference's
    * freshness semantics. */
  /** `tzOffsetsSec` localizes each series before any calendar
    * arithmetic — weekday, holiday-date, update-window and deadline
    * boundaries all shift with the series' timezone, matching the
    * reference's tz-localized exclusion flags
    * (testgen/common/time_series_service.py:56-73: the history index is
    * tz-converted before is_excluded is computed) and the per-suite
    * cron_tz of the PREDICT flow (test_thresholds_prediction.py:80-84). */
  def runSchedule(spark: SparkSession, dir: String,
                  sensitivity: String = "medium",
                  holidayCodes: Seq[String] = Seq("US"),
                  tzOffsetsSec: Map[String, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    graft.core.Tables.registerAll(spark, dir)
    val updates = spark.sql(
      """SELECT 'events' AS series,
        |       CAST(unix_timestamp(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS BIGINT) AS ts
        |  FROM events GROUP BY 1, 2
        |UNION ALL
        |SELECT 'orders', CAST(unix_timestamp(CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)) AS BIGINT)
        |  FROM orders GROUP BY 1, 2
        |UNION ALL
        |SELECT 'lineitem', CAST(unix_timestamp(CAST(date_trunc('day', l_shipdate) AS TIMESTAMP)) AS BIGINT)
        |  FROM lineitem GROUP BY 1, 2""".stripMargin).as[UpdateEvent]
    val sens = sensitivity
    val codes = holidayCodes
    val tzs = tzOffsetsSec
    updates.groupByKey(_.series).mapGroups { (series, it) =>
      val tz = tzs.getOrElse(series, 0L)
      val times = it.map(_.ts).toArray.sorted.toSeq
      val sched = Freshness.inferSchedule(times, tz)
      val params = Freshness.scheduleParams(sched)
      val holidays = HolidayCalendar.dates(codes, HolidayCalendar.yearsOf(times))
      val thr =
        try Some(Freshness.gapThreshold(times, sens,
          excludedDays = params.excludedDays, holidays = holidays,
          windowStart = params.windowStart, windowEnd = params.windowEnd,
          tzOffsetSec = tz))
        catch { case _: Freshness.NotEnoughData => None }
      // daily/weekly ACTIVE schedules: the upper threshold becomes the
      // business minutes to the next schedule deadline (window end +
      // sensitivity buffer on the next active day) — the reference's
      // deadline override (test_thresholds_prediction.py:249-257)
      val deadlineUpper = for {
        s <- sched if s.stage == "active" && s.frequency != "sub_daily"
        t <- thr
        m <- Freshness.minutesToNextDeadline(t.lastUpdateSec, s,
          Freshness.deadlineBufferHours(sens),
          excludedDays = params.excludedDays, holidays = holidays,
          tzOffsetSec = tz)
      } yield m
      def r4(x: Double) = math.rint(x * 10000) / 10000
      ScheduleRow(
        series,
        sched.map(_.stage).getOrElse("training"),
        sched.map(_.frequency).getOrElse("irregular"),
        sched.map(_.activeDays.toSeq.sorted.mkString(",")).getOrElse(""),
        sched.flatMap(s => s.windowStart.map(r4)),
        sched.flatMap(s => s.windowEnd.map(r4)),
        sched.map(s => r4(s.confidence)).getOrElse(0.0),
        sched.map(_.numEvents).getOrElse(times.length),
        deadlineUpper.map(r4).orElse(thr.map(t => r4(t.upper))),
        thr.map(t => r4(t.staleness)))
    }.toDF().orderBy("series")
  }

  /** VALUES oracle for the schedule-inference entry: the model itself is
    * iterative arithmetic (not SQL-expressible), but its output over the
    * fixed gate fixture (sf0.01) is fully deterministic, so the expected
    * rows are frozen as literals and the driver's rows+schema+hash gate
    * all apply. The numbers are cross-validated by FreshnessSpec's
    * hand-computed scenarios of the same ported model (classify /
    * active-days / window / confidence / deadline-upper), not copied
    * blindly: events is a 2-21h sub-daily feed (P10-P90 window), orders/
    * lineitem are daily feeds whose upper threshold is the next-deadline
    * override (window_end 0h + 3h medium buffer ⇒ 27h = 1620 min).
    *
    * PROVENANCE: the underlying gap/exclusion/threshold arithmetic is
    * additionally anchored to the REFERENCE'S OWN published expected
    * values — ReferenceParitySpec transcribes the literal expectations
    * of tests/unit/common/test_time_series_service.py (750-min upper /
    * 510-min staleness basic scenario, the full count_excluded_minutes
    * battery incl. timezones, is_excluded_day) and
    * tests/unit/commands/test_thresholds_prediction.py (z/t tolerance
    * arithmetic) against the same functions that produce these frozen
    * rows. The literals are valid ONLY for the sf0.01 gate fixture with
    * default params (medium sensitivity, US holidays); regenerate via
    * `runMain graft.Verify <sf0.01> <out> monitor_schedule` after any
    * intentional model change. */
  def duckScheduleSql(): String =
    s"""SELECT series, stage, frequency, active_days,
       |       CAST(window_start AS DOUBLE) AS window_start,
       |       CAST(window_end AS DOUBLE) AS window_end,
       |       CAST(confidence AS DOUBLE) AS confidence,
       |       CAST(num_events AS INT) AS num_events,
       |       CAST(upper_min AS DOUBLE) AS upper_min,
       |       CAST(staleness_min AS DOUBLE) AS staleness_min
       |  FROM (VALUES
       |    ('events',   'active', 'sub_daily', '0,1,2,3,4,5,6', 2.0, 21.0, 0.8333,  720,   75.0,   51.0),
       |    ('lineitem', 'active', 'daily',     '0,1,2,3,4,5,6', 0.0,  0.0, 1.0,    2499, 1620.0, 1224.0),
       |    ('orders',   'active', 'daily',     '0,1,2,3,4,5,6', 0.0,  0.0, 1.0,    2399, 1620.0, 1224.0)
       |  ) AS t(series, stage, frequency, active_days, window_start,
       |         window_end, confidence, num_events, upper_min, staleness_min)
       | ORDER BY series""".stripMargin

  /** VALUES oracles for the two iterative-fit entries, same contract as
    * [[duckScheduleSql]]: the Nelder-Mead SARIMAX fit is not
    * SQL-expressible, but it is a pure deterministic function of the
    * fixed gate fixture, so the expected rows are frozen as literals and
    * the full rows+schema+hash gate applies. Cross-validated by
    * TimeSeriesSpec (model parity on constructed series), MonitorsSpec
    * (predict path bit-parity with computeThreshold), and
    * ReferenceParitySpec, which transcribes the reference's own expected
    * tolerance literals (tests/unit/commands/
    * test_thresholds_prediction.py:48-116: mean±z·se by sensitivity,
    * t-widening under 20 points, NaN → none) against the identical
    * thresholdFromForecast arithmetic these rows flow through. */
  def duckSarimaxSql(): String =
    s"""SELECT series, CAST(n_points AS BIGINT) AS n_points,
       |       CAST(forecast_ts AS TIMESTAMP) AS forecast_ts,
       |       CAST(predicted AS DOUBLE) AS predicted, CAST(se AS DOUBLE) AS se,
       |       CAST(lower_tolerance AS DOUBLE) AS lower_tolerance,
       |       CAST(upper_tolerance AS DOUBLE) AS upper_tolerance, sensitivity
       |  FROM (VALUES
       |    ('click',    30, TIMESTAMP '2024-01-31 00:00:00', 67.315,  13.1002, 34.5645, 100.0656, 'medium'),
       |    ('error',    30, TIMESTAMP '2024-01-31 00:00:00', 66.6197, 13.2101, 33.5944,  99.645,  'medium'),
       |    ('purchase', 30, TIMESTAMP '2024-01-31 00:00:00', 77.9074, 12.58,   46.4574, 109.3573, 'medium'),
       |    ('signup',   30, TIMESTAMP '2024-01-31 00:00:00', 63.91,   11.2694, 35.7365,  92.0836, 'medium'),
       |    ('view',     30, TIMESTAMP '2024-01-31 00:00:00', 70.723,   9.2734, 47.5396,  93.9064, 'medium')
       |  ) AS t(series, n_points, forecast_ts, predicted, se,
       |         lower_tolerance, upper_tolerance, sensitivity)
       | ORDER BY series""".stripMargin

  def duckPredictThresholdsSql(): String =
    s"""SELECT series, CAST(n_signals AS INT) AS n_signals, method,
       |       CAST(predicted AS DOUBLE) AS predicted,
       |       CAST(lower_tolerance AS DOUBLE) AS lower_tolerance,
       |       CAST(upper_tolerance AS DOUBLE) AS upper_tolerance, sensitivity
       |  FROM (VALUES
       |    ('click',    30, 'sarimax', 2069.6316, 2026.2427, 2113.0205, 'medium'),
       |    ('error',    30, 'sarimax', 2078.2669, 2038.8254, 2117.7083, 'medium'),
       |    ('purchase', 30, 'sarimax', 2043.4191, 2002.4217, 2084.4164, 'medium'),
       |    ('signup',   30, 'sarimax', 2083.5261, 2043.2415, 2123.8107, 'medium'),
       |    ('view',     30, 'sarimax', 2054.69,   2017.1364, 2092.2435, 'medium')
       |  ) AS t(series, n_signals, method, predicted,
       |         lower_tolerance, upper_tolerance, sensitivity)
       | ORDER BY series""".stripMargin

  /** One monitored signal history: daily event volume per event_type. */
  final case class SeriesPoint(series: String, ts: Long, value: Double)
  final case class SarimaxBand(series: String, n_points: Long,
                               forecast_ts: java.sql.Timestamp,
                               predicted: Double, se: Double,
                               lower_tolerance: Double, upper_tolerance: Double,
                               sensitivity: String)

  // ---- PREDICT-mode: landed signal history -> SARIMAX tolerances -----
  // The reference's actual prediction flow (reference:
  // testgen/commands/test_thresholds_prediction.py:83-137,263-307):
  // fetch the landed historical result signals per test definition,
  // fit SARIMAX per series, write staged tolerance updates. The
  // history-threshold recalc above is the NON-predict refresh; this is
  // the PREDICT band path — it consumes the SAME landed RunStore
  // signals, so a later run's bands genuinely come from earlier runs'
  // landed measurements, never a re-derivation from raw events.

  final case class PredictRow(series: String, n_signals: Int, method: String,
                              predicted: Option[Double],
                              lower_tolerance: Option[Double],
                              upper_tolerance: Option[Double],
                              sensitivity: String)

  /** Fit tolerances for every series in the landed signal paths. Each
    * series' landed history is run-cadence-sized by construction, so the
    * fits run one-per-series inside `mapGroups` — millions of monitored
    * series parallelize across a cluster with no driver-side loop.
    *
    *  - >= MinTrainValues landed signals: the SARIMAX(1,1,1)+exog port
    *    with weekend+holiday exog and the z/t multiplier by sensitivity
    *    (compute_sarimax_threshold); volume tolerances clamp at 0
    *    (test_thresholds_prediction.py:118-123);
    *  - shorter history: the documented stats fallback — the same
    *    avg +/- 2*sd band the non-predict threshold recalc lands
    *    (update_history_calc_thresholds.sql:22-51) — so bands exist from
    *    the second run onward and tighten into model bands as history
    *    accumulates. */
  def predictThresholdsFrom(spark: SparkSession, paths: Seq[String],
                            sensitivity: String = "medium",
                            holidayCodes: Seq[String] = Seq("US"),
                            clampNonNegative: Boolean = true,
                            tzOffsetsSec: Map[String, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    // allowMissingColumns + null-filter: the RunStore history root
    // persists across engine versions, and runs landed by a build that
    // predates the run_ts column would otherwise fail the union (or the
    // select) — those runs carry no usable fit timestamp, so they are
    // skipped rather than crashing the monitor stage on upgrade.
    val hist = paths.map(spark.read.parquet(_))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val histTs =
      if (hist.columns.contains("run_ts")) hist
      else hist.withColumn("run_ts", org.apache.spark.sql.functions.lit(null))
    val series = histTs
      .selectExpr("series",
        "CAST(unix_timestamp(CAST(run_ts AS TIMESTAMP)) AS BIGINT) AS ts",
        "CAST(value AS DOUBLE) AS value")
      // series/value too, not just ts: a legacy run missing either
      // column unions to null under allowMissingColumns, and a null
      // would only surface later as a deserialization crash inside
      // mapGroups (SeriesPoint.value is a primitive Double)
      .where("ts IS NOT NULL AND series IS NOT NULL AND value IS NOT NULL")
      .as[SeriesPoint]
    val sens = sensitivity
    val codes = holidayCodes
    val clamp = clampNonNegative
    val tzs = tzOffsetsSec
    def r4(x: Double) = math.rint(x * 10000) / 10000
    series.groupByKey(_.series).mapGroups { (series, it) =>
      val pts = it.toArray.sortBy(_.ts)
      val ts = pts.map(_.ts).toSeq
      val vals = pts.map(_.value).toSeq
      val n = pts.length
      def clamped(x: Double) = if (clamp) math.max(x, 0.0) else x
      try {
        val holidays = HolidayCalendar.dates(codes, HolidayCalendar.yearsOf(ts))
        val fc = TimeSeries.sarimaxForecast(ts, vals,
          excludeWeekends = true, holidays = holidays,
          tzOffsetSec = tzs.getOrElse(series, 0L))
        val z = TimeSeries.zScore(sens)
        val mult =
          if (n < TimeSeries.TDistributionThreshold)
            TimeSeries.tPpf(TimeSeries.normCdf(z), n - 1)
          else z
        PredictRow(series, n, "sarimax",
          Some(r4(fc.mean(0))),
          Some(r4(clamped(fc.mean(0) - mult * fc.se(0)))),
          Some(r4(clamped(fc.mean(0) + mult * fc.se(0)))), sens)
      } catch {
        case _: TimeSeries.NotEnoughData =>
          if (n >= 2) {
            val mean = vals.sum / n
            val sd = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / (n - 1))
            PredictRow(series, n, "stats_fallback",
              Some(r4(mean)),
              Some(r4(clamped(mean - 2.0 * sd))),
              Some(r4(clamped(mean + 2.0 * sd))), sens)
          } else PredictRow(series, n, "insufficient_history",
            None, None, None, sens)
      }
    }.toDF().orderBy("series")
  }

  /** Deterministic signal-history backfill for the query entry: the
    * signal a daily run on day d would have landed (cumulative volume as
    * of d) for the trailing `days` days, computed in ONE scan via a
    * running sum instead of `days` separate as-of scans. Production runs
    * land one signal each through [[landSignals]]; the backfill exists
    * so the gate exercises a >= MinTrainValues history deterministically. */
  def signalBackfillSql(rel: String, days: Int)(d: Dialect): String =
    s"""WITH daily AS (
       |  SELECT event_type AS series, CAST(ts AS DATE) AS run_day,
       |         COUNT(*) AS ct
       |    FROM $rel GROUP BY 1, 2),
       |cum AS (
       |  SELECT series, run_day,
       |         SUM(ct) OVER (PARTITION BY series ORDER BY run_day) AS cum_ct,
       |         MAX(run_day) OVER (PARTITION BY series) AS mx
       |    FROM daily)
       |SELECT series, ${d.castText("run_day")} AS run_id,
       |       CAST(run_day AS TIMESTAMP) AS run_ts,
       |       CAST(cum_ct AS DOUBLE) AS value
       |  FROM cum
       | WHERE run_day > ${d.dateAddDays("mx", -days)}
       | ORDER BY series, run_day""".stripMargin

  /** Query entry: backfill a deterministic daily signal history, land it
    * in the RunStore, and fit PREDICT-mode tolerances from the LANDED
    * parquet (rows-checked: the iterative fit is not SQL-expressible;
    * MonitorsSpec asserts parity with TimeSeries.computeThreshold and
    * RunHistorySpec drives the genuine multi-run landing path). */
  def runPredictThresholds(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.RunStore.root
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    val p = graft.core.RunStore.land(
      spark.sql(signalBackfillSql(events, 40)(SparkDialect)),
      root, "run_000", "monitor_signal_backfill")
    predictThresholdsFrom(spark, Seq(p))
  }

  /** SARIMAX(1,1,1)+exog tolerance bands per monitored series (see
    * [[TimeSeries]] for the model port). The daily aggregation is
    * distributed; each series' history is then SMALL by construction
    * (run-cadence points), so per-series fitting runs inside a typed
    * `mapGroups` — one task per series, which is exactly how millions of
    * monitored series scale across a cluster, mirroring the reference's
    * per-test pandas loop (reference:
    * testgen/commands/test_thresholds_prediction.py:83-137) without its
    * single-process bound. */
  def runSarimax(spark: SparkSession, dir: String,
                 sensitivity: String = "medium",
                 holidayCodes: Seq[String] = Seq("US"),
                 tzOffsetsSec: Map[String, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    val daily = spark.sql(
      s"""SELECT event_type AS series,
         |       CAST(unix_timestamp(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS BIGINT) AS ts,
         |       CAST(COUNT(*) AS DOUBLE) AS value
         |  FROM ${graft.core.Tables.view(spark, dir, "events", parallelize = false)}
         | GROUP BY 1, 2""".stripMargin).as[SeriesPoint]
    val sens = sensitivity
    val codes = holidayCodes
    val tzs = tzOffsetsSec
    daily.groupByKey(_.series).flatMapGroups { (series, it) =>
      val pts = it.toArray.sortBy(_.ts)
      val ts = pts.map(_.ts).toSeq
      val vals = pts.map(_.value).toSeq
      try {
        // holiday calendar resolved per series over its own year span —
        // the exog flags weekend-or-holiday points exactly like the
        // reference's is_excluded, computed in the series' local tz
        // (time_series_service.py:56-73)
        val holidays = HolidayCalendar.dates(codes, HolidayCalendar.yearsOf(ts))
        val fc = TimeSeries.sarimaxForecast(ts, vals,
          excludeWeekends = true, holidays = holidays,
          tzOffsetSec = tzs.getOrElse(series, 0L))
        val z = TimeSeries.zScore(sens)
        val mult =
          if (pts.length < TimeSeries.TDistributionThreshold)
            TimeSeries.tPpf(TimeSeries.normCdf(z), pts.length - 1)
          else z
        Iterator.single(SarimaxBand(
          series, pts.length.toLong,
          new java.sql.Timestamp(fc.ts.head * 1000L),
          math.rint(fc.mean(0) * 10000) / 10000,
          math.rint(fc.se(0) * 10000) / 10000,
          math.rint((fc.mean(0) - mult * fc.se(0)) * 10000) / 10000,
          math.rint((fc.mean(0) + mult * fc.se(0)) * 10000) / 10000,
          sens))
      } catch {
        case _: TimeSeries.NotEnoughData => Iterator.empty
      }
    }.toDF().orderBy("series")
  }
}
