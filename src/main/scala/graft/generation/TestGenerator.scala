package graft.generation

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.inference.{FunctionalType, HygieneScreens}
import graft.oracle.{Dialect, DuckDialect, SparkDialect}
import graft.profiling.ProfileMetrics

/** Profile-driven test generation — the reference's selection-criteria
  * pass (reference: testgen/template/generation/gen_selection_tests.sql:
  * 22-64; criteria + default parms from each
  * testgen/template/dbsetup_test_types YAML's `selection_criteria` /
  * `default_parm_values`).
  *
  * Includes the functional TABLE type classifier (reference:
  * testgen/template/profiling/functional_tabletype_stage.sql:20-60):
  * `{cumulative|window}-{summary|transaction|entity|bridge|domain}` from
  * column-type composition plus the LAG-based record-count monotonicity
  * check over run history: a table whose record count ever DECREASES
  * between consecutive runs is `window`, otherwise `cumulative`
  * (functional_tabletype_stage.sql:20-35).
  *
  * Output: one generated test definition per row, numeric baselines in
  * typed DOUBLE columns, string baselines (LOV lists, dates, regexes) in
  * `baseline_value`.
  */
object TestGenerator {
  private val runDate = ProfileMetrics.RunDate

  private def like(x: String, pat: String) = s"LOWER($x) LIKE '$pat'"
  private val fdt = "functional_data_type"
  private val ftt = "functional_table_type"

  /** Multi-run record-count history: each profiling run observed the
    * table at a different point in its own timeline. Time-bearing fact
    * tables replay genuinely different counts per run — `orders` /
    * `lineitem` as cumulative to-date counts at four month-spaced
    * cutoffs, `events` as a rolling 7-day window at four week-spaced run
    * dates (a feed loaded as a trailing window, whose count fluctuates
    * and therefore classifies `window`); dimension tables are constant.
    * One scan per table computes all four runs' counts (conditional
    * aggregation), then the 1-row aggregates unpivot to
    * (table_name, run_idx, record_ct) — the Spark shape of the
    * reference's `profiling_runs` history
    * (functional_tabletype_stage.sql:20-27). Emitted as two CTEs,
    * `histwide` and `hist`. */
  def runHistorySql: String = {
    val orderCuts = Seq("2001-05-01", "2001-06-01", "2001-07-01", "2001-08-02")
    val eventRuns = Seq("2024-01-10", "2024-01-17", "2024-01-24", "2024-01-31")
    def cumulative(table: String, dateCol: String) = {
      val cts = orderCuts.zipWithIndex.map { case (c, i) =>
        s"SUM(CASE WHEN $dateCol <= DATE '$c' THEN 1 ELSE 0 END) AS ct$i"
      }.mkString(", ")
      s"SELECT '$table' AS table_name, $cts FROM $table"
    }
    def window(table: String, tsCol: String) = {
      val cts = eventRuns.zipWithIndex.map { case (r, i) =>
        s"""SUM(CASE WHEN $tsCol > TIMESTAMP '$r 00:00:00' - INTERVAL 7 DAY
           | AND $tsCol <= TIMESTAMP '$r 00:00:00' THEN 1 ELSE 0 END) AS ct$i""".stripMargin
      }.mkString(", ")
      s"SELECT '$table' AS table_name, $cts FROM $table"
    }
    def static(table: String) = {
      val cts = (0 until 4).map(i => s"COUNT(*) AS ct$i").mkString(", ")
      s"SELECT '$table' AS table_name, $cts FROM $table"
    }
    val perTable = Seq(
      cumulative("orders", "o_orderdate"),
      cumulative("lineitem", "l_shipdate"),
      window("events", "ts")) ++
      Seq("region", "nation", "customer", "supplier", "part",
        "documents", "embeddings").map(static)
    val wide = perTable.mkString("\n  UNION ALL\n  ")
    val unpivot = (0 until 4)
      .map(i => s"SELECT table_name, $i AS run_idx, ct$i AS record_ct FROM histwide")
      .mkString("\n  UNION ALL\n  ")
    s"""histwide AS (
       |  $wide
       |),
       |hist AS (
       |  $unpivot
       |)""".stripMargin
  }

  /** functional_tabletype_stage.sql:29-60 over the enriched profile,
    * joined to the run-history period classification (:20-35). */
  def tableTypeSql: String = {
    def ct(cond: String) = s"COUNT(CASE WHEN $cond THEN 1 END)"
    s"""SELECT e.table_name,
       |  p.table_period || '-' ||
       |  CASE WHEN ${ct(s"LOWER($fdt) LIKE 'id%' OR $fdt = 'Category'")} > 0
       |        AND ((${ct(s"LOWER($fdt) LIKE 'period%'")} > 0 AND ${ct(s"LOWER($fdt) LIKE 'measure%'")} > 0)
       |          OR CAST(${ct(s"LOWER($fdt) LIKE 'measure%'")} AS DOUBLE)
       |             / NULLIF(${ct(s"$fdt <> 'Constant'")}, 0) > 0.4)
       |       THEN 'summary'
       |       WHEN ${ct(s"LOWER($fdt) LIKE 'measure%'")} > 0
       |        AND ${ct(s"LOWER($fdt) LIKE '%transactional date%'")} > 0 THEN 'transaction'
       |       WHEN ${ct(s"$fdt IN ('Entity Name', 'Person Last Name', 'Person Given Name', 'Person Full Name')")} > 0
       |        AND ${ct(s"$fdt IN ('Address', 'City', 'State')")} > 1 THEN 'entity'
       |       WHEN ${ct(s"$fdt IN ('ID-Unique', 'ID-Unique-SK', 'ID-Secondary')")} > 1
       |        AND ${ct(s"$fdt IN ('Attribute', 'Description')")} <= 1
       |        AND ${ct(s"LOWER($fdt) LIKE 'measure%'")} <= 1 THEN 'bridge'
       |       ELSE 'domain' END AS $ftt
       |  FROM enr e JOIN period p ON e.table_name = p.table_name
       | GROUP BY e.table_name, p.table_period""".stripMargin
  }

  /** The run-history CTEs feeding [[tableTypeSql]]: LAG over consecutive
    * runs' record counts per table; any decrease ⇒ `window`
    * (functional_tabletype_stage.sql:20-35; a NULL prev on the first run
    * contributes 0 decreases, as in the reference). */
  def periodCtes: String =
    s"""$runHistorySql,
       |lagged AS (
       |  SELECT table_name, record_ct,
       |         LAG(record_ct) OVER (PARTITION BY table_name ORDER BY run_idx) AS prev_ct
       |    FROM hist
       |),
       |period AS (
       |  SELECT table_name,
       |         CASE WHEN SUM(CASE WHEN record_ct - prev_ct < 0 THEN 1 ELSE 0 END) = 0
       |              THEN 'cumulative' ELSE 'window' END AS table_period
       |    FROM lagged GROUP BY table_name
       |)""".stripMargin

  final case class Gen(testType: String, criteria: Dialect => String,
                       threshold: Dialect => String,
                       baselineStr: Dialect => String = _ => "NULL",
                       nums: Map[String, Dialect => String] = Map.empty)

  private val numCols =
    Seq("baseline_ct", "baseline_value_ct", "baseline_sum",
      "baseline_avg", "baseline_sd", "baseline_unique_ct", "baseline_value_num")

  private def dd(x: String) = s"CAST($x AS DOUBLE)"
  private def n(expr: String): Dialect => String = _ => expr
  private val mnd = "CAST(min_date AS TIMESTAMP)"
  private val mxd = "CAST(max_date AS TIMESTAMP)"
  private val latlon: Dialect => String = _ =>
    s"NOT ${like("column_name", "%latitude%")} AND NOT ${like("column_name", "%longitude%")}"

  /** fn_charcount(top_patterns, ' | ') = 1 → exactly one pattern entry. */
  private val onePattern =
    "(LENGTH(top_patterns) - LENGTH(REPLACE(top_patterns, ' | ', ''))) / 3 = 1"

  val generators: Seq[Gen] = Seq(
    Gen("Alpha_Trunc",
      d => s"""general_type = 'A' AND max_length > 0
        | AND ((min_length = avg_length AND max_length = avg_length) OR (numeric_ct <> value_ct))
        | AND $ftt NOT LIKE '%window%'
        | AND ((distinct_value_ct NOT BETWEEN 2 AND 10 AND $fdt NOT IN ('Constant', 'Boolean'))
        |  AND NOT ($onePattern AND ${d.nullGuard("top_patterns",
             "REPLACE(SPLIT_PART(top_patterns, '|', 2), 'N', '') > ''")}))""".stripMargin,
      n("FLOOR(0.95 * CAST(max_length AS DOUBLE))")),
    Gen("Avg_Shift",
      d => s"""general_type = 'N' AND distinct_value_ct > 10 AND ${like(fdt, "measure%")}
        | AND $fdt <> 'Measurement Spike' AND ${latlon(d)}""".stripMargin,
      n("0.5"),
      nums = Map("baseline_value_ct" -> n(dd("value_ct")),
        "baseline_avg" -> n("avg_value"), "baseline_sd" -> n("stdev_value"))),
    Gen("Daily_Record_Ct",
      d => s"""general_type = 'D' AND date_days_present > 21
        | AND date_days_present - (${d.dateDiffDay(mnd, mxd)} + 1) = 0
        | AND ${dd("future_date_ct")} / NULLIF(value_ct, 0) <= 0.75""".stripMargin,
      n("0")),
    Gen("Dec_Trunc",
      _ => s"fractional_sum > 0 AND $ftt LIKE '%cumulative%'",
      n("ROUND(fractional_sum, 0)")),
    Gen("Distinct_Date_Ct",
      _ => s"${like(fdt, "transactional date%")} AND date_days_present > 1 AND ${like(ftt, "%cumulative%")}",
      n(dd("date_days_present")),
      nums = Map("baseline_value_num" -> n(dd("date_days_present")))),
    Gen("Distinct_Value_Ct",
      _ => s"""distinct_value_ct BETWEEN 2 AND 10 AND value_ct > 50
        | AND $fdt IN ('Code', 'Category', 'Attribute', 'Description')
        | AND NOT COALESCE(top_freq_values, '') > ''""".stripMargin,
      n(dd("distinct_value_ct")),
      nums = Map("baseline_value_ct" -> n(dd("distinct_value_ct")))),
    Gen("Email_Format", _ => "std_pattern_match = 'EMAIL'", n("0")),
    Gen("Future_Date", _ => "general_type = 'D' AND future_date_ct = 0", n("0")),
    Gen("Future_Date_1Y",
      d => s"general_type = 'D' AND future_date_ct > 0 AND $mxd <= ${d.dateAddDays(s"DATE '$runDate'", 365)}",
      n("0")),
    Gen("Incr_Avg_Shift",
      d => s"""general_type = 'N' AND distinct_value_ct > 10 AND ${like(fdt, "measure%")}
        | AND $fdt <> 'Measurement Spike' AND ${latlon(d)}""".stripMargin,
      n("2"),
      nums = Map("baseline_value_ct" -> n(dd("value_ct")),
        "baseline_sum" -> n("CAST(avg_value * value_ct AS DOUBLE)"),
        "baseline_avg" -> n("avg_value"), "baseline_sd" -> n("stdev_value"))),
    Gen("LOV_Match",
      _ => s"""$fdt IN ('Boolean', 'Code', 'Category') AND top_freq_values > ''
        | AND distinct_value_ct BETWEEN 2 AND 10 AND value_ct > 5""".stripMargin,
      n("0"), baselineStr = d => lovList(d)),
    Gen("Min_Date",
      _ => s"general_type = 'D' AND min_date IS NOT NULL AND distinct_value_ct > 1",
      n("0"), baselineStr = _ => "min_date"),
    Gen("Min_Val",
      _ => s"""general_type = 'N' AND ${like(fdt, "measure%")} AND min_value IS NOT NULL
        | AND (distinct_value_ct >= 2 OR (distinct_value_ct = 2 AND min_value <> 0 AND max_value <> 1))""".stripMargin,
      n("0"), nums = Map("baseline_value_num" -> n("min_value"))),
    Gen("Missing_Pct", _ => "record_ct <> value_ct", n("2"),
      nums = Map("baseline_ct" -> n(dd("record_ct")),
        "baseline_value_ct" -> n(dd("value_ct")))),
    Gen("Monthly_Rec_Ct",
      d => s"""${like(fdt, "transactional date%")} AND date_days_present > 1
        | AND ${like(ftt, "%cumulative%")} AND date_months_present > 2
        | AND date_months_present - (${d.dateDiffMonth(mnd, mxd)} + 1) = 0
        | AND ${dd("future_date_ct")} / NULLIF(value_ct, 0) <= 0.75""".stripMargin,
      n("0")),
    Gen("Outlier_Pct_Above", d => outlierCrit(d), n("0.05"),
      nums = Map("baseline_avg" -> n("avg_value"), "baseline_sd" -> n("stdev_value"))),
    Gen("Outlier_Pct_Below", d => outlierCrit(d), n("0.05"),
      nums = Map("baseline_avg" -> n("avg_value"), "baseline_sd" -> n("stdev_value"))),
    Gen("Pattern_Match",
      _ => s"""($fdt IN ('Attribute', 'DateTime Stamp', 'Phone')
        |  OR ${like(fdt, "id%")} OR ${like(fdt, "period%")})
        | AND $onePattern
        | AND REPLACE(SPLIT_PART(top_patterns, '|', 2), 'N', '') > ''
        | AND distinct_value_ct > 10""".stripMargin,
      n("0"), baselineStr = d => patternRegex(d)),
    Gen("Recency",
      d => s"""general_type = 'D' AND $mxd <= DATE '$runDate'
        | AND column_name NOT IN ('filedate', 'file_date')
        | AND $fdt NOT IN ('Future Date', 'Schedule Date')
        | AND ${d.dateDiffDay(mxd, s"DATE '$runDate'")} <= 62""".stripMargin,
      d => {
        val dif = d.dateDiffDay(mxd, s"DATE '$runDate'")
        s"""CASE WHEN $dif <= 3 THEN $dif + 3
           |     WHEN $dif <= 7 THEN $dif + 7
           |     WHEN $dif <= 31 THEN CEILING(${dd(dif)} / 7.0) * 7
           |     WHEN $dif > 31 THEN CEILING(${dd(dif)} / 30.0) * 30 END""".stripMargin
      }),
    Gen("Required", _ => "record_ct = value_ct AND record_ct > 10", n("0")),
    Gen("Street_Addr_Pattern",
      _ => s"""std_pattern_match = 'STREET_ADDR' AND avg_length <> ROUND(avg_length)
        | AND avg_embedded_spaces BETWEEN 2 AND 6 AND avg_length < 35""".stripMargin,
      n("75")),
    Gen("US_State",
      _ => s"general_type = 'A' AND ${like("column_name", "%state%")} AND distinct_value_ct < 70 AND max_length = 2",
      n("0")),
    Gen("Unique",
      _ => "record_ct > 500 AND record_ct = distinct_value_ct AND value_ct > 0",
      n("0")),
    Gen("Unique_Pct",
      _ => s"distinct_value_ct > 10 AND NOT ${like(fdt, "measurement%")}",
      n("0.5"),
      nums = Map("baseline_value_ct" -> n(dd("value_ct")),
        "baseline_unique_ct" -> n(dd("distinct_value_ct")))),
    Gen("Valid_Characters", _ => "general_type = 'A'", n("0")),
    Gen("Valid_Month", _ => s"$fdt = 'Period Month'", n("0"),
      baselineStr = _ => validMonthList),
    Gen("Valid_US_Zip", _ => s"$fdt = 'Zip'", n("0")),
    Gen("Variability_Decrease", d => variabilityCrit(d), n("80"),
      nums = Map("baseline_sd" -> n("stdev_value"))),
    Gen("Variability_Increase", d => variabilityCrit(d), n("120"),
      nums = Map("baseline_sd" -> n("stdev_value")))
  )

  private def outlierCrit(d: Dialect) =
    s"""$fdt = 'Measurement' AND distinct_value_ct > 30
       | AND NOT distinct_value_ct = max_value - min_value + 1
       | AND ${dd("distinct_value_ct")} / value_ct > 0.1
       | AND ${dd("stdev_value")} / avg_value > 0.01 AND ${latlon(d)}""".stripMargin

  private def variabilityCrit(d: Dialect) =
    s"""general_type = 'N' AND ${like(fdt, "measure%")} AND $fdt <> 'Measurement Spike'
       | AND ${latlon(d)} AND value_ct <> distinct_value_ct AND distinct_value_ct > 10
       | AND stdev_value > 0 AND avg_value IS NOT NULL
       | AND NOT (distinct_value_ct = max_value - min_value + 1)""".stripMargin

  /** LOV_Match baseline: quoted, comma-separated top-7 frequent values
    * (test_types_LOV_Match.yaml default_parm_values). */
  private def lovList(d: Dialect): String = {
    val parts = (1 to 7).map { i =>
      val line = s"SPLIT_PART(top_freq_values, CHR(10), $i)"
      val value = d.trimChars(s"REPLACE(SPLIT_PART($line, ' | ', 1), '''', '''''')", "| ")
      s"CASE WHEN $line > '' THEN ',''' || $value || '''' ELSE '' END"
    }
    s"'(' || SUBSTRING(${parts.mkString(" || ")}, 2) || ')'"
  }

  /** Pattern_Match baseline: generalize the dominant pattern to a regex
    * (test_types_Pattern_Match.yaml default_parm_values). */
  private def patternRegex(d: Dialect): String = {
    val escaped = d.regexpReplaceRef("SPLIT_PART(top_patterns, ' | ', 2)",
      """([*+\-%_])""", "[", "]")
    s"TRIM(REPLACE(REPLACE(REPLACE($escaped, 'A', '[A-Z]'), 'N', '[0-9]'), 'a', '[a-z]'))"
  }

  /** Valid_Month baseline (test_types_Valid_Month.yaml). initcap(x)=x is
    * approximated as first-upper-rest-lower on both engines. */
  private val validMonthList: String = {
    def lst(vals: Seq[String]) = "'" + vals.map(v => s"''$v''").mkString(",") + "'"
    val longM = Seq("January", "February", "March", "April", "May", "June", "July",
      "August", "September", "October", "November", "December")
    val shortM = longM.map(_.take(3))
    s"""CASE WHEN max_length > 3 AND min_text = UPPER(LEFT(min_text, 1)) || LOWER(SUBSTRING(min_text, 2)) THEN ${lst(longM)}
       |     WHEN max_length > 3 AND UPPER(min_text) = min_text THEN ${lst(longM.map(_.toUpperCase))}
       |     WHEN max_length > 3 AND LOWER(min_text) = min_text THEN ${lst(longM.map(_.toLowerCase))}
       |     WHEN max_length = 3 AND min_text = UPPER(LEFT(min_text, 1)) || LOWER(SUBSTRING(min_text, 2)) THEN ${lst(shortM)}
       |     WHEN max_length = 3 AND UPPER(min_text) = min_text THEN ${lst(shortM.map(_.toUpperCase))}
       |     WHEN max_length = 3 AND LOWER(min_text) = min_text THEN ${lst(shortM.map(_.toLowerCase))}
       |     WHEN max_length = 2 AND min_text = '01' THEN ${lst((1 to 12).map(i => f"$i%02d"))}
       |     WHEN max_length = 2 AND min_text = '1' THEN ${lst((1 to 12).map(_.toString))}
       |     WHEN min_value = 1 THEN '1,2,3,4,5,6,7,8,9,10,11,12'
       |     ELSE 'NULL' END""".stripMargin
  }

  /** Fused generation query over an enriched-profile relation.
    *
    * `ttRel`: when set, the functional-table-type relation is read from
    * that (pre-materialized, 10-row) view instead of being recomputed
    * inline. Spark inlines CTEs, so without this every one of the 28
    * UNION ALL branches would re-execute the whole run-history subtree —
    * a scan of every raw table per branch. The DuckDB oracle keeps the
    * inline form: its `cteMaterialized` runs the subtree once. */
  def sql(rel: String, ttRel: Option[String] = None)(d: Dialect): String = {
    val branches = generators.map { g =>
      val numExprs = numCols.map { c =>
        val e = g.nums.get(c).map(_(d)).getOrElse("NULL")
        s"CAST(ROUND($e, 4) AS DOUBLE) AS $c"
      }
      val bs = g.baselineStr(d)
      s"""SELECT '${g.testType}' AS test_type, table_name, column_name,
         |  CAST(ROUND(${g.threshold(d)}, 4) AS DOUBLE) AS threshold_value,
         |  CAST($bs AS ${d.textType}) AS baseline_value,
         |  ${numExprs.mkString(",\n  ")}
         |  FROM p WHERE ${g.criteria(d)}""".stripMargin
    }
    val ttCtes = ttRel match {
      case Some(v) => s"tt AS (SELECT * FROM $v)"
      case None    => s"$periodCtes,\ntt AS (${tableTypeSql})"
    }
    s"""WITH enr AS ${d.cteMaterialized}(SELECT * FROM $rel),
       |$ttCtes,
       |p AS ${d.cteMaterialized}(SELECT e.*, t.$ftt FROM enr e JOIN tt t ON e.table_name = t.table_name)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY test_type, table_name, column_name""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame =
    spark.sql(sql(HygieneScreens.enrichedView(spark, dir),
      Some(tableTypeView(spark, dir)))(SparkDialect))

  def duckSql(): String =
    sql(s"(${HygieneScreens.enrichSql(FunctionalType.duckProfileAllRel())(DuckDialect)})")(DuckDialect)

  /** Functional table type as a standalone relation over the multi-run
    * record-count history (reference
    * functional_tabletype_stage.sql:20-60). */
  private def tableTypeQuery(rel: String)(d: Dialect): String =
    s"""WITH enr AS ${d.cteMaterialized}(SELECT * FROM $rel),
       |$periodCtes,
       |tt AS (${tableTypeSql})
       |SELECT * FROM tt ORDER BY table_name""".stripMargin

  /** The 10-row (table_name, functional_table_type) relation, computed
    * ONCE per (session, dir) — one scan of each raw table for the
    * record-count history — then collected to a local temp view that the
    * generation branches join for free. The reference's
    * functional_tabletype_stage runs once per profiling run, not once per
    * generated test type.
    *
    * Invariant (shared with enrichedView/registerProfileAll): the tables
    * under `dir` are immutable for the session's lifetime — a profiling
    * session reads one landed snapshot, mirroring the reference's
    * per-run staging tables. A process that lands NEW snapshots mid-
    * session must start a new session (or new dir) to see them. */
  def tableTypeView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "tabletype", dir, graft.core.Materialize.Local()) {
      graft.core.Tables.registerAll(spark, dir) // runHistorySql scans the raw tables
      spark.sql(tableTypeQuery(HygieneScreens.enrichedView(spark, dir))(SparkDialect))
    }

  def runTableType(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT * FROM ${tableTypeView(spark, dir)} ORDER BY table_name")

  def duckTableTypeSql(): String =
    tableTypeQuery(
      s"(${HygieneScreens.enrichSql(FunctionalType.duckProfileAllRel())(DuckDialect)})")(DuckDialect)
}
