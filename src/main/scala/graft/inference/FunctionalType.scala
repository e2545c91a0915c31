package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.core.Tables
import graft.oracle.{Dialect, DuckDialect}
import graft.profiling.{FreqProfiler, GeneralType, Profiler}

/** Functional data type inference — a faithful port of the reference's
  * ~30-stage UPDATE cascade (reference:
  * testgen/template/profiling/functional_datatype.sql:1-622) re-expressed
  * as a chain of CTE stages over the profile metrics. Each NULL-guarded
  * UPDATE becomes `COALESCE(prev, CASE …)` (first-match-wins); the
  * override rules (Process prefix :134-138, Period overrides :226-258,
  * City :289-309,508-528, ID re-grades :530-594) are later stages that
  * re-map non-NULL values, exactly as the UPDATE order dictates.
  *
  * Cross-column rules use windows instead of self-joins: the City rules'
  * position±k neighbor lookup is `lead(fdt) OVER (PARTITION BY table
  * ORDER BY position)`. The cross-table ID-FK rule joins against the
  * (tiny) distinct list of unique-ID column names — broadcast at scale.
  *
  * Deviations (applied to both engines):
  *  - datatype_suggestion is a reduced version of
  *    testgen/template/profiling/datatype_suggestions.sql (enough to
  *    drive rule 4's "is varchar" gate);
  *  - the reference's dead `lower(col) IN ('ZIP_CODE','ZIP')` comparison
  *    (a latent case bug) is fixed to lowercase literals;
  *  - NOW() is pinned to the fixed run date for determinism.
  */
object FunctionalType {
  private val runYearPlus20 = 2046 // DATE_PART('YEAR', NOW()) + 20, pinned

  private def like(x: String, pat: String) = s"LOWER($x) LIKE '$pat'"

  /** fn_charcount (reference 020_create_standard_functions_sprocs.sql:27-34). */
  private def charCount(s: String, sub: String): String = {
    val subLit = sub.replace("'", "''")
    s"(LENGTH($s) - LENGTH(REPLACE($s, '$subLit', ''))) / ${sub.length}"
  }

  /** The full cascade over a relation with profile+freq columns. */
  def cascadeSql(rel: String)(d: Dialect): String =
    s"""WITH ${stageCtes(rel)(d)}
       |SELECT table_name, column_name, general_type,
       |       f22 AS functional_data_type, dsug AS datatype_suggestion
       |  FROM s22
       | ORDER BY table_name, column_name""".stripMargin

  /** The cascade's CTE chain; the final stage `s22` carries every profile
    * column plus `f22` (functional type) and `dsug` (type suggestion). */
  def stageCtes(rel: String)(d: Dialect): String = {
    val name = "column_name"
    def pct(x: String) = s"(CAST($x AS DOUBLE) / NULLIF(CAST(value_ct AS DOUBLE), 0) * 100)"
    val mnd = "CAST(min_date AS TIMESTAMP)"
    val mxd = "CAST(max_date AS TIMESTAMP)"
    val run5yAgo = d.dateAddDays(s"DATE '${graft.profiling.ProfileMetrics.RunDate}'", -365 * 5)
    val run1yAgo = d.dateAddDays(s"DATE '${graft.profiling.ProfileMetrics.RunDate}'", -365)
    val tp2 = "TRIM(SPLIT_PART(top_patterns, '|', 2))"

    // Full datatype_suggestion cascade (datatype_suggestions.sql:1-120).
    // Notes: the reference runs this BEFORE functional_datatype.sql
    // (run_profiling.py:166-167), so on a fresh run functional_data_type
    // is NULL and the 'State'/'Boolean'/'Measurement Pct' branches are
    // no-ops — they are omitted here rather than carried dead. The
    // flavor-specific timezone names use the databricks mapping (the
    // flavor Spark is): TIMESTAMP / TIMESTAMP_NTZ. current_size is the
    // declared size parsed from column_type — Spark's unbounded 'string'
    // has none, so the Postgres LEAST-ignores-NULL + COALESCE fallback
    // is expressed as an explicit NULL-guarded CASE (engine-safe).
    val tfv = "COALESCE(top_freq_values, '')"
    val curSize =
      s"CAST(NULLIF(${d.regexpExtract("column_type", """\((\d+)\)""", 1)}, '') AS INT)"
    // Postgres LEAST ignores NULLs: with no declared size the computed
    // bucket wins; the reference's fallback expression fires only when
    // the computed bucket itself is NULL
    def leastOrFallback(computed: String, fallback: String) =
      s"""COALESCE(CASE WHEN $curSize IS NULL THEN $computed
         |               ELSE LEAST($computed, $curSize) END, $fallback)""".stripMargin
    val bucketPlus5 =
      s"""CAST(CASE WHEN max_length <= 50 THEN CEIL((max_length + 5) / 10.0) * 10
         |          ELSE (1 + FLOOR((max_length + 10) / 20.0)) * 20 END AS INT)""".stripMargin
    def varcharOf(n: String) = s"'VARCHAR(' || CAST($n AS ${d.textType}) || ')'"
    val numericText = s"numeric_ct > 0 AND value_ct = numeric_ct + zero_length_ct"
    val dateText = s"date_ct > 0 AND value_ct = date_ct + zero_length_ct"
    val scaleGt0 = s"${d.rtrimChars("SPLIT_PART(column_type, ',', 2)", ")")} > '0'"
    val dsug =
      s"""CASE WHEN record_ct > 500 AND NOT ${like(name, "%id")} THEN
         |  CASE general_type
         |    WHEN 'A' THEN
         |      CASE WHEN ${like(name, "%zip%")} AND max_length <= 10
         |             THEN ${varcharOf(leastOrFallback("10", "10"))}
         |           WHEN $numericText AND POSITION('.' IN $tfv) > 0 THEN 'DECIMAL(18,4)'
         |           WHEN $numericText AND max_length <= 6
         |             AND POSITION('.' IN $tfv) = 0 THEN 'INTEGER'
         |           WHEN $numericText AND max_length > 6
         |             AND POSITION('.' IN $tfv) = 0 THEN 'BIGINT'
         |           WHEN $dateText AND POSITION('+' IN $tfv) > 0 THEN 'TIMESTAMP'
         |           WHEN $dateText AND POSITION(':' IN $tfv) > 0 THEN 'TIMESTAMP_NTZ'
         |           WHEN $dateText THEN 'DATE'
         |           WHEN max_length <= 5 THEN ${varcharOf(leastOrFallback("10", "10"))}
         |           WHEN max_length IS NOT NULL THEN ${varcharOf(leastOrFallback(
                       bucketPlus5,
                       s"""CAST(CASE WHEN max_length <= 50 THEN CEIL(max_length / 10.0) * 10
                          | ELSE (1 + FLOOR((max_length + 10) / 20.0)) * 20 END AS INT)""".stripMargin))}
         |           ELSE LOWER(column_type) END
         |    WHEN 'N' THEN
         |      CASE WHEN $scaleGt0 AND fractional_sum = 0
         |             AND min_value >= -100 AND max_value <= 100 THEN 'SMALLINT'
         |           WHEN $scaleGt0 AND fractional_sum = 0
         |             AND min_value >= -100000000 AND max_value <= 100000000 THEN 'INTEGER'
         |           WHEN $scaleGt0 AND fractional_sum = 0
         |             AND (min_value < -100000000 OR max_value > 100000000) THEN 'BIGINT'
         |           ELSE LOWER(column_type) END
         |    ELSE LOWER(column_type) END
         | ELSE LOWER(column_type) END""".stripMargin

    val s0 = s"SELECT r.*, $dsug AS dsug FROM $rel r"

    // 1. TBD + Constant (functional_datatype.sql:14-33)
    val tbd =
      s"""CASE WHEN record_ct = 0 THEN 'TBD (Not enough data)'
         |     WHEN record_ct > 0 AND (value_ct < 5
         |          OR CAST(zero_length_ct AS DOUBLE) / NULLIF(value_ct, 0) = 1)
         |       THEN 'TBD (Not enough data)' END""".stripMargin
    val s1 = s"SELECT s.*, $tbd AS f1 FROM s0 s"
    val constant =
      s"""CASE WHEN distinct_value_ct = 1
         |  AND (CAST(value_ct - COALESCE(filled_value_ct, 0) - COALESCE(zero_length_ct, 0) AS DOUBLE)
         |       / record_ct) * 100.0 > 75 THEN 'Constant' END""".stripMargin
    val s2 = s"SELECT s.*, COALESCE(f1, $constant) AS f2 FROM s1 s"

    // 1A. ID masks (:35-46); default masks '%_sk' / '%id' (030_…sql:110-111)
    val s3 = s"SELECT s.*, COALESCE(f2, CASE WHEN ${like(name, "%_sk")} THEN 'ID-SK' END) AS f3 FROM s2 s"
    val s4 = s"SELECT s.*, COALESCE(f3, CASE WHEN ${like(name, "%id")} THEN 'ID' END) AS f4 FROM s3 s"

    // 2. Dates (:70-116)
    val transactional =
      s"""CASE WHEN value_ct > 100 AND distinct_value_ct > 20
         |       AND date_days_present >= 2 * (${d.dateDiffWeek(mnd, mxd)} + 1)
         |       THEN 'Transactional Date'
         |     WHEN value_ct > 20 AND distinct_value_ct > 8
         |       AND (date_weeks_present = CAST(NULLIF(${d.dateDiffWeek(mnd, mxd)}, 0) AS DOUBLE) + 1
         |        OR date_weeks_present >= 2 * (${d.dateDiffMonth(mnd, mxd)} + 1)
         |        OR ROUND(distinct_value_ct * (1 - CAST(before_5yr_date_ct AS DOUBLE) / NULLIF(CAST(value_ct AS DOUBLE), 0))) >=
         |           2 * (${d.dateDiffMonth(run1yAgo, mxd)} + 1))
         |       THEN 'Transactional Date (Wk)'
         |     WHEN value_ct > 20 AND distinct_value_ct > 3
         |       AND (date_months_present = CAST(NULLIF(${d.dateDiffMonth(mnd, mxd)}, 0) AS DOUBLE) + 1
         |        OR date_months_present >= 5 * (${d.dateDiffYear(mnd, mxd)} + 1)
         |        OR ROUND(distinct_value_ct * (1 - CAST(before_5yr_date_ct AS DOUBLE) / NULLIF(CAST(value_ct AS DOUBLE), 0))) >=
         |           5 * (${d.dateDiffYear(run5yAgo, mxd)} + 1))
         |       THEN 'Transactional Date (Mo)'
         |     WHEN value_ct > 10 AND distinct_value_ct > 1
         |       AND distinct_value_ct = ${d.dateDiffQuarter(mnd, mxd)} + 1
         |       THEN 'Transactional Date (Qtr)'
         |     ELSE 'Date (TBD)' END""".stripMargin
    val dates =
      s"""CASE WHEN general_type = 'D' OR (value_ct = date_ct + zero_length_ct AND value_ct > 0) THEN
         |  CASE WHEN ${pct("before_20yr_date_ct")} >= 75 THEN 'Historical Date'
         |       WHEN ${pct("future_date_ct")} >= 95 THEN 'Future Date'
         |       WHEN ${pct("future_date_ct")} >= 50 THEN 'Schedule Date'
         |       WHEN ${pct("before_5yr_date_ct")} BETWEEN 0 AND 20
         |        AND ${pct("future_date_ct")} BETWEEN 0 AND 10 THEN $transactional
         |       WHEN column_type = 'date' THEN 'Date Stamp'
         |       WHEN column_type = 'timestamp' THEN 'DateTime Stamp'
         |  END END""".stripMargin
    val s5 = s"SELECT s.*, COALESCE(f4, $dates) AS f5 FROM s4 s"

    // Character date/timestamp (:119-138)
    val charDates =
      s"""CASE WHEN distinct_pattern_ct = 1 AND min_text >= '1900' AND max_text <= '2200'
         |       AND $tp2 = 'NNNN-NN-NN' THEN 'Date Stamp'
         |     WHEN distinct_pattern_ct = 1
         |       AND $tp2 IN ('NNNN-NN-NN NN:NN:NN', 'NNNN-NN-NNANN:NN:NN+NN:NN')
         |       THEN 'DateTime Stamp' END""".stripMargin
    val s6 = s"SELECT s.*, COALESCE(f5, $charDates) AS f6 FROM s5 s"

    // Process Timestamp prefix (:134-138) — no NULL guard; NULL || stays NULL
    val procRe1 = """^(last_?|system_?|)(add|create|insert|inrt|update|updt|mod|modif|modf|del|delete|refresh)(.{0,3}d?_?(time|tm|date|day|dt|stamp|timestamp|datestamp))$"""
    val procRe2 = """^(last_?|)(change|chg|update|updt|mod|modify|modf|modified|refresh|refreshed)$"""
    val s7 =
      s"""SELECT s.*, CASE WHEN general_type IN ('A', 'D')
         |  AND (${d.rlike(name, procRe1)} OR ${d.rlike(name, procRe2)})
         |  THEN 'Process ' || f6 ELSE f6 END AS f7 FROM s6 s""".stripMargin

    // Periods (:141-224)
    val monRe = """(?i)^(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)[\s-]?\d{1,2}$"""
    val periods =
      s"""CASE WHEN (${like(name, "%year%")} OR ${like(name, "%yr%")})
         |       AND ((min_value >= 1900 AND max_value <= $runYearPlus20 AND COALESCE(fractional_sum, 0) = 0)
         |        OR (min_text >= '1900' AND max_text <= '$runYearPlus20' AND avg_length = 4 AND avg_embedded_spaces = 0))
         |       THEN 'Period Year'
         |     WHEN (${like(name, "%qtr%")} OR ${like(name, "%quarter%")})
         |       AND ((min_value = 1 AND max_value = 4 AND COALESCE(fractional_sum, 0) = 0)
         |        OR (min_text >= '1900' AND max_text <= '2200' AND avg_length BETWEEN 6 AND 7
         |            AND ${d.rlike("SPLIT_PART(top_patterns, '|', 2)", """^\s*NNNN[-_]AN\s*$""")}))
         |       THEN 'Period Quarter'
         |     WHEN ${like(name, "%mo%")} AND min_text >= '1900' AND max_text <= '2200'
         |       AND ((avg_length BETWEEN 6.8 AND 7.2 AND ${d.rlike("SPLIT_PART(top_patterns, '|', 2)", """^\s*NNNN[-_]NN\s*$""")})
         |        OR (avg_length BETWEEN 7.8 AND 8.2 AND ${d.rlike("UPPER(SPLIT_PART(top_patterns, '|', 2))", """^\s*NNNN[-_]AAA\s*$""")}))
         |       THEN 'Period Year-Mon'
         |     WHEN ${like(name, "%mo%")}
         |       AND ((max_length = 2 AND (min_text = '01' OR min_text = '1') AND max_text = '12')
         |        OR (min_value = 1 AND max_value = 12 AND COALESCE(SIGN(fractional_sum), 0) = 0)
         |        OR (max_length = 9 AND LOWER(min_text) = 'april' AND LOWER(max_text) = 'september')
         |        OR (max_length = 3 AND LOWER(min_text) = 'apr' AND LOWER(max_text) = 'sep'))
         |       THEN 'Period Month'
         |     WHEN ${d.rlike("min_text", monRe)} AND ${d.rlike("max_text", monRe)}
         |       AND avg_length BETWEEN 5.8 AND 6.2
         |       AND ${d.rlike(tp2, """(?i)AAA[\s-]NN""")}
         |       THEN 'Period Mon-NN'
         |     WHEN (${like(name, "%wk%")} OR ${like(name, "%week%")})
         |       AND distinct_value_ct BETWEEN 10 AND 53
         |       AND ((min_text IN ('1', '01') AND max_text IN ('52', '53'))
         |        OR (min_value = 1 AND max_value IN (52, 53) AND COALESCE(SIGN(fractional_sum), 0) = 0))
         |       THEN 'Period Week'
         |     WHEN (${like(name, "%day%")} OR ${like(name, "%dow%")})
         |       AND distinct_value_ct = 7
         |       AND ((min_text = '1' AND max_text = '7')
         |        OR (min_value = 1 AND max_value = 7 AND COALESCE(SIGN(fractional_sum), 0) = 0)
         |        OR (LOWER(min_text) = 'friday' AND LOWER(max_text) = 'wednesday' AND max_length = 9)
         |        OR (LOWER(min_text) = 'fri' AND LOWER(max_text) = 'wed' AND max_length = 3))
         |       THEN 'Period DOW'
         |END""".stripMargin
    val s8 = s"SELECT s.*, COALESCE(f7, $periods) AS f8 FROM s7 s"

    // Period overrides (:226-258) — regardless of prior type
    def midnight(x: String) = s"$x = CAST(CAST($x AS DATE) AS TIMESTAMP)"
    def firstDay(x: String) = s"(day($x) = 1 AND ${midnight(x)})"
    def lastDay(x: String) =
      s"(month(${d.dateAddDays(s"CAST($x AS DATE)", 1)}) <> month($x) AND ${midnight(x)})"
    val overrides =
      s"""CASE WHEN ((${firstDay(mnd)} AND ${firstDay(mxd)}) OR (${lastDay(mnd)} AND ${lastDay(mxd)}))
         |       AND date_months_present = date_days_present AND date_months_present >= 12
         |       THEN 'Period Month'
         |     WHEN ${d.dow(mnd)} IN (0, 1, 5, 6) AND ${d.dow(mnd)} = ${d.dow(mxd)}
         |       AND date_months_present < date_days_present
         |       AND date_weeks_present = date_days_present AND date_weeks_present > 25
         |       THEN 'Period Week'
         |     WHEN LOWER($name) = 'month' THEN 'Period Month'
         |     WHEN LOWER($name) = 'week' THEN 'Period Week'
         |     WHEN LOWER($name) = 'period' AND NOT LOWER(COALESCE(f8, '')) LIKE 'period%' THEN 'Period'
         |     ELSE f8 END""".stripMargin
    val s9 = s"SELECT s.*, $overrides AS f9 FROM s8 s"

    // 3. Address / phone / email (:273-295)
    val address =
      s"""CASE WHEN (std_pattern_match = 'ZIP_USA' AND (${like(name, "%zip%")} OR ${like(name, "%postal%")}))
         |       OR LOWER($name) IN ('zip_code', 'zip') THEN 'Zip'
         |     WHEN std_pattern_match = 'EMAIL' THEN 'Email'
         |     WHEN (${like(name, "%phone%")} AND max_length BETWEEN 7 AND 11)
         |       OR std_pattern_match = 'PHONE_USA' THEN 'Phone'
         |     WHEN (${like(name, "%address")} AND NOT ${like(name, "%email%")})
         |       OR std_pattern_match = 'STREET_ADDR' THEN 'Address'
         |     WHEN std_pattern_match = 'STATE_USA' THEN 'State'
         |END""".stripMargin
    val s10 = s"SELECT s.*, COALESCE(f9, $address) AS f10 FROM s9 s"

    // City by neighbor positions (:289-309): next=State, next+1=Zip
    val w = s"OVER (PARTITION BY table_name ORDER BY position)"
    val s11 =
      s"""SELECT s.*, CASE WHEN ${d.rlike(s"LOWER($name)", "c(i)?ty")}
         |  AND f10 IS NOT NULL AND f10 NOT IN ('State', 'Zip')
         |  AND LEAD(f10, 1) $w = 'State' AND LEAD(f10, 2) $w = 'Zip'
         |  THEN 'City' ELSE f10 END AS f11 FROM s10 s""".stripMargin

    // Names (:311-338): Full (NULL-guarded), Given + Last (unguarded)
    val fullRe = "(approver|full|contact|emp|employee|hcp|manager|mgr|owner|party|person|preferred|rep|reviewer|salesperson|spouse)(_| |)(name|nm)$"
    val s12a =
      s"""SELECT s.*, COALESCE(f11, CASE WHEN avg_length <= 20
         |  AND avg_embedded_spaces BETWEEN 0.9 AND 2.0
         |  AND (${d.rlike(name, fullRe)} OR $name IN ('name', 'nm'))
         |  THEN 'Person Full Name' END) AS f12a FROM s11 s""".stripMargin
    val s12b =
      s"""SELECT s.*, CASE WHEN avg_length <= 8 AND avg_embedded_spaces < 0.2
         |  AND (${d.rlike(s"LOWER($name)", "f(i)?rst(_| )?n(a)?m")}
         |   OR ${d.rlike(s"LOWER($name)", "(middle|mdl)(_| )?n(a)?m")}
         |   OR ${d.rlike(s"LOWER($name)", "nick(_| )?n(a)?m")})
         |  THEN 'Person Given Name' ELSE f12a END AS f12b FROM s12a s""".stripMargin
    val s12 =
      s"""SELECT s.*, CASE WHEN avg_length BETWEEN 5 AND 8 AND avg_embedded_spaces < 0.2
         |  AND (${d.rlike(s"LOWER($name)", "l(a)?st(_| )?n(a)?m")}
         |   OR ${d.rlike(s"LOWER($name)", "maiden(_| )?n(a)?m")}
         |   OR ${d.rlike(s"LOWER($name)", "sur(_| )?n(a)?m")})
         |  THEN 'Person Last Name' ELSE f12b END AS f12 FROM s12b s""".stripMargin

    // Entity / Process User / System User (:340-358)
    val entityRe = "(acct|account|affiliation|branch|business|co|comp|company|corp|corporate|cust|customer|distributor|employer|entity|firm|franchise|hco|org|organization|site|supplier|vendor|hospital|practice|clinic)(_| |)(name|nm)$"
    val s13a =
      s"""SELECT s.*, COALESCE(f12, CASE WHEN general_type = 'A'
         |  AND ${d.rlike(name, entityRe)} THEN 'Entity Name' END) AS f13a FROM s12 s""".stripMargin
    val s13b =
      s"""SELECT s.*, CASE WHEN ${d.rlike(name, "^(last_?|)(create|update|modif|delete|refresh)(.*?(by|id|name|nm|user|usr))$")}
         |  THEN 'Process User' ELSE f13a END AS f13b FROM s13a s""".stripMargin
    val s13 =
      s"""SELECT s.*, CASE WHEN ${d.rlike(name, "(user|usr)_?(name|nm)?$")}
         |  THEN 'System User' ELSE f13b END AS f13 FROM s13b s""".stripMargin

    // Boolean (:361-387)
    val boolRule =
      s"""CASE WHEN general_type = 'B'
         |    OR (distinct_value_ct = 2
         |        AND ((LOWER(min_text) = 'no' AND LOWER(max_text) = 'yes')
         |          OR (LOWER(min_text) = 'n' AND LOWER(max_text) = 'y')
         |          OR (LOWER(min_text) = 'false' AND LOWER(max_text) = 'true')
         |          OR (LOWER(min_text) = '0' AND LOWER(max_text) = '1')
         |          OR (min_value = 0 AND max_value = 1 AND NOT ${like("column_type", "%numeric%")})))
         |    THEN 'Boolean'
         |  WHEN distinct_value_ct = 1
         |    AND ((LOWER(min_text) IN ('no', 'yes') AND LOWER(max_text) IN ('no', 'yes'))
         |      OR (LOWER(min_text) IN ('n', 'y') AND LOWER(max_text) IN ('n', 'y'))
         |      OR (LOWER(min_text) IN ('false', 'true') AND LOWER(max_text) IN ('f', 't'))
         |      OR (LOWER(min_text) IN ('0', '1') AND LOWER(max_text) IN ('0', '1'))
         |      OR (min_value = 0 AND max_value = 1 AND NOT ${like("column_type", "%numeric%")}))
         |    THEN 'Boolean' END""".stripMargin
    val s14 = s"SELECT s.*, COALESCE(f13, $boolRule) AS f14 FROM s13 s"

    // 4. Code / Category / ID / Attribute / Description (:391-440)
    val vRatio = "CAST(value_ct AS DOUBLE) / NULLIF(record_ct, 0)"
    val dRatio = "CAST(distinct_value_ct AS DOUBLE) / NULLIF(value_ct, 0)"
    // rule 4's "is varchar" gate (functional_datatype.sql:440): columns
    // falling back to the declared type still match in the reference
    // because Postgres spells it 'character varying(n)'; our flavor
    // spells the unbounded text type 'string'
    val codeRule =
      s"""CASE WHEN general_type = 'A'
         |      AND (${like("dsug", "%varchar%")} OR LOWER(dsug) = 'string') THEN
         |  CASE WHEN (${d.rlike(s"LOWER($name)", "_(average|avg|count|ct|sum|total|tot)$")}
         |          OR ${d.rlike(s"LOWER($name)", "^(average|avg|count|ct|sum|total|tot)_")})
         |        AND numeric_ct = value_ct AND value_ct > 1 THEN 'Measurement Text'
         |       WHEN includes_digit_ct > 0
         |        AND ((max_length <= 20 AND avg_embedded_spaces < 0.1
         |              AND $vRatio > 0.8 AND $dRatio > 0.95)
         |          OR (avg_embedded_spaces < 0.1
         |              AND (ROUND(max_length - avg_length) <= 1 OR ROUND(avg_length - min_length) <= 1)))
         |        THEN CASE WHEN distinct_value_ct > 200 THEN 'ID'
         |                  WHEN distinct_value_ct <= 200 AND avg_embedded_spaces < 1 THEN 'Code' END
         |       WHEN distinct_value_ct > 200
         |        THEN CASE WHEN max_length - ROUND(avg_length) > 1 AND ROUND(avg_length) - min_length > 1
         |                  THEN CASE WHEN avg_embedded_spaces BETWEEN 0 AND 3 AND max_length <= 30
         |                             AND ${charCount("max_text", " ")} < 5
         |                            THEN 'Attribute' ELSE 'Description' END END
         |       WHEN distinct_value_ct BETWEEN 2 AND 200
         |        THEN CASE WHEN (avg_embedded_spaces < 1 AND max_length < 15)
         |                    OR (${charCount("top_patterns", "A")} > 0 AND ${charCount("top_patterns", "N")} > 0)
         |                  THEN 'Code' ELSE 'Category' END
         |  END END""".stripMargin
    val s15 = s"SELECT s.*, COALESCE(f14, $codeRule) AS f15 FROM s14 s"

    // 5. Flag (:446-459)
    val flagRule =
      s"""CASE WHEN general_type = 'A' AND distinct_value_ct BETWEEN 3 AND 5
         |  AND (NOT ${like("column_type", "%numeric%")} OR NOT ${like("dsug", "%numeric%")})
         |  AND min_length > 1 AND max_length <= 7
         |  AND ${charCount("top_patterns", "A")} > 0 THEN 'Flag' END""".stripMargin
    val s16 = s"SELECT s.*, COALESCE(f15, $flagRule) AS f16 FROM s15 s"

    // 6. Remaining numerics (:462-505)
    val scalePart = d.rtrimChars("SPLIT_PART(column_type, ',', 2)", ")")
    val remaining =
      s"""CASE WHEN (max_value - min_value + 1 = distinct_value_ct)
         |       AND (fractional_sum IS NULL OR fractional_sum > 0) THEN 'Sequence'
         |     WHEN general_type = 'N' AND ${d.rlike(s"LOWER($name)", "(no|num|number|nbr)$")}
         |       AND (${like("column_type", "%int%")}
         |         OR ($scalePart > '0' AND fractional_sum = 0))
         |       THEN CASE WHEN ROUND(100.0 * CAST(value_ct AS DOUBLE) / NULLIF(record_ct, 0)) > 70
         |                 THEN 'ID' ELSE 'Attribute-Numeric' END
         |     WHEN general_type = 'N'
         |       AND ((percentile_25 = 0 AND percentile_75 = 0 AND percentile_50 = 0)
         |         OR (value_ct > 0 AND record_ct > 0
         |             AND CAST(value_ct AS DOUBLE) / record_ct < 0.05))
         |       AND ((percentile_75 - percentile_25) > 2 * ABS(avg_value)
         |         OR ABS(avg_value) > 5 * ABS(percentile_50)) THEN 'Measurement Spike'
         |     WHEN general_type = 'N'
         |       AND (${like("column_type", "%int%")}
         |         OR (SPLIT_PART(column_type, ',', 2) > '' AND ${d.rtrimChars("SPLIT_PART(column_type, ',', 2)", " )")} = '0')
         |         OR ($scalePart > '0' AND fractional_sum = 0)) THEN 'Measurement Discrete'
         |     WHEN general_type = 'N' AND distinct_value_ct > 1 AND min_value < 0 THEN 'Measurement'
         |     WHEN general_type = 'N' AND distinct_value_ct > 1 AND min_value >= 0
         |       AND stdev_value / NULLIF(avg_value, 0) >= 0.10 THEN 'Measurement'
         |     ELSE 'UNKNOWN' END""".stripMargin
    val s17 = s"SELECT s.*, COALESCE(f16, $remaining) AS f17 FROM s16 s"

    // City by next-State (:508-528) — unguarded override
    def lowRatio(x: String) = s"CAST($x AS DOUBLE) / NULLIF(CAST(value_ct AS DOUBLE), 0) < 0.05"
    val s18 =
      s"""SELECT s.*, CASE WHEN ${lowRatio("includes_digit_ct")}
         |  AND ${lowRatio("numeric_ct")} AND ${lowRatio("date_ct")}
         |  AND LEAD(f17, 1) $w = 'State'
         |  AND avg_length BETWEEN 7 AND 12 AND avg_embedded_spaces < 1
         |  AND distinct_value_ct BETWEEN 15 AND 40000
         |  THEN 'City' ELSE f17 END AS f18 FROM s17 s""".stripMargin

    // ID re-grades (:530-571)
    val s19 =
      s"""SELECT s.*, CASE WHEN f18 = 'ID' THEN
         |  CASE WHEN ROUND(100.0 * CAST(value_ct AS DOUBLE) / NULLIF(record_ct, 0)) > 70
         |         AND ROUND(100.0 * CAST(distinct_value_ct AS DOUBLE) / NULLIF(value_ct, 0)) >= 75
         |       THEN 'ID-Secondary'
         |       WHEN ROUND(100.0 * CAST(value_ct AS DOUBLE) / NULLIF(record_ct, 0)) > 70
         |       THEN 'ID-Group' ELSE 'ID' END
         |  ELSE f18 END AS f19 FROM s18 s""".stripMargin
    val s20 =
      s"""SELECT s.*, CASE
         |  WHEN f19 IN ('ID', 'ID-Secondary') AND record_ct = distinct_value_ct AND record_ct > 50
         |    THEN 'ID-Unique'
         |  WHEN f19 = 'ID-SK' AND record_ct = distinct_value_ct AND record_ct > 50
         |    THEN 'ID-Unique-SK'
         |  ELSE f19 END AS f20 FROM s19 s""".stripMargin

    // ID-FK across tables (:575-588): same column name, unique elsewhere
    val s21 =
      s"""SELECT s.*, CASE WHEN u.column_name IS NOT NULL
         |  AND s.f20 NOT IN ('ID-Unique', 'ID-Unique-SK') THEN 'ID-FK' ELSE s.f20 END AS f21
         |FROM s20 s LEFT JOIN (SELECT DISTINCT column_name FROM s20
         |                       WHERE f20 IN ('ID-Unique', 'ID-Unique-SK')) u
         |  ON s.column_name = u.column_name""".stripMargin

    // Measurement Pct (:592-619)
    val pctPatRe = """^N{1,3}(\.N+)?%$"""
    val s22 =
      s"""SELECT s.*, CASE
         |  WHEN f21 IN ('Measurement', 'Measurement Discrete', 'UNKNOWN') AND general_type = 'N'
         |    AND min_value >= -200 AND max_value <= 200
         |    AND (${like(name, "%pct%")} OR ${like(name, "%percent%")}) THEN 'Measurement Pct'
         |  WHEN f21 = 'Code' AND distinct_pattern_ct BETWEEN 1 AND 3
         |    AND value_ct = includes_digit_ct AND min_text >= '0' AND max_text <= '99'
         |    AND ${d.rlike(tp2, pctPatRe)}
         |    AND (${d.rlike("TRIM(SPLIT_PART(top_patterns, '|', 4))", pctPatRe)} OR distinct_pattern_ct < 2)
         |    AND (${d.rlike("TRIM(SPLIT_PART(top_patterns, '|', 6))", pctPatRe)} OR distinct_pattern_ct < 3)
         |    THEN 'Measurement Pct'
         |  ELSE f21 END AS f22 FROM s21 s""".stripMargin

    val stages = Seq(
      "s0" -> s0, "s1" -> s1, "s2" -> s2, "s3" -> s3, "s4" -> s4, "s5" -> s5,
      "s6" -> s6, "s7" -> s7, "s8" -> s8, "s9" -> s9, "s10" -> s10,
      "s11" -> s11, "s12a" -> s12a, "s12b" -> s12b, "s12" -> s12,
      "s13a" -> s13a, "s13b" -> s13b, "s13" -> s13, "s14" -> s14,
      "s15" -> s15, "s16" -> s16, "s17" -> s17, "s18" -> s18, "s19" -> s19,
      "s20" -> s20, "s21" -> s21, "s22" -> s22)
    stages.map { case (n, q) => s"$n AS (\n$q\n)" }.mkString(",\n")
  }

  // Profiling output is metadata-sized (one row per column); memoize the
  // materialized relation so the inference-family queries (functional
  // types, hygiene, generation, scoring) share ONE profiling pass per
  // data directory instead of re-scanning all tables each.
  /** The landed unioned per-table profile+freq relation; returns its
    * view name, usable as `rel` for the cascade SQLs. */
  def registerProfileAll(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "profile_all", dir, graft.core.Materialize.Local())(
      buildProfileAll(spark, dir))

  private def buildProfileAll(spark: SparkSession, dir: String): DataFrame = {
    // Profile tables CONCURRENTLY: each table's jobs are small relative to
    // the cluster, so sequential execution leaves most cores idle. Spark
    // actions are thread-safe; this is the scheduler-pool fan-out the
    // reference approximates with its <=10-connection thread pool
    // (reference: testgen/common/database/database_service.py:219-232).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    // Orchestration pool: each per-table task AWAITS the profiler's inner
    // action futures (which run on Pools.actions) — separate bounded pools
    // keep total concurrency at tableThreads + actionThreads without the
    // nested-await deadlock a single bounded pool would hit.
    implicit val ec: scala.concurrent.ExecutionContext = graft.core.Pools.tables
    // Largest tables first: their jobs run longest, so starting them first
    // packs the small tables' work into the stragglers' tail instead of
    // serializing a long job after the pool has drained.
    val bySize = Tables.names.sortBy { t =>
      -(new java.io.File(s"$dir/$t.parquet").length())
    }
    val perTableMap = Await.result(Future.sequence(bySize.map { t =>
      Future {
        val p = Profiler.profile(spark, dir, t)
        val hasA = Tables.schemas(t).fields.exists(f => GeneralType.of(f.dataType) == "A")
        val joined = if (hasA) {
          val f = FreqProfiler.profile(spark, dir, t)
          p.join(f, Seq("column_name"), "left")
        } else {
          p.withColumn("top_freq_values", lit(null).cast("string"))
            .withColumn("distinct_value_hash", lit(null).cast("string"))
            .withColumn("top_patterns", lit(null).cast("string"))
        }
        t -> joined.withColumn("table_name", lit(t))
      }
    }), Duration.Inf).toMap
    // Union in the canonical table order regardless of profiling order.
    Tables.names.map(perTableMap).reduce(_ unionByName _)
  }

  /** DuckDB rendering of the same unioned relation (parenthesized). */
  def duckProfileAllRel(): String = {
    val perTable = Tables.names.map { t =>
      val schema = Tables.schemas(t)
      val hasA = schema.fields.exists(f => GeneralType.of(f.dataType) == "A")
      val freqJoin =
        if (hasA)
          s"""LEFT JOIN (${FreqProfiler.duckSqlBody(t, schema)}) f
             |  ON p.column_name = f.column_name""".stripMargin
        else ""
      val freqCols =
        if (hasA) "f.top_freq_values, f.distinct_value_hash, f.top_patterns"
        else
          """CAST(NULL AS VARCHAR) AS top_freq_values,
            |CAST(NULL AS VARCHAR) AS distinct_value_hash,
            |CAST(NULL AS VARCHAR) AS top_patterns""".stripMargin
      s"""SELECT '$t' AS table_name, p.*, $freqCols
         |  FROM (${Profiler.duckSqlBody(t, schema)}) p
         |$freqJoin""".stripMargin
    }
    perTable.mkString("(\n", "\nUNION ALL\n", "\n)")
  }

  /** Spark execution: the cascade's columns of the enriched profile
    * ([[HygieneScreens.enrichedView]]), which already ran the same 22
    * stages over the same profile+freq relation — one cascade plan and
    * one landing per (session, dir). */
  def infer(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT table_name, column_name, general_type, functional_data_type,
         |       dsug AS datatype_suggestion
         |  FROM ${HygieneScreens.enrichedView(spark, dir)}
         | ORDER BY table_name, column_name""".stripMargin)

  /** DuckDB oracle: same cascade over the duck-rendered profile+freq. */
  def duckSql(): String = cascadeSql(duckProfileAllRel())(DuckDialect)
}
