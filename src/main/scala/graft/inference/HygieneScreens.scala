package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}
import graft.profiling.ProfileMetrics

/** Hygiene anomaly screens — the reference's per-anomaly
  * INSERT…SELECT filters over profile results (reference:
  * testgen/template/profiling/profile_anomalies_screen_column.sql:1-25;
  * criteria from the testgen/template/dbsetup_anomaly_types YAMLs'
  * `anomaly_criteria`, prevalence from `dq_score_prevalence_formula`).
  *
  * All screens run as ONE query over the enriched profile (metrics +
  * inferred functional type): column-scope screens are row filters;
  * multi-column screens join a per-column-name aggregate; date-scope
  * screens join a per-table aggregate. Muted anomalies are excluded via
  * an anti-join, mirroring the reference's `v_inactive_anomalies`
  * LEFT JOIN … IS NULL pattern.
  *
  * Scope: all 32 screens. Potential_PII reads the PII cascade's
  * pii_flag (see PiiFlag); Invalid_Zip_USA checks each of the top-5
  * pattern entries; Table_Pattern_Mismatch compares each column against
  * the same-name aggregate (reference
  * profile_anomalies_screen_multi_column.sql `mults` CTE);
  * Variant_Coded_Values intersects top-frequency values with the
  * variant-coding vocabulary (reference
  * profile_anomalies_screen_variants.sql + the variant_codings seed of
  * 050_populate_new_schema_metadata.sql:66-110).
  */
object HygieneScreens {

  final case class Screen(name: String, scope: String,
                          criteria: Dialect => String,
                          prevalence: Dialect => String = _ => "NULL",
                          detail: Dialect => String = d => d.nullOf("text"),
                          redactable: Boolean = false)

  /** fn_parsefreq(s, row, col) (reference
    * 020_create_standard_functions_sprocs.sql:37-53): top_freq lines are
    * `| value | ct`, so col N = '|'-part N+1 of the row-th line. */
  private def parseFreq(s: String, row: Int, col: Int): String =
    s"TRIM(SPLIT_PART(SPLIT_PART($s, CHR(10), $row), '|', ${col + 1}))"

  private def ratio(num: String, den: String = "record_ct") =
    s"CAST($num AS DOUBLE) / NULLIF(CAST($den AS DOUBLE), 0)"
  /** 'NN.NN' percent text, rounded half-away-from-zero identically in
    * both engines (the detail_expression ROUND(100.0*a/b, 2) renders). */
  private def pct2(d: Dialect, num: String, den: String) =
    s"CAST(CAST(ROUND(100.0 * ${ratio(num, den)}, 2) AS DECIMAL(18,2)) AS ${d.textType})"
  /** The Min/Max-or-TopFreq detail shared by the boolean/delimited
    * screens (their YAMLs' detail_expression CASE). */
  private def minMaxOrFreq(d: Dialect) =
    s"""CASE WHEN COALESCE(top_freq_values, '') = ''
       |     THEN 'Min: ' || min_text || ', Max: ' || max_text
       |     ELSE 'Top Freq: ' || top_freq_values END""".stripMargin
  private def like(x: String, pat: String) = s"LOWER($x) LIKE '$pat'"
  private val runDateLit = s"DATE '${ProfileMetrics.RunDate}'"
  private val fdt = "functional_data_type"
  private val nameCols = Seq("'Address'", "'City'", "'Entity Name'",
    "'Person Given Name'", "'Person Last Name'", "'Person Full Name'").mkString(", ")

  val screens: Seq[Screen] = Seq(
    Screen("Boolean_Value_Mismatch", "Column", _ =>
      s"""(distinct_value_ct > 1 AND
         |   ((${like("top_freq_values", "| true |%")} OR ${like("top_freq_values", "| false |%")})
         |    AND NOT (${like("top_freq_values", "%| true |%")} AND ${like("top_freq_values", "%| false |%")}))
         |  OR ((${like("top_freq_values", "| yes |%")} OR ${like("top_freq_values", "| no |%")})
         |    AND NOT (${like("top_freq_values", "%| yes |%")} AND ${like("top_freq_values", "%| no |%")})))""".stripMargin,
      detail = minMaxOrFreq, redactable = true),
    Screen("Char_Column_Date_Values", "Column",
      _ => "general_type = 'A' AND value_ct > date_ct AND CAST(date_ct AS DOUBLE) > 0.95 * value_ct",
      _ => ratio("date_ct"),
      detail = d => s"""' Date Ct: ' || ${d.castText("date_ct")} || ' of ' || ${d.castText("value_ct")}
         | || ' (Date Percent: ' || ${pct2(d, "date_ct", "value_ct")} || ' )'""".stripMargin),
    Screen("Char_Column_Number_Units", "Column", d =>
      s"""${ratio("includes_digit_ct", "value_ct")} > 0.5
         | AND ${d.rlike(parseFreq("top_freq_values", 1, 1), """(?i)^[0-9]+(\.[0-9]+)? ?(%|lb|oz|kg|g|mg|km|m|cm|mm|mi|ft|in)$""")}""".stripMargin,
      detail = _ => "'Top Freq: ' || top_freq_values"),
    Screen("Char_Column_Number_Values", "Column", _ =>
      s"""general_type = 'A' AND NOT ${like("column_name", "%zip%")}
         | AND NOT ${like(fdt, "id%")} AND NOT ${like(fdt, "period%")}
         | AND value_ct > numeric_ct AND CAST(numeric_ct AS DOUBLE) > 0.95 * value_ct""".stripMargin,
      _ => ratio("numeric_ct"),
      detail = d => s"""'Numeric Ct: ' || ${d.castText("numeric_ct")} || ' of ' || ${d.castText("value_ct")}
         | || ' (Numeric Percent: ' || ${pct2(d, "numeric_ct", "value_ct")} || ' )'""".stripMargin),
    Screen("Column_Pattern_Mismatch", "Column", d => {
      val p1 = s"TRY_CAST(${parseFreqPat(1)} AS DOUBLE)"
      val p3 = s"TRY_CAST(${parseFreqPat(3)} AS DOUBLE)"
      s"""general_type = 'A'
         | AND NOT ${like(fdt, "measurement%")} AND $fdt NOT IN ('Category', 'Code')
         | AND max_length > 3
         | AND value_ct > (numeric_ct + filled_value_ct + zero_length_ct)
         | AND distinct_pattern_ct BETWEEN 2 AND 4
         | AND ${d.strpos("top_patterns", "N")} > 0
         | AND (((${d.strpos("top_patterns", "A")} > 0 OR ${d.strpos("top_patterns", "a")} > 0)
         |        AND $p3 / $p1 < 0.05)
         |   OR $p3 / $p1 < 0.1)""".stripMargin
    },
      _ => ratio(s"record_ct - TRY_CAST(${parseFreqPat(1)} AS BIGINT)"),
      detail = _ => "'Patterns: ' || top_patterns"),
    Screen("Delimited_Data_Embedded", "Column", _ => "std_pattern_match = 'DELIMITED_DATA'",
      detail = minMaxOrFreq, redactable = true),
    Screen("Inconsistent_Casing", "Column",
      _ => s"mixed_case_ct > 0 AND upper_case_ct > 0 AND $fdt IN ($nameCols)",
      _ => ratio("LEAST(mixed_case_ct, upper_case_ct)"),
      detail = d => s"""'Mixed-Case: ' || ${d.castText("mixed_case_ct")}
         | || ', All-Upper-Case: ' || ${d.castText("upper_case_ct")}
         | || ' for Semantic Data Type: ' || $fdt
         | || ', Records: ' || ${d.castText("record_ct")}""".stripMargin),
    Screen("Invalid_Zip3_USA", "Column", _ =>
      s"""distinct_pattern_ct > 1
         | AND (${like("column_name", "%zip%")} OR ${like("column_name", "%postal%")})
         | AND SPLIT_PART(top_patterns, ' | ', 2) = 'NNN'
         | AND ${ratio("TRY_CAST(SPLIT_PART(top_patterns, ' | ', 1) AS DOUBLE)", "value_ct")} > 0.50""".stripMargin,
      _ => ratio("record_ct - TRY_CAST(SPLIT_PART(top_patterns, ' | ', 1) AS BIGINT)"),
      detail = _ => "'Pattern: ' || top_patterns"),
    Screen("Leading_Spaces", "Column", _ => "lead_space_ct > 0", _ => ratio("lead_space_ct"),
      detail = d => s"'Cases Found: ' || ${d.castText("lead_space_ct")}"),
    Screen("No_Values", "Column",
      _ => "(null_value_ct + filled_value_ct + zero_length_ct) = record_ct",
      _ => "1.0",
      detail = d => s"""'Null: ' || ${d.castText("null_value_ct")}
         | || ', Dummy: ' || ${d.castText("filled_value_ct")}
         | || ', Zero Len: ' || ${d.castText("zero_length_ct")}""".stripMargin),
    Screen("Non_Alpha_Name_Address", "Column",
      _ => s"non_alpha_ct - zero_length_ct > 0 AND $fdt IN ($nameCols)",
      _ => ratio("non_alpha_ct - zero_length_ct"),
      detail = d => s"""'Non-Alpha Values: ' || ${d.castText("(non_alpha_ct - zero_length_ct)")}
         | || ', Semantic Type: ' || $fdt
         | || ', Records: ' || ${d.castText("record_ct")}""".stripMargin),
    Screen("Non_Alpha_Prefixed_Name", "Column", _ =>
      s"""min_text < 'A' AND LEFT(min_text, 1) NOT IN ('"', ' ')
         | AND RIGHT(min_text, 1) <> ''''
         | AND $fdt IN ('City', 'Person Given Name', 'Person Last Name', 'Person Full Name')""".stripMargin,
      _ => "0.25",
      detail = _ => "'Minimum Value: ' || min_text", redactable = true),
    Screen("Non_Printing_Chars", "Column", _ => "non_printing_ct > 0",
      _ => ratio("non_printing_ct"),
      detail = d => s"""'Non-Printing Chars: ' || ${d.castText("non_printing_ct")}
         | || ', Records: ' || ${d.castText("record_ct")}""".stripMargin),
    Screen("Non_Standard_Blanks", "Column", _ =>
      s"""(zero_length_ct > 0 OR (filled_value_ct > 0
         |  AND (numeric_ct <> value_ct OR $fdt IN ('Phone', 'Zip'))))""".stripMargin,
      _ => ratio("filled_value_ct"),
      detail = d => s"""'Dummy Values: ' || ${d.castText("filled_value_ct")}
         | || ', Empty String: ' || ${d.castText("zero_length_ct")}
         | || ', Null: ' || ${d.castText("null_value_ct")}
         | || ', Records: ' || ${d.castText("record_ct")}""".stripMargin),
    Screen("Potential_Duplicates", "Column", _ =>
      s"""distinct_value_ct > 1000
         | AND TRY_CAST(${parseFreq("top_freq_values", 1, 2)} AS BIGINT) BETWEEN 2 AND 4""".stripMargin,
      _ => ratio("value_ct - distinct_value_ct"),
      detail = _ => "'Top Freq: ' || top_freq_values"),
    Screen("Quoted_Values", "Column", _ => "quoted_value_ct > 0",
      _ => ratio("quoted_value_ct"),
      detail = d => s"'Cases Found: ' || ${d.castText("quoted_value_ct")}"),
    Screen("Small_Divergent_Value_Ct", "Column", _ =>
      s"""$fdt <> 'Boolean'
         | AND 100.0 * TRY_CAST(${parseFreq("top_freq_values", 1, 2)} AS DOUBLE) / NULLIF(value_ct, 0) > 97
         | AND 100.0 * TRY_CAST(${parseFreq("top_freq_values", 1, 2)} AS DOUBLE) / NULLIF(value_ct, 0) < 100""".stripMargin,
      _ => ratio(s"record_ct - TRY_CAST(${parseFreq("top_freq_values", 1, 2)} AS BIGINT)"),
      detail = d => s"""'Single Value Pct: ' || ${d.castText(
        s"CAST(ROUND(100.0 * ${ratio(s"TRY_CAST(${parseFreq("top_freq_values", 1, 2)} AS DOUBLE)", "value_ct")}, 0) AS BIGINT)")}
         | || ', Value | Freq: ' || top_freq_values""".stripMargin),
    Screen("Small_Missing_Value_Ct", "Column", _ => {
      val adj =
        s"""(value_ct - zero_length_ct - CASE WHEN (filled_value_ct > 0
           |  AND (numeric_ct <> value_ct OR $fdt IN ('Phone', 'Zip')))
           |  THEN filled_value_ct ELSE 0 END)""".stripMargin
      s"CAST($adj AS DOUBLE) / record_ct > 0.97 AND $adj < record_ct"
    },
      _ => ratio("null_value_ct + filled_value_ct + zero_length_ct"),
      detail = d => {
        val blanks =
          s"""(record_ct - (value_ct - zero_length_ct - CASE WHEN (filled_value_ct > 0
             |  AND (numeric_ct <> value_ct OR $fdt IN ('Phone', 'Zip')))
             |  THEN filled_value_ct ELSE 0 END))""".stripMargin
        s"""${d.castText(blanks)} || ' of ' || ${d.castText("record_ct")}
           | || ' blank values:  ' || ${pct2(d, blanks, "value_ct")} || '%'""".stripMargin
      }),
    Screen("Small_Numeric_Value_Ct", "Column",
      _ => s"general_type = 'A' AND ${ratio("numeric_ct", "value_ct")} < 0.03 AND numeric_ct > 0",
      _ => ratio("numeric_ct"),
      detail = d => s"""'Numeric Ct: ' || ${d.castText("numeric_ct")} || ' of ' || ${d.castText("value_ct")}
         | || ' (Numeric Percent: ' || ${pct2(d, "numeric_ct", "value_ct")} || ' )'""".stripMargin),
    Screen("Standardized_Value_Matches", "Column",
      _ => s"general_type = 'A' AND distinct_std_value_ct <> distinct_value_ct AND $fdt NOT LIKE 'Person%Name'",
      _ => ratio("distinct_value_ct - distinct_std_value_ct", "value_ct"),
      detail = d => s"""'Distinct Values: ' || ${d.castText("distinct_value_ct")}
         | || ', Standardized: ' || ${d.castText("distinct_std_value_ct")}""".stripMargin),
    Screen("Suggested_Type", "Column", _ =>
      s"""$fdt NOT IN ('Boolean', 'Flag') AND column_type = 'string'
         | AND NOT (${like("dsug", "%varchar%")} OR ${like("dsug", "%char%")}
         |        OR LOWER(dsug) IN ('text', 'string'))""".stripMargin,
      detail = _ => "dsug"),
    Screen("Unexpected_Emails", "Column", _ =>
      s"""std_pattern_match = 'EMAIL'
         | AND NOT (${like("column_name", "%email%")} OR ${like("column_name", "%addr%")})""".stripMargin,
      detail = _ => "'Value Range: ' || min_text || ' thru ' || max_text",
      redactable = true),
    Screen("Unexpected_US_States", "Column", _ =>
      s"""std_pattern_match = 'STATE_USA' AND distinct_value_ct > 5
         | AND NOT (column_name = 'st' OR ${like("column_name", "%state%")}
         |        OR ${like("column_name", "%_st")} OR ${like("column_name", "st_%")})""".stripMargin,
      detail = _ =>
        s"""'Value Range: ' || min_text || ' thru ' || max_text
           | || CASE WHEN top_freq_values > ''
           |         THEN ', Top Freq Values: ' || REPLACE(top_freq_values, CHR(10), ' ; ')
           |         ELSE '' END""".stripMargin,
      redactable = true),
    Screen("Unlikely_Date_Values", "Column", d =>
      s"""general_type = 'D'
         | AND (CAST(min_date AS TIMESTAMP) BETWEEN DATE '0001-01-02' AND DATE '1900-01-01'
         |   OR CAST(max_date AS TIMESTAMP) > ${d.addMonths(runDateLit, 360)})""".stripMargin,
      _ => ratio("COALESCE(before_100yr_date_ct, 0) + COALESCE(distant_future_date_ct, 0)"),
      detail = d => s"""'Date Range: ' || ${d.fmtTs("CAST(min_date AS TIMESTAMP)")}
         | || ' thru ' || ${d.fmtTs("CAST(max_date AS TIMESTAMP)")}""".stripMargin,
      redactable = true),
    Screen("Potential_PII", "Column", _ => "pii_flag > ''",
      detail = _ =>
        s"""'Risk: ' || CASE LEFT(pii_flag, 1) WHEN 'A' THEN 'HIGH'
           |                 WHEN 'B' THEN 'MODERATE' WHEN 'C' THEN 'LOW' END
           | || ', PII Type: ' || SUBSTRING(pii_flag, 3)""".stripMargin),
    Screen("Invalid_Zip_USA", "Column", _ => {
      // pattern entries sit at even ' | '-positions of "ct | pat | ct | pat…"
      val badPat = (1 to 5).map { k =>
        val p = s"SPLIT_PART(top_patterns, ' | ', ${2 * k})"
        s"($p > '' AND $p NOT IN ('NNNNN', 'NNNNN-NNNN', 'NNNNNNNNN'))"
      }.mkString("(", " OR ", ")")
      s"""$fdt = 'Zip' AND (general_type <> 'A' OR filled_value_ct > 0 OR $badPat)""".stripMargin
    },
      detail = d => {
        // the even-position pattern entries, comma-joined skipping blanks
        // (the reference's string_agg over alternating parts)
        val pats = (1 to 5)
          .map(k => s"NULLIF(SPLIT_PART(top_patterns, ' | ', ${2 * k}), '')")
          .mkString("CONCAT_WS(',', ", ", ", ")")
        s"""CASE WHEN general_type = 'N' THEN 'Type: ' || column_type ELSE '' END
           | || CASE WHEN general_type = 'A'
           |         THEN 'Patterns: ' || $pats
           |              || ', Dummy Values: ' || ${d.castText("filled_value_ct")}
           |         ELSE '' END""".stripMargin
      })
  )

  /** parsefreq over top_patterns: '|'-separated `ct | pat | ct | pat`. */
  private def parseFreqPat(part: Int): String =
    s"TRIM(SPLIT_PART(top_patterns, '|', $part))"

  private def multiTypesDetail(d: Dialect): String =
    s"""'Found ' || ${d.castText("m.column_ct")} || ' columns, '
       | || ${d.castText("m.type_ct")} || ' types, '
       | || m.min_type || ' to ' || m.max_type""".stripMargin

  val multiColScreens: Seq[(String, String, Dialect => String)] = Seq(
    ("Multiple_Types_Major", "m.general_type_ct > 1", multiTypesDetail _),
    ("Multiple_Types_Minor", "m.general_type_ct = 1 AND m.type_ct > 1",
      multiTypesDetail _),
    // profile_anomaly_types_Table_Pattern_Mismatch.yaml anomaly_criteria
    ("Table_Pattern_Mismatch",
      s"""p.general_type = 'A'
         | AND NOT ${"LOWER(p.functional_data_type) LIKE 'measurement%'"}
         | AND p.functional_data_type NOT IN ('Category', 'Code')
         | AND p.max_length > 3
         | AND p.value_ct > (p.numeric_ct + p.filled_value_ct + p.zero_length_ct)
         | AND m.max_pattern_ct = 1 AND m.column_ct > 1
         | AND SPLIT_PART(p.top_patterns, '|', 2) <> SPLIT_PART(m.very_top_pattern, '|', 2)
         | AND TRY_CAST(TRIM(SPLIT_PART(p.top_patterns, '|', 1)) AS DOUBLE)
         |     / TRY_CAST(SPLIT_PART(m.very_top_pattern, '|', 1) AS DOUBLE) < 0.1""".stripMargin,
      (d: Dialect) =>
        s"""'Patterns: ' || SPLIT_PART(p.top_patterns, '|', 2) || ', '
           | || SPLIT_PART(${d.ltrimChars("m.very_top_pattern", "0")}, '|', 2)""".stripMargin))

  /** Variant-coding vocabulary (reference variant_codings seed). */
  val variantCodings: Seq[String] = Seq(
    "meter|m|metre", "centimeter|cm|centimetre", "millimeter|mm|millimetre",
    "kilometer|km|kilometre", "inches|inch|in|\"", "foot|ft|feet|'",
    "yard|yd", "mile|mi|miles", "kilogram|kgs|kg", "gram|g",
    "milligram|mgs|mg", "pound|lb|lbs|pounds", "ounce|oz",
    "liter|l|litre|liters|litres", "milliliter|ml|millilitre",
    "gallon|gal|gallons", "quart|qt", "pint|pt", "cup|cups", "percent|pct|%",
    "fluid ounce|fl oz|fluid ounces", "tablet|tab|tabs", "capsule|cap|caps",
    "once daily|daily|qd", "twice daily|bid", "three times daily|tid",
    "four times daily|qid", "as needed|prn", "before meals|ac",
    "after meals|pc", "at bedtime|hs", "intravenous|iv",
    "subcutaneous|sc|sq", "intramuscular|im", "oral|po", "per rectum|pr",
    "drops|gtt|gtts", "treatment|trx|tx",
    "new patients|new patient|new pt|nrx", "patient|pat|pt|px",
    "prescription|rx")

  def dateScreens(d: Dialect): Seq[(String, String)] = Seq(
    "Recency_One_Year" -> s"mx < ${d.addMonths(runDateLit, -12)}",
    "Recency_Six_Months" ->
      s"mx >= ${d.addMonths(runDateLit, -12)} AND mx < ${d.addMonths(runDateLit, -6)}")

  /** Table-scope recency detail ('Most Recent Date: …', redactable in
    * the reference). */
  private def recencyDetail(d: Dialect): String =
    s"'Most Recent Date: ' || ${d.fmtTs("mx")}"

  /** Enriched profile: all metrics + functional type + mixed_case_ct.
    * The reference lands profile_results in its app DB before screening;
    * we mirror that by materializing this (metadata-sized) relation so
    * the 28 screen branches don't each re-plan the inference cascade. */
  def enrichSql(rel: String)(d: Dialect): String =
    s"""WITH ${FunctionalType.stageCtes(rel)(d)}
       |SELECT e.*, ${PiiFlag.expr(d)} AS pii_flag FROM (
       |  SELECT s.*, f22 AS $fdt,
       |         (value_ct - upper_case_ct - lower_case_ct - non_alpha_ct) AS mixed_case_ct
       |    FROM s22 s
       |) e""".stripMargin

  /** The fused hygiene query over an enriched-profile relation. `muted`
    * rows are excluded (anomaly_type, table_name, column_name) — the
    * reference's inactive-anomaly anti-join. */
  /** dq_score_risk_factor per anomaly type (reference
    * dbsetup_anomaly_types YAMLs): the landed dq_prevalence is
    * formula × risk (profile_anomaly_scoring.sql). Types without a
    * factor keep 1.0 (their formula already is the prevalence). */
  private val riskFactor: Map[String, Double] = Map(
    "Char_Column_Date_Values" -> 0.66, "Char_Column_Number_Values" -> 0.66,
    "Column_Pattern_Mismatch" -> 0.66, "Leading_Spaces" -> 0.66,
    "No_Values" -> 0.33, "Potential_Duplicates" -> 0.33,
    "Quoted_Values" -> 0.66, "Small_Divergent_Value_Ct" -> 0.33,
    "Small_Missing_Value_Ct" -> 0.33, "Small_Numeric_Value_Ct" -> 0.66,
    "Standardized_Value_Matches" -> 0.66, "Unlikely_Date_Values" -> 0.66)

  /** Flatten a rendered SQL fragment to one line before interpolating it
    * into a stripMargin template (a second stripMargin would otherwise
    * eat the fragment's own continuation operators). */
  private def flat(sqlFragment: String): String =
    sqlFragment.linesIterator.map(_.trim).mkString(" ")

  def sql(rel: String, muted: Seq[(String, String, String)] = Nil)(d: Dialect): String = {
    val colScreens = screens.map { s =>
      val risk = riskFactor.getOrElse(s.name, 1.0)
      val red = if (s.redactable) 1 else 0
      s"""SELECT '${s.name}' AS anomaly_type, table_name, column_name,
         |       CAST(ROUND($risk * (${s.prevalence(d)}), 4) AS DOUBLE) AS prevalence,
         |       ${flat(s.detail(d))} AS detail,
         |       CAST($red AS INT) AS detail_redactable
         |  FROM enr WHERE ${s.criteria(d)}""".stripMargin
    }
    val multi = multiColScreens.map { case (n, crit, det) =>
      s"""SELECT '$n' AS anomaly_type, p.table_name, p.column_name,
         |       CAST(NULL AS DOUBLE) AS prevalence,
         |       ${flat(det(d))} AS detail, CAST(0 AS INT) AS detail_redactable
         |  FROM enr p JOIN mc m ON p.column_name = m.column_name WHERE $crit""".stripMargin
    }
    val dates = dateScreens(d).map { case (n, crit) =>
      s"""SELECT '$n' AS anomaly_type, table_name, '(table)' AS column_name,
         |       CAST(NULL AS DOUBLE) AS prevalence,
         |       ${recencyDetail(d)} AS detail, CAST(1 AS INT) AS detail_redactable
         |  FROM md WHERE $crit""".stripMargin
    }
    val variants =
      s"""SELECT 'Variant_Coded_Values' AS anomaly_type, table_name, column_name,
         |       CAST(NULL AS DOUBLE) AS prevalence,
         |       'Variants Found: ' || variant_list AS detail,
         |       CAST(0 AS INT) AS detail_redactable
         |  FROM (SELECT h.table_name, h.column_name,
         |               ${d.stringAggDistinct("m.val", ",")} AS variant_list
         |          FROM vhits h
         |          JOIN vmatch m
         |            ON m.table_name = h.table_name
         |           AND m.column_name = h.column_name
         |           AND m.check_values = h.check_values
         |         GROUP BY h.table_name, h.column_name) v""".stripMargin
    val unions = (colScreens ++ multi ++ dates :+ variants).mkString("\nUNION ALL\n")
    val muteFilter =
      if (muted.isEmpty) ""
      else {
        val rows = muted.map { case (a, t, c) => s"('$a', '$t', '$c')" }.mkString(", ")
        s""" WHERE (anomaly_type, table_name, column_name) NOT IN ($rows)"""
      }
    val vcodeRows = variantCodings
      .map(v => s"(${graft.functions.Patterns.sq(v.toLowerCase)})").mkString(", ")
    s"""WITH enr AS ${d.cteMaterialized}(
       |  SELECT * FROM $rel
       |),
       |mc AS (
       |  SELECT column_name, COUNT(*) AS column_ct,
       |         COUNT(DISTINCT general_type) AS general_type_ct,
       |         COUNT(DISTINCT column_type) AS type_ct,
       |         MIN(column_type) AS min_type, MAX(column_type) AS max_type,
       |         MIN(distinct_pattern_ct) AS min_pattern_ct,
       |         MAX(distinct_pattern_ct) AS max_pattern_ct,
       |         MAX(RIGHT(REPEAT('0', 20) || TRIM(SPLIT_PART(top_patterns, '|', 1)), 20) ||
       |             '|' || SPLIT_PART(top_patterns, '|', 2)) AS very_top_pattern
       |    FROM enr GROUP BY column_name
       |),
       |md AS (
       |  SELECT table_name, MAX(CAST(max_date AS TIMESTAMP)) AS mx FROM enr GROUP BY table_name
       |),
       |vcodes AS (SELECT * FROM (VALUES $vcodeRows) AS vc(check_values)),
       |tfv AS (
       |  SELECT table_name, column_name, TRIM(SPLIT_PART(piece, '|', 2)) AS val
       |    FROM (${d.splitRel(
                  "(SELECT table_name, column_name, top_freq_values FROM enr " +
                    "WHERE distinct_value_ct <= 20 AND top_freq_values > '') tf",
                  Seq("table_name", "column_name"), "top_freq_values", "CHR(10)")}) lines
       |),
       |vmatch AS (
       |  SELECT t.table_name, t.column_name, v.check_values, LOWER(t.val) AS val
       |    FROM tfv t JOIN vcodes v
       |      ON ${d.strposExpr("'|' || v.check_values || '|'", "'|' || LOWER(t.val) || '|'")} > 0
       |   WHERE t.val > ''
       |),
       |vhits AS (
       |  SELECT table_name, column_name, check_values
       |    FROM vmatch
       |   GROUP BY table_name, column_name, check_values
       |  HAVING COUNT(DISTINCT val) > 1
       |)
       |SELECT * FROM (
       |$unions
       |) all_anoms$muteFilter
       |ORDER BY anomaly_type, table_name, column_name""".stripMargin
  }

  /** Materialized enriched profile (metadata-sized: one row per column),
    * memoized per (session, dir) so every consumer — screens, test
    * generation, scoring — shares one inference pass. */
  def enrichedView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "enriched", dir, graft.core.Materialize.Local()) {
      spark.sql(enrichSql(FunctionalType.registerProfileAll(spark, dir))(SparkDialect))
    }

  def run(spark: SparkSession, dir: String,
          muted: Seq[(String, String, String)] = Nil): DataFrame =
    spark.sql(sql(enrichedView(spark, dir), muted)(SparkDialect))

  /** Materialized anomaly relation (metadata-sized: one row per
    * finding), memoized per (session, dir, muted) — the scoring family
    * consumes it repeatedly and the 36-branch fused screen query costs
    * more to re-plan than its output costs to hold locally. */
  def anomaliesView(spark: SparkSession, dir: String,
                    muted: Seq[(String, String, String)] = Nil): String =
    graft.core.Materialize.view(spark, "anomalies", (dir, muted),
      graft.core.Materialize.Local())(run(spark, dir, muted))

  def duckSql(muted: Seq[(String, String, String)] = Nil): String =
    sql(s"(${enrichSql(FunctionalType.duckProfileAllRel())(DuckDialect)})", muted)(DuckDialect)
}
