package graft.scoring

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.cat.{CatRunner, CatSuite, CatTest}
import graft.inference.{FunctionalType, HygieneScreens}
import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Data-quality scoring — SUM_LN log-product aggregate, the
  * Abramowitz-Stegun normal CDF, per-test prevalence formulas, and the
  * run/table score rollup.
  *
  * References:
  *  - SUM_LN: testgen/template/dbsetup/020_create_standard_functions_sprocs.sql:254-311
  *    (probability-no-issue product, skipping p<=0, p>0.999999, NULL;
  *    1 when empty);
  *  - fn_normal_cdf: same file :157-211;
  *  - prevalence: testgen/template/rollup_scores/calc_prevalence_test_results.sql:19-75
  *    (dq_prevalence = LEAST(1, risk * formula), formulas from each test
  *    type's `dq_score_prevalence_formula`) — the reference substitutes
  *    strings and evaluates via fn_eval; here formulas are typed SQL
  *    over the joined result+profile row, no dynamic eval needed;
  *  - rollup: testgen/template/rollup_scores/rollup_scores_profile_run.sql:8-52
  *    (score = 1 - Σaffected/Σpoints, affected = (1-SUM_LN(p))·record_ct).
  */
object Scoring {

  /** SUM_LN(p) over a grouped column. */
  def sumLn(p: String): String =
    s"EXP(COALESCE(SUM(CASE WHEN $p > 0.0 AND $p <= 0.999999 THEN LN(1.0 - $p) END), 0.0))"

  /** Abramowitz-Stegun standard normal CDF of expression `z`. */
  def normalCdf(z: String): String = {
    val t = s"(1.0 / (1.0 + 0.2316419 * ABS($z)))"
    val phi =
      s"""((1.0 / SQRT(2 * PI())) * EXP(-0.5 * ($z) * ($z)) *
         | (0.319381530 * $t - 0.356563782 * POWER($t, 2) + 1.781477937 * POWER($t, 3)
         |  - 1.821255978 * POWER($t, 4) + 1.330274429 * POWER($t, 5)))""".stripMargin.replace("\n", " ")
    s"""CASE WHEN ($z) <= -6.0 THEN 0.0 WHEN ($z) >= 6.0 THEN 1.0
       | WHEN ($z) >= 0 THEN 1.0 - $phi ELSE $phi END""".stripMargin.replace("\n", " ")
  }

  /** Per-test-type prevalence formula over (r = failed result row,
    * p = profile row, pr = test parameters). `m` = result measure,
    * `t` = the test's threshold (a DOUBLE column of the params relation,
    * so one dispatch expression covers every test of the type). */
  private def formula(testType: String, d: Dialect): Option[(Double, String)] = {
    val m = "r.measure_num"
    val t = "pr.thr"
    val rc = "NULLIF(CAST(p.record_ct AS DOUBLE), 0)"
    val generic = Some(1.0 -> s"($m - $t) / $rc")
    testType match {
      case "Required" | "Unique" | "LOV_Match" | "Min_Date" | "Min_Val" |
           "Pattern_Match" | "US_State" | "Valid_Month" | "Valid_US_Zip" |
           "Valid_US_Zip3" | "Constant" | "Condition_Flag" | "Email_Format" |
           "Future_Date" | "Future_Date_1Y" | "Distinct_Date_Ct" => generic
      case "Valid_Characters" => Some(0.75 -> s"($m - $t) / $rc")
      case "Row_Ct" => Some(1.0 -> s"($m - $t) / NULLIF(CAST($t AS DOUBLE), 0)")
      case "Row_Ct_Pct" => Some(1.0 -> s"(100.0 - $m) / 100.0")
      case "Avg_Shift" | "Missing_Pct" | "Unique_Pct" =>
        Some(0.75 -> s"2.0 * (1.0 - ${normalCdf(s"ABS($m) / 2.0")})")
      case "Incr_Avg_Shift" =>
        Some(0.75 -> s"CAST(p.record_ct AS DOUBLE) * (1.0 - ${normalCdf(m)}) / $rc")
      case "Outlier_Pct_Above" | "Outlier_Pct_Below" =>
        Some(0.75 -> s"GREATEST(0, $m - $t)")
      case "Variability_Increase" | "Variability_Decrease" => Some(0.75 -> "1.0")
      case "Dec_Trunc" => Some(1.0 -> "1.0")
      case "Alpha_Trunc" =>
        val s3 = "(NULLIF(CAST(p.max_length AS DOUBLE), 0) / 3)"
        Some(1.0 -> s"""CAST(p.value_ct AS DOUBLE) *
          | (${normalCdf(s"(p.max_length - p.avg_length) / $s3")}
          |  - ${normalCdf(s"($m - p.avg_length) / $s3")})""".stripMargin.replace("\n", " "))
      case "Daily_Record_Ct" =>
        Some(0.75 -> s"($m - $t) * CAST(p.record_ct AS DOUBLE) / NULLIF(CAST(p.date_days_present AS DOUBLE), 0) / $rc")
      case "Monthly_Rec_Ct" =>
        Some(1.0 -> s"($m - $t) * CAST(p.record_ct AS DOUBLE) / NULLIF(CAST(p.date_months_present AS DOUBLE), 0) / $rc")
      case "Weekly_Rec_Ct" =>
        Some(1.0 -> s"($m - $t) * CAST(p.record_ct AS DOUBLE) / NULLIF(CAST(p.date_weeks_present AS DOUBLE), 0) / $rc")
      case "Distinct_Value_Ct" =>
        Some(1.0 -> s"ABS($m - $t) * CAST(p.record_ct AS DOUBLE) / NULLIF(CAST(p.distinct_value_ct AS DOUBLE), 0) / $rc")
      case "Recency" =>
        val span = d.dateDiffDay("CAST(p.min_date AS TIMESTAMP)", "CAST(p.max_date AS TIMESTAMP)")
        Some(0.75 -> s"(ABS($m - $t) * CAST(p.record_ct AS DOUBLE) / (1.0 + $span)) / $rc")
      case _ => None
    }
  }

  /** Prevalence of every failed CAT test: ONE pass over the (tiny) CAT
    * result relation — a params VALUES relation carries each test's
    * threshold + risk, and a single CASE dispatches the per-type formula.
    * (The earlier per-test UNION ALL re-planned the whole CAT subtree per
    * branch — hundreds of copies under Spark's CTE inlining.) */
  def testPrevalenceSql(catRel: String, enrRel: String)(d: Dialect): String = {
    val paramRows = for {
      (table, tests) <- CatSuite.suites.toSeq.sortBy(_._1)
      test <- tests
      if formula(test.testType, d).isDefined
      // thresholds are free-form SQL literals elsewhere (condition()
      // splices them raw); a non-numeric one (e.g. a date baseline) just
      // skips prevalence instead of failing the whole score family
      thr <- scala.util.Try(test.threshold.toDouble).toOption
    } yield s"('$table', '${test.testType}', '${test.column}', CAST($thr AS DOUBLE))"
    val types = CatSuite.suites.values.flatten.map(_.testType).toSeq.distinct.sorted
    val dispatch = types.flatMap { tt =>
      formula(tt, d).map { case (risk, f) => s"WHEN r.test_type = '$tt' THEN $risk * ($f)" }
    }
    s"""WITH catres AS ${d.cteMaterialized}(SELECT * FROM $catRel),
       |enr AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |params AS (
       |  SELECT * FROM (VALUES
       |    ${paramRows.mkString(",\n    ")}
       |  ) AS v(p_table, p_type, p_column, thr)
       |)
       |SELECT r.test_type, r.table_name, r.column_name,
       |       CAST(ROUND(LEAST(1.0, CASE ${dispatch.mkString("\n  ")} END), 4) AS DOUBLE) AS dq_prevalence
       |  FROM catres r
       |  JOIN params pr ON pr.p_table = r.table_name AND pr.p_type = r.test_type
       |                AND pr.p_column = r.column_name
       |  JOIN enr p ON p.table_name = r.table_name AND p.column_name = r.column_name
       | WHERE r.result_code = 0 AND r.measure_num IS NOT NULL
       | ORDER BY r.table_name, r.test_type, r.column_name""".stripMargin
  }

  /** Score rollup over hygiene-anomaly prevalences
    * (rollup_scores_profile_run.sql:8-52, weights disabled), plus a
    * whole-run total row. */
  def scoreRollupSql(enrRel: String, anomRel: String)(d: Dialect): String =
    s"""WITH enr_s AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |anoms_s AS ${d.cteMaterialized}(SELECT * FROM $anomRel),
       |score_detail AS (
       |  SELECT e.table_name, e.column_name,
       |         MAX(e.record_ct) AS row_ct,
       |         (1.0 - ${sumLn("COALESCE(a.prevalence, 0.0)")}) * MAX(e.record_ct) AS affected
       |    FROM enr_s e
       |    LEFT JOIN anoms_s a
       |      ON a.table_name = e.table_name AND a.column_name = e.column_name
       |   GROUP BY e.table_name, e.column_name),
       |per_table AS (
       |  SELECT table_name, SUM(row_ct) AS data_points, SUM(affected) AS affected_points
       |    FROM score_detail GROUP BY table_name)
       |SELECT table_name,
       |       CAST(data_points AS DOUBLE) AS data_points,
       |       CAST(ROUND(affected_points, 4) AS DOUBLE) AS affected_data_points,
       |       CAST(ROUND(1.0 - affected_points / NULLIF(data_points, 0), 6) AS DOUBLE) AS score
       |  FROM per_table
       |UNION ALL
       |SELECT '(run)', CAST(SUM(data_points) AS DOUBLE),
       |       CAST(ROUND(SUM(affected_points), 4) AS DOUBLE),
       |       CAST(ROUND(1.0 - SUM(affected_points) / NULLIF(SUM(data_points), 0), 6) AS DOUBLE)
       |  FROM per_table
       |ORDER BY table_name""".stripMargin

  /** dq_score_weight_defaults (reference
    * 030_initialize_new_schema_structure.sql:502-551): table weights by
    * functional_table_type suffix, column weights by functional_data_type,
    * PII weights by the pii_flag risk tier (first char). */
  private val tableWeights: Seq[(String, Double)] = Seq(
    "entity" -> 10.0, "domain" -> 5.0, "bridge" -> 5.0,
    "summary" -> 1.5, "transaction" -> 1.0)
  private val columnWeights: Seq[(String, Double)] = Seq(
    "ID" -> 3.0, "ID-SK" -> 3.0, "ID-Unique" -> 3.0, "ID-Unique-SK" -> 3.0,
    "ID-FK" -> 2.5, "ID-Secondary" -> 2.0, "ID-Group" -> 1.5,
    "Email" -> 2.0, "Phone" -> 2.0, "Person Full Name" -> 2.0,
    "Person Given Name" -> 1.5, "Person Last Name" -> 1.5,
    "Entity Name" -> 2.0, "Address" -> 1.5, "City" -> 1.5, "State" -> 1.5,
    "Zip" -> 1.5, "Date Stamp" -> 1.5, "DateTime Stamp" -> 1.5,
    "Process Date Stamp" -> 1.0, "Process DateTime Stamp" -> 1.0,
    "Transactional Date" -> 1.5, "Measurement" -> 1.5,
    "Measurement Pct" -> 1.5, "Code" -> 1.5, "Boolean" -> 1.0,
    "Category" -> 1.0, "Flag" -> 0.75, "Attribute" -> 0.75,
    "Description" -> 0.5, "Constant" -> 0.5, "Sequence" -> 0.5)
  private val piiWeights: Seq[(String, Double)] = Seq(
    "A" -> 3.0, "B" -> 2.0, "C" -> 1.5, "M" -> 3.0)

  /** record_ct × table_weight × column_weight × pii_weight — the
    * use_dq_score_weights=true branch of the rollup
    * (rollup_scores_profile_run.sql:11-19). */
  private def weightExpr: String = {
    val tab = tableWeights
      .map { case (s, w) => s"WHEN tt.functional_table_type LIKE '%$s' THEN $w" }
      .mkString("CASE ", " ", " ELSE 1.0 END")
    val colw = columnWeights
      .map { case (t, w) => s"WHEN e.functional_data_type = '$t' THEN $w" }
      .mkString("CASE ", " ", " ELSE 1.0 END")
    val pii = piiWeights
      .map { case (t, w) => s"WHEN LEFT(e.pii_flag, 1) = '$t' THEN $w" }
      .mkString("CASE ", " ", " ELSE 1.0 END")
    s"($tab) * ($colw) * ($pii)"
  }

  /** Weighted score rollup — the reference rollup with
    * use_dq_score_weights enabled: critical tables/columns and PII
    * columns contribute more data points, so their issues depress the
    * score harder. */
  def weightedScoreRollupSql(enrRel: String, anomRel: String,
                             ttRel: Option[String] = None)(d: Dialect): String = {
    // engine path passes the memoized 10-row table-type view (one raw
    // scan per session, shared with generation); the oracle inlines the
    // CTEs and recomputes
    val ttCtes = ttRel match {
      case Some(r) => s"tt AS (SELECT * FROM $r),"
      case None =>
        s"""${graft.generation.TestGenerator.periodCtes},
           |tt AS (${graft.generation.TestGenerator.tableTypeSql}),""".stripMargin
    }
    s"""WITH enr_s AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |enr AS (SELECT * FROM enr_s),
       |anoms_s AS ${d.cteMaterialized}(SELECT * FROM $anomRel),
       |$ttCtes
       |score_detail AS (
       |  SELECT e.table_name, e.column_name,
       |         MAX(e.record_ct * $weightExpr) AS row_ct,
       |         (1.0 - ${sumLn("COALESCE(a.prevalence, 0.0)")})
       |           * MAX(e.record_ct * $weightExpr) AS affected
       |    FROM enr_s e
       |    JOIN tt ON tt.table_name = e.table_name
       |    LEFT JOIN anoms_s a
       |      ON a.table_name = e.table_name AND a.column_name = e.column_name
       |   GROUP BY e.table_name, e.column_name),
       |per_table AS (
       |  SELECT table_name, SUM(row_ct) AS data_points, SUM(affected) AS affected_points
       |    FROM score_detail GROUP BY table_name)
       |SELECT table_name,
       |       CAST(ROUND(data_points, 2) AS DOUBLE) AS data_points,
       |       CAST(ROUND(affected_points, 4) AS DOUBLE) AS affected_data_points,
       |       CAST(ROUND(1.0 - affected_points / NULLIF(data_points, 0), 6) AS DOUBLE) AS score
       |  FROM per_table
       |UNION ALL
       |SELECT '(run)', CAST(ROUND(SUM(data_points), 2) AS DOUBLE),
       |       CAST(ROUND(SUM(affected_points), 4) AS DOUBLE),
       |       CAST(ROUND(1.0 - SUM(affected_points) / NULLIF(SUM(data_points), 0), 6) AS DOUBLE)
       |  FROM per_table
       |ORDER BY table_name""".stripMargin
  }

  def runWeightedScoreRollup(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    val ttView = graft.generation.TestGenerator.tableTypeView(spark, dir)
    spark.sql(weightedScoreRollupSql(enrView, HygieneScreens.anomaliesView(spark, dir),
      ttRel = Some(ttView))(SparkDialect))
  }

  def duckWeightedScoreRollupSql(): String =
    weightedScoreRollupSql(
      s"(${HygieneScreens.enrichSql(FunctionalType.duckProfileAllRel())(DuckDialect)})",
      s"(${HygieneScreens.duckSql()})")(DuckDialect)

  /** dq_dimension of each hygiene anomaly type (reference
    * dbsetup_anomaly_types YAMLs' `dq_dimension`). */
  private val anomalyDims: Map[String, String] = Map(
    "Boolean_Value_Mismatch" -> "Validity", "Char_Column_Date_Values" -> "Validity",
    "Char_Column_Number_Units" -> "Consistency", "Char_Column_Number_Values" -> "Validity",
    "Column_Pattern_Mismatch" -> "Validity", "Delimited_Data_Embedded" -> "Validity",
    "Inconsistent_Casing" -> "Validity", "Invalid_Zip3_USA" -> "Validity",
    "Invalid_Zip_USA" -> "Validity", "Leading_Spaces" -> "Validity",
    "Multiple_Types_Major" -> "Consistency", "Multiple_Types_Minor" -> "Consistency",
    "No_Values" -> "Completeness", "Non_Alpha_Name_Address" -> "Validity",
    "Non_Alpha_Prefixed_Name" -> "Validity", "Non_Printing_Chars" -> "Validity",
    "Non_Standard_Blanks" -> "Completeness", "Potential_Duplicates" -> "Uniqueness",
    "Potential_PII" -> "Validity", "Quoted_Values" -> "Validity",
    "Recency_One_Year" -> "Timeliness", "Recency_Six_Months" -> "Timeliness",
    "Small_Divergent_Value_Ct" -> "Validity", "Small_Missing_Value_Ct" -> "Completeness",
    "Small_Numeric_Value_Ct" -> "Validity", "Standardized_Value_Matches" -> "Uniqueness",
    "Table_Pattern_Mismatch" -> "Validity", "Unexpected_Emails" -> "Consistency",
    "Unexpected_US_States" -> "Consistency", "Unlikely_Date_Values" -> "Accuracy",
    "Variant_Coded_Values" -> "Consistency")

  /** dq_dimension of each CAT test type (reference dbsetup_test_types
    * YAMLs' `dq_dimension`). */
  private val testDims: Map[String, String] = Map(
    "Alpha_Trunc" -> "Validity", "Avg_Shift" -> "Consistency",
    "Condition_Flag" -> "Validity", "Constant" -> "Validity",
    "Daily_Record_Ct" -> "Completeness", "Dec_Trunc" -> "Validity",
    "Distinct_Date_Ct" -> "Timeliness", "Distinct_Value_Ct" -> "Validity",
    "Email_Format" -> "Validity", "Future_Date" -> "Timeliness",
    "Future_Date_1Y" -> "Timeliness", "Incr_Avg_Shift" -> "Accuracy",
    "LOV_All" -> "Validity", "LOV_Match" -> "Validity",
    "Min_Date" -> "Validity", "Min_Val" -> "Validity",
    "Missing_Pct" -> "Completeness", "Monthly_Rec_Ct" -> "Completeness",
    "Outlier_Pct_Above" -> "Accuracy", "Outlier_Pct_Below" -> "Accuracy",
    "Pattern_Match" -> "Validity", "Recency" -> "Timeliness",
    "Required" -> "Completeness", "Row_Ct" -> "Completeness",
    "Row_Ct_Pct" -> "Completeness", "Street_Addr_Pattern" -> "Validity",
    "US_State" -> "Validity", "Unique" -> "Uniqueness",
    "Unique_Pct" -> "Uniqueness", "Valid_Characters" -> "Validity",
    "Valid_Month" -> "Validity", "Valid_US_Zip" -> "Validity",
    "Valid_US_Zip3" -> "Validity", "Variability_Decrease" -> "Accuracy",
    "Variability_Increase" -> "Accuracy", "Weekly_Rec_Ct" -> "Completeness")

  private def dimCase(col: String, dims: Map[String, String]): String =
    dims.toSeq.sorted
      .map { case (k, v) => s"WHEN $col = '$k' THEN '$v'" }
      .mkString("CASE ", " ", " END")

  /** Score cards: per (table, dq_dimension) SUM_LN score rollup over
    * hygiene-anomaly prevalences and failed-test prevalences together
    * (reference: the testgen/template/score_cards SQL templates'
    * breakdowns by dq_dimension). Table-scope anomaly rows have no profile
    * column and are excluded, as the reference's column-keyed score
    * details are. */
  def scoreCardSql(enrRel: String, anomRel: String, prevRel: String)(d: Dialect): String =
    s"""WITH enr_c AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |anoms_c AS ${d.cteMaterialized}(SELECT * FROM $anomRel),
       |prev_c AS ${d.cteMaterialized}(SELECT * FROM $prevRel),
       |dimmed AS (
       |  SELECT table_name, column_name,
       |         ${dimCase("anomaly_type", anomalyDims)} AS dq_dimension,
       |         prevalence AS p
       |    FROM anoms_c
       |  UNION ALL
       |  SELECT table_name, column_name,
       |         ${dimCase("test_type", testDims)} AS dq_dimension,
       |         dq_prevalence AS p
       |    FROM prev_c),
       |percol AS (
       |  SELECT m.table_name, m.dq_dimension, m.column_name,
       |         (1.0 - ${sumLn("COALESCE(m.p, 0.0)")}) * MAX(e.record_ct) AS affected
       |    FROM dimmed m
       |    JOIN enr_c e ON e.table_name = m.table_name AND e.column_name = m.column_name
       |   WHERE m.dq_dimension IS NOT NULL
       |   GROUP BY m.table_name, m.dq_dimension, m.column_name),
       |perdim AS (
       |  SELECT table_name, dq_dimension, SUM(affected) AS affected
       |    FROM percol GROUP BY table_name, dq_dimension),
       |totals AS (
       |  -- denominator over ALL profiled columns of the table (matching
       |  -- the run-rollup), so healthy columns raise dimension scores
       |  SELECT table_name, SUM(record_ct) AS data_points
       |    FROM enr_c GROUP BY table_name)
       |SELECT p.table_name, p.dq_dimension,
       |       CAST(t.data_points AS DOUBLE) AS data_points,
       |       CAST(ROUND(p.affected, 4) AS DOUBLE) AS affected_data_points,
       |       CAST(ROUND(1.0 - p.affected / NULLIF(t.data_points, 0), 6) AS DOUBLE) AS score
       |  FROM perdim p
       |  JOIN totals t ON t.table_name = p.table_name
       | ORDER BY p.table_name, p.dq_dimension""".stripMargin

  // ---- score-card breakdowns (impact / score / issue_ct contract) ----
  // The reference's score-card queries (testgen/template/score_cards/
  // get_score_card_breakdown_by_column.sql, _by_dimension.sql) combine
  // the profiling and test scoring families per grouping key:
  //   impact  = 100 * (pts_p*(1-score_p)/total_p + pts_t*(1-score_t)/total_t)
  //   score   = COALESCE(score_p, 1) * COALESCE(score_t, 1)
  //   issue_ct= COALESCE(issues_p, 0) + COALESCE(issues_t, 0)
  // ordered by impact. Weights are off here (matching the unweighted
  // dq_scores entry); the weighted rollup remains its own entry.

  /** By-column score-card breakdown. Every tested column is profiled, so
    * the reference's FULL OUTER join degenerates to a LEFT join from the
    * profiling side. */
  def scoreCardColumnsSql(enrRel: String, anomRel: String,
                          prevRel: String)(d: Dialect): String =
    s"""WITH enr_b AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |anoms_b AS ${d.cteMaterialized}(SELECT * FROM $anomRel),
       |prev_b AS ${d.cteMaterialized}(SELECT * FROM $prevRel),
       |prof AS (
       |  SELECT e.table_name, e.column_name,
       |         COUNT(a.anomaly_type) AS issue_ct,
       |         MAX(e.record_ct) AS data_point_ct,
       |         ${sumLn("COALESCE(a.prevalence, 0.0)")} AS score
       |    FROM enr_b e
       |    LEFT JOIN anoms_b a
       |      ON a.table_name = e.table_name AND a.column_name = e.column_name
       |   GROUP BY e.table_name, e.column_name),
       |tst AS (
       |  SELECT p.table_name, p.column_name,
       |         COUNT(*) AS issue_ct,
       |         MAX(e.record_ct) AS data_point_ct,
       |         ${sumLn("COALESCE(p.dq_prevalence, 0.0)")} AS score
       |    FROM prev_b p
       |    JOIN enr_b e
       |      ON e.table_name = p.table_name AND e.column_name = p.column_name
       |   GROUP BY p.table_name, p.column_name),
       |parent AS (
       |  SELECT (SELECT SUM(data_point_ct) FROM prof) AS profiling_points,
       |         (SELECT SUM(data_point_ct) FROM tst) AS test_points)
       |SELECT pr.table_name, pr.column_name,
       |       CAST(ROUND(100 * (COALESCE(pr.data_point_ct * (1 - pr.score)
       |                           / NULLIF(parent.profiling_points, 0), 0)
       |                       + COALESCE(t.data_point_ct * (1 - t.score)
       |                           / NULLIF(parent.test_points, 0), 0)), 6)
       |            AS DOUBLE) AS impact,
       |       CAST(ROUND(COALESCE(pr.score, 1) * COALESCE(t.score, 1), 6)
       |            AS DOUBLE) AS score,
       |       CAST(COALESCE(pr.issue_ct, 0) + COALESCE(t.issue_ct, 0)
       |            AS BIGINT) AS issue_ct
       |  FROM prof pr
       |  LEFT JOIN tst t
       |    ON t.table_name = pr.table_name AND t.column_name = pr.column_name
       |  CROSS JOIN parent
       | ORDER BY impact DESC, pr.table_name, pr.column_name
       | LIMIT 100""".stripMargin

  /** By-dimension score-card breakdown: the same impact contract grouped
    * by dq_dimension (each family's per-column-per-dimension SUM_LN rows
    * aggregate point-weighted into a dimension score, mirroring
    * v_dq_*_scoring_latest_by_dimension + the breakdown template). */
  def scoreCardDimensionsSql(enrRel: String, anomRel: String,
                             prevRel: String)(d: Dialect): String =
    s"""WITH enr_b AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |anoms_b AS ${d.cteMaterialized}(SELECT * FROM $anomRel),
       |prev_b AS ${d.cteMaterialized}(SELECT * FROM $prevRel),
       |prof_cd AS (
       |  SELECT a.table_name, a.column_name,
       |         ${dimCase("a.anomaly_type", anomalyDims)} AS dq_dimension,
       |         COUNT(*) AS issue_ct,
       |         MAX(e.record_ct) AS record_ct,
       |         ${sumLn("COALESCE(a.prevalence, 0.0)")} AS good_pct
       |    FROM anoms_b a
       |    JOIN enr_b e
       |      ON e.table_name = a.table_name AND e.column_name = a.column_name
       |   GROUP BY a.table_name, a.column_name, 3),
       |tst_cd AS (
       |  SELECT p.table_name, p.column_name,
       |         ${dimCase("p.test_type", testDims)} AS dq_dimension,
       |         COUNT(*) AS issue_ct,
       |         MAX(e.record_ct) AS record_ct,
       |         ${sumLn("COALESCE(p.dq_prevalence, 0.0)")} AS good_pct
       |    FROM prev_b p
       |    JOIN enr_b e
       |      ON e.table_name = p.table_name AND e.column_name = p.column_name
       |   GROUP BY p.table_name, p.column_name, 3),
       |prof_dim AS (
       |  SELECT dq_dimension, SUM(issue_ct) AS issue_ct,
       |         SUM(record_ct) AS data_point_ct,
       |         SUM(record_ct * good_pct) / NULLIF(SUM(record_ct), 0) AS score
       |    FROM prof_cd WHERE dq_dimension IS NOT NULL GROUP BY dq_dimension),
       |tst_dim AS (
       |  SELECT dq_dimension, SUM(issue_ct) AS issue_ct,
       |         SUM(record_ct) AS data_point_ct,
       |         SUM(record_ct * good_pct) / NULLIF(SUM(record_ct), 0) AS score
       |    FROM tst_cd WHERE dq_dimension IS NOT NULL GROUP BY dq_dimension),
       |parent AS (
       |  SELECT (SELECT SUM(record_ct) FROM
       |            (SELECT MAX(record_ct) AS record_ct FROM enr_b
       |              GROUP BY table_name, column_name) pe) AS profiling_points,
       |         (SELECT SUM(record_ct) FROM
       |            (SELECT MAX(e.record_ct) AS record_ct FROM prev_b p
       |              JOIN enr_b e ON e.table_name = p.table_name
       |                          AND e.column_name = p.column_name
       |              GROUP BY p.table_name, p.column_name) pt) AS test_points)
       |SELECT COALESCE(pr.dq_dimension, t.dq_dimension) AS dq_dimension,
       |       CAST(ROUND(100 * (COALESCE(pr.data_point_ct * (1 - pr.score)
       |                           / NULLIF(parent.profiling_points, 0), 0)
       |                       + COALESCE(t.data_point_ct * (1 - t.score)
       |                           / NULLIF(parent.test_points, 0), 0)), 6)
       |            AS DOUBLE) AS impact,
       |       CAST(ROUND(COALESCE(pr.score, 1) * COALESCE(t.score, 1), 6)
       |            AS DOUBLE) AS score,
       |       CAST(COALESCE(pr.issue_ct, 0) + COALESCE(t.issue_ct, 0)
       |            AS BIGINT) AS issue_ct
       |  FROM prof_dim pr
       |  FULL JOIN tst_dim t ON t.dq_dimension = pr.dq_dimension
       |  CROSS JOIN parent
       | ORDER BY impact DESC, dq_dimension""".stripMargin

  /** issue_likelihood per anomaly type (reference dbsetup_anomaly_types
    * YAMLs' `issue_likelihood`). */
  private val issueLikelihood: Map[String, String] = Map(
    "Boolean_Value_Mismatch" -> "Likely", "Char_Column_Date_Values" -> "Likely",
    "Char_Column_Number_Units" -> "Possible", "Char_Column_Number_Values" -> "Likely",
    "Column_Pattern_Mismatch" -> "Likely", "Delimited_Data_Embedded" -> "Likely",
    "Inconsistent_Casing" -> "Definite", "Invalid_Zip3_USA" -> "Definite",
    "Invalid_Zip_USA" -> "Definite", "Leading_Spaces" -> "Likely",
    "Multiple_Types_Major" -> "Likely", "Multiple_Types_Minor" -> "Possible",
    "No_Values" -> "Possible", "Non_Alpha_Name_Address" -> "Definite",
    "Non_Alpha_Prefixed_Name" -> "Definite", "Non_Printing_Chars" -> "Definite",
    "Non_Standard_Blanks" -> "Definite", "Potential_Duplicates" -> "Possible",
    "Potential_PII" -> "Potential PII", "Quoted_Values" -> "Likely",
    "Recency_One_Year" -> "Possible", "Recency_Six_Months" -> "Possible",
    "Small_Divergent_Value_Ct" -> "Possible", "Small_Missing_Value_Ct" -> "Possible",
    "Small_Numeric_Value_Ct" -> "Likely", "Standardized_Value_Matches" -> "Likely",
    "Suggested_Type" -> "Likely", "Table_Pattern_Mismatch" -> "Likely",
    "Unexpected_Emails" -> "Possible", "Unexpected_US_States" -> "Possible",
    "Unlikely_Date_Values" -> "Likely", "Variant_Coded_Values" -> "Definite")

  /** Engine default for the reference's critical_data_element tag
    * (data_column_chars.critical_data_element — a user tag with no
    * computed source): computed ID columns and PII-flagged columns,
    * the documented deviation used by every CDE-scoped surface. */
  private def cdeExpr(e: String): String =
    s"""CASE WHEN $e.pii_flag IS NOT NULL
       | OR $e.functional_data_type LIKE 'ID%' THEN 1 ELSE 0 END"""
      .stripMargin.replace("\n", "")

  /** The issues union (hygiene anomalies with issue_likelihood +
    * Failed/Warning CAT results) carrying severity rank, dq_dimension,
    * and the CDE flag — the shared base of the by-column, by-dimension,
    * and impact(CDE)-dimension issue drill-downs
    * (get_score_card_issues_by_column.sql, _by_dimension.sql,
    * _by_impact_dimension.sql). */
  private def issuesBase(enrRel: String, anomRel: String,
                         catRel: String)(d: Dialect): String = {
    val likelihood = dimCase("a.anomaly_type", issueLikelihood)
    s"""WITH enr_i AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |anoms_i AS ${d.cteMaterialized}(SELECT * FROM $anomRel),
       |cat_i AS ${d.cteMaterialized}(SELECT * FROM $catRel),
       |issues AS (
       |  SELECT 'hygiene' AS issue_type, a.anomaly_type AS issue_name,
       |         a.table_name, a.column_name,
       |         $likelihood AS status,
       |         ${dimCase("a.anomaly_type", anomalyDims)} AS dq_dimension,
       |         a.prevalence AS measure, e.pii_flag,
       |         ${cdeExpr("e")} AS is_cde,
       |         CASE WHEN a.detail_redactable = 1 AND e.pii_flag IS NOT NULL
       |              THEN '${graft.lookup.DrillDown.Redacted}'
       |              ELSE a.detail END AS detail
       |    FROM anoms_i a
       |    LEFT JOIN enr_i e
       |      ON e.table_name = a.table_name AND e.column_name = a.column_name
       |  UNION ALL
       |  SELECT 'test', c.test_type, c.table_name, c.column_name,
       |         c.result_status,
       |         ${dimCase("c.test_type", testDims)} AS dq_dimension,
       |         c.measure_num, ${d.nullOf("text")},
       |         ${cdeExpr("e")} AS is_cde,
       |         ${d.nullOf("text")}
       |    FROM cat_i c
       |    LEFT JOIN enr_i e
       |      ON e.table_name = c.table_name AND e.column_name = c.column_name
       |   WHERE c.result_status IN ('Failed', 'Warning')
       |)""".stripMargin
  }

  /** The shared severity-ranked issues projection — the three issue
    * drill-downs differ only in a leading scope column and filter, and
    * the severity mapping (get_score_card_issues_by_column.sql:
    * Definite 1, Failed 2, Likely 3, Possible 4, Warning 5, else 6)
    * must stay ONE copy or the drill-downs disagree on a rank change. */
  private def issuesSelect(base: String, leadCols: String,
                           where: String): String =
    s"""$base
       |SELECT ${leadCols}issue_type, issue_name, table_name, column_name,
       |       status,
       |       CAST(ROUND(measure, 4) AS DOUBLE) AS measure, pii_flag, detail,
       |       CAST(CASE status WHEN 'Definite' THEN 1 WHEN 'Failed' THEN 2
       |                        WHEN 'Likely' THEN 3 WHEN 'Possible' THEN 4
       |                        WHEN 'Warning' THEN 5 ELSE 6 END AS INT)
       |         AS severity_rank
       |  FROM issues
       | $where
       | ORDER BY ${leadCols}severity_rank, LOWER(table_name),
       |          LOWER(column_name), issue_name""".stripMargin

  /** Score-card issues drill-down: the hygiene anomalies (with their
    * issue_likelihood status and the column's pii_flag) unioned with the
    * Failed/Warning CAT results, ordered by the reference's severity
    * rank. */
  def scoreCardIssuesSql(enrRel: String, anomRel: String,
                         catRel: String)(d: Dialect): String =
    issuesSelect(issuesBase(enrRel, anomRel, catRel)(d), "", "")

  /** Issues scoped by quality dimension
    * (get_score_card_issues_by_dimension.sql): the same union keyed by
    * each issue's dq_dimension (anomaly/test YAML `dq_dimension`), so a
    * score-card dimension tile drills to exactly its issues. */
  def scoreCardIssuesDimensionsSql(enrRel: String, anomRel: String,
                                   catRel: String)(d: Dialect): String =
    issuesSelect(issuesBase(enrRel, anomRel, catRel)(d), "dq_dimension, ",
      "WHERE dq_dimension IS NOT NULL")

  /** Issues scoped by impact (CDE) dimension
    * (get_score_card_issues_by_impact_dimension.sql): the dimension
    * drill-down restricted to critical-data-element columns — the
    * reference's CDE-weighted scoring views feed the same filter;
    * CDE here is the engine's computed default ([[cdeExpr]]). */
  def scoreCardIssuesImpactSql(enrRel: String, anomRel: String,
                               catRel: String)(d: Dialect): String =
    issuesSelect(issuesBase(enrRel, anomRel, catRel)(d), "dq_dimension, ",
      "WHERE dq_dimension IS NOT NULL AND is_cde = 1")

  /** CAT results across every suite table, memoized per (session, dir) —
    * shared by prevalence, score cards and the issues drill-down. */
  private[graft] def catResultsView(spark: SparkSession, dir: String): String =
    // materialized (see prevalenceView): every consumer of the bare view
    // re-executed the 4-suite union plan; the result is one row per CAT
    // test — LocalRelation-sized, ENFORCED by the capped collect (falls
    // back to a distributed checkpoint past the cap).
    graft.core.Materialize.view(spark, "catres", dir, graft.core.Materialize.Local()) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = graft.core.Pools.actions
      Await.result(
        Future.sequence(CatSuite.suites.keys.toSeq.sorted.map(t =>
          Future(CatSuite.run(spark, dir, t).withColumn("table_name", lit(t))))),
        Duration.Inf)
        .reduce(_ unionByName _)
    }

  private[graft] def duckCatRel(): String =
    CatSuite.suites.keys.toSeq.sorted
      .map(t => s"SELECT '$t' AS table_name, * FROM (${CatSuite.duckSql(t)})")
      .mkString("(\n", "\nUNION ALL\n", "\n)")

  def runScoreCardIssues(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    spark.sql(scoreCardIssuesSql(enrView, HygieneScreens.anomaliesView(spark, dir),
      catResultsView(spark, dir))(SparkDialect))
  }

  def duckScoreCardIssuesSql(): String =
    scoreCardIssuesSql(duckEnr(), s"(${HygieneScreens.duckSql()})",
      duckCatRel())(DuckDialect)

  /** Prevalence of failed QUERY-type tests (the reference's
    * dq_score_prevalence_formula of the templated multi-table types:
    * the Aggregate family scores a flat 1, Distribution_Shift 1 with
    * risk 0.75, and the combo/dupe/custom family
    * (measure - threshold) / record_ct with risk 1.0; every
    * instantiated threshold here is 0). */
  def queryPrevalenceSql(qresRel: String, enrRel: String)(d: Dialect): String =
    s"""WITH qres AS ${d.cteMaterialized}(SELECT * FROM $qresRel),
       |enr_q AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |rc AS (
       |  SELECT table_name, MAX(record_ct) AS record_ct
       |    FROM enr_q GROUP BY table_name)
       |SELECT r.test_type, r.table_name, r.column_names,
       |       CAST(ROUND(LEAST(1.0, CASE
       |         WHEN r.test_type IN ('Aggregate_Balance', 'Aggregate_Minimum',
       |                              'Aggregate_Balance_Percent',
       |                              'Aggregate_Balance_Range') THEN 1.0
       |         WHEN r.test_type = 'Distribution_Shift' THEN 0.75 * 1.0
       |         ELSE 1.0 * r.result_measure
       |                / NULLIF(CAST(c.record_ct AS DOUBLE), 0) END), 4)
       |            AS DOUBLE) AS dq_prevalence
       |  FROM qres r
       |  JOIN rc c ON c.table_name = r.table_name
       | WHERE r.result_code = 0
       | ORDER BY r.test_type, r.table_name""".stripMargin

  /** QUERY-test result rows across the suite, memoized per (session,
    * dir) — ten metadata-sized rows held locally. */
  private def queryResultsView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "qres", dir, graft.core.Materialize.Local()) {
      graft.querytests.QueryTests.tests
        .map(t => graft.querytests.QueryTests.run(spark, dir, t.name))
        .reduce(_ unionByName _)
    }

  def runQueryPrevalence(spark: SparkSession, dir: String): DataFrame =
    spark.sql(queryPrevalenceSql(queryResultsView(spark, dir),
      enrichedView(spark, dir))(SparkDialect))

  def duckQueryPrevalenceSql(): String = {
    val qres = graft.querytests.QueryTests.tests
      .map(t => s"SELECT * FROM (${graft.querytests.QueryTests.duckSql(t.name)})")
      .mkString("(\n", "\nUNION ALL\n", "\n)")
    queryPrevalenceSql(qres, duckEnr())(DuckDialect)
  }

  /** By-semantic-type score-card breakdown: the reference's category
    * grouping over the scoring views ({columns} = semantic_data_type in
    * get_category_scores_by_column.sql — the UI's "group by" selector);
    * the engine's semantic type is the inferred functional_data_type. */
  def scoreCardCategoriesSql(enrRel: String, anomRel: String,
                             prevRel: String)(d: Dialect): String =
    s"""WITH enr_b AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |anoms_b AS ${d.cteMaterialized}(SELECT * FROM $anomRel),
       |prev_b AS ${d.cteMaterialized}(SELECT * FROM $prevRel),
       |prof_col AS (
       |  SELECT e.table_name, e.column_name,
       |         MAX(e.functional_data_type) AS semantic_data_type,
       |         COUNT(a.anomaly_type) AS issue_ct,
       |         MAX(e.record_ct) AS record_ct,
       |         ${sumLn("COALESCE(a.prevalence, 0.0)")} AS good_pct
       |    FROM enr_b e
       |    LEFT JOIN anoms_b a
       |      ON a.table_name = e.table_name AND a.column_name = e.column_name
       |   GROUP BY e.table_name, e.column_name),
       |tst_col AS (
       |  SELECT p.table_name, p.column_name,
       |         MAX(e.functional_data_type) AS semantic_data_type,
       |         COUNT(*) AS issue_ct,
       |         MAX(e.record_ct) AS record_ct,
       |         ${sumLn("COALESCE(p.dq_prevalence, 0.0)")} AS good_pct
       |    FROM prev_b p
       |    JOIN enr_b e
       |      ON e.table_name = p.table_name AND e.column_name = p.column_name
       |   GROUP BY p.table_name, p.column_name),
       |prof_cat AS (
       |  SELECT semantic_data_type, SUM(issue_ct) AS issue_ct,
       |         SUM(record_ct) AS data_point_ct,
       |         SUM(record_ct * good_pct) / NULLIF(SUM(record_ct), 0) AS score
       |    FROM prof_col GROUP BY semantic_data_type),
       |tst_cat AS (
       |  SELECT semantic_data_type, SUM(issue_ct) AS issue_ct,
       |         SUM(record_ct) AS data_point_ct,
       |         SUM(record_ct * good_pct) / NULLIF(SUM(record_ct), 0) AS score
       |    FROM tst_col GROUP BY semantic_data_type),
       |parent AS (
       |  SELECT (SELECT SUM(record_ct) FROM prof_col) AS profiling_points,
       |         (SELECT SUM(record_ct) FROM tst_col) AS test_points)
       |SELECT COALESCE(pr.semantic_data_type, t.semantic_data_type)
       |         AS semantic_data_type,
       |       CAST(ROUND(100 * (COALESCE(pr.data_point_ct * (1 - pr.score)
       |                           / NULLIF(parent.profiling_points, 0), 0)
       |                       + COALESCE(t.data_point_ct * (1 - t.score)
       |                           / NULLIF(parent.test_points, 0), 0)), 6)
       |            AS DOUBLE) AS impact,
       |       CAST(ROUND(COALESCE(pr.score, 1) * COALESCE(t.score, 1), 6)
       |            AS DOUBLE) AS score,
       |       CAST(COALESCE(pr.issue_ct, 0) + COALESCE(t.issue_ct, 0)
       |            AS BIGINT) AS issue_ct
       |  FROM prof_cat pr
       |  FULL JOIN tst_cat t ON t.semantic_data_type = pr.semantic_data_type
       |  CROSS JOIN parent
       | ORDER BY impact DESC, semantic_data_type""".stripMargin

  def runScoreCardCategories(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    spark.sql(scoreCardCategoriesSql(enrView,
      HygieneScreens.anomaliesView(spark, dir),
      prevalenceView(spark, dir))(SparkDialect))
  }

  def duckScoreCardCategoriesSql(): String =
    scoreCardCategoriesSql(duckEnr(), s"(${HygieneScreens.duckSql()})",
      s"(${duckTestPrevalenceSql()})")(DuckDialect)

  // ---- historical overall scores over landed runs ---------------------
  // The reference's history query reads score_definition_results_history
  // joined to the by-column scoring views at each run's cutoff time
  // (get_historical_overall_scores_by_column.sql) and emits the overall
  // and CDE (critical-data-element) score per run. Here each engine run
  // lands its by-column score detail in the RunStore; the trend is
  // computed over the LANDED rows. CDE is the reference's user tag on
  // data_column_chars — the engine defaults it from the computed PII
  // cascade (pii_flag IS NOT NULL), the documented deviation.

  /** Per-column score detail a run lands: combined profiling+test
    * SUM_LN good fraction, record weight, and the CDE flag. */
  def scoreDetailSql(enrRel: String, anomRel: String,
                     prevRel: String)(d: Dialect): String =
    s"""WITH enr_h AS ${d.cteMaterialized}(SELECT * FROM $enrRel),
       |anoms_h AS ${d.cteMaterialized}(SELECT * FROM $anomRel),
       |prev_h AS ${d.cteMaterialized}(SELECT * FROM $prevRel),
       |iss AS (
       |  SELECT table_name, column_name, prevalence AS p FROM anoms_h
       |  UNION ALL
       |  SELECT table_name, column_name, dq_prevalence AS p FROM prev_h)
       |SELECT e.table_name, e.column_name,
       |       CAST(MAX(e.record_ct) AS BIGINT) AS record_ct,
       |       CAST(MAX(${cdeExpr("e")}) AS INT) AS is_cde,
       |       CAST(ROUND(${sumLn("COALESCE(i.p, 0.0)")}, 6) AS DOUBLE) AS good_pct
       |  FROM enr_h e
       |  LEFT JOIN iss i
       |    ON i.table_name = e.table_name AND i.column_name = e.column_name
       | GROUP BY e.table_name, e.column_name""".stripMargin

  /** Overall + CDE score per run over (run_id, detail relation) pairs —
    * point-weighted means over each run's landed by-column detail. */
  def scoreHistorySql(runs: Seq[(String, String)])(d: Dialect): String = {
    val hist = runs.map { case (runId, rel) =>
      s"SELECT '$runId' AS run_id, * FROM $rel"
    }.mkString("\nUNION ALL\n")
    s"""WITH hist AS (
       |$hist
       |)
       |SELECT run_id,
       |       CAST(ROUND(SUM(record_ct * good_pct)
       |                  / NULLIF(SUM(record_ct), 0), 6) AS DOUBLE) AS score,
       |       CAST(ROUND(SUM(CASE WHEN is_cde = 1 THEN record_ct * good_pct END)
       |                  / NULLIF(SUM(CASE WHEN is_cde = 1 THEN record_ct END), 0), 6)
       |            AS DOUBLE) AS cde_score
       |  FROM hist
       | GROUP BY run_id
       | ORDER BY run_id""".stripMargin
  }

  /** Per-column score history over (run_id, detail relation) pairs —
    * the reference's v_dq_profile_scoring_history_by_column surface that
    * get_historical_overall_scores_by_column.sql aggregates: one row per
    * (run, table, column) with its good-data fraction, record weight and
    * CDE flag, so a column's score trend is directly chartable. */
  def scoreHistoryColumnsSql(runs: Seq[(String, String)])(d: Dialect): String = {
    val hist = runs.map { case (runId, rel) =>
      s"SELECT '$runId' AS run_id, * FROM $rel"
    }.mkString("\nUNION ALL\n")
    s"""WITH hist AS (
       |$hist
       |)
       |SELECT run_id, table_name, column_name,
       |       CAST(record_ct AS BIGINT) AS record_ct,
       |       CAST(is_cde AS INT) AS is_cde,
       |       CAST(ROUND(good_pct, 6) AS DOUBLE) AS score
       |  FROM hist
       | ORDER BY run_id, table_name, column_name""".stripMargin
  }

  /** The seeded two-run disposition history: run_000 scores with every
    * anomaly active; run_001 after the Non_Standard_Blanks finding on
    * events.event_type was dismissed — the reference's disposition
    * lifecycle (its scoring views filter disposition = 'Confirmed' OR
    * NULL), so the landed trend genuinely moves between runs. */
  val dismissedByRun1: Seq[(String, String, String)] =
    Seq(("Non_Standard_Blanks", "events", "event_type"))

  private def prevalenceView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "prevalence", dir, graft.core.Materialize.Local()) {
      // materialized like its siblings (enrichedView / anomaliesView /
      // queryResultsView): a bare temp view re-executes the full
      // prevalence plan in EVERY consumer (Spark inlines views), and
      // score_card_columns references it twice per run — the r14 plan
      // audit measured the duplicated subtree. Metadata-sized (one row
      // per failed test per column), so it lands as a LocalRelation —
      // ENFORCED by the capped collect (distributed-checkpoint fallback
      // past the cap).
      runTestPrevalence(spark, dir)
    }

  def runScoreCardColumns(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    spark.sql(scoreCardColumnsSql(enrView, HygieneScreens.anomaliesView(spark, dir),
      prevalenceView(spark, dir))(SparkDialect))
  }

  def runScoreCardDimensions(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    spark.sql(scoreCardDimensionsSql(enrView, HygieneScreens.anomaliesView(spark, dir),
      prevalenceView(spark, dir))(SparkDialect))
  }

  /** Land both runs' by-column score detail ONCE per (session, dir) —
    * the RunStore contract is append-once (a run never rewrites a prior
    * run's directory), so repeated history reads must not re-compute and
    * re-write the landed runs; both history entries read the same landed
    * parquet. Returns (run_000 path, run_001 path). */
  private def scoreDetailPaths(spark: SparkSession, dir: String): (String, String) =
    graft.core.SessionCache.getOrElseUpdate(spark, "scoredetail", dir) {
      val root = graft.core.RunStore.root
      val enrView = enrichedView(spark, dir)
      val prevView = prevalenceView(spark, dir)
      val p0 = graft.core.RunStore.land(
        spark.sql(scoreDetailSql(enrView,
          HygieneScreens.anomaliesView(spark, dir), prevView)(SparkDialect)),
        root, "run_000", "score_detail")
      val p1 = graft.core.RunStore.land(
        spark.sql(scoreDetailSql(enrView,
          HygieneScreens.anomaliesView(spark, dir, muted = dismissedByRun1),
          prevView)(SparkDialect)),
        root, "run_001", "score_detail")
      (p0, p1)
    }

  /** Query entry: land both runs' by-column score detail, then compute
    * the trend from the LANDED parquet; the DuckDB oracle recomputes the
    * identical trend from first principles (raw tables + the same
    * dismissal list), so the landed values are independently verified. */
  def runScoreHistory(spark: SparkSession, dir: String): DataFrame = {
    val (p0, p1) = scoreDetailPaths(spark, dir)
    spark.sql(scoreHistorySql(Seq(
      "run_000" -> SparkDialect.readParquet(p0),
      "run_001" -> SparkDialect.readParquet(p1)))(SparkDialect))
  }

  /** Query entry: the per-column score trend over the same two landed
    * runs as [[runScoreHistory]] (landing is idempotent — both entries
    * converge on identical landed parquet); the oracle recomputes the
    * identical per-column rows from first principles. */
  def runScoreHistoryColumns(spark: SparkSession, dir: String): DataFrame = {
    val (p0, p1) = scoreDetailPaths(spark, dir)
    spark.sql(scoreHistoryColumnsSql(Seq(
      "run_000" -> SparkDialect.readParquet(p0),
      "run_001" -> SparkDialect.readParquet(p1)))(SparkDialect))
  }

  def duckScoreHistoryColumnsSql(): String = {
    val prev = s"(${duckTestPrevalenceSql()})"
    def detail(muted: Seq[(String, String, String)]) =
      s"(${scoreDetailSql(duckEnr(), s"(${HygieneScreens.duckSql(muted)})", prev)(DuckDialect)})"
    scoreHistoryColumnsSql(Seq(
      "run_000" -> detail(Nil),
      "run_001" -> detail(dismissedByRun1)))(DuckDialect)
  }

  def runScoreCardIssuesDimensions(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    spark.sql(scoreCardIssuesDimensionsSql(enrView,
      HygieneScreens.anomaliesView(spark, dir),
      catResultsView(spark, dir))(SparkDialect))
  }

  def duckScoreCardIssuesDimensionsSql(): String =
    scoreCardIssuesDimensionsSql(duckEnr(), s"(${HygieneScreens.duckSql()})",
      duckCatRel())(DuckDialect)

  def runScoreCardIssuesImpact(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    spark.sql(scoreCardIssuesImpactSql(enrView,
      HygieneScreens.anomaliesView(spark, dir),
      catResultsView(spark, dir))(SparkDialect))
  }

  def duckScoreCardIssuesImpactSql(): String =
    scoreCardIssuesImpactSql(duckEnr(), s"(${HygieneScreens.duckSql()})",
      duckCatRel())(DuckDialect)

  /** Land THIS run's by-column score detail under `root/runId` — the
    * Runner's cross-invocation path (each invocation appends one run;
    * [[scoreHistoryFromLanded]] trends over all of them). */
  def landScoreDetail(spark: SparkSession, dir: String, root: String,
                      runId: String): String = {
    val enrView = enrichedView(spark, dir)
    graft.core.RunStore.land(spark.sql(scoreDetailSql(enrView,
      HygieneScreens.anomaliesView(spark, dir),
      prevalenceView(spark, dir))(SparkDialect)), root, runId, "score_detail")
  }

  /** Overall + CDE score trend over ALL landed score_detail runs under
    * `root`; None until a run has landed. */
  def scoreHistoryFromLanded(spark: SparkSession, root: String): Option[DataFrame] = {
    val runs = graft.core.RunStore.runsWith(root, "score_detail")
    if (runs.isEmpty) None
    else Some(spark.sql(scoreHistorySql(runs.map(r =>
      r -> SparkDialect.readParquet(
        graft.core.RunStore.runPath(root, r, "score_detail"))))(SparkDialect)))
  }

  private def duckEnr(): String =
    s"(${HygieneScreens.enrichSql(FunctionalType.duckProfileAllRel())(DuckDialect)})"

  def duckScoreCardColumnsSql(): String =
    scoreCardColumnsSql(duckEnr(), s"(${HygieneScreens.duckSql()})",
      s"(${duckTestPrevalenceSql()})")(DuckDialect)

  def duckScoreCardDimensionsSql(): String =
    scoreCardDimensionsSql(duckEnr(), s"(${HygieneScreens.duckSql()})",
      s"(${duckTestPrevalenceSql()})")(DuckDialect)

  def duckScoreHistorySql(): String = {
    val prev = s"(${duckTestPrevalenceSql()})"
    def detail(muted: Seq[(String, String, String)]) =
      s"(${scoreDetailSql(duckEnr(), s"(${HygieneScreens.duckSql(muted)})", prev)(DuckDialect)})"
    scoreHistorySql(Seq(
      "run_000" -> detail(Nil),
      "run_001" -> detail(dismissedByRun1)))(DuckDialect)
  }

  private def enrichedView(spark: SparkSession, dir: String): String =
    HygieneScreens.enrichedView(spark, dir)

  def runTestPrevalence(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    spark.sql(testPrevalenceSql(catResultsView(spark, dir), enrView)(SparkDialect))
  }

  def runScoreRollup(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    spark.sql(scoreRollupSql(enrView, HygieneScreens.anomaliesView(spark, dir))(SparkDialect))
  }

  def runScoreCard(spark: SparkSession, dir: String): DataFrame = {
    val enrView = enrichedView(spark, dir)
    graft.core.Materialize.sql(spark, runTestPrevalence(spark, dir)) { case Seq(prev) =>
      scoreCardSql(enrView, HygieneScreens.anomaliesView(spark, dir), prev)(SparkDialect)
    }
  }

  def duckScoreCardSql(): String = {
    val enr = s"(${HygieneScreens.enrichSql(FunctionalType.duckProfileAllRel())(DuckDialect)})"
    val anoms = s"(${HygieneScreens.duckSql()})"
    val prev = s"(${duckTestPrevalenceSql()})"
    scoreCardSql(enr, anoms, prev)(DuckDialect)
  }

  def duckTestPrevalenceSql(): String =
    testPrevalenceSql(duckCatRel(), duckEnr())(DuckDialect)

  def duckScoreRollupSql(): String = {
    val enr = s"(${HygieneScreens.enrichSql(FunctionalType.duckProfileAllRel())(DuckDialect)})"
    val anoms = s"(${HygieneScreens.duckSql()})"
    scoreRollupSql(enr, anoms)(DuckDialect)
  }
}
