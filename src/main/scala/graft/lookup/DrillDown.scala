package graft.lookup

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Drill-down lookups + PII masking — per-test offending-row queries
  * with limits and redaction (reference: per-type `lookup_query` in
  * testgen/template/dbsetup_test_types YAMLs;
  * testgen/common/source_data_service.py:26,49-105 for the 500-row
  * limit; testgen/common/pii_masking.py for redaction).
  *
  * The reference presents a random sample of the fetched lookup rows
  * (source_data_service.py:79,159 — pandas `df.sample(n).sort_index()`
  * after the fetch). The base lookups here order deterministically by
  * (count DESC, value) before limiting; the `*_sampled` variants
  * ([[sampledSql]]) reproduce the reference's sampled presentation with
  * a deterministic md5 draw so it stays oracle-checkable.
  */
object DrillDown {
  val Limit = 500
  val Redacted = "<PII_REDACTED>"

  /** Unique-test drill-down: duplicated values with counts
    * (test_types_Unique.yaml lookup_query shape). */
  def duplicatesSql(table: String, col: String)(d: Dialect): String =
    s"""SELECT $col AS value, COUNT(*) AS occurrence_ct
       |  FROM $table
       | GROUP BY $col HAVING COUNT(*) > 1
       | ORDER BY COUNT(*) DESC, $col
       | LIMIT $Limit""".stripMargin

  /** Alpha_Trunc drill-down: rows at the current maximum length
    * (test_types_Alpha_Trunc.yaml lookup_query shape). */
  def maxLengthRowsSql(table: String, col: String)(d: Dialect): String =
    s"""SELECT DISTINCT $col AS value, LENGTH($col) AS current_max_length
       |  FROM $table,
       |       (SELECT MAX(LENGTH($col)) AS max_length FROM $table) a
       | WHERE LENGTH($col) = a.max_length
       | ORDER BY value
       | LIMIT $Limit""".stripMargin

  /** Land the COMPUTED PII flags for `dir` — the engine's
    * data_column_chars.pii_flag surface that the reference's
    * mask-on-render reads (source_data_service.py:49-105,
    * pii_masking.py get_pii_columns: mask any column of the table whose
    * pii_flag IS NOT NULL). The flags come from the memoized enriched
    * profile (the PiiFlag cascade); landing them as parquet lets BOTH
    * engines' drill-down SQL decide redaction from the same computed
    * relation — data-driven masking, not a column-name heuristic. */
  def landPiiFlags(spark: SparkSession, dir: String): String =
    graft.core.SessionCache.getOrElseUpdate(spark, "pii_flags", dir) {
      val enr = graft.inference.HygieneScreens.enrichedView(spark, dir)
      graft.core.RunStore.land(
        spark.sql(s"""SELECT table_name, column_name, pii_flag
                     |  FROM $enr WHERE pii_flag IS NOT NULL""".stripMargin),
        graft.core.RunStore.root, "run_000", "pii_flags")
    }

  /** The oracle-side path of the landed PII flags (same process). */
  def piiFlagsPath: String =
    graft.core.RunStore.runPath(graft.core.RunStore.root, "run_000", "pii_flags")

  /** Pattern-mismatch drill-down with PII masking applied to flagged
    * columns: offending rows, masked. Every projected column is eligible
    * for masking, so all are rendered as text (the reference's masked
    * frame is stringly-typed the same way — pii_masking.py
    * mask_source_data_pii assigns the token into the column).
    *
    * The flag relation is read ONCE: all projected columns' flags
    * collapse into a single conditional-aggregation row that cross-joins
    * (broadcasts) onto the data scan — one pii_flag read per lookup,
    * the same shape [[lookupFailedTestsSql]] uses, instead of one
    * scalar-subquery probe per projected column. */
  def maskedMismatchSql(table: String, logicalTable: String, col: String,
                        re: String, piiPath: String,
                        otherCols: Seq[String])(d: Dialect): String = {
    def flagName(c: String) = s"pii_$c"
    val flags = otherCols.map { c =>
      s"""MAX(CASE WHEN table_name = '$logicalTable'
         | AND column_name = '$c' THEN 1 ELSE 0 END) AS ${flagName(c)}"""
        .stripMargin.replace("\n", "")
    }.mkString(",\n       ")
    val projected = otherCols.map { c =>
      s"CASE WHEN pf.${flagName(c)} = 1 THEN '$Redacted' ELSE ${d.castText(c)} END AS $c"
    }.mkString(", ")
    s"""SELECT $projected, $col AS offending_value
       |  FROM $table
       | CROSS JOIN (SELECT
       |       $flags
       |  FROM ${d.readParquet(piiPath)}) pf
       | WHERE NOT ${d.rlike(col, re)}
       | ORDER BY $col
       | LIMIT $Limit""".stripMargin
  }

  /** Recency drill-down: the most recent rows for a monitored date
    * column (test_types_Recency.yaml lookup_query shape). */
  def recencyRowsSql(table: String, idCol: String, tsCol: String)(d: Dialect): String =
    s"""SELECT $idCol AS id, ${d.fmtTs(tsCol)} AS latest_ts
       |  FROM $table,
       |       (SELECT MAX(CAST($tsCol AS DATE)) AS mx FROM $table) m
       | WHERE CAST($tsCol AS DATE) = m.mx
       | ORDER BY id
       | LIMIT $Limit""".stripMargin

  /** Outlier drill-down: rows beyond mean ± 2σ
    * (test_types_Outlier_Pct_Above.yaml lookup_query shape). */
  def outlierRowsSql(table: String, idCol: String, col: String)(d: Dialect): String =
    s"""SELECT $idCol AS id, CAST($col AS DOUBLE) AS value,
       |       CAST(ROUND(s.avg_v, 4) AS DOUBLE) AS mean_value,
       |       CAST(ROUND(s.sd_v, 4) AS DOUBLE) AS sd_value
       |  FROM $table,
       |       (SELECT AVG(CAST($col AS DOUBLE)) AS avg_v,
       |               STDDEV(CAST($col AS DOUBLE)) AS sd_v FROM $table) s
       | WHERE CAST($col AS DOUBLE) > s.avg_v + 2 * s.sd_v
       |    OR CAST($col AS DOUBLE) < s.avg_v - 2 * s.sd_v
       | ORDER BY value DESC, id
       | LIMIT $Limit""".stripMargin

  def runRecency(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(recencyRowsSql(events, "event_id", "ts")(SparkDialect))
  }

  def runOutliers(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(outlierRowsSql(events, "event_id", "value")(SparkDialect))
  }

  def duckRecencySql(): String = recencyRowsSql("events", "event_id", "ts")(DuckDialect)
  def duckOutliersSql(): String = outlierRowsSql("events", "event_id", "value")(DuckDialect)

  def runDuplicates(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.core.Tables.view(spark, dir, "orders", parallelize = false)
    spark.sql(duplicatesSql(orders, "o_custkey")(SparkDialect))
  }

  def runMaxLength(spark: SparkSession, dir: String): DataFrame = {
    val customer = graft.core.Tables.view(spark, dir, "customer", parallelize = false)
    spark.sql(maxLengthRowsSql(customer, "c_name")(SparkDialect))
  }

  def runMasked(spark: SparkSession, dir: String): DataFrame = {
    val piiPath = landPiiFlags(spark, dir)
    val customer = graft.core.Tables.view(spark, dir, "customer", parallelize = false)
    spark.sql(maskedMismatchSql(customer, "customer", "c_mktsegment",
      "^[A-Z]+$", piiPath,
      otherCols = Seq("c_custkey", "c_name", "c_mktsegment"))(SparkDialect))
  }

  def duckDuplicatesSql(): String = duplicatesSql("orders", "o_custkey")(DuckDialect)
  def duckMaxLengthSql(): String = maxLengthRowsSql("customer", "c_name")(DuckDialect)
  def duckMaskedSql(): String = maskedMismatchSql("customer", "customer",
    "c_mktsegment", "^[A-Z]+$", piiFlagsPath,
    otherCols = Seq("c_custkey", "c_name", "c_mktsegment"))(DuckDialect)

  /** Dupe_Rows drill-down: full key-combination groups occurring more
    * than once (test_types_Dupe_Rows.yaml lookup_query shape). */
  def dupeRowsSql(table: String, cols: Seq[String])(d: Dialect): String = {
    val keys = cols.mkString(", ")
    s"""SELECT $keys, COUNT(*) AS occurrence_ct
       |  FROM $table
       | GROUP BY $keys HAVING COUNT(*) > 1
       | ORDER BY COUNT(*) DESC, $keys
       | LIMIT $Limit""".stripMargin
  }

  /** Email_Format drill-down: non-conforming values with counts
    * (test_types_Email_Format.yaml lookup_query shape). */
  def emailFormatSql(table: String, col: String)(d: Dialect): String = {
    val emailRe = """^[A-Za-z0-9._'%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"""
    s"""SELECT $col AS value, COUNT(*) AS occurrence_ct
       |  FROM $table
       | WHERE $col IS NOT NULL AND NOT ${d.rlike(col, emailRe)}
       | GROUP BY $col
       | ORDER BY COUNT(*) DESC, $col
       | LIMIT $Limit""".stripMargin
  }

  /** Min_Date drill-down: rows dated before the baseline minimum
    * (test_types_Min_Date.yaml lookup_query shape; the same query with
    * the run date as baseline serves Future_Date). */
  def minDateSql(table: String, idCol: String, dateCol: String,
                 baseline: String)(d: Dialect): String =
    s"""SELECT $idCol AS id, ${d.fmtTs(dateCol)} AS offending_value
       |  FROM $table
       | WHERE CAST($dateCol AS DATE) < DATE '$baseline'
       | ORDER BY offending_value, id
       | LIMIT $Limit""".stripMargin

  /** Deterministic random-SAMPLE presentation of a failing set — the
    * reference samples the fetched lookup rows client-side
    * (source_data_service.py:79,159 — pandas `df.sample(n).sort_index()`),
    * so on a skewed failure set a user sees a representative draw, not
    * the top slice the deterministic ORDER BY variants return. Here the
    * draw is the md5 order of the row key (the same deterministic draw
    * [[graft.pipeline.StratifiedSample]] uses), so both engines pick the
    * identical [[Limit]]-row subset, then present it in natural order —
    * the `sort_index()` step. The draw sort runs AFTER the failing-set
    * predicate/aggregation, on at most the failing rows — top-k by a
    * hash key, never a full-table sort. */
  def sampledSql(failingSql: String, drawKey: String,
                 naturalOrder: String, n: Int = Limit): String =
    s"""WITH failing AS (
       |$failingSql
       |),
       |drawn AS (
       |  SELECT * FROM failing
       | ORDER BY MD5($drawKey), $naturalOrder
       | LIMIT $n
       |)
       |SELECT * FROM drawn ORDER BY $naturalOrder""".stripMargin

  /** The un-limited duplicates failing set behind [[duplicatesSql]]. */
  private def duplicatesFailingSql(table: String, col: String): String =
    s"""SELECT $col AS value, COUNT(*) AS occurrence_ct
       |  FROM $table
       | GROUP BY $col HAVING COUNT(*) > 1""".stripMargin

  def duplicatesSampledSql(table: String, col: String)(d: Dialect): String =
    sampledSql(duplicatesFailingSql(table, col),
      d.castText("value"), "value")

  /** The un-limited min-date failing set behind [[minDateSql]]. */
  private def minDateFailingSql(table: String, idCol: String, dateCol: String,
                                baseline: String)(d: Dialect): String =
    s"""SELECT $idCol AS id, ${d.fmtTs(dateCol)} AS offending_value
       |  FROM $table
       | WHERE CAST($dateCol AS DATE) < DATE '$baseline'""".stripMargin

  def minDateSampledSql(table: String, idCol: String, dateCol: String,
                        baseline: String)(d: Dialect): String =
    sampledSql(minDateFailingSql(table, idCol, dateCol, baseline)(d),
      d.castText("id"), "offending_value, id")

  def runDuplicatesSampled(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.core.Tables.view(spark, dir, "orders", parallelize = false)
    spark.sql(duplicatesSampledSql(orders, "o_custkey")(SparkDialect))
  }

  def runMinDateSampled(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.core.Tables.view(spark, dir, "orders", parallelize = false)
    spark.sql(minDateSampledSql(orders, "o_orderkey", "o_orderdate",
      "1995-06-01")(SparkDialect))
  }

  def duckDuplicatesSampledSql(): String =
    duplicatesSampledSql("orders", "o_custkey")(DuckDialect)
  def duckMinDateSampledSql(): String =
    minDateSampledSql("orders", "o_orderkey", "o_orderdate",
      "1995-06-01")(DuckDialect)

  def runDupeRows(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(dupeRowsSql(graft.core.Tables.view(spark, dir, "orders", parallelize = false),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority"))(SparkDialect))
  }

  def runEmailFormat(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.core.Tables.view(spark, dir, "events", parallelize = false)
    spark.sql(emailFormatSql(events, "event_type")(SparkDialect))
  }

  def runMinDate(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.core.Tables.view(spark, dir, "orders", parallelize = false)
    spark.sql(minDateSql(orders, "o_orderkey", "o_orderdate",
      "1995-06-01")(SparkDialect))
  }

  def duckDupeRowsSql(): String = dupeRowsSql("orders",
    Seq("o_custkey", "o_orderstatus", "o_orderpriority"))(DuckDialect)
  def duckEmailFormatSql(): String = emailFormatSql("events", "event_type")(DuckDialect)
  def duckMinDateSql(): String = minDateSql("orders", "o_orderkey", "o_orderdate",
    "1995-06-01")(DuckDialect)

  /** Masked profile view — the reference's mask_profiling_pii
    * (pii_masking.py PROFILING_PII_FIELDS): for PII-flagged columns the
    * value-revealing profile fields (top freq, min/max text, numeric
    * bounds, date bounds) are replaced by the redaction token on render;
    * the numeric/date fields are text-rendered so the token slots in,
    * exactly as the reference's masked frame becomes stringly-typed. */
  def profileMaskedSql(enrRel: String)(d: Dialect): String = {
    def fmtNum(x: String) =
      s"CAST(CAST(ROUND($x, 4) AS DECIMAL(28,4)) AS ${d.textType})"
    val fields = Seq(
      "top_freq_values" -> "top_freq_values",
      "min_text" -> "min_text",
      "max_text" -> "max_text",
      "min_value" -> fmtNum("min_value"),
      "min_value_over_0" -> fmtNum("min_value_over_0"),
      "max_value" -> fmtNum("max_value"),
      "min_date" -> d.fmtTs("CAST(min_date AS TIMESTAMP)"),
      "max_date" -> d.fmtTs("CAST(max_date AS TIMESTAMP)"))
    val proj = fields.map { case (n, e) =>
      s"CASE WHEN pii_flag IS NOT NULL THEN '$Redacted' ELSE $e END AS $n"
    }.mkString(",\n       ")
    s"""SELECT table_name, column_name, pii_flag,
       |       $proj
       |  FROM $enrRel
       | ORDER BY table_name, column_name""".stripMargin
  }

  def runProfileMasked(spark: SparkSession, dir: String): DataFrame =
    spark.sql(profileMaskedSql(
      graft.inference.HygieneScreens.enrichedView(spark, dir))(SparkDialect))

  def duckProfileMaskedSql(): String =
    profileMaskedSql(s"(${graft.inference.HygieneScreens.enrichSql(
      graft.inference.FunctionalType.duckProfileAllRel())(DuckDialect)})")(DuckDialect)

  /** Full test-type drill-down coverage: every CAT test in
    * [[graft.cat.CatSuite.suites]] carries its reference lookup_query
    * (normalized to (value, count)), unioned into ONE uniform relation —
    * the rows a user sees when clicking ANY failed test. Each branch
    * reads one table with its own pushed-down filter; the union is
    * metadata-bounded (<= 500 rows per test). Redaction is driven by the
    * COMPUTED pii_flag relation landed from the enriched profile — the
    * reference's mask-on-render reads the same computed flags from
    * data_column_chars (source_data_service.py:49-105, pii_masking.py)
    * — so a PII column is masked whatever it is named, and a synthetic
    * ID column named like "name" is not.
    *
    * Scale note: the union executes every lookup at once, so a table
    * with k tests is scanned k times — that is the VERIFICATION harness
    * shape (one oracle-checkable relation). In production the reference
    * (and this engine) runs ONE lookup on demand per clicked test
    * (`t.lookup.get(dialect, table)`) — a single filtered scan; the
    * union entry is never the hot path at 100 TB. */
  def lookupFailedTestsSql(tableRef: String => String,
                           piiPath: String)(d: Dialect): String = {
    val parts = for {
      (table, tests) <- graft.cat.CatSuite.suites.toSeq.sortBy(_._1)
      t <- tests
      lk <- t.lookup.toSeq
    } yield {
      s"""SELECT '$table' AS table_name, '${t.testType}' AS test_type,
         |       '${t.column}' AS column_name,
         |       v AS offending_value, ct AS occurrence_ct
         |  FROM (${lk(d, tableRef(table))}) lk""".stripMargin
    }
    // ONE probe of the metadata-sized flag relation for the whole union
    // (a broadcast join on Spark) instead of a scalar subquery per branch
    s"""SELECT u.table_name, u.test_type, u.column_name,
       |       CASE WHEN pf.pii_flag IS NOT NULL THEN '$Redacted'
       |            ELSE u.offending_value END AS offending_value,
       |       u.occurrence_ct
       |  FROM (
       |${parts.mkString("\nUNION ALL\n")}
       |) u
       |  LEFT JOIN (SELECT table_name, column_name, MAX(pii_flag) AS pii_flag
       |               FROM ${d.readParquet(piiPath)}
       |              GROUP BY table_name, column_name) pf
       |    ON pf.table_name = u.table_name AND pf.column_name = u.column_name
       | ORDER BY u.table_name, u.test_type, u.column_name,
       |          offending_value, u.occurrence_ct""".stripMargin
  }

  /** Per-anomaly-type hygiene drill-downs — the reference's
    * target_data_lookups (one lookup_query per anomaly type's YAML in
    * testgen/template/dbsetup_anomaly_types/, assembled by the
    * build-hygiene path of testgen/common/source_data_service.py),
    * covering every SQL-expressible anomaly type. Each branch cites its
    * YAML's postgresql-flavor lookup_query; all are normalized to the
    * uniform relation (anomaly_type, table_name, column_name, value,
    * detail, occurrence_ct) — category columns of heterogeneous
    * reference shapes (data_type / casing / top_pattern /
    * profile_run_date) ride in `detail` — and redacted through the same
    * landed pii_flag relation with ONE broadcast left join.
    *
    * Not instantiated, per the reference itself: Char_Column_Number_Units
    * (`target_data_lookups: []` in its YAML) and Recency_One_Year /
    * Recency_Six_Months (lookup_query `created_in_ui`, no SQL shape) —
    * 29 of 32 anomaly types carry a lookup, matching the reference.
    *
    * Fixed exemplary instantiation per anomaly type; in production ONE
    * lookup renders on demand per clicked finding. Documented
    * deviations: every branch gets a deterministic ORDER BY (the
    * reference's unordered LIMIT branches are nondeterministic under
    * parallel scans), and the two catalog-shape lookups
    * (Multiple_Types_*, Table_Pattern_Mismatch) read the engine's
    * data_chars relation — the information_schema equivalent. */
  def hygieneLookupSql(tableRef: String => String, dataCharsRel: String,
                       piiPath: String)(d: Dialect): String = {
    import graft.functions.Patterns
    val L2 = Limit / 2
    val L4 = Limit / 4
    def inList(xs: Seq[String]) = xs.map(w => s"'$w'").mkString("(", ", ", ")")
    def txt(x: String) = d.castText(x)
    // the Non_Standard_Blanks dummy-value predicate (same vocabulary the
    // profiler's filled_value_ct counts)
    def blanks(c: String) =
      s"""($c IS NULL OR $c = '' OR $c IN ('.', '?', ' ')
         | OR ${d.rlike(s"LOWER($c)", Patterns.filledPattern)}
         | OR LOWER($c) IN ${inList(Patterns.filledWordsAll)})""".stripMargin
    // grouped value/count shape shared by most lookups
    def grp(anomaly: String, table: String, col: String, valExpr: String,
            where: String, orderBy: String, limit: Int = Limit,
            detail: String = "''", groupExtra: Seq[String] = Nil): String = {
      val whereLine = if (where.isEmpty) "" else s"\n WHERE $where"
      val groupBy = (valExpr +: groupExtra).mkString(", ")
      s"""SELECT '$anomaly' AS anomaly_type, '$table' AS table_name,
         |       '$col' AS column_name, $valExpr AS value,
         |       $detail AS detail, COUNT(*) AS occurrence_ct
         |  FROM ${tableRef(table)}$whereLine
         | GROUP BY $groupBy
         | ORDER BY $orderBy
         | LIMIT $limit""".stripMargin
    }
    // catalog shape (Multiple_Types_* / Table_Pattern_Mismatch): the
    // reference queries information_schema.columns; the engine's
    // data_chars relation is the same catalog surface.
    def catalog(anomaly: String, colName: String): String =
      s"""SELECT '$anomaly' AS anomaly_type, table_name,
         |       '$colName' AS column_name, ${txt("general_type")} AS value,
         |       table_name AS detail, CAST(1 AS BIGINT) AS occurrence_ct
         |  FROM $dataCharsRel
         | WHERE column_name = '$colName'
         | ORDER BY table_name
         | LIMIT $Limit""".stripMargin
    // pattern-izer for Column_Pattern_Mismatch: [a-z]->a [A-Z]->A [0-9]->N
    def patternize(c: String) =
      d.regexpReplace(d.regexpReplace(d.regexpReplace(c, "[a-z]", "a"),
        "[A-Z]", "A"), "[0-9]", "N")
    // top_patterns detail literal frozen from the part.p_brand profile
    // ('count | pattern' pairs, the profiler's top_patterns format)
    val brandPatterns = "2000 | Aaaaa#NN | 0 | ~none~ | 0 | ~none~ | 0 | ~none~"
    def patternBranch(k: Int): String =
      s"""SELECT 'Column_Pattern_Mismatch' AS anomaly_type, 'part' AS table_name,
         |       'p_brand' AS column_name, ${txt("p_brand")} AS value,
         |       b.top_pattern AS detail, COUNT(*) AS occurrence_ct
         |  FROM ${tableRef("part")},
         |       (SELECT TRIM(${d.splitPart(s"'$brandPatterns'", "|", k)}) AS top_pattern) b
         | WHERE ${patternize("p_brand")} = b.top_pattern
         | GROUP BY ${txt("p_brand")}, b.top_pattern
         | ORDER BY occurrence_ct DESC, value
         | LIMIT $L4""".stripMargin
    // non-printing-char codepoints (the reference's CHR list)
    val npChars = Seq(160, 8201, 8203, 8204, 8205, 8206, 8207, 8239, 12288, 65279)
    val npValue = npChars.foldLeft("source") { (acc, cp) =>
      s"REPLACE($acc, chr($cp), '<np$cp>')"
    }
    val npTranslate =
      s"TRANSLATE(source, ${npChars.map(cp => s"chr($cp)").mkString(" || ")}, 'XXXXXXXXXX')"
    // variant-coding vocabulary flattened to tokens (variant_codings seed)
    val variantTokens = graft.inference.HygieneScreens.variantCodings
      .flatMap(_.split('|')).distinct.sorted
      .map(t => s"'${t.replace("'", "''")}'").mkString("(", ", ", ")")

    val parts = Seq(
      // profile_anomaly_types_Boolean_Value_Mismatch.yaml: all values by count
      grp("Boolean_Value_Mismatch", "lineitem", "l_returnflag", txt("l_returnflag"),
        "", "occurrence_ct DESC, value"),
      // profile_anomaly_types_Char_Column_Date_Values.yaml: Date/Non-Date
      // halves via the IS_DATE macro (TRY_CAST here), LIMIT/2 each
      grp("Char_Column_Date_Values", "documents", "lang", txt("lang"),
        "TRY_CAST(lang AS DATE) IS NOT NULL", "occurrence_ct DESC, value", L2, "'Date'"),
      grp("Char_Column_Date_Values", "documents", "lang", txt("lang"),
        "TRY_CAST(lang AS DATE) IS NULL", "occurrence_ct DESC, value", L2, "'Non-Date'"),
      // profile_anomaly_types_Column_Pattern_Mismatch.yaml: four
      // top-pattern probes split out of the detail expression, LIMIT/4
      patternBranch(2), patternBranch(4), patternBranch(6), patternBranch(8),
      // profile_anomaly_types_Delimited_Data_Embedded.yaml
      grp("Delimited_Data_Embedded", "documents", "text", txt("text"),
        s"${d.rlike("text", Patterns.delimitedData)} AND ${d.notRlike("text", Patterns.delimitedExcl)}",
        "occurrence_ct DESC, value"),
      // profile_anomaly_types_Inconsistent_Casing.yaml: Upper/Mixed halves
      grp("Inconsistent_Casing", "customer", "c_name", txt("c_name"),
        "UPPER(c_name) = c_name", "value", L2, "'Upper Case'"),
      grp("Inconsistent_Casing", "customer", "c_name", txt("c_name"),
        "c_name <> UPPER(c_name) AND c_name <> LOWER(c_name)", "value", L2, "'Mixed Case'"),
      // profile_anomaly_types_Invalid_Zip3_USA.yaml: TRANSLATE digit-mask
      grp("Invalid_Zip3_USA", "nation", "n_nationkey", txt("n_nationkey"),
        s"TRANSLATE(${txt("n_nationkey")}, '012345678', '999999999') <> '999'",
        "occurrence_ct DESC, value"),
      // profile_anomaly_types_Invalid_Zip_USA.yaml
      grp("Invalid_Zip_USA", "part", "p_size", txt("p_size"),
        s"TRANSLATE(${txt("p_size")}, '012345678', '999999999') NOT IN ('99999', '999999999', '99999-9999')",
        "value"),
      // profile_anomaly_types_Leading_Spaces.yaml: BETWEEN ' !' AND '!'
      grp("Leading_Spaces", "customer", "c_name", txt("c_name"),
        "(CASE WHEN c_name BETWEEN ' !' AND '!' THEN 1 ELSE 0 END) = 1", "value"),
      // profile_anomaly_types_Multiple_Types_Major.yaml /
      // _Minor.yaml: catalog types of one column name across tables
      catalog("Multiple_Types_Major", "value"),
      catalog("Multiple_Types_Minor", "ts"),
      // profile_anomaly_types_No_Values.yaml
      grp("No_Values", "region", "r_name", txt("r_name"), "", "value"),
      // profile_anomaly_types_Non_Alpha_Name_Address.yaml: no letters
      grp("Non_Alpha_Name_Address", "events", "props", txt("props"),
        "props = UPPER(props) AND props = LOWER(props) AND props > ''", "value"),
      // profile_anomaly_types_Non_Alpha_Prefixed_Name.yaml
      grp("Non_Alpha_Prefixed_Name", "orders", "o_orderpriority", txt("o_orderpriority"),
        """o_orderpriority < 'A' AND LEFT(o_orderpriority, 1) NOT IN ('"', ' ')
          | AND RIGHT(o_orderpriority, 1) <> ''''""".stripMargin.replace("\n", " "),
        "value"),
      // profile_anomaly_types_Non_Printing_Chars.yaml: CHR-chain replace +
      // TRANSLATE filter (replacement tokens '<npNNNN>' instead of the
      // reference's backslash escapes — dialect-safe, same structure)
      grp("Non_Printing_Chars", "documents", "source", npValue,
        s"$npTranslate <> source", "value"),
      // profile_anomaly_types_Non_Standard_Blanks.yaml
      grp("Non_Standard_Blanks", "events", "event_type", "event_type",
        blanks("event_type"), "occurrence_ct DESC, value"),
      // profile_anomaly_types_Potential_Duplicates.yaml: HAVING COUNT > 1
      s"""SELECT 'Potential_Duplicates' AS anomaly_type, 'lineitem' AS table_name,
         |       'l_orderkey' AS column_name, ${txt("l_orderkey")} AS value,
         |       '' AS detail, COUNT(*) AS occurrence_ct
         |  FROM ${tableRef("lineitem")}
         | GROUP BY ${txt("l_orderkey")} HAVING COUNT(*) > 1
         | ORDER BY occurrence_ct DESC, value
         | LIMIT $Limit""".stripMargin,
      // profile_anomaly_types_Potential_PII.yaml: all values DESC —
      // redaction through the landed pii_flag relation applies on render
      grp("Potential_PII", "customer", "c_name", txt("c_name"), "", "value DESC"),
      // profile_anomaly_types_Quoted_Values.yaml: quote-wrapped values
      grp("Quoted_Values", "customer", "c_mktsegment", txt("c_mktsegment"),
        """(CASE WHEN c_mktsegment LIKE '"%"'
          | OR c_mktsegment LIKE '''%''' THEN 1 ELSE 0 END) = 1""".stripMargin.replace("\n", " "),
        "value"),
      // profile_anomaly_types_Small_Divergent_Value_Ct.yaml
      grp("Small_Divergent_Value_Ct", "events", "event_type", "event_type",
        "", "occurrence_ct DESC, value"),
      // profile_anomaly_types_Small_Missing_Value_Ct.yaml: the blank
      // vocabulary, ordered by value
      grp("Small_Missing_Value_Ct", "events", "event_type", "event_type",
        blanks("event_type"), "value"),
      // profile_anomaly_types_Small_Numeric_Value_Ct.yaml: Numeric /
      // Non-Numeric halves via the IS_NUM macro (TRY_CAST), LIMIT/2 each
      grp("Small_Numeric_Value_Ct", "documents", "lang", txt("lang"),
        "TRY_CAST(lang AS DOUBLE) IS NOT NULL", "occurrence_ct DESC, value", L2, "'Numeric'"),
      grp("Small_Numeric_Value_Ct", "documents", "lang", txt("lang"),
        "TRY_CAST(lang AS DOUBLE) IS NULL", "occurrence_ct DESC, value", L2, "'Non-Numeric'"),
      // profile_anomaly_types_Standardized_Value_Matches.yaml: values
      // colliding after the normalize-TRANSLATE, joined back to the CTE
      s"""SELECT 'Standardized_Value_Matches' AS anomaly_type,
         |       'documents' AS table_name, 'source' AS column_name,
         |       ${txt("a.source")} AS value, '' AS detail,
         |       COUNT(*) AS occurrence_ct
         |  FROM ${tableRef("documents")} a,
         |       (SELECT UPPER(TRANSLATE(source, ' '',.-', '')) AS possible_standard_value
         |          FROM ${tableRef("documents")}
         |         GROUP BY UPPER(TRANSLATE(source, ' '',.-', ''))
         |        HAVING COUNT(DISTINCT source) > 1) b
         | WHERE UPPER(TRANSLATE(a.source, ' '',.-', '')) = b.possible_standard_value
         | GROUP BY ${txt("a.source")}
         | ORDER BY value, occurrence_ct DESC
         | LIMIT $Limit""".stripMargin,
      // profile_anomaly_types_Suggested_Type.yaml
      grp("Suggested_Type", "part", "p_brand", txt("p_brand"), "",
        "occurrence_ct DESC, value"),
      // profile_anomaly_types_Table_Pattern_Mismatch.yaml: tables
      // carrying the column name (catalog shape)
      catalog("Table_Pattern_Mismatch", "doc_id"),
      // profile_anomaly_types_Unexpected_Emails.yaml
      grp("Unexpected_Emails", "documents", "source", txt("source"), "", "value DESC"),
      // profile_anomaly_types_Unexpected_US_States.yaml
      grp("Unexpected_US_States", "lineitem", "l_linestatus", txt("l_linestatus"),
        "", "value DESC"),
      // profile_anomaly_types_Unlikely_Date_Values.yaml: before 1900 or
      // past profile_run_date + 30 years (run date frozen for the gate)
      grp("Unlikely_Date_Values", "orders", "o_orderdate",
        d.fmtTs("CAST(o_orderdate AS TIMESTAMP)"),
        s"""CAST(o_orderdate AS TIMESTAMP) < DATE '1900-01-01'
           | OR CAST(o_orderdate AS TIMESTAMP) > ${d.addMonths("DATE '2026-01-01'", 360)}""".stripMargin.replace("\n", " "),
        "value DESC", Limit, "'2026-01-01'"),
      // profile_anomaly_types_Variant_Coded_Values.yaml: values in the
      // variant-coding vocabulary (the DETAIL list inlined from the seed)
      grp("Variant_Coded_Values", "lineitem", "l_returnflag", txt("l_returnflag"),
        s"LOWER(l_returnflag) IN $variantTokens", "value")
    ).map(p => s"SELECT * FROM (\n$p\n) b")
    s"""SELECT u.anomaly_type, u.table_name, u.column_name,
       |       CASE WHEN pf.pii_flag IS NOT NULL THEN '$Redacted'
       |            ELSE u.value END AS value,
       |       u.detail, u.occurrence_ct
       |  FROM (
       |${parts.mkString("\nUNION ALL\n")}
       |) u
       |  LEFT JOIN (SELECT table_name, column_name, MAX(pii_flag) AS pii_flag
       |               FROM ${d.readParquet(piiPath)}
       |              GROUP BY table_name, column_name) pf
       |    ON pf.table_name = u.table_name AND pf.column_name = u.column_name
       | ORDER BY u.anomaly_type, u.table_name, u.column_name,
       |          value, u.detail, u.occurrence_ct""".stripMargin
  }

  /** Tables the hygiene drill-down branches read. */
  private val hygieneTables =
    Seq("events", "customer", "orders", "lineitem", "nation", "region",
      "part", "documents")

  def runHygieneLookup(spark: SparkSession, dir: String): DataFrame = {
    val piiPath = landPiiFlags(spark, dir)
    graft.core.Materialize.sql(spark, graft.core.DataChars.run(spark, dir)) { case Seq(chars) =>
      hygieneLookupSql(t => graft.core.Tables.view(spark, dir, t, parallelize = false),
        chars, piiPath)(SparkDialect)
    }
  }

  def duckHygieneLookupSql(): String =
    hygieneLookupSql(identity, s"(\n${graft.core.DataChars.duckSql()}\n) dc",
      piiFlagsPath)(DuckDialect)

  def runFailedTests(spark: SparkSession, dir: String): DataFrame = {
    val piiPath = landPiiFlags(spark, dir)
    spark.sql(lookupFailedTestsSql(
      t => graft.core.Tables.view(spark, dir, t, parallelize = false), piiPath)(SparkDialect))
  }

  def duckFailedTestsSql(): String =
    lookupFailedTestsSql(identity, piiFlagsPath)(DuckDialect)
}
