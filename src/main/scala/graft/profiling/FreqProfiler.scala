package graft.profiling

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.functions.Patterns.sq
import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Secondary profiling: per-column value-frequency analysis.
  *
  * Reference semantics (testgen/template/flavors/postgresql/profiling/
  * project_secondary_profiling_query.sql:1-34 and the top_patterns
  * subquery of project_profiling_query.sql:125-140):
  *  - `top_freq_values`: top-10 values by count (ties broken by value),
  *    formatted `| value | ct` one per line, plus an
  *    `| Other Values (n) | total` bucket for the remainder; only for
  *    A-columns with 2..70 distinct values and max_length <= 70
  *    (testgen/template/profiling/secondary_profiling_columns.sql:9-11).
  *  - `distinct_value_hash`: MD5 of the sorted distinct values joined by
  *    `|` — content fingerprint for change detection; same eligibility.
  *  - `top_patterns`: values generalized `[a-z]→a [A-Z]→A [0-9]→N`,
  *    top-5 patterns by count formatted `ct | pattern | ct | pattern …`,
  *    capped at 1000 chars; gated on MAX(LENGTH(col)) BETWEEN 3 AND 25.
  *    (Deviation: the reference orders ties arbitrarily; we order ties by
  *    pattern ascending on both engines so results are deterministic.)
  *
  * Scale design (100 TB): the expensive operation is grouping raw values.
  * A first cheap wide-aggregate scan computes per-column eligibility
  * (distinct_ct, max_len) — identical role to the reference's
  * profile-driven eligibility query. Only *eligible* columns are then
  * unpivoted and shuffled: freq-eligible columns have ≤ 70 distinct
  * values, pattern-eligible columns have values ≤ 25 chars, so the
  * groupBy inputs are bounded and map-side partial aggregation collapses
  * them before the exchange. High-cardinality long-text columns (the
  * dangerous case) never enter a shuffle.
  */
object FreqProfiler {

  /** A-typed column names of a schema. */
  private def aCols(schema: StructType): Seq[String] =
    schema.fields.filter(f => GeneralType.of(f.dataType) == "A").map(_.name).toSeq

  private val genPattern: (String, Dialect) => String =
    (c, d) => ProfileMetrics.patternOf(c)(d)

  /** Fused Spark SQL over the eligible column subsets (stage 2). */
  def sparkSql(table: String, freqCols: Seq[String], patCols: Seq[String],
               allA: Seq[String]): String = {
    val d: Dialect = SparkDialect
    def stackOf(cols: Seq[String]) =
      s"SELECT stack(${cols.length}, ${cols.map(c => s"${sq(c)}, $c").mkString(", ")}) AS (column_name, value) FROM $table"

    val freqCte =
      if (freqCols.isEmpty)
        """freq AS (SELECT '' AS column_name, '' AS top_freq_values WHERE 1=0),
          |dvh AS (SELECT '' AS column_name, '' AS distinct_value_hash WHERE 1=0)""".stripMargin
      else
        s"""fpairs AS (
           |  SELECT column_name, value FROM (${stackOf(freqCols)}) WHERE value IS NOT NULL
           |),
           |grouped AS (
           |  SELECT column_name, value, COUNT(*) AS ct FROM fpairs GROUP BY column_name, value
           |),
           |dvh AS (
           |  SELECT column_name,
           |         md5(array_join(array_sort(collect_list(value)), '|')) AS distinct_value_hash
           |    FROM grouped GROUP BY column_name
           |),
           |ranked AS (
           |  SELECT column_name, value, ct,
           |         ROW_NUMBER() OVER (PARTITION BY column_name ORDER BY ct DESC, value) AS rn
           |    FROM grouped WHERE value > ' '
           |),
           |consol AS (
           |  SELECT column_name,
           |         COALESCE(MAX(CASE WHEN rn <= 10 THEN '| ' || value || ' | ' || CAST(ct AS STRING) END),
           |                  '| Other Values (' || CAST(COUNT(DISTINCT value) AS STRING) || ') | ' || CAST(SUM(ct) AS STRING)) AS val,
           |         MIN(rn) AS min_rn
           |    FROM ranked
           |   GROUP BY column_name, CASE WHEN rn <= 10 THEN '| ' || value || ' | ' || CAST(ct AS STRING) END
           |),
           |freq AS (
           |  SELECT column_name, ${d.stringAgg("val", "\n", "min_rn")} AS top_freq_values
           |    FROM consol GROUP BY column_name
           |)""".stripMargin

    val patCte =
      if (patCols.isEmpty)
        "pats AS (SELECT '' AS column_name, '' AS top_patterns WHERE 1=0)"
      else
        s"""ppairs AS (
           |  SELECT column_name, ${genPattern("value", d)} AS pattern
           |    FROM (${stackOf(patCols)}) WHERE value > ' '
           |),
           |patg AS (
           |  SELECT column_name, pattern, COUNT(*) AS ct
           |    FROM ppairs GROUP BY column_name, pattern HAVING pattern > ' '
           |),
           |pat5 AS (
           |  SELECT column_name, CAST(ct AS STRING) || ' | ' || pattern AS line,
           |         ROW_NUMBER() OVER (PARTITION BY column_name ORDER BY ct DESC, pattern) AS rn
           |    FROM patg
           |),
           |pats AS (
           |  SELECT column_name, LEFT(${d.stringAgg("line", " | ", "rn")}, 1000) AS top_patterns
           |    FROM pat5 WHERE rn <= 5 GROUP BY column_name
           |)""".stripMargin

    val colRows = allA.map(c => s"(${sq(c)})").mkString(", ")
    s"""WITH $freqCte,
       |$patCte
       |SELECT cols.column_name, freq.top_freq_values, dvh.distinct_value_hash, pats.top_patterns
       |  FROM (VALUES $colRows) AS cols(column_name)
       |  LEFT JOIN freq ON freq.column_name = cols.column_name
       |  LEFT JOIN dvh ON dvh.column_name = cols.column_name
       |  LEFT JOIN pats ON pats.column_name = cols.column_name
       | ORDER BY cols.column_name""".stripMargin
  }

  /** DuckDB oracle: one branch per A-column with data-dependent gates as
    * CASE + scalar subqueries (the oracle may scan repeatedly; only the
    * engine needs the fusion). */
  def duckSqlBody(table: String, schema: StructType): String = {
    val d: Dialect = DuckDialect
    val selects = aCols(schema).map { c =>
      val freqGate =
        s"(SELECT COUNT(DISTINCT $c) FROM $table) BETWEEN 2 AND 70 AND (SELECT MAX(LENGTH($c)) FROM $table) <= 70"
      val patGate = s"(SELECT MAX(LENGTH($c)) FROM $table) BETWEEN 3 AND 25"
      val freqSub =
        s"""(SELECT ${d.stringAgg("val", "\n", "min_rn")} FROM (
           |   SELECT COALESCE(MAX(CASE WHEN rn <= 10 THEN '| ' || $c || ' | ' || CAST(ct AS VARCHAR) END),
           |            '| Other Values (' || CAST(COUNT(DISTINCT $c) AS VARCHAR) || ') | ' || CAST(SUM(ct) AS VARCHAR)) AS val,
           |          MIN(rn) AS min_rn
           |     FROM (SELECT $c, COUNT(*) AS ct,
           |                  ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, $c) AS rn
           |             FROM $table WHERE $c > ' ' GROUP BY $c)
           |    GROUP BY CASE WHEN rn <= 10 THEN '| ' || $c || ' | ' || CAST(ct AS VARCHAR) END))""".stripMargin
      val dvhSub = s"(SELECT MD5(${d.stringAggDistinct(c, "|")}) FROM $table WHERE $c IS NOT NULL)"
      val patSub =
        s"""(SELECT LEFT(${d.stringAgg("line", " | ", "rn")}, 1000) FROM (
           |   SELECT CAST(ct AS VARCHAR) || ' | ' || pattern AS line,
           |          ROW_NUMBER() OVER (ORDER BY ct DESC, pattern) AS rn
           |     FROM (SELECT ${genPattern(c, d)} AS pattern, COUNT(*) AS ct
           |             FROM $table WHERE $c > ' ' GROUP BY 1 HAVING pattern > ' ')
           |  ) WHERE rn <= 5)""".stripMargin
      s"""SELECT ${sq(c)} AS column_name,
         |  CASE WHEN $freqGate THEN $freqSub END AS top_freq_values,
         |  CASE WHEN $freqGate THEN $dvhSub END AS distinct_value_hash,
         |  CASE WHEN $patGate THEN $patSub END AS top_patterns""".stripMargin
    }
    selects.mkString("\nUNION ALL\n")
  }

  def duckSql(table: String, schema: StructType): String =
    duckSqlBody(table, schema) + "\nORDER BY column_name"

  /** Execute (memoized) the two-stage frequency profile for one table in
    * `dir`. Stage-1 eligibility (distinct count / max length per A-column)
    * is read from the memoized primary profile — one shared scan family
    * instead of a dedicated eligibility query. The stage-2 result is
    * metadata-sized (one row per A-column), so it is materialized and
    * reused by every downstream consumer. */
  def profile(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.table(graft.core.Materialize.view(spark, "freq", (dir, table),
      graft.core.Materialize.Local())(compute(spark, dir, table)))

  private def compute(spark: SparkSession, dir: String, table: String): DataFrame = {
    val view = graft.core.Tables.view(spark, dir, table)
    val cols = aCols(spark.table(view).schema)
    require(cols.nonEmpty, s"no A-columns in $table")
    // Stage 1: eligibility from the (memoized) primary profile.
    val stats = Profiler.profile(spark, dir, table).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    def stat(col: String, field: String): Long = {
      val r = stats(col)
      if (r.isNullAt(r.fieldIndex(field))) 0L else r.getAs[Long](field)
    }
    val freqCols = cols.filter(c => stat(c, "distinct_value_ct") >= 2 &&
      stat(c, "distinct_value_ct") <= 70 && stat(c, "max_length") <= 70)
    val patCols = cols.filter(c => stat(c, "max_length") >= 3 && stat(c, "max_length") <= 25)
    // Stage 2: fused frequency/pattern job over eligible columns only.
    spark.sql(sparkSql(view, freqCols, patCols, cols))
  }
}
