package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Multi-level corpus budget in ONE pass — `GROUPING SETS` over
  * (source, lang): the per-cell budgets, both one-dimensional rollups,
  * and the grand total, computed from a single scan instead of the four
  * separate GROUP BYs a dashboard would otherwise issue.
  *
  * Spark plans grouping sets as one Expand (4 output rows per input
  * row, all integer sums) feeding one partial-merged aggregate — one
  * shuffle of (source, lang, set-id)-keyed partials whatever the corpus
  * size, the same map-side-combine property as a plain GROUP BY. The
  * reference's score cards issue one query per breakdown level
  * (testgen/commands/run_quick_start.py drives separate rollups); the
  * engine folds all levels into one job.
  *
  * `GROUPING(col)` disambiguates a rollup NULL from a (hypothetical)
  * NULL group value — rendered identically in Spark and DuckDB — and
  * rollup labels surface as 'ALL' so every cell is text-typed and
  * hash-comparable.
  */
object CorpusCube {

  def sql(table: String)(d: Dialect): String = {
    val tokens = d.regexpCount("text", "\\S+")
    s"""WITH t AS (
       |  SELECT source, lang,
       |         GREATEST(1, CAST($tokens AS BIGINT)) AS token_ct,
       |         n_chars
       |    FROM $table
       |)
       |SELECT CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
       |       CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
       |       CAST(GROUPING(source) * 2 + GROUPING(lang) AS INT) AS grouping_level,
       |       CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |       CAST(SUM(token_ct) AS BIGINT) AS token_ct,
       |       CAST(SUM(n_chars) AS BIGINT) AS char_ct
       |  FROM t
       | GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
       | ORDER BY grouping_level, source, lang""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)
}
