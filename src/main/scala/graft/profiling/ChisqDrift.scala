package graft.profiling

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Chi-square homogeneity drift screen — the CATEGORICAL complement
  * of [[KsDrift]]/[[PsiDrift]] (both compare numeric shapes): given a
  * population split, does a categorical column's distribution differ
  * between the slices? Here: `o_orderpriority` across fulfilled
  * (`o_orderstatus = 'F'`) vs open/pending orders — the reference's
  * Distribution_Shift query test compares the same relation ACROSS
  * RUNS via JS divergence; this screens it WITHIN a run across a
  * business slice, with the test statistic runbooks actually look up
  * (χ² against df = K−1 critical values).
  *
  * Determinism discipline: each cell's χ² term restates
  * (o − e)²/e with e = rowTot·colTot/N over a common denominator:
  * term = (o·N − rowTot·colTot)² / (rowTot·colTot·N). The numerator
  * root (o·N − rT·cT) is exact BIGINT; the square and the division
  * run in DOUBLE (the square exceeds 2⁶³ past ~3k rows) with ONE
  * quantization to integer micro units — IEEE multiply/divide are
  * exact-rounded, so both engines derive the identical double and the
  * identical BIGINT, and the χ² total is an order-free integer sum.
  * Expected counts ship micro-scaled (`expected_micro`) for the same
  * reason.
  *
  * Scale shape: one map-side-combinable GROUP BY collapses the corpus
  * to K·2 cells; totals and the χ² sum are windows over that
  * metadata-sized relation. The corpus never shuffles. */
object ChisqDrift {

  def sql(table: String)(d: Dialect): String =
    s"""WITH cells AS (
       |  SELECT o_orderpriority AS category,
       |         CASE WHEN o_orderstatus = 'F' THEN 'fulfilled'
       |              ELSE 'open' END AS slice,
       |         COUNT(*) AS o
       |    FROM $table
       |   GROUP BY 1, 2
       |),
       |tot AS (
       |  SELECT category, slice, CAST(o AS BIGINT) AS o,
       |         CAST(SUM(o) OVER (PARTITION BY category) AS BIGINT) AS rt,
       |         CAST(SUM(o) OVER (PARTITION BY slice) AS BIGINT) AS ct,
       |         CAST(SUM(o) OVER () AS BIGINT) AS n
       |    FROM cells
       |),
       |terms AS (
       |  SELECT category, slice, o,
       |         CAST(ROUND(CAST(rt * ct AS DOUBLE) / n * 1000000) AS BIGINT)
       |           AS expected_micro,
       |         CAST(ROUND(CAST(o * n - rt * ct AS DOUBLE)
       |                    * CAST(o * n - rt * ct AS DOUBLE)
       |                    / (CAST(rt AS DOUBLE) * ct * n) * 1000000) AS BIGINT)
       |           AS chisq_term_micro
       |    FROM tot
       |)
       |SELECT category, slice, o AS observed_ct, expected_micro,
       |       chisq_term_micro,
       |       CAST(SUM(chisq_term_micro) OVER () AS BIGINT) AS chisq_micro_total
       |  FROM terms
       | ORDER BY category, slice""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "orders", parallelize = false))(SparkDialect))
  }

  def duckSql(): String = sql("orders")(DuckDialect)
}
