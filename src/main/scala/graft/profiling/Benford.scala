package graft.profiling

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Benford first-digit screen — the classic fabricated-data detector
  * for naturally-occurring monetary/size columns: the leading
  * significant digit of organic amounts follows
  * P(d) = log10(1 + 1/d); uniform or hand-entered data does not.
  * A profiling-era anomaly screen in the reference's spirit (its
  * anomaly types flag distributional oddities per column,
  * `profile_anomaly_types`; Benford is the standard one it lacks).
  *
  * Determinism discipline: amounts go through cents-exact BIGINT
  * before the leading digit is read from the decimal string — no
  * float formatting in either engine — and the expected Benford
  * shares ship as PRECOMPUTED parts-per-million integer literals, so
  * the per-digit deviation (observed ppm − expected ppm) is pure
  * integer arithmetic, bit-identical cross-engine. The entry reports
  * the signed deviation per digit and leaves the significance
  * threshold (±3·sqrt(p·(1−p)/n), row-count-dependent) to the
  * consumer — the report-don't-judge shape of the drill-down lookups.
  *
  * One map-side-combinable GROUP BY per column; 9 rows per column out. */
object Benford {

  /** round(log10(1 + 1/d) * 1e6) for d = 1..9. */
  val ExpectedPpm: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L, 45757L)

  private def colSql(table: String, col: String)(d: Dialect): String = {
    val cents = s"CAST(ROUND(ABS($col) * 100) AS BIGINT)"
    val digit = s"CAST(SUBSTRING(${d.castText(cents)}, 1, 1) AS INT)"
    val expect = ExpectedPpm.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }.mkString(" ")
    s"""SELECT '$col' AS column_name, digit,
       |       CAST(ct AS BIGINT) AS digit_ct,
       |       CAST(${d.intDiv("ct * 1000000", "SUM(ct) OVER (PARTITION BY 1)")} AS BIGINT)
       |         AS observed_ppm,
       |       CAST(CASE digit $expect END AS BIGINT) AS benford_ppm,
       |       CAST(${d.intDiv("ct * 1000000", "SUM(ct) OVER (PARTITION BY 1)")}
       |            - CASE digit $expect END AS BIGINT) AS deviation_ppm
       |  FROM (
       |    SELECT $digit AS digit, COUNT(*) AS ct
       |      FROM $table
       |     WHERE $cents > 0
       |     GROUP BY 1
       |  ) g""".stripMargin
  }

  /** The screened money columns (naturally-occurring magnitudes). */
  val Columns: Seq[(String, String)] = Seq(
    "lineitem" -> "l_extendedprice", "orders" -> "o_totalprice")

  def sql(tables: Map[String, String])(d: Dialect): String =
    Columns.map { case (t, c) => colSql(tables(t), c)(d) }
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY column_name, digit")

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(Columns.map(_._1).distinct.map(t =>
      t -> graft.core.Tables.view(spark, dir, t, parallelize = false)).toMap)(SparkDialect))
  }

  def duckSql(): String =
    sql(Columns.map { case (t, _) => t -> t }.toMap)(DuckDialect)
}
