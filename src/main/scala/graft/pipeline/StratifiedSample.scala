package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Deterministic stratified sampling — the corpus-mixing step of a
  * training-data pipeline: each stratum (here language) gets a target
  * mixture rate, and a document survives iff its content-keyed unit
  * draw falls under its stratum's rate. The draw is the same md5-unit
  * arithmetic as the sampled profiler ([[graft.profiling.SampledProfiler]]),
  * so the subset is reproducible across runs, engines, and cluster
  * layouts — rerunning the mix on a grown corpus keeps every
  * previously-selected document selected.
  *
  * At 100 TB: the filter is a pure per-row expression on the scan (no
  * shuffle, no per-stratum pass); the rates relation is a broadcast of
  * a handful of rows; only the audit rollup aggregates, moving one
  * partial row per (stratum, partition).
  */
object StratifiedSample {

  /** The mixture config: full English, half the other alphabetic
    * languages, a quarter of zh — a realistic language-balancing
    * profile over the fixture corpus. */
  val DefaultRates: Seq[(String, Double)] =
    Seq("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.25)

  private def ratesRel(rates: Seq[(String, Double)]): String =
    rates.map { case (l, r) => s"('$l', CAST($r AS DOUBLE))" }
      .mkString("(VALUES ", ", ", ") AS r(lang, rate)")

  /** Per-stratum audit rollup: target rate vs achieved rate. Strata
    * absent from the rates config are dropped from the mix (and the
    * audit shows them nowhere) — the explicit-allowlist semantics of a
    * curated mixture. */
  def sql(table: String, rates: Seq[(String, Double)] = DefaultRates)
         (d: Dialect): String = {
    val draw = d.hexToLong(s"SUBSTRING(MD5(${d.castText("doc_id")}), 1, 8)")
    s"""WITH mix AS (
       |  SELECT t.lang, r.rate,
       |         CASE WHEN CAST($draw AS DOUBLE) / 4294967296.0 < r.rate
       |              THEN 1 ELSE 0 END AS keep
       |    FROM $table t
       |    JOIN ${ratesRel(rates)} ON r.lang = t.lang
       |)
       |SELECT lang, rate AS target_rate,
       |  CAST(COUNT(*) AS BIGINT) AS total_ct,
       |  CAST(SUM(keep) AS BIGINT) AS sampled_ct,
       |  CAST(ROUND(CAST(SUM(keep) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)
       |    AS achieved_rate
       |FROM mix
       |GROUP BY lang, rate
       |ORDER BY lang""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents", parallelize = false)
    spark.sql(sql(documents)(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)
}
