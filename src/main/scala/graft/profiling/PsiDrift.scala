package graft.profiling

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Population Stability Index drift screen — the industry-standard
  * companion of the KS distance ([[KsDrift]]): where KS reports the
  * single worst ECDF gap, PSI sums per-bucket log-odds-weighted share
  * shifts, Σ (p_Aᵢ − p_Bᵢ)·ln(p_Aᵢ/p_Bᵢ), so it localizes WHERE the
  * distribution moved and is the number model-monitoring runbooks
  * threshold (<0.1 stable / 0.1–0.25 watch / >0.25 shifted). Same
  * fixture populations as the KS entry: `l_extendedprice` of returned
  * (`l_returnflag = 'R'`) vs kept line items.
  *
  * Determinism discipline: values quantize to cents-exact BIGINT and
  * bucket by fixed 64 Ki-cent width (value-domain-derived — no
  * quantile fit, so the bucket set is reproducible across engines and
  * runs); shares are +1-Laplace-smoothed integer ratios (no empty-
  * bucket ±∞); each bucket's PSI term is quantized ONCE to an integer
  * nano unit (`ROUND(term · 1e9)` — the [[graft.pipeline.Perplexity]]
  * micro-nat discipline at finer grain, since per-bucket terms sit
  * near 1e-4), so the grand total is an order-free BIGINT sum both
  * engines reproduce bit-identically.
  *
  * Scale shape: ONE map-side-combinable GROUP BY collapses the corpus
  * to the price-range-bounded bucket relation (~hundreds of rows);
  * the share totals and the PSI sum are windows OVER that metadata-
  * sized relation — the corpus never shuffles, never sorts. */
object PsiDrift {

  /** Bucket width in cents — [[KsDrift.BucketCents]]'s grid. */
  val BucketCents: Long = KsDrift.BucketCents

  def sql(table: String)(d: Dialect): String =
    s"""WITH b AS (
       |  SELECT ${d.intDiv("CAST(ROUND(l_extendedprice * 100) AS BIGINT)", BucketCents.toString)} AS bucket,
       |         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
       |         SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS cb
       |    FROM $table
       |   GROUP BY 1
       |),
       |s AS (
       |  SELECT bucket, ca, cb,
       |         CAST(SUM(ca) OVER () AS BIGINT) AS na,
       |         CAST(SUM(cb) OVER () AS BIGINT) AS nb,
       |         CAST(COUNT(*) OVER () AS BIGINT) AS nbk
       |    FROM b
       |),
       |t AS (
       |  SELECT bucket, ca, cb,
       |         CAST(ROUND(
       |           (CAST(ca + 1 AS DOUBLE) / (na + nbk)
       |              - CAST(cb + 1 AS DOUBLE) / (nb + nbk))
       |           * LN((CAST(ca + 1 AS DOUBLE) / (na + nbk))
       |                / (CAST(cb + 1 AS DOUBLE) / (nb + nbk)))
       |           * 1000000000) AS BIGINT) AS psi_term_nano
       |    FROM s
       |)
       |SELECT bucket, CAST(ca AS BIGINT) AS ct_a, CAST(cb AS BIGINT) AS ct_b,
       |       psi_term_nano,
       |       CAST(SUM(psi_term_nano) OVER () AS BIGINT) AS psi_nano_total
       |  FROM t
       | ORDER BY bucket""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = graft.core.Tables.view(spark, dir, "lineitem", parallelize = false)
    spark.sql(sql(lineitem)(SparkDialect))
  }

  def duckSql(): String = sql("lineitem")(DuckDialect)
}
