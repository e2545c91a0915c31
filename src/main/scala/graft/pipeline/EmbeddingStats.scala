package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Embedding-corpus health: the sanity pass before any ANN, dedup, or
  * clustering run touches an embedding table — per label: vector count,
  * dimension consistency (a ragged column breaks every kernel
  * downstream), zero-vector count (cosine is undefined on them), norm
  * spread, and dispersion as the mean cosine to the label centroid
  * (a collapsed label — all vectors near-identical — shows dispersion
  * near 1; random vectors near 0).
  *
  * Scale shape: ONE position-explode scan feeds everything — per-vec
  * sums group on (vec, label) and centroid sums on (label, pos), both
  * with map-side partials; the centroid relation (labels × dims) is
  * broadcast-sized at any corpus scale.
  *
  * Determinism: every accumulation is over scaled-BIGINT components
  * (val × 1e5, exactly representable), so summation order — Spark's
  * parallel partials vs DuckDB's sequential scan — cannot move a bit.
  * The cosine reduces to intdot / sqrt(Σvs² · Σsval²): the scale and
  * count factors cancel, leaving one double op at the end. Quantizing
  * components at 1e-5 bounds norm error at ~1e-5 — the defined metric
  * semantics. BIGINT headroom: safe to ~1e7 vectors per label at
  * unit-scale components. Ragged dimensions join on shared positions —
  * surfaced via min_dim ≠ max_dim, never an error (an array-form dot
  * would hard-error on DuckDB and silently NULL on Spark).
  */
object EmbeddingStats {

  /** The scaled-component relation — (vec_id, label, pos, vs). The body
    * references it three times; Spark inlines repeated CTEs, so [[run]]
    * materializes it once per (session, dir). */
  def compSql(table: String)(d: Dialect): String =
    s"""SELECT vec_id, label, pos, CAST(ROUND(val * 100000) AS BIGINT) AS vs
       |    FROM (${d.arrayPosRel(table, "vec_id, label", "embedding")}) pe""".stripMargin

  def bodySql(compRel: String)(d: Dialect): String = {
    def scaledMean(x: String) = s"${d.intDiv(
      s"2 * SUM(CAST(ROUND(($x) * 10000) AS BIGINT)) + COUNT($x)",
      s"NULLIF(2 * COUNT($x), 0)")} / 10000.0"
    s"""WITH vec AS (
       |  SELECT vec_id, label, COUNT(*) AS dim, SUM(vs * vs) AS vs2
       |    FROM $compRel GROUP BY vec_id, label
       |),
       |cent AS (
       |  SELECT label, pos, SUM(vs) AS sval FROM $compRel GROUP BY label, pos
       |),
       |cnorm AS (
       |  SELECT label, SUM(sval * sval) AS cs2 FROM cent GROUP BY label
       |),
       |vdot AS (
       |  SELECT c.vec_id, SUM(c.vs * ct.sval) AS dot
       |    FROM $compRel c JOIN cent ct ON ct.label = c.label AND ct.pos = c.pos
       |   GROUP BY c.vec_id
       |),
       |cosx AS (
       |  SELECT v.label, v.dim,
       |         SQRT(CAST(v.vs2 AS DOUBLE)) / 100000.0 AS nrm,
       |         CASE WHEN v.vs2 > 0 AND n.cs2 > 0 THEN
       |           CAST(vd.dot AS DOUBLE)
       |             / SQRT(CAST(v.vs2 AS DOUBLE) * CAST(n.cs2 AS DOUBLE))
       |         END AS cosv
       |    FROM vec v
       |    JOIN cnorm n ON n.label = v.label
       |    JOIN vdot vd ON vd.vec_id = v.vec_id
       |)
       |SELECT label,
       |  CAST(COUNT(*) AS BIGINT) AS vec_ct,
       |  CAST(MIN(dim) AS INT) AS min_dim,
       |  CAST(MAX(dim) AS INT) AS max_dim,
       |  CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_ct,
       |  CAST(ROUND(MIN(nrm), 4) AS DOUBLE) AS min_norm,
       |  CAST(ROUND(MAX(nrm), 4) AS DOUBLE) AS max_norm,
       |  CAST(${scaledMean("nrm")} AS DOUBLE) AS avg_norm,
       |  CAST(${scaledMean("cosv")} AS DOUBLE) AS avg_cos_centroid
       |FROM cosx
       |GROUP BY label
       |ORDER BY label""".stripMargin
  }

  /** Single-statement form (the oracle). */
  def sql(table: String)(d: Dialect): String =
    s"""WITH comp AS (${compSql(table)(d)}),
       |${bodySql("comp")(d).stripPrefix("WITH ")}""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    val comp = graft.core.Materialize.view(spark, "emb_comp", dir,
        graft.core.Materialize.Checkpoint) {
      spark.sql(compSql(graft.core.Tables.view(spark, dir, "embeddings", parallelize = false))(
        SparkDialect))
    }
    spark.sql(bodySql(comp)(SparkDialect))
  }

  def duckSql(): String = sql("embeddings")(DuckDialect)
}
