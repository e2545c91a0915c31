package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Repetition signals for training-data quality filtering over the
  * `documents` table — the token-fraction analogs of the published
  * Gopher repetition filters (Rae et al. 2021, "Scaling Language
  * Models", appendix A1.1: fraction of characters in the most common
  * 2/3/4-gram, fraction of characters in duplicated n-grams), which
  * down-weight boilerplate and degenerate generated text:
  *
  *  - `top_word_frac` / `top_bigram_frac` / `top_trigram_frac` — share
  *    of tokens/grams taken by the single most frequent one;
  *  - `dup_word_frac` / `dup_bigram_frac` — share of tokens/grams that
  *    are occurrences of a repeated one;
  *  - `distinct_ratio` — vocabulary diversity (type/token ratio);
  *  - `repetitive_flag` — 1 when any signal crosses its threshold
  *    (0.20 / 0.50 / 0.18, adapted from the paper's char-fraction
  *    thresholds to token fractions; each threshold applies only from
  *    10 tokens/grams up — a 4-word document has top-word-frac 0.25
  *    and a 2-trigram document top-frac 0.5 by construction, not by
  *    repetition). Threshold comparisons stay in integer arithmetic so
  *    both engines agree bit-for-bit.
  *
  * Shape at 100 TB: one scan; the word explode and the (doc, gram)
  * grouping carry partial map-side aggregation, so what shuffles is the
  * distinct grams per document, not the token stream. All grams of a
  * document originate from one input row, so every stage keys on
  * doc_id — AQE reuses the single exchange across the window and the
  * three gram aggregations.
  */
object Repetition {

  /** The tokenized gram stream: one row per word carrying its two
    * successors — the relation every aggregation below reads. Spark
    * inlines multiply-referenced CTEs (three readers here would scan
    * the corpus three times), so [[run]] materializes this once per
    * (session, dir) and [[bodySql]] reads the checkpoint — the cluster
    * equivalent of landing the tokenized stream before the gram
    * passes. The oracle keeps the single statement: DuckDB
    * materializes multiply-referenced CTEs natively. */
  def gramsSql(table: String)(d: Dialect): String = {
    val words = d.wordsRel(table, "doc_id", "text")
    s"""SELECT id, word,
       |    LEAD(word, 1) OVER (PARTITION BY id ORDER BY pos) AS nxt,
       |    LEAD(word, 2) OVER (PARTITION BY id ORDER BY pos) AS nxt2
       |  FROM ($words) w""".stripMargin
  }

  /** The gram aggregations + final projection over a grams relation
    * ([[gramsSql]]); dialect-free SQL. */
  def bodySql(gramsRel: String): String =
    s"""WITH uni AS (SELECT id, word AS g, COUNT(*) AS c FROM $gramsRel
       |        GROUP BY id, word),
       |uni_s AS (SELECT id, SUM(c) AS total, MAX(c) AS top_c,
       |            COUNT(*) AS distinct_c,
       |            SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
       |          FROM uni GROUP BY id),
       |bi AS (SELECT id, word || ' ' || nxt AS g, COUNT(*) AS c FROM $gramsRel
       |       WHERE nxt IS NOT NULL GROUP BY id, word || ' ' || nxt),
       |bi_s AS (SELECT id, SUM(c) AS total, MAX(c) AS top_c,
       |           SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
       |         FROM bi GROUP BY id),
       |tri AS (SELECT id, word || ' ' || nxt || ' ' || nxt2 AS g,
       |          COUNT(*) AS c
       |        FROM $gramsRel WHERE nxt2 IS NOT NULL
       |        GROUP BY id, word || ' ' || nxt || ' ' || nxt2),
       |tri_s AS (SELECT id, SUM(c) AS total, MAX(c) AS top_c
       |          FROM tri GROUP BY id)
       |SELECT u.id AS doc_id,
       |  CAST(u.total AS BIGINT) AS word_ct,
       |  CAST(ROUND(CAST(u.distinct_c AS DOUBLE) / u.total, 4) AS DOUBLE) AS distinct_ratio,
       |  CAST(ROUND(CAST(u.top_c AS DOUBLE) / u.total, 4) AS DOUBLE) AS top_word_frac,
       |  CAST(ROUND(CAST(u.dup_c AS DOUBLE) / u.total, 4) AS DOUBLE) AS dup_word_frac,
       |  CAST(ROUND(CAST(b.top_c AS DOUBLE) / NULLIF(b.total, 0), 4) AS DOUBLE) AS top_bigram_frac,
       |  CAST(ROUND(CAST(b.dup_c AS DOUBLE) / NULLIF(b.total, 0), 4) AS DOUBLE) AS dup_bigram_frac,
       |  CAST(ROUND(CAST(t.top_c AS DOUBLE) / NULLIF(t.total, 0), 4) AS DOUBLE) AS top_trigram_frac,
       |  CAST(CASE WHEN (u.total >= 10 AND u.top_c * 100 > 20 * u.total)
       |         OR (b.total >= 10 AND b.dup_c * 100 > 50 * b.total)
       |         OR (t.total >= 10 AND t.top_c * 100 > 18 * t.total)
       |       THEN 1 ELSE 0 END AS INT) AS repetitive_flag
       |FROM uni_s u
       |LEFT JOIN bi_s b ON b.id = u.id
       |LEFT JOIN tri_s t ON t.id = u.id
       |ORDER BY doc_id""".stripMargin

  /** The single-statement form (the oracle; also any engine that
    * materializes multiply-referenced CTEs). */
  def sql(table: String)(d: Dialect): String =
    s"""WITH grams AS (${gramsSql(table)(d)}),
       |${bodySql("grams").stripPrefix("WITH ")}""".stripMargin

  /** Row-local Spark rendering of the grams relation (the dual-rendered
    * [[gramsSql]] LEAD-window form stays the oracle rendering): the
    * word and its two successors derive from the split array inside
    * each document row — the token stream never shuffles into a
    * per-doc sort. Successor guards keep out-of-bounds lookups NULL
    * under ANSI mode (matching LEAD's run-off-the-end NULLs).
    * Parity-spec-pinned identical. */
  private[graft] def gramsSparkSql(table: String): String =
    s"""SELECT doc_id AS id, ws[i] AS word,
       |       CASE WHEN i + 1 < size(ws) THEN ws[i + 1] END AS nxt,
       |       CASE WHEN i + 2 < size(ws) THEN ws[i + 2] END AS nxt2
       |  FROM (SELECT doc_id, ws FROM (
       |          SELECT doc_id,
       |                 filter(split(LOWER(text), '\\\\s+'), w -> w <> '') AS ws
       |            FROM $table) z0
       |         WHERE size(ws) >= 1) z
       |  LATERAL VIEW explode(sequence(0, size(ws) - 1)) e AS i""".stripMargin

  /** The materialized grams view, memoized per (session, dir) — shared
    * by the repetition entry and the corpus rollup. */
  def gramsView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "rep_grams", dir, graft.core.Materialize.Checkpoint)(
      spark.sql(gramsSparkSql(graft.core.Tables.view(spark, dir, "documents"))))

  def run(spark: SparkSession, dir: String): DataFrame =
    spark.sql(bodySql(gramsView(spark, dir)))

  /** The materialized repetition OUTPUT (one small row per document),
    * memoized per (session, dir) — the corpus rollup joins this
    * instead of re-running the gram passes. */
  def outView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "rep_out", dir, graft.core.Materialize.Checkpoint)(
      run(spark, dir))

  def duckSql(): String = sql("documents")(DuckDialect)
}
