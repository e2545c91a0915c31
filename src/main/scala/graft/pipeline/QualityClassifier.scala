package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Hashed bag-of-words linear quality classifier — the fastText-style
  * model-based filter of published curation stacks (a linear scorer
  * over hashed token features; the production weights come from
  * training against a labeled "good corpus", here they are a
  * deterministic md5-derived stand-in so both engines score
  * identically): every token hashes to an integer weight in
  * [-1000, 1000] (milli-units), the document's score is the exact
  * integer SUM of its token weights, and the keep decision is the
  * score's sign — the decision boundary of a linear classifier needs
  * no sigmoid, and transcendental functions are exactly what the two
  * engines disagree on at the last ulp.
  *
  * Scale shape — the interesting part: the Spark side computes the
  * whole score inside ONE codegen'd higher-order-function fold over
  * `split(text)` — a single corpus scan with ZERO shuffles and no
  * exploded token rows ever materialized (at 100 TB the token stream
  * is ~20× the corpus; never row-ify it for a per-doc reduction). The
  * oracle renders the same semantics as the explode + GROUP BY form.
  * The mean weight divides with explicit sign handling because integer
  * division truncates toward zero in Spark (`DIV`) but floors in
  * DuckDB (`//`) — they agree only on non-negative operands.
  */
object QualityClassifier {

  /** The per-token milli-weight, dialect-rendered: md5-hash the token
    * into [-1000, 1000]. `w` is a token expression. */
  private def weightExpr(w: String)(d: Dialect): String =
    s"(${d.hexToLong(s"SUBSTRING(MD5('qw:' || $w), 1, 15)")} % 2001 - 1000)"

  /** Sign-safe scaled mean: round4(score / (1000 * tokens)) computed in
    * integer arithmetic on the absolute value, sign reapplied. */
  private def meanExpr(score: String, tokens: String)(d: Dialect): String = {
    val mag = d.intDiv(s"2 * 10000 * ABS($score) + 1000 * $tokens",
      s"2 * 1000 * $tokens")
    s"""CASE WHEN $tokens = 0 THEN CAST(NULL AS DOUBLE)
       |     ELSE CAST((CASE WHEN $score >= 0 THEN 1 ELSE -1 END)
       |               * $mag / 10000.0 AS DOUBLE)
       |END""".stripMargin
  }

  /** Spark body: one scan, the score folded inside the row. */
  private[graft] def sparkSql(table: String): String = {
    val d: Dialect = SparkDialect
    val toks = """filter(split(LOWER(text), '\\s+'), w -> w <> '')"""
    val score =
      s"""aggregate($toks, CAST(0 AS BIGINT),
         | (acc, w) -> acc + ${weightExpr("w")(d)})""".stripMargin.replace("\n", "")
    s"""WITH scored AS (
       |  SELECT doc_id, CAST(size($toks) AS BIGINT) AS token_ct,
       |         $score AS score_milli
       |    FROM $table
       |)
       |SELECT doc_id, token_ct, score_milli,
       |       ${meanExpr("score_milli", "token_ct")(d)} AS mean_weight,
       |       CAST(CASE WHEN score_milli >= 0 THEN 1 ELSE 0 END AS INT) AS keep
       |  FROM scored
       | ORDER BY doc_id""".stripMargin
  }

  /** Oracle body: the explode + GROUP BY rendering of the same score
    * (LEFT join keeps wordless docs at score 0, matching the empty
    * fold). */
  def duckSql(table: String = "documents"): String = {
    val d: Dialect = DuckDialect
    s"""WITH words AS (
       |  ${d.wordsRel(table, "doc_id", "text")}
       |),
       |sums AS (
       |  SELECT id, COUNT(*) AS token_ct,
       |         SUM(${weightExpr("word")(d)}) AS score_milli
       |    FROM words GROUP BY id
       |),
       |scored AS (
       |  SELECT dd.doc_id,
       |         CAST(COALESCE(s.token_ct, 0) AS BIGINT) AS token_ct,
       |         CAST(COALESCE(s.score_milli, 0) AS BIGINT) AS score_milli
       |    FROM $table dd LEFT JOIN sums s ON s.id = dd.doc_id
       |)
       |SELECT doc_id, token_ct, score_milli,
       |       ${meanExpr("score_milli", "token_ct")(d)} AS mean_weight,
       |       CAST(CASE WHEN score_milli >= 0 THEN 1 ELSE 0 END AS INT) AS keep
       |  FROM scored
       | ORDER BY doc_id""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sparkSql(graft.core.Tables.view(spark, dir, "documents")))
  }
}
