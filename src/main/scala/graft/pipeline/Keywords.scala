package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Per-document keyword extraction — top-k terms by TF-IDF, the tagging
  * / search-indexing companion of the text-analysis metrics.
  *
  * Score = tf × idf4 where idf4 = ROUND(LN(N / df) · 10⁴) is computed
  * ONCE per term and immediately rounded into scaled-integer space, so
  * the ranking arithmetic (tf × idf4, BIGINT) is exact in both engines
  * — the same determinism discipline as the scaled averages in
  * [[CorpusStats]]. Ties break on the term itself.
  *
  * Scale shape: per-doc term counts group on (doc, term) with map-side
  * partials; document frequency groups on term; the IDF join key IS the
  * term grouping key (one shuffle reused); the final top-k is a window
  * over each doc's OWN terms — partitioned by doc, never global.
  */
object Keywords {

  def sql(table: String, k: Int = 5)(d: Dialect): String =
    s"""WITH words AS (
       |  ${d.wordsRel(table, "doc_id", "text")}
       |),
       |tf AS (
       |  SELECT id, word, COUNT(*) AS tf FROM words GROUP BY id, word
       |),
       |n AS (SELECT COUNT(*) AS n_docs FROM $table),
       |df AS (
       |  SELECT word, COUNT(*) AS df,
       |         CAST(ROUND(LN(CAST((SELECT n_docs FROM n) AS DOUBLE) / COUNT(*))
       |                    * 10000) AS BIGINT) AS idf4
       |    FROM tf GROUP BY word
       |),
       |scored AS (
       |  SELECT tf.id, tf.word, tf.tf, df.df, tf.tf * df.idf4 AS score4
       |    FROM tf JOIN df ON df.word = tf.word
       |),
       |ranked AS (
       |  SELECT id, word, tf, df, score4,
       |         ROW_NUMBER() OVER (PARTITION BY id
       |                            ORDER BY score4 DESC, word) AS rn
       |    FROM scored
       |)
       |SELECT id AS doc_id, CAST(rn AS INT) AS rank, word AS term,
       |       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       |       CAST(score4 / 10000.0 AS DOUBLE) AS tfidf
       |  FROM ranked
       | WHERE rn <= $k
       | ORDER BY doc_id, rank""".stripMargin

  /** Engine rendering: document frequency and idf4 ride a COUNT window
    * over `word` on the tf relation instead of the oracle form's
    * groupBy+join — Spark inlines the twice-referenced `tf` CTE, so the
    * join form re-derives the full word explode + (id, word) aggregate
    * per reference (the measured plan held TWO scan→explode→aggregate
    * subtrees); the window form derives tf once and shares its `word`
    * exchange between the df count and nothing else (guide §2.4). The
    * idf4 arithmetic is the same double-precision expression over the
    * same integer inputs, so scores are bit-identical (the oracle gate
    * re-proves the full relation). */
  private[graft] def sparkSql(table: String, k: Int = 5): String =
    s"""WITH words AS (
       |  ${SparkDialect.wordsRel(table, "doc_id", "text")}
       |),
       |tf AS (
       |  SELECT id, word, COUNT(*) AS tf FROM words GROUP BY id, word
       |),
       |n AS (SELECT COUNT(*) AS n_docs FROM $table),
       |scored AS (
       |  SELECT id, word, tf, df,
       |         tf * CAST(ROUND(LN(CAST((SELECT n_docs FROM n) AS DOUBLE) / df)
       |                         * 10000) AS BIGINT) AS score4
       |    FROM (SELECT id, word, tf,
       |                 COUNT(*) OVER (PARTITION BY word) AS df
       |            FROM tf) w
       |),
       |ranked AS (
       |  SELECT id, word, tf, df, score4,
       |         ROW_NUMBER() OVER (PARTITION BY id
       |                            ORDER BY score4 DESC, word) AS rn
       |    FROM scored
       |)
       |SELECT id AS doc_id, CAST(rn AS INT) AS rank, word AS term,
       |       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       |       CAST(score4 / 10000.0 AS DOUBLE) AS tfidf
       |  FROM ranked
       | WHERE rn <= $k
       | ORDER BY doc_id, rank""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sparkSql(graft.core.Tables.view(spark, dir, "documents")))
  }

  def duckSql(): String = sql("documents")(DuckDialect)
}
