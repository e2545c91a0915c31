package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Text-analysis operators for large-scale training-data pipelines over
  * the `documents` table: token counting (whitespace + word/number/
  * punctuation regex), language identification (stopword-vote
  * heuristic), quality scoring (length / punctuation / stopword
  * composite), and document fingerprinting (normalized-content hash).
  *
  * All single-scan, codegen-friendly column expressions — no UDFs, no
  * shuffles; at 100 TB this runs embarrassingly parallel per partition.
  */
object TextAnalysis {

  private val stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "for", "on", "with", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "pour", "dans", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "una", "para", "en", "que"))

  private def stopCount(lang: String, d: Dialect): String =
    stopCountOf("text", lang, d)

  private def stopCountOf(textExpr: String, lang: String, d: Dialect): String = {
    val alt = stopwords(lang).mkString("|")
    d.regexpCount(s"LOWER($textExpr)", s"\\b($alt)\\b")
  }

  /** The stopword-vote language guess of `textExpr` as a dialect-neutral
    * expression — the same CASE ladder the doc-level `lang_guess` column
    * uses, reusable at any grain (chunks, spans). */
  def langGuessExpr(textExpr: String)(d: Dialect): String = {
    val pairs = stopwords.keys.toSeq.sorted
    val votes = pairs.map(l => l -> stopCountOf(textExpr, l, d)).toMap
    val best = pairs.map { l =>
      val others = pairs.filterNot(_ == l)
        .map(o => s"${votes(l)} >= ${votes(o)}").mkString(" AND ")
      s"WHEN ${votes(l)} > 0 AND $others THEN '$l'"
    }
    s"CASE ${best.mkString(" ")} ELSE 'unknown' END"
  }

  /** One row per document with every text metric. `extraCols` pass
    * grouping columns (e.g. source, lang) through the single scan so a
    * downstream rollup needs no second read of the corpus; `ordered`
    * off renders the projection without the final sort (streaming
    * frames reject ORDER BY). */
  def sql(table: String, extraCols: Seq[String] = Nil,
          ordered: Boolean = true)(d: Dialect): String = {
    val extras = extraCols.map(c => s"$c,\n  ").mkString
    val wsTokens = d.regexpCount("text", "\\S+")
    val reTokens = d.regexpCount("text", "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
    val alphaCt = s"LENGTH(${d.regexpReplace("text", "[^A-Za-z]", "")})"
    val punctCt = s"LENGTH(text) - LENGTH(${d.regexpReplace("text", """[.,;:!?"'()\[\]{}]""", "")})"
    val norm = s"TRIM(${d.regexpReplace("LOWER(text)", "[^a-z0-9]+", " ")})"
    val langCase = langGuessExpr("text")(d)
    s"""SELECT doc_id,
       |  ${extras}CAST(LENGTH(text) AS BIGINT) AS char_ct,
       |  CAST($wsTokens AS BIGINT) AS ws_token_ct,
       |  CAST($reTokens AS BIGINT) AS re_token_ct,
       |  CAST(ROUND(CAST($alphaCt AS DOUBLE) / NULLIF(LENGTH(text), 0), 4) AS DOUBLE) AS alpha_ratio,
       |  CAST(ROUND(CAST($punctCt AS DOUBLE) / NULLIF(LENGTH(text), 0), 4) AS DOUBLE) AS punct_ratio,
       |  CAST(ROUND(CAST(${stopCount("en", d)} AS DOUBLE) / NULLIF($wsTokens, 0), 4) AS DOUBLE) AS stopword_ratio,
       |  CAST(ROUND(CAST($alphaCt AS DOUBLE) / NULLIF($wsTokens, 0), 4) AS DOUBLE) AS avg_word_len,
       |  CAST(ROUND(LEAST(1.0, $wsTokens / 50.0)
       |       * (1.0 - LEAST(1.0, 2.0 * CAST($punctCt AS DOUBLE) / NULLIF(LENGTH(text), 0)))
       |       * (0.25 + 0.75 * LEAST(1.0, 4.0 * CAST(${stopCount("en", d)} AS DOUBLE) / NULLIF($wsTokens, 0))), 4)
       |       AS DOUBLE) AS quality_score,
       |  $langCase AS lang_guess,
       |  MD5($norm) AS fingerprint
       |FROM $table${if (ordered) "\nORDER BY doc_id" else ""}""".stripMargin
  }

  /** Regexp-replace with the 'g' flag spelled per dialect (the shared
    * Dialect.regexpReplace already renders globally on both). */
  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)
}

/** Tokenizer fertility by language — subtokens-per-word and
  * chars-per-subtoken under the word/number/punct segmentation, the
  * per-language cost report a tokenizer choice is judged by (a
  * language whose fertility is 2× pays 2× the sequence length for the
  * same text; the standard multilingual-tokenizer comparison metric).
  * Ratios divide exact integer sums, rounded once at the edge.
  *
  * Scale shape: one codegen'd regexp-count scan, one tiny per-lang
  * rollup with map-side partials — no explode, no joins. */
object TokenizerFertility {

  def sql(table: String)(d: Dialect): String = {
    val wsTokens = d.regexpCount("text", "\\S+")
    val reTokens = d.regexpCount("text", "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
    s"""SELECT lang,
       |       CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |       CAST(SUM(ws_ct) AS BIGINT) AS word_ct,
       |       CAST(SUM(re_ct) AS BIGINT) AS subtoken_ct,
       |       CAST(CASE WHEN SUM(ws_ct) = 0 THEN 0.0
       |            ELSE ROUND(CAST(SUM(re_ct) AS DOUBLE) / SUM(ws_ct), 4)
       |            END AS DOUBLE) AS fertility,
       |       CAST(CASE WHEN SUM(re_ct) = 0 THEN 0.0
       |            ELSE ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(re_ct), 4)
       |            END AS DOUBLE) AS chars_per_subtoken
       |  FROM (SELECT lang, n_chars,
       |               $wsTokens AS ws_ct, $reTokens AS re_ct
       |          FROM $table) t
       | GROUP BY lang
       | ORDER BY lang""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)
}

/** Tokenizer-vocabulary coverage — the fit report run before freezing a
  * tokenizer: fix the vocabulary as the corpus's top-`VocabSize` words
  * by occurrence (tie-broken by word so both engines pick the same
  * set), then per source measure how much of the token stream the
  * vocabulary covers and the out-of-vocabulary rate. A source whose
  * OOV rate spikes (code, another language, transliteration) will
  * fragment into byte-fallback tokens downstream — this is the report
  * that catches it before training.
  *
  * Scale shape: the vocabulary is a sort-based top-K (`ORDER BY occ
  * LIMIT K` — Spark plans TakeOrdered over map-side partial counts,
  * never a single-partition ROW_NUMBER window), and the coverage pass
  * is one word-explode scan LEFT-joined against the broadcast-sized
  * vocabulary. The fixture keeps K small ([[VocabSize]] = 20) so the
  * synthetic corpus's ~40-word vocabulary actually produces OOV mass;
  * production K is 30k+ with identical shape.
  */
object VocabCoverage {

  val VocabSize = 20

  def sql(table: String, vocabSize: Int = VocabSize)(d: Dialect): String =
    s"""WITH words AS (
       |  ${d.wordsRel(table, "doc_id", "text")}
       |),
       |df AS (SELECT word, COUNT(*) AS occ FROM words GROUP BY word),
       |vocab AS (
       |  SELECT word FROM df ORDER BY occ DESC, word LIMIT $vocabSize
       |),
       |j AS (
       |  SELECT dd.source, w.word,
       |         CASE WHEN v.word IS NULL THEN 0 ELSE 1 END AS in_vocab
       |    FROM words w
       |    JOIN $table dd ON dd.doc_id = w.id
       |    LEFT JOIN vocab v ON v.word = w.word
       |)
       |SELECT source,
       |       CAST(COUNT(*) AS BIGINT) AS token_ct,
       |       CAST(SUM(in_vocab) AS BIGINT) AS in_vocab_ct,
       |       CAST(COUNT(DISTINCT word) AS BIGINT) AS distinct_word_ct,
       |       CAST(${d.intDiv("2 * 10000 * (COUNT(*) - SUM(in_vocab)) + COUNT(*)",
                               "2 * COUNT(*)")} / 10000.0 AS DOUBLE) AS oov_rate
       |  FROM j
       | GROUP BY source
       | ORDER BY source""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)
}
