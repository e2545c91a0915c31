package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Cross-document boilerplate detection — the C4/RefinedWeb-style filter
  * that drops spans repeated across MANY documents (navigation chrome,
  * license headers, cookie banners) as opposed to spans repeated within
  * one document ([[Repetition]] covers that axis).
  *
  * A word trigram that occurs in >= `docFreq` distinct documents is
  * boilerplate; each document is scored by the fraction of its distinct
  * trigrams that are boilerplate, and flagged when that fraction crosses
  * `heavyFrac`. Trigrams (not the dedup paths' 5-gram shingles) because
  * boilerplate spans are short and K-doc recurrence of a long shingle is
  * exponentially rarer — the published line-dedup filters operate on
  * similarly short units.
  *
  * Scale shape: one scan → per-doc distinct trigrams → one shuffle on the
  * trigram for document frequency → the SAME key joins frequency back to
  * the per-doc trigrams (no second data scan) → one shuffle on doc id for
  * the rollup. No pair joins anywhere: a trigram shared by a million docs
  * costs one counter row, never a candidate pair, so the operator is
  * linear in corpus size at 100 TB.
  */
object Boilerplate {

  /** The per-doc distinct trigram relation `(id, gram)`. Referenced
    * twice by the body; the Spark entry materializes it once (Spark
    * inlines repeated CTEs — the same double-scan the dedup paths
    * checkpoint away), while the oracle keeps the single statement. */
  def tgSql(table: String)(d: Dialect): String =
    s"""WITH words AS (
       |  ${d.wordsRel(table, "doc_id", "text")}
       |),
       |lagged AS (
       |  SELECT id, word,
       |         LEAD(word, 1) OVER w AS w1, LEAD(word, 2) OVER w AS w2
       |    FROM words
       |  WINDOW w AS (PARTITION BY id ORDER BY pos)
       |)
       |SELECT DISTINCT id, word || ' ' || w1 || ' ' || w2 AS gram
       |  FROM lagged WHERE w2 IS NOT NULL""".stripMargin

  /** Dialect-free scoring body over a `(id, gram)` relation. */
  def bodySql(tgRel: String, docFreq: Int = 4, heavyFrac: Double = 0.5): String =
    s"""WITH dfreq AS (
       |  SELECT gram, COUNT(*) AS doc_ct FROM $tgRel GROUP BY gram
       |),
       |per_doc AS (
       |  SELECT t.id, COUNT(*) AS gram_ct,
       |         SUM(CASE WHEN f.doc_ct >= $docFreq THEN 1 ELSE 0 END) AS bp_ct
       |    FROM $tgRel t JOIN dfreq f ON t.gram = f.gram
       |   GROUP BY t.id
       |)
       |SELECT id AS doc_id, CAST(gram_ct AS BIGINT) AS gram_ct,
       |       CAST(bp_ct AS BIGINT) AS boilerplate_ct,
       |       CAST(ROUND(CAST(bp_ct AS DOUBLE) / gram_ct, 4) AS DOUBLE)
       |         AS boilerplate_frac,
       |       CAST(CASE WHEN bp_ct >= $heavyFrac * gram_ct THEN 1 ELSE 0 END
       |            AS INT) AS boilerplate_heavy
       |  FROM per_doc
       | ORDER BY doc_id""".stripMargin

  def sql(table: String, docFreq: Int = 4, heavyFrac: Double = 0.5)
         (d: Dialect): String =
    s"""WITH tg AS (
       |${tgSql(table)(d)}
       |),
       |${bodySql("tg", docFreq, heavyFrac).stripPrefix("WITH ")}""".stripMargin

  /** Spark-side trigram derivation, ROW-LOCAL: the split array
    * transforms to grams inside each document row, so the token stream
    * is never shuffled or per-doc sorted (the [[tgSql]] window form the
    * oracle keeps plans Exchange(id) + Sort over every token; this
    * form is a pure projection + explode — embarrassingly parallel at
    * any corpus size). Identical (id, gram) relation by construction:
    * same lowercase/split/empty-drop as `wordsRel`, same space-joined
    * trigram, same DISTINCT (spec-pinned; the oracle compare re-proves
    * it end-to-end). (r14 audit note: a row-local `array_distinct`
    * spelling of the DISTINCT was tried and MEASURED 7× slower —
    * ArrayDistinct on non-primitive element types falls back to a
    * quadratic per-row scan; the global DISTINCT exchange is the
    * cheaper spelling at every scale until that changes.) */
  private[graft] def tgSparkSql(table: String): String =
    s"""SELECT DISTINCT doc_id AS id,
       |       concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]) AS gram
       |  FROM (SELECT doc_id, ws FROM (
       |          SELECT doc_id,
       |                 filter(split(LOWER(text), '\\\\s+'), w -> w <> '') AS ws
       |            FROM $table) z0
       |         WHERE size(ws) >= 3) z
       |  LATERAL VIEW explode(sequence(0, size(ws) - 3)) e AS i""".stripMargin

  /** Engine rendering of [[bodySql]]: each gram row reads its
    * document frequency from a COUNT window over `gram` instead of the
    * oracle form's groupBy+join-back — one `gram` exchange total where
    * the join form pays the census aggregation plus the join's own
    * exchange of the full (id, gram) relation (guide §2.4: the
    * aggregation and the join were keyed identically — fuse them).
    * Same doc_ct per row by construction; the tail is [[bodySql]]'s
    * verbatim. */
  private[graft] def bodySparkSql(tgRel: String, docFreq: Int = 4,
                                  heavyFrac: Double = 0.5): String =
    s"""WITH cnt AS (
       |  SELECT id, COUNT(*) OVER (PARTITION BY gram) AS doc_ct FROM $tgRel
       |),
       |per_doc AS (
       |  SELECT id, COUNT(*) AS gram_ct,
       |         SUM(CASE WHEN doc_ct >= $docFreq THEN 1 ELSE 0 END) AS bp_ct
       |    FROM cnt GROUP BY id
       |)
       |SELECT id AS doc_id, CAST(gram_ct AS BIGINT) AS gram_ct,
       |       CAST(bp_ct AS BIGINT) AS boilerplate_ct,
       |       CAST(ROUND(CAST(bp_ct AS DOUBLE) / gram_ct, 4) AS DOUBLE)
       |         AS boilerplate_frac,
       |       CAST(CASE WHEN bp_ct >= $heavyFrac * gram_ct THEN 1 ELSE 0 END
       |            AS INT) AS boilerplate_heavy
       |  FROM per_doc
       | ORDER BY doc_id""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    val tg = spark.sql(tgSparkSql(graft.core.Tables.view(spark, dir, "documents")))
      .localCheckpoint(eager = true)
    graft.core.Materialize.sql(spark, tg) { case Seq(v) => bodySparkSql(v) }
  }

  /** The materialized per-doc OUTPUT, memoized per (session, dir) — the
    * quality gate joins this instead of re-running the trigram passes. */
  def outView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "bp_out", dir, graft.core.Materialize.Checkpoint)(
      run(spark, dir))

  def duckSql(): String = sql("documents")(DuckDialect)
}
