package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Per-document statistical screens over the `documents` corpus that a
  * training-data pipeline runs between raw ingest and the quality gate:
  *
  *  - **Length outliers** (`doc_outliers`): per-source robust fences —
  *    median / IQR (the profiling family's quantile machinery at corpus
  *    grain) flag documents whose length falls outside
  *    `[Q1 − f·IQR, Q3 + f·IQR]`. Truncated scrapes and concatenation
  *    accidents (two documents glued into one record) sit exactly in
  *    these tails; a mean/stddev fence would let the gluing accidents
  *    drag the fence outward, the quartile fence does not.
  *  - **Readability** (`readability`): Flesch reading-ease +
  *    Flesch–Kincaid grade from regexp token / sentence / vowel-group
  *    syllable counts — the classic public formulas (Kincaid et al.
  *    1975), used as a cheap fluency prior alongside the stopword
  *    quality score in `text_analysis`.
  *
  * Scale shape: readability is one codegen'd scan, embarrassingly
  * parallel. Outliers are one scan for the per-source quantile rollup
  * (20 groups → broadcast-sized) plus one scan joined against the
  * broadcast fences — no shuffle of the corpus itself at any scale.
  */
object DocStats {

  /** Quartile-fence multiplier. Tukey's 1.5 assumes a long-tailed raw
    * corpus; the synthetic fixture's lengths are tight, so the default
    * fence is 0.75 to exercise both tails (production would pass 1.5). */
  val Fence = 0.75

  def outliersSql(table: String, fence: Double = Fence)(d: Dialect): String =
    s"""WITH m AS (
       |  SELECT source,
       |         ${d.quantileCont("n_chars", 0.25)} AS q1,
       |         ${d.quantileCont("n_chars", 0.5)} AS med,
       |         ${d.quantileCont("n_chars", 0.75)} AS q3
       |    FROM $table
       |   GROUP BY source
       |)
       |SELECT /*+ BROADCAST(m) */ dd.doc_id, dd.source,
       |       CAST(dd.n_chars AS BIGINT) AS n_chars,
       |       CAST(ROUND(m.med, 2) AS DOUBLE) AS median_chars,
       |       CAST(ROUND(m.q3 - m.q1, 2) AS DOUBLE) AS iqr,
       |       CASE WHEN dd.n_chars > m.q3 + $fence * (m.q3 - m.q1)
       |            THEN 'HIGH' ELSE 'LOW' END AS side
       |  FROM $table dd
       |  JOIN m ON dd.source = m.source
       | WHERE dd.n_chars > m.q3 + $fence * (m.q3 - m.q1)
       |    OR dd.n_chars < m.q1 - $fence * (m.q3 - m.q1)
       | ORDER BY dd.doc_id""".stripMargin

  /** Flesch reading-ease / FK grade. Sentences floor at 1 (headline-only
    * documents have no terminal punctuation); syllables are approximated
    * as vowel-group runs — the standard public heuristic, exact enough
    * to rank documents. All three counts are emitted so downstream
    * consumers can re-derive any formula variant without a second scan. */
  def readabilitySql(table: String)(d: Dialect): String = {
    val words = s"CAST(${d.regexpCount("text", "\\S+")} AS BIGINT)"
    val sents = s"CAST(GREATEST(1, ${d.regexpCount("text", "[.!?]+")}) AS BIGINT)"
    val sylls = s"CAST(GREATEST(1, ${d.regexpCount("LOWER(text)", "[aeiouy]+")}) AS BIGINT)"
    // Both formulas are restated over a COMMON INTEGER denominator
    // (1000·s·w), so each engine performs exactly one float operation —
    // the final division of two identical BIGINTs — and the banding
    // thresholds compare integers exactly. Rounding the multi-term
    // float form directly is engine-sensitive at the last ulp (FMA
    // contraction), which flips the 2-dp rounding on boundary values.
    //   flesch_ease = 206.835 − 1.015·w/s − 84.6·sy/w
    //               = (206835·s·w − 1015·w² − 84600·sy·s) / (1000·s·w)
    //   fk_grade    = 0.39·w/s + 11.8·sy/w − 15.59
    //               = (390·w² + 11800·sy·s − 15590·s·w) / (1000·s·w)
    // 2-dp rounding runs in EXACT integer arithmetic (half away from
    // zero), then one identical integer→double division per engine:
    // ROUND(float, 2) itself disagrees across engines on exact decimal
    // halves (Spark rounds the shortest decimal rendering, DuckDB the
    // scaled binary value), and these 1000·s·w-denominator quotients DO
    // hit exact halves. Operands inside the DIV are kept non-negative so
    // floor-vs-truncate integer-division conventions cannot diverge.
    def x100(num: String): String =
      s"""CASE WHEN $num >= 0
         |            THEN ${d.intDiv(s"200 * $num + fe_den", "2 * fe_den")}
         |            ELSE -${d.intDiv(s"200 * -($num) + fe_den", "2 * fe_den")}
         |       END""".stripMargin
    s"""SELECT doc_id, source, word_ct, sentence_ct, syllable_ct,
       |       CAST(${x100("fe_num")} AS DOUBLE) / 100 AS flesch_ease,
       |       CAST(${x100("fk_num")} AS DOUBLE) / 100 AS fk_grade,
       |       CASE WHEN fe_num >= 70 * fe_den THEN 'EASY'
       |            WHEN fe_num >= 50 * fe_den THEN 'STANDARD'
       |            ELSE 'DIFFICULT' END AS band
       |  FROM (
       |  SELECT doc_id, source,
       |         words AS word_ct, sents AS sentence_ct, sylls AS syllable_ct,
       |         206835 * sents * words - 1015 * words * words
       |           - 84600 * sylls * sents AS fe_num,
       |         390 * words * words + 11800 * sylls * sents
       |           - 15590 * sents * words AS fk_num,
       |         1000 * sents * words AS fe_den
       |    FROM (
       |    SELECT doc_id, source, $words AS words, $sents AS sents, $sylls AS sylls
       |      FROM $table
       |  ) c WHERE words > 0
       |) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-doc FK grade as an EXACT x100 integer (`fk_x100`) — the
    * difficulty key the curriculum packer sorts on; same integer
    * half-away rounding as [[readabilitySql]], so both engines order
    * packs identically. Documents with no tokens are omitted (they
    * cannot be packed either). */
  def fkX100Sql(table: String)(d: Dialect): String = {
    val words = s"CAST(${d.regexpCount("text", "\\S+")} AS BIGINT)"
    val sents = s"CAST(GREATEST(1, ${d.regexpCount("text", "[.!?]+")}) AS BIGINT)"
    val sylls = s"CAST(GREATEST(1, ${d.regexpCount("LOWER(text)", "[aeiouy]+")}) AS BIGINT)"
    s"""SELECT doc_id,
       |       CASE WHEN fk_num >= 0
       |            THEN ${d.intDiv("200 * fk_num + fe_den", "2 * fe_den")}
       |            ELSE -${d.intDiv("200 * -(fk_num) + fe_den", "2 * fe_den")}
       |       END AS fk_x100
       |  FROM (
       |  SELECT doc_id,
       |         390 * words * words + 11800 * sylls * sents
       |           - 15590 * sents * words AS fk_num,
       |         1000 * sents * words AS fe_den
       |    FROM (
       |    SELECT doc_id, $words AS words, $sents AS sents, $sylls AS sylls
       |      FROM $table
       |  ) c WHERE words > 0
       |) t""".stripMargin
  }

  private def register(spark: SparkSession, dir: String): String = {
    graft.core.Tables.view(spark, dir, "documents")
  }

  def runOutliers(spark: SparkSession, dir: String): DataFrame =
    spark.sql(outliersSql(register(spark, dir))(SparkDialect))

  def runReadability(spark: SparkSession, dir: String): DataFrame =
    spark.sql(readabilitySql(register(spark, dir))(SparkDialect))

  def duckOutliersSql(): String = outliersSql("documents")(DuckDialect)
  def duckReadabilitySql(): String = readabilitySql("documents")(DuckDialect)
}
