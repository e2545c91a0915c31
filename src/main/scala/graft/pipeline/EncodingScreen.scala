package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Encoding-health screen — the mojibake/corruption gate every
  * web-crawl pipeline runs before training: per document, counts of
  * (a) U+FFFD replacement characters (a decoder already gave up
  * upstream), (b) C0 control characters other than tab/newline/CR
  * (binary bleed-through, truncated transfers), (c) zero-width
  * characters (U+200B–U+200D, U+FEFF — invisible tokens that poison
  * tokenizers and dedup), and (d) the classic UTF-8-read-as-Latin-1
  * double-encoding signature (`Ã` followed by a Latin-1-supplement
  * continuation byte char — how "é" becomes "Ã©"). Flagged docs
  * either get re-decoded or dropped; the flag is also a quality-gate
  * input. The reference has no encoding screen (its sources are typed
  * RDBMS columns); for crawl text this is the first filter applied.
  *
  * The fixture corpus is clean ASCII, so the entry INJECTS the four
  * corruption classes deterministically by `doc_id` residue — the
  * same expression in both engines (the media entries' render-
  * synthetically discipline), so every branch of the screen fires and
  * the oracle checks real counts, not vacuous zeros.
  *
  * Scale shape: one codegen'd scan — four `regexp_extract_all` counts
  * per row, no joins, no shuffle except the final suspect filter's
  * pass-through. Patterns use `\\x{..}` escapes, valid in BOTH Java
  * regex (Spark) and RE2 (DuckDB). */
object EncodingScreen {

  /** C0 controls minus \t \n \r. */
  val CtrlRe = "[\\x{01}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]"
  /** Zero-width space/joiner/non-joiner + BOM-as-ZWNBSP. */
  val ZeroWidthRe = "[\\x{200B}-\\x{200D}\\x{FEFF}]"
  /** UTF-8-as-Latin-1 signature: Ã + continuation-range char. */
  val MojibakeRe = "\u00C3[\\x{80}-\\x{FF}]"
  /** U+FFFD replacement character. */
  val ReplRe = "\uFFFD"

  private val Repl = "\uFFFD"
  private val Zwsp = "\u200B"
  private val Zwj = "\u200D"
  private val Bom = "\uFEFF"
  /** "naïve résumé" re-read as Latin-1: ï→Ã¯, é→Ã©. */
  private val Moji = " na\u00C3\u00AFve r\u00C3\u00A9sum\u00C3\u00A9"

  /** The deterministic corruption injection — doc_id residues pick a
    * corruption class; the rest of the corpus stays clean. All
    * non-ASCII payload is spelled with \\u escapes in the builder so
    * nothing invisible hides in source; the SQL literal carries the
    * real characters (the Verify JSON dump escapes them losslessly). */
  private def corrupted: String =
    s"""CASE CAST(doc_id % 13 AS INT)
       |  WHEN 0 THEN text || ' caf$Repl men${Repl}u'
       |  WHEN 1 THEN text || '$Moji'
       |  WHEN 2 THEN text || chr(8) || 'cut' || chr(11) || chr(31)
       |  WHEN 3 THEN text || 'a${Zwsp}b${Zwj}c${Bom}d'
       |  ELSE text END""".stripMargin

  def sql(table: String)(d: Dialect): String =
    s"""WITH scr AS (
       |  SELECT doc_id, source,
       |         CAST(${d.regexpCount("t", ReplRe)} AS BIGINT) AS repl_ct,
       |         CAST(${d.regexpCount("t", CtrlRe)} AS BIGINT) AS ctrl_ct,
       |         CAST(${d.regexpCount("t", ZeroWidthRe)} AS BIGINT) AS zerowidth_ct,
       |         CAST(${d.regexpCount("t", MojibakeRe)} AS BIGINT) AS mojibake_ct
       |    FROM (SELECT doc_id, source, $corrupted AS t FROM $table) c
       |)
       |SELECT doc_id, source, repl_ct, ctrl_ct, zerowidth_ct, mojibake_ct,
       |       (repl_ct + ctrl_ct + zerowidth_ct + mojibake_ct) > 0 AS is_suspect
       |  FROM scr
       | WHERE repl_ct + ctrl_ct + zerowidth_ct + mojibake_ct > 0
       | ORDER BY doc_id""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)
}
