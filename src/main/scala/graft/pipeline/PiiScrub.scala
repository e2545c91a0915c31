package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Document-level PII detection and scrubbing — the pre-training wash
  * every large text corpus goes through before the tokenizer sees it
  * (emails, phone numbers, IP addresses, SSN-shaped ids), and the
  * document-granularity counterpart of the engine's column-level
  * pii_flag surface (reference semantics: profiling flags PII columns;
  * a free-text corpus needs in-content detection instead).
  *
  * Per document: a match count per PII class, the total, and the MD5 of
  * the redacted text (each match replaced by its class token) — the
  * scrub output's fingerprint without re-shipping payloads. One scan,
  * all regex work codegen'd per row, no shuffle — embarrassingly
  * parallel at any corpus scale; counts land next to the text for the
  * downstream filter/audit join.
  *
  * The fixture corpus carries no organic PII, so [[run]] synthesizes a
  * deterministic PII-bearing blob per customer row IN SQL (same
  * expression both engines) and scrubs that — nonzero counts through
  * the oracle gate; [[sql]] itself is generic over any (id, text).
  */
object PiiScrub {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** Generic scrub over a relation exposing (id, text). Redaction
    * order: email, ssn, phone, ip — ssn before phone so the 3-2-4
    * dash shape is never half-eaten by a phone pass. */
  def sql(table: String)(d: Dialect): String = {
    val redacted = d.regexpReplace(
      d.regexpReplace(
        d.regexpReplace(
          d.regexpReplace("text", EmailRe, "<EMAIL>"),
          SsnRe, "<SSN>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")
    s"""SELECT id,
       |  CAST(${d.regexpCount("text", EmailRe)} AS BIGINT) AS email_ct,
       |  CAST(${d.regexpCount("text", PhoneRe)} AS BIGINT) AS phone_ct,
       |  CAST(${d.regexpCount("text", IpRe)} AS BIGINT) AS ip_ct,
       |  CAST(${d.regexpCount("text", SsnRe)} AS BIGINT) AS ssn_ct,
       |  CAST(${d.regexpCount("text", EmailRe)} + ${d.regexpCount("text", PhoneRe)}
       |     + ${d.regexpCount("text", IpRe)} + ${d.regexpCount("text", SsnRe)}
       |    AS BIGINT) AS pii_total,
       |  MD5($redacted) AS redacted_hash
       |FROM $table
       |ORDER BY id""".stripMargin
  }

  /** The deterministic PII-bearing fixture blob: every third customer
    * gets an email, a phone, or an ip + ssn. Continuation lines keep
    * `||` at line END — this fragment is re-interpolated into another
    * stripMargin template, and a leading `||` would be double-stripped
    * into a bitwise OR. */
  def fixtureBlobSql(table: String)(d: Dialect): String = {
    val key = d.castText("c_custkey")
    val phoneMid = d.castText("CAST(100 + c_custkey % 900 AS INT)")
    val phoneEnd = d.castText("CAST(1000 + c_custkey % 9000 AS INT)")
    val ipOctet = d.castText("CAST(c_custkey % 256 AS INT)")
    s"""SELECT c_custkey AS id,
       |  c_name || ' ' ||
       |  CASE CAST(c_custkey % 3 AS INT)
       |    WHEN 0 THEN 'mail user' || $key || '@example.com'
       |    WHEN 1 THEN 'call 555-' || $phoneMid || '-' || $phoneEnd
       |    ELSE 'host 10.0.' || $ipOctet || '.1 id 123-45-6789'
       |  END AS text
       |FROM $table""".stripMargin
  }

  private def entrySql(table: String)(d: Dialect): String =
    s"""WITH blob AS (${fixtureBlobSql(table)(d)})
       |${sql("blob")(d)}""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    val customer = graft.core.Tables.view(spark, dir, "customer", parallelize = false)
    spark.sql(entrySql(customer)(SparkDialect))
  }

  def duckSql(): String = entrySql("customer")(DuckDialect)
}
