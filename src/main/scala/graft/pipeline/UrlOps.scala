package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** URL canonicalization and per-domain capping — the two web-crawl
  * curation steps every CommonCrawl-derived corpus runs before any
  * content dedup (the reference profiles tabular warehouses and has no
  * URL surface; these follow the published crawl-pipeline recipes, e.g.
  * the C4/RefinedWeb URL dedup + per-domain budget steps):
  *
  *  - [[normalizeSqlExpr]]: syntactic URL normalization — lowercase
  *    scheme+host, strip a `www.` prefix and default `:80`/`:443`
  *    ports, drop the fragment, strip tracking parameters
  *    (`utm_*`, `gclid`, `fbclid`) while PRESERVING the order of the
  *    remaining query params, and collapse a trailing path slash —
  *    so `HTTP://WWW.Site.com:80/a/?utm_source=x&id=1#top` and
  *    `http://site.com/a?id=1` dedup to one canonical URL. All string
  *    algebra (`split_part`, `regexp_replace`, `lower`), dual-rendered
  *    and codegen'd — one scan, no UDF.
  *
  *  - [[runNormalize]]: per-document raw → canonical URL with the
  *    canonical-group size and the min-id survivor flag — URL-grain
  *    exact dedup, the cheapest dedup pass in the stack (it reads no
  *    document text at all). One hash partition on the canonical URL.
  *
  *  - [[runDomainCap]]: per-registrable-domain document budget — rank
  *    docs within each domain by a content-keyed md5 priority (the
  *    same draw as [[PrioritySample]], so the kept set is stable
  *    across runs/engines/layouts) and keep the first [[CapK]]. At
  *    100 TB the per-domain window is a single shuffle on domain; a
  *    pathological mega-domain follows the documented two-phase swap:
  *    per-partition bottom-K (exactly mergeable, see
  *    [[PrioritySample.bottomK]]) then a K·P merge per domain.
  *
  * The documents table carries no URL column, so — like the media
  * entries render payloads from md5 bytes — each doc derives a
  * deterministic synthetic URL from its id and source: canonical
  * identity is keyed by `doc_id % 97` (so ~1/97 of docs share a
  * canonical URL and the dedup is non-trivial), while the raw spelling
  * varies per doc (case, tracking params, default port, trailing
  * slash, fragment) keyed by md5 nibbles. The DuckDB oracle builds and
  * normalizes the same URLs from the same arithmetic — both engines
  * must agree on every canonicalization rule to hash-match.
  */
object UrlOps {

  /** Docs sharing `doc_id % UrlGroups` share a canonical URL. */
  val UrlGroups = 97
  /** Per-domain document budget of [[runDomainCap]]. */
  val CapK = 20

  /** Synthetic raw URL expression for a row with `doc_id` and `source`
    * columns. Canonical parts derive from `doc_id % 97`; spelling noise
    * derives from md5 nibbles of the doc id. */
  def urlExpr(d: Dialect): String = {
    val h = s"MD5('url:' || ${d.castText("doc_id")})"
    def nib(i: Int) = d.hexToInt(s"SUBSTRING($h, $i, 1)")
    val g = s"(doc_id % $UrlGroups)"
    val scheme = s"CASE WHEN ${nib(1)} % 2 = 0 THEN 'https' ELSE 'HTTP' END"
    val www = s"CASE WHEN ${nib(2)} % 4 < 2 THEN 'WWW.' ELSE '' END"
    val host = s"$www || source || '.Example.com'"
    // default port spelled out on some docs (normalizer strips it);
    // a real non-default port on a few (normalizer keeps it)
    val port =
      s"""CASE WHEN ${nib(3)} % 8 < 2 THEN
         |       CASE WHEN ${nib(1)} % 2 = 0 THEN ':443' ELSE ':80' END
         |     WHEN ${nib(3)} % 8 = 7 THEN ':8080' ELSE '' END""".stripMargin
    val slash = s"CASE WHEN ${nib(4)} % 2 = 0 THEN '/' ELSE '' END"
    val path = s"'/p/' || ${d.castText(g)} || $slash"
    val utmLead =
      s"CASE WHEN ${nib(5)} % 4 = 0 THEN 'utm_source=feed&' ELSE '' END"
    val utmMid =
      s"CASE WHEN ${nib(5)} % 2 = 1 THEN '&utm_campaign=c' || ${d.castText(s"${nib(6)} % 4")} ELSE '' END"
    val gclid =
      s"CASE WHEN ${nib(7)} % 4 = 1 THEN '&gclid=' || SUBSTRING($h, 9, 4) ELSE '' END"
    val sort = s"CASE WHEN ${nib(7)} % 4 = 2 THEN '&sort=asc' ELSE '' END"
    val query = s"'?' || $utmLead || 'id=' || ${d.castText(g)} || $utmMid || $gclid || $sort"
    val frag = s"CASE WHEN ${nib(8)} % 2 = 0 THEN '#sec' || ${d.castText(s"${nib(8)} % 8")} ELSE '' END"
    s"$scheme || '://' || $host || $port || $path || $query || $frag"
  }

  /** Normalization of a URL expression `u` — every rule is one string
    * algebra step shared by both dialects:
    *  1. drop the fragment;
    *  2. lowercase scheme and host:port (path/query stay
    *     case-sensitive);
    *  3. strip a `www.` host prefix and a default `:80`/`:443` port;
    *  4. strip tracking params (`utm_*`, `gclid`, `fbclid`) — a
    *     tracked param followed by another param is consumed WITH its
    *     separator, then a trailing one is consumed with its leading
    *     `?`/`&`; surviving params keep their relative order;
    *  5. collapse `/?` (trailing path slash before a query) and a
    *     trailing `/` or dangling `?` at the end. */
  def normalizeSqlExpr(u: String)(d: Dialect): String = {
    val noFrag = d.splitPart(u, "#", 1)
    val scheme = s"LOWER(${d.splitPart(noFrag, "://", 1)})"
    val rest = d.splitPart(noFrag, "://", 2)
    val hostport = d.splitPart(rest, "/", 1)
    val pathq = s"SUBSTRING($rest, LENGTH($hostport) + 1)"
    val host1 = d.regexpReplace(s"LOWER($hostport)", "^www\\.", "")
    val host = d.regexpReplace(host1, ":(80|443)$", "")
    val q1 = d.regexpReplace(pathq, "(utm_[a-z]+|gclid|fbclid)=[^&#]*&", "")
    val q2 = d.regexpReplace(q1, "[?&](utm_[a-z]+|gclid|fbclid)=[^&#]*$", "")
    val q3 = d.regexpReplace(q2, "/\\?", "?")
    val q4 = d.regexpReplace(q3, "[/?]$", "")
    s"$scheme || '://' || $host || $q4"
  }

  def normalizeSql(table: String)(d: Dialect): String = {
    val norm = normalizeSqlExpr("url")(d)
    s"""WITH raw AS (
       |  SELECT doc_id, ${urlExpr(d)} AS url FROM $table
       |),
       |n AS (
       |  SELECT doc_id, url, $norm AS url_norm FROM raw
       |)
       |SELECT doc_id, url, url_norm,
       |       COUNT(*) OVER (PARTITION BY url_norm) AS dup_ct,
       |       MIN(doc_id) OVER (PARTITION BY url_norm) = doc_id AS survivor
       |  FROM n""".stripMargin
  }

  def runNormalize(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents", parallelize = false)
    spark.sql(normalizeSql(documents)(SparkDialect))
  }

  def duckNormalizeSql(): String = normalizeSql("documents")(DuckDialect)

  /** Per-domain budget over the NORMALIZED hosts: rank by the
    * content-keyed md5 priority, keep the first [[CapK]] per domain. */
  def domainCapSql(table: String, k: Int = CapK)(d: Dialect): String = {
    val norm = normalizeSqlExpr("url")(d)
    val prio = s"SUBSTRING(MD5('cap:' || ${d.castText("doc_id")}), 1, 16)"
    s"""WITH raw AS (
       |  SELECT doc_id, ${urlExpr(d)} AS url FROM $table
       |),
       |n AS (
       |  SELECT doc_id, ${d.splitPart(norm, "://", 2)} AS loc FROM raw
       |),
       |dom AS (
       |  SELECT doc_id,
       |         ${d.regexpReplace(d.splitPart("loc", "/", 1), ":[0-9]+$", "")} AS domain,
       |         $prio AS priority
       |    FROM n
       |),
       |rk AS (
       |  SELECT doc_id, domain, priority,
       |         ROW_NUMBER() OVER (PARTITION BY domain
       |                            ORDER BY priority, doc_id) AS rk
       |    FROM dom
       |)
       |SELECT doc_id, domain, CAST(rk AS BIGINT) AS domain_rank,
       |       rk <= $k AS kept
       |  FROM rk""".stripMargin
  }

  def runDomainCap(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents", parallelize = false)
    spark.sql(domainCapSql(documents)(SparkDialect))
  }

  def duckDomainCapSql(): String = domainCapSql("documents")(DuckDialect)
}
