package graft.profiling

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Landed mergeable-sketch store — the incremental-distinct
  * infrastructure for 100 TB: per source, the corpus's distinct-word
  * HyperLogLog sketch (Apache DataSketches HLL via Spark's
  * `hll_sketch_agg`, lgK=[[LgK]]) is computed in ONE scan and LANDED
  * as a binary-register relation of |sources| rows. After that, any
  * cross-slice distinct question — one source, a group of sources, the
  * whole corpus — is answered by merging the landed registers
  * (`hll_union_agg`): zero corpus rescans, and a daily ingest only has
  * to sketch its own batch and union in (sketch merge is associative
  * and idempotent, the same mergeable-summaries property the
  * [[HeavyHitters]] pass and the [[ApproxProfiler]] rely on).
  *
  * Contrast the exact path: COUNT(DISTINCT word) per slice shuffles
  * every distinct (slice, word) pair — the one value-volume shuffle
  * profiling has — and answers only the slice it grouped by; a new
  * slicing means a new corpus pass. The store's registers are
  * 2^[[LgK]]·6 bits per source, forever.
  *
  * Oracle shape (the [[ApproxProfiler.report]] discipline): the entry
  * emits per scope the EXACT distinct count — which both engines
  * compute identically — plus the engine-side verdict that the sketch
  * estimate lands within ±10% (≈6σ at lgK=12's ~1.6% rse) of it;
  * DuckDB asserts the expected all-in-bound literals, so a sketch
  * drifting out of its published error bound fails the hash compare.
  * The sketch side of the entry reads ONLY the landed registers
  * (plan-spec tripwire: the global estimate scans no parquet).
  */
object SketchStore {

  val LgK = 12
  /** Relative bound of the verdict: |est - exact| <= max(4, 10%·exact). */
  val Bound = 0.10

  /** Land the per-source word sketches (memoized per session+dir):
    * one word-explode scan, |sources| binary rows. */
  private[graft] def sketchRel(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "sketch_store", dir, graft.core.Materialize.Checkpoint) {
      val docs = docsView(spark, dir)
      spark.sql(
        s"""SELECT source, hll_sketch_agg(word, $LgK) AS sk, COUNT(*) AS word_rows
           |  FROM (SELECT t.source, w.word
           |          FROM $docs t
           |          JOIN (${SparkDialect.wordsRel(docs, "doc_id", "text")}) w
           |            ON w.id = t.doc_id) x
           | GROUP BY source""".stripMargin)
    }

  /** The documents relation the sketches and the exact counts read. */
  private[graft] def docsView(spark: SparkSession, dir: String): String =
    graft.core.Tables.view(spark, dir, "documents")

  /** Global-estimate frame over the LANDED registers only (exposed for
    * the no-rescan plan tripwire). */
  private[graft] def globalEstimateFrame(spark: SparkSession, dir: String): DataFrame = {
    val rel = sketchRel(spark, dir)
    spark.sql(
      s"SELECT hll_sketch_estimate(hll_union_agg(sk, false)) AS est FROM $rel")
  }

  /** Per-source + GLOBAL exact distinct words with the sketch verdict.
    * The per-source estimates read the landed registers; the GLOBAL
    * estimate is the union of those registers — the corpus is scanned
    * once for the sketches (landing) and once for the exact counts the
    * verdict needs (the oracle's side of the bargain), never per scope. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val rel = sketchRel(spark, dir)
    val docs = docsView(spark, dir)
    spark.sql(
      s"""WITH exact AS (
         |  SELECT t.source, COUNT(DISTINCT w.word) AS exact_distinct
         |    FROM $docs t
         |    JOIN (${SparkDialect.wordsRel(docs, "doc_id", "text")}) w
         |      ON w.id = t.doc_id
         |   GROUP BY t.source
         |),
         |est AS (
         |  SELECT source, hll_sketch_estimate(sk) AS est FROM $rel
         |),
         |g AS (
         |  SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS exact_distinct
         |    FROM (${SparkDialect.wordsRel(docs, "doc_id", "text")}) w
         |),
         |gu AS (
         |  SELECT hll_sketch_estimate(hll_union_agg(sk, false)) AS est FROM $rel
         |)
         |SELECT e.source AS scope,
         |       CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
         |       CAST(CASE WHEN ABS(s.est - e.exact_distinct)
         |                   <= GREATEST(4, CEIL(${Bound} * e.exact_distinct))
         |                 THEN 1 ELSE 0 END AS INT) AS sketch_within_bound
         |  FROM exact e JOIN est s ON s.source = e.source
         |UNION ALL
         |SELECT 'GLOBAL',
         |       g.exact_distinct,
         |       CAST(CASE WHEN ABS(gu.est - g.exact_distinct)
         |                   <= GREATEST(4, CEIL(${Bound} * g.exact_distinct))
         |                 THEN 1 ELSE 0 END AS INT)
         |  FROM g, gu
         |ORDER BY scope""".stripMargin)
  }

  /** DuckDB oracle: exact distincts natively, verdicts as the expected
    * all-in-bound literals. */
  def duckSql(): String = {
    val words = DuckDialect.wordsRel("documents", "doc_id", "text")
    s"""WITH w AS (
       |  SELECT t.source, x.word
       |    FROM documents t JOIN ($words) x ON x.id = t.doc_id
       |)
       |SELECT source AS scope,
       |       CAST(COUNT(DISTINCT word) AS BIGINT) AS exact_distinct,
       |       CAST(1 AS INT) AS sketch_within_bound
       |  FROM w GROUP BY source
       |UNION ALL
       |SELECT 'GLOBAL', CAST(COUNT(DISTINCT word) AS BIGINT), CAST(1 AS INT)
       |  FROM w
       |ORDER BY scope""".stripMargin
  }
}
