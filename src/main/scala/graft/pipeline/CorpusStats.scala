package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Token-length histogram — the doc-length distribution every packing /
  * context-window plan starts from: per (source, power-of-2 token
  * bucket) doc counts with token totals and the bucket's share of its
  * source. One scan, map-side-combinable rollup; the bucket id is
  * FLOOR(LOG2(tokens)), so the histogram stays ~30 rows per source at
  * any corpus size. */
object TokenHistogram {

  /** floor(log2(n)) as a pure integer comparison ladder — float LOG2
    * diverges between engines at exact powers of two; the ladder is
    * bit-identical everywhere and constant-folds into codegen. */
  private def log2Bucket(x: String, maxPow: Int = 40): String = {
    val whens = (1 to maxPow).map(p =>
      s"WHEN $x < ${1L << p} THEN ${p - 1}").mkString(" ")
    s"(CASE $whens ELSE $maxPow END)"
  }

  def sql(table: String)(d: Dialect): String = {
    val tokens = d.regexpCount("text", "\\S+")
    val bucket = log2Bucket("token_ct")
    s"""WITH t AS (
       |  SELECT source, GREATEST(1, CAST($tokens AS BIGINT)) AS token_ct
       |    FROM $table
       |)
       |SELECT source,
       |       CAST($bucket AS INT) AS log2_bucket,
       |       CAST(POWER(2, $bucket) AS BIGINT) AS bucket_min_tokens,
       |       CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |       CAST(SUM(token_ct) AS BIGINT) AS token_ct,
       |       CAST(ROUND(CAST(COUNT(*) AS DOUBLE)
       |                  / SUM(COUNT(*)) OVER (PARTITION BY source), 4)
       |            AS DOUBLE) AS source_share
       |  FROM t
       | GROUP BY source, $bucket
       | ORDER BY source, log2_bucket""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)
}

/** Corpus-level token-budget accounting: the per-(source, language)
  * rollup a training-data curation run reports — document and token
  * counts, mean quality, the repetitive share from the Gopher-style
  * filters, and the exact-duplicate rate from content fingerprints.
  *
  * Composes the per-document signal relations ([[TextAnalysis]],
  * [[Repetition]]) and rolls them up to a handful of groups. The
  * repetition join is LEFT: a zero-token document has no repetition
  * row (wordsRel drops empty words), but it still counts toward the
  * budget and the dup rate (empty duplicates are a classic dedup
  * class) — means average only the documents that carry the signal.
  *
  * Scan discipline: text analysis carries source/lang through its one
  * scan, and the repetition side joins the memoized materialized
  * output ([[Repetition.outView]]) — the production shape where
  * signals land once per corpus pass and rollups read the landed
  * columns. The group-by itself moves only (source, lang) partials — a
  * broadcast-sized result at any corpus scale.
  *
  * Averages sum the 4-decimal signals as scaled BIGINTs (exactly
  * representable), not doubles — a floating AVG's partial-sum order
  * differs between Spark's parallel and DuckDB's sequential
  * aggregation and flips the last rounded digit — and the final
  * half-up rounding happens in integer arithmetic (intDiv of
  * 2·sum + n by 2·n): Spark's ROUND rounds the shortest decimal
  * rendering of a double, DuckDB's its binary value, and they disagree
  * one ulp below a .00005 boundary.
  */
object CorpusStats {

  /** The rollup over a text-analysis relation (which carries source and
    * lang through its single scan) and a repetition relation. */
  private def rollupSql(taRel: String, repRel: String)(d: Dialect): String =
    s"""SELECT ta.source, ta.lang,
       |  CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |  CAST(SUM(COALESCE(ta.ws_token_ct, 0)) AS BIGINT) AS token_ct,
       |  CAST(${d.intDiv(
                 "2 * SUM(CAST(ROUND(ta.quality_score * 10000) AS BIGINT)) + COUNT(ta.quality_score)",
                 "NULLIF(2 * COUNT(ta.quality_score), 0)")} / 10000.0 AS DOUBLE) AS avg_quality,
       |  CAST(${d.intDiv(
                 "2 * SUM(CAST(ROUND(rep.distinct_ratio * 10000) AS BIGINT)) + COUNT(rep.distinct_ratio)",
                 "NULLIF(2 * COUNT(rep.distinct_ratio), 0)")} / 10000.0 AS DOUBLE) AS avg_distinct_ratio,
       |  CAST(SUM(COALESCE(rep.repetitive_flag, 0)) AS BIGINT) AS repetitive_ct,
       |  CAST(COUNT(DISTINCT ta.fingerprint) AS BIGINT) AS distinct_fingerprints,
       |  CAST(COUNT(*) - COUNT(DISTINCT ta.fingerprint) AS BIGINT) AS dup_doc_ct
       |FROM $taRel ta
       |LEFT JOIN $repRel rep ON rep.doc_id = ta.doc_id
       |GROUP BY ta.source, ta.lang
       |ORDER BY ta.source, ta.lang""".stripMargin

  def sql(table: String)(d: Dialect): String =
    rollupSql(s"(${TextAnalysis.sql(table, Seq("source", "lang"))(d)})",
      s"(${Repetition.sql(table)(d)})")(d)

  def run(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.core.Tables.view(spark, dir, "documents")
    // ONE corpus scan (text analysis with source/lang passthrough)
    // joined against the memoized repetition output — not the inline
    // CTE composition, which Spark would re-scan per reference
    spark.sql(rollupSql(
      s"(${TextAnalysis.sql(docs, Seq("source", "lang"))(SparkDialect)})",
      Repetition.outView(spark, dir))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)

  /** Post-gate corpus budget — what actually ships to training after
    * [[QualityGate]]: per (source, lang), surviving documents and tokens
    * next to the raw budget, with per-rule drop counts so a curation run
    * can see WHERE each slice lost mass. Same shape discipline as the
    * raw rollup: per-doc signal joins on doc_id, then a (source, lang)
    * group-by whose result is broadcast-sized at any corpus scale. */
  private def keptRollupSql(taRel: String, gateRel: String)(d: Dialect): String =
    s"""SELECT ta.source, ta.lang,
       |  CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |  CAST(SUM(g.keep) AS BIGINT) AS kept_doc_ct,
       |  CAST(SUM(COALESCE(ta.ws_token_ct, 0)) AS BIGINT) AS token_ct,
       |  CAST(SUM(CASE WHEN g.keep = 1 THEN COALESCE(ta.ws_token_ct, 0)
       |           ELSE 0 END) AS BIGINT) AS kept_token_ct,
       |  CAST(SUM(g.low_quality) AS BIGINT) AS low_quality_ct,
       |  CAST(SUM(g.repetitive) AS BIGINT) AS repetitive_ct,
       |  CAST(SUM(g.boilerplate) AS BIGINT) AS boilerplate_ct,
       |  CAST(SUM(g.dup_dropped) AS BIGINT) AS dup_dropped_ct
       |FROM $taRel ta
       |JOIN $gateRel g ON g.doc_id = ta.doc_id
       |GROUP BY ta.source, ta.lang
       |ORDER BY ta.source, ta.lang""".stripMargin

  def runKept(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.core.Tables.view(spark, dir, "documents")
    spark.sql(keptRollupSql(
      s"(${TextAnalysis.sql(docs, Seq("source", "lang"))(SparkDialect)})",
      QualityGate.outView(spark, dir))(SparkDialect))
  }

  def duckKeptSql(): String =
    keptRollupSql(
      s"(${TextAnalysis.sql("documents", Seq("source", "lang"))(DuckDialect)})",
      s"(${QualityGate.duckSql()})")(DuckDialect)

  /** Language-ID confusion — the labeled `lang` against the n-gram
    * heuristic's `lang_guess`, with each cell's share of its labeled
    * row. Labels are frequently wrong or missing in crawled corpora;
    * the confusion matrix is how a curation run audits them before
    * trusting either side. Share rounding runs in integer arithmetic
    * (the scaled half-up intDiv trick) so both engines agree. */
  private def confusionSql(taRel: String)(d: Dialect): String =
    s"""SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |  CAST(${d.intDiv(
                 "2 * 10000 * COUNT(*) + SUM(COUNT(*)) OVER (PARTITION BY lang)",
                 "2 * SUM(COUNT(*)) OVER (PARTITION BY lang)")} / 10000.0
       |       AS DOUBLE) AS lang_share
       |FROM $taRel
       |GROUP BY lang, lang_guess
       |ORDER BY lang, lang_guess""".stripMargin

  def runConfusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.core.Tables.view(spark, dir, "documents")
    spark.sql(confusionSql(
      s"(${TextAnalysis.sql(docs, Seq("lang"))(SparkDialect)})")(SparkDialect))
  }

  def duckConfusionSql(): String =
    confusionSql(
      s"(${TextAnalysis.sql("documents", Seq("lang"))(DuckDialect)})")(DuckDialect)

  /** Per-source length-distribution profile — the percentile summary a
    * context-window / packing plan is actually sized from (the
    * histogram gives the shape; truncation and padding decisions read
    * p50/p90/p99): interpolated percentiles of the token and char
    * counts per source, with the mean in exact integer arithmetic.
    *
    * The percentiles here are EXACT (`percentile`/`quantile_cont`) so
    * the oracle can hash-check them; at 100 TB the one-line swap is
    * `approx_percentile(x, q, accuracy)` — same shape, sketch-mergeable
    * partials instead of a per-group sort — and the group count (one
    * row per source) is broadcast-sized either way. */
  private def percentilesSql(table: String)(d: Dialect): String = {
    val tokens = d.regexpCount("text", "\\S+")
    def p(col: String, q: Double, name: String) =
      s"CAST(ROUND(${d.quantileCont(col, q)}, 4) AS DOUBLE) AS $name"
    s"""WITH t AS (
       |  SELECT source, CAST(LENGTH(text) AS BIGINT) AS chars,
       |         CAST($tokens AS BIGINT) AS tk
       |    FROM $table
       |)
       |SELECT source,
       |       CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |       CAST(MIN(tk) AS BIGINT) AS token_min,
       |       ${p("tk", 0.10, "token_p10")},
       |       ${p("tk", 0.50, "token_p50")},
       |       ${p("tk", 0.90, "token_p90")},
       |       ${p("tk", 0.99, "token_p99")},
       |       CAST(MAX(tk) AS BIGINT) AS token_max,
       |       CAST(${d.intDiv("2 * 10000 * SUM(tk) + COUNT(*)",
                               "2 * COUNT(*)")} / 10000.0 AS DOUBLE)
       |         AS token_mean,
       |       ${p("chars", 0.50, "char_p50")},
       |       ${p("chars", 0.90, "char_p90")}
       |  FROM t
       | GROUP BY source
       | ORDER BY source""".stripMargin
  }

  def runPercentiles(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(percentilesSql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckPercentilesSql(): String = percentilesSql("documents")(DuckDialect)
}

/** Corpus-budget drift across landed runs — the schema-drift analogue
  * for corpus composition: each run's per-(source, lang) budget rollup
  * lands in the [[graft.core.RunStore]] (the same run-history
  * discipline as `data_chars` snapshots), and the drift report is a
  * FULL OUTER join of the two most recent landed snapshots classifying
  * every slice as NEW / GONE / GROWN / SHRUNK / STABLE with its doc and
  * token deltas. A daily 100 TB crawl pipeline watches exactly this
  * relation: a source that vanishes, a language whose token mass halves,
  * or a slice that doubles overnight are all upstream incidents the
  * per-run totals alone cannot localize. The diff is metadata-sized
  * (two rollup footprints, never a corpus scan).
  *
  * The query entry seeds history deterministically: run_000 is the
  * PRIOR corpus state (current docs minus `doc_id % 7 = 0` — yesterday's
  * smaller crawl — minus all of src19, which therefore classifies NEW
  * today, with `doc_id % 97 = 0` docs relabeled to a retired source that
  * classifies GONE); run_001 is the actual corpus. Both snapshots flow
  * through the real rollup → land → diff machinery, and the DuckDB
  * oracle reads the SAME landed parquet and recomputes the diff.
  */
object CorpusDrift {

  /** The landed snapshot: per-(source, lang) docs and tokens. */
  def snapshotSql(table: String)(d: Dialect): String = {
    val tokens = d.regexpCount("text", "\\S+")
    s"""SELECT source, lang,
       |       CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |       CAST(SUM(CAST($tokens AS BIGINT)) AS BIGINT) AS token_ct
       |  FROM $table
       | GROUP BY source, lang""".stripMargin
  }

  /** The deterministic prior-run corpus state (see object doc; the
    * src0 double-up makes the current run classify SHRUNK there, so
    * every change class is exercised). */
  def priorSql(table: String): String =
    s"""SELECT doc_id,
       |       CASE WHEN doc_id % 97 = 0 THEN 'src_retired' ELSE source END AS source,
       |       lang, text
       |  FROM $table
       | WHERE source <> 'src19' AND doc_id % 7 <> 0
       |UNION ALL
       |SELECT doc_id + 1000000 AS doc_id, source, lang, text
       |  FROM $table WHERE source = 'src0'""".stripMargin

  /** Threshold for GROWN/SHRUNK vs STABLE on the token mass. */
  val StablePct = 0.05

  def diffSql(priorPath: String, currentPath: String)(d: Dialect): String =
    s"""WITH prior AS (SELECT * FROM ${d.readParquet(priorPath)}),
       |cur AS (SELECT * FROM ${d.readParquet(currentPath)}),
       |j AS (
       |  SELECT COALESCE(p.source, c.source) AS source,
       |         COALESCE(p.lang, c.lang) AS lang,
       |         p.doc_ct AS p_docs, c.doc_ct AS c_docs,
       |         p.token_ct AS p_tokens, c.token_ct AS c_tokens
       |    FROM prior p FULL OUTER JOIN cur c
       |      ON p.source = c.source AND p.lang = c.lang
       |)
       |SELECT source, lang,
       |       CASE WHEN p_docs IS NULL THEN 'NEW'
       |            WHEN c_docs IS NULL THEN 'GONE'
       |            WHEN ABS(CAST(c_tokens - p_tokens AS DOUBLE) / p_tokens)
       |                 <= $StablePct THEN 'STABLE'
       |            WHEN c_tokens > p_tokens THEN 'GROWN'
       |            ELSE 'SHRUNK' END AS change_type,
       |       CAST(COALESCE(c_docs, 0) - COALESCE(p_docs, 0) AS BIGINT) AS doc_delta,
       |       CAST(COALESCE(c_tokens, 0) - COALESCE(p_tokens, 0) AS BIGINT) AS token_delta,
       |       CASE WHEN p_tokens IS NULL OR c_tokens IS NULL THEN CAST(NULL AS DOUBLE)
       |            ELSE CAST(ROUND(CAST(c_tokens - p_tokens AS DOUBLE)
       |                            / p_tokens, 4) AS DOUBLE)
       |       END AS token_pct,
       |       CAST(COALESCE(c_docs, 0) AS BIGINT) AS doc_ct,
       |       CAST(COALESCE(c_tokens, 0) AS BIGINT) AS token_ct
       |  FROM j
       | ORDER BY source, lang""".stripMargin

  /** Both snapshots derive from ONE corpus scan (guide §1.2: don't
    * recompute what one pass can produce): the old spelling scanned
    * `documents` THREE times with the per-row `regexp_count` tokenizer
    * (prior = filter branch + src0 union branch, current = third scan).
    * The finer census below groups on (source, lang, %97-retired,
    * %7-seventh) — the exact partition both snapshots' groups are
    * unions of — so each snapshot is an integer re-aggregation of the
    * checkpointed census (associative SUMs: values land bit-identical
    * to the three-scan form, which stays the oracle-side rendering of
    * record; the landed parquet is what the DuckDB oracle diffs). */
  private def censusSql(table: String): String = {
    val tokens = SparkDialect.regexpCount("text", "\\S+")
    s"""SELECT source, lang,
       |       CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END AS retired,
       |       CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS seventh,
       |       CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |       CAST(SUM(CAST($tokens AS BIGINT)) AS BIGINT) AS token_ct
       |  FROM $table
       | GROUP BY 1, 2, 3, 4""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.RunStore
    // parallelize=false: the census is one map-side-combined GROUP BY
    // over a cheap projection (guide: the rebalance exchange is pure
    // cost for cheap aggregates)
    val census = spark.sql(censusSql(graft.core.Tables.view(spark, dir, "documents",
      parallelize = false))).localCheckpoint(eager = true)
    def overCensus(sql: String => String) =
      graft.core.Materialize.sql(spark, census) { case Seq(cv) => sql(cv) }
    val root = RunStore.root
    // prior = the non-seventh cells of every non-src19 source (with the
    // %97 cells remapped to src_retired) plus ALL src0 cells doubled —
    // cell-for-cell the aggregate of priorSql's row set
    val p0 = RunStore.land(
      overCensus(cv =>
        s"""SELECT source, lang,
           |       CAST(SUM(doc_ct) AS BIGINT) AS doc_ct,
           |       CAST(SUM(token_ct) AS BIGINT) AS token_ct
           |  FROM (
           |  SELECT CASE WHEN retired = 1 THEN 'src_retired' ELSE source END
           |           AS source, lang, doc_ct, token_ct
           |    FROM $cv WHERE source <> 'src19' AND seventh = 0
           |  UNION ALL
           |  SELECT source, lang, doc_ct, token_ct FROM $cv
           |   WHERE source = 'src0'
           |) u GROUP BY source, lang""".stripMargin),
      root, "run_000", "corpus_stats")
    val p1 = RunStore.land(
      overCensus(cv =>
        s"""SELECT source, lang,
           |       CAST(SUM(doc_ct) AS BIGINT) AS doc_ct,
           |       CAST(SUM(token_ct) AS BIGINT) AS token_ct
           |  FROM $cv GROUP BY source, lang""".stripMargin),
      root, "run_001", "corpus_stats")
    spark.sql(diffSql(p0, p1)(SparkDialect))
  }

  /** DuckDB oracle: the identical diff over the same landed snapshots. */
  def duckSql(): String = {
    import graft.core.RunStore
    val root = RunStore.root
    diffSql(RunStore.runPath(root, "run_000", "corpus_stats"),
      RunStore.runPath(root, "run_001", "corpus_stats"))(DuckDialect)
  }
}

/** Doc-grain run-over-run corpus CDC — [[CorpusDrift]] reports budget
  * drift per (source, lang); this classifies every DOCUMENT across two
  * landed snapshots as ADDED / REMOVED / CHANGED / UNCHANGED (changed =
  * same id, different content hash) and rolls the classes up per
  * source — the daily-crawl diff that tells an incremental pipeline
  * exactly how much re-processing the new snapshot costs.
  *
  * Scale shape: snapshots land as (doc_id, source, content_hash) —
  * 24 bytes/doc, never the text; the diff is ONE full-outer equi-join
  * on doc_id over the two landed relations plus a metadata-sized
  * rollup. At 100 TB the snapshots are <0.1% of the corpus and the
  * join shuffles only them. */
object DocDrift {

  /** The landed doc-grain snapshot. */
  def snapshotSql(table: String): String =
    s"""SELECT doc_id, source, MD5(text) AS content_hash
       |  FROM $table""".stripMargin

  /** Deterministic prior corpus: every-7th doc missing (→ ADDED now),
    * src0 doubled under shifted ids (→ REMOVED now), every-11th doc's
    * text suffixed (→ CHANGED now). */
  def priorSql(table: String): String =
    s"""SELECT doc_id, source,
       |       CASE WHEN doc_id % 11 = 0 THEN text || ' vLEGACY' ELSE text END AS text
       |  FROM $table
       | WHERE doc_id % 7 <> 0
       |UNION ALL
       |SELECT doc_id + 1000000 AS doc_id, source, text
       |  FROM $table WHERE source = 'src0'""".stripMargin

  def diffSql(priorPath: String, currentPath: String)(d: Dialect): String =
    s"""WITH prior AS (SELECT * FROM ${d.readParquet(priorPath)}),
       |cur AS (SELECT * FROM ${d.readParquet(currentPath)}),
       |j AS (
       |  SELECT COALESCE(p.source, c.source) AS source,
       |         CASE WHEN p.doc_id IS NULL THEN 'ADDED'
       |              WHEN c.doc_id IS NULL THEN 'REMOVED'
       |              WHEN p.content_hash <> c.content_hash THEN 'CHANGED'
       |              ELSE 'UNCHANGED' END AS change_type
       |    FROM prior p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
       |)
       |SELECT source,
       |       CAST(SUM(CASE WHEN change_type = 'ADDED' THEN 1 ELSE 0 END) AS BIGINT) AS added_ct,
       |       CAST(SUM(CASE WHEN change_type = 'REMOVED' THEN 1 ELSE 0 END) AS BIGINT) AS removed_ct,
       |       CAST(SUM(CASE WHEN change_type = 'CHANGED' THEN 1 ELSE 0 END) AS BIGINT) AS changed_ct,
       |       CAST(SUM(CASE WHEN change_type = 'UNCHANGED' THEN 1 ELSE 0 END) AS BIGINT) AS unchanged_ct
       |  FROM j
       | GROUP BY source
       | ORDER BY source""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.RunStore
    // parallelize=false: one MD5 projection per row feeding two
    // metadata-sized landings — no per-row work worth a rebalance
    val docs = graft.core.Tables.view(spark, dir, "documents", parallelize = false)
    // ONE hashing scan for both snapshots (guide §1.2) — the old
    // spelling MD5-scanned the corpus three times (prior's filter +
    // src0 branches, then current). Each doc's current and prior
    // hashes come out of the same row; the landed values are
    // bit-identical to the three-scan form (same MD5 inputs), and the
    // DuckDB oracle diffs the same landed parquet as before.
    val base = spark.sql(
      s"""SELECT doc_id, source, h_cur,
         |       CASE WHEN doc_id % 11 = 0 THEN MD5(text || ' vLEGACY')
         |            ELSE h_cur END AS h_prior
         |  FROM (SELECT doc_id, source, text, MD5(text) AS h_cur
         |          FROM $docs) b""".stripMargin)
      .localCheckpoint(eager = true)
    def overBase(sql: String => String) =
      graft.core.Materialize.sql(spark, base) { case Seq(bv) => sql(bv) }
    val root = RunStore.root
    val p0 = RunStore.land(
      overBase(bv =>
        s"""SELECT doc_id, source, h_prior AS content_hash FROM $bv
           | WHERE doc_id % 7 <> 0
           |UNION ALL
           |SELECT doc_id + 1000000 AS doc_id, source, h_cur AS content_hash
           |  FROM $bv WHERE source = 'src0'""".stripMargin),
      root, "run_000", "doc_snapshot")
    val p1 = RunStore.land(
      overBase(bv => s"SELECT doc_id, source, h_cur AS content_hash FROM $bv"),
      root, "run_001", "doc_snapshot")
    spark.sql(diffSql(p0, p1)(SparkDialect))
  }

  def duckSql(): String = {
    import graft.core.RunStore
    val root = RunStore.root
    diffSql(RunStore.runPath(root, "run_000", "doc_snapshot"),
      RunStore.runPath(root, "run_001", "doc_snapshot"))(DuckDialect)
  }
}

/** Per-source n-gram novelty — the corpus-diversity report a data lead
  * reads next to the budget rollups: per source, how many trigrams it
  * contributes, how many are DISTINCT (trigram-grain type/token ratio —
  * low means templated/repetitive text), and how many are EXCLUSIVE to
  * the source (appear in no other source — the marginal diversity the
  * source actually buys the mixture; a source with near-zero exclusive
  * share is already covered by the rest of the corpus).
  *
  * Scale shape: grams are built with LEAD windows per doc (one shuffle
  * on doc id, no self-join) and md5-hashed to fixed width before the
  * census; both rollups are groupBys with map-side partials over the
  * gram census — never a doc-to-doc or source-to-source join. */
object NgramNovelty {

  /** The (source, gram) relation — landed once on the Spark side (the
    * three rollups below would otherwise each re-derive the word
    * explode + windows, since Spark inlines CTEs). */
  def gramSql(table: String)(d: Dialect): String =
    s"""WITH tg AS (
       |  SELECT id, MD5(gram) AS gram
       |    FROM (${d.wordNgramsRel(table, "doc_id", "text", 3)}) g
       |)
       |SELECT s.source, t.gram FROM tg t
       |JOIN $table s ON s.doc_id = t.id""".stripMargin

  private def tail(gramRel: String): String =
    s"""WITH per AS (
       |  SELECT source, COUNT(*) AS gram_ct,
       |         COUNT(DISTINCT gram) AS distinct_ct
       |    FROM $gramRel GROUP BY source
       |),
       |owners AS (
       |  SELECT gram, COUNT(DISTINCT source) AS src_ct
       |    FROM $gramRel GROUP BY gram
       |),
       |excl AS (
       |  SELECT g.source, COUNT(DISTINCT g.gram) AS exclusive_ct
       |    FROM $gramRel g JOIN owners o ON o.gram = g.gram
       |   WHERE o.src_ct = 1
       |   GROUP BY g.source
       |)
       |SELECT p.source,
       |       CAST(p.gram_ct AS BIGINT) AS gram_ct,
       |       CAST(p.distinct_ct AS BIGINT) AS distinct_gram_ct,
       |       CAST(ROUND(CAST(p.distinct_ct AS DOUBLE) / p.gram_ct, 4)
       |            AS DOUBLE) AS novelty_ratio,
       |       CAST(COALESCE(e.exclusive_ct, 0) AS BIGINT) AS exclusive_gram_ct,
       |       CAST(ROUND(CAST(COALESCE(e.exclusive_ct, 0) AS DOUBLE)
       |                  / p.distinct_ct, 4) AS DOUBLE) AS exclusive_share
       |  FROM per p LEFT JOIN excl e ON e.source = p.source
       | ORDER BY p.source""".stripMargin

  /** Single-statement oracle form (DuckDB materializes CTEs). */
  def sql(table: String)(d: Dialect): String =
    s"""WITH g AS (
       |${gramSql(table)(d)}
       |),
       |${tail("g").stripPrefix("WITH ")}""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    // land the gram relation once — the three rollups would otherwise
    // each re-derive the word explode + windows (CTEs inline in Spark)
    val gv = graft.core.Materialize.view(spark, "novelty_grams", dir,
      graft.core.Materialize.Checkpoint)(
      spark.sql(gramSql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect)))
    spark.sql(tail(gv))
  }

  def duckSql(): String = sql("documents")(DuckDialect)
}

/** Incremental profile maintenance over the doc-grain CDC — the
  * daily-crawl profiling shape: instead of re-profiling the whole
  * corpus every run, update the LANDED per-source sufficient stats of
  * run N−1 by recomputing text-level partials ONLY for the documents
  * the CDC classifies as ADDED / REMOVED / CHANGED:
  * `stats_N = stats_{N−1} − old(REMOVED ∪ CHANGED) + new(ADDED ∪
  * CHANGED)`. The stats are additive integer sums (doc count, token
  * count, char count) so the merge is exact at any aggregation order;
  * derived ratios round once at the end.
  *
  * The DuckDB oracle is the FULL recompute over the current corpus —
  * the hash match IS the proof that the incremental merge and the full
  * pass agree, which is the whole contract of incremental maintenance.
  *
  * Scale shape: snapshots and landed stats are metadata-sized (24
  * bytes/doc, one row/source); the only text scanned is the affected
  * partials, semi-joined down to the CDC's id sets — at 100 TB a 1%
  * daily delta costs 1% of a profile pass, not a full one. (The
  * fixture derives run N−1's corpus inline; a real deployment reads it
  * from the landed corpus of the prior run.) */
object IncrementalProfile {

  /** Per-source additive sufficient stats over a docs relation. */
  private def statsSql(rel: String)(d: Dialect): String = {
    val tokens = d.regexpCount("text", "\\S+")
    s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |       CAST(SUM(CAST($tokens AS BIGINT)) AS BIGINT) AS token_ct,
       |       CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS BIGINT) AS char_ct
       |  FROM $rel GROUP BY source""".stripMargin
  }

  private def presentSql(statsRel: String): String =
    s"""SELECT source, doc_ct, token_ct, char_ct,
       |       CAST(ROUND(CAST(char_ct AS DOUBLE) / doc_ct, 4) AS DOUBLE)
       |         AS avg_chars
       |  FROM $statsRel
       | WHERE doc_ct > 0
       | ORDER BY source""".stripMargin

  /** Full-recompute oracle: the per-source profile of the CURRENT
    * corpus, computed directly. */
  def fullSql(table: String)(d: Dialect): String =
    s"""WITH s AS (
       |${statsSql(table)(d)}
       |)
       |${presentSql("s")}""".stripMargin

  def duckSql(): String = fullSql("documents")(DuckDialect)

  def run(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.RunStore
    val d: Dialect = SparkDialect
    val docs = graft.core.Tables.view(spark, dir, "documents")
    val root = RunStore.root
    val priorRel = s"(${DocDrift.priorSql(docs)})"
    // run N−1's landed artifacts: sufficient stats + doc-grain snapshot.
    // Landed once per (session, dir) — they ARE the prior run's output;
    // re-deriving them per call would recompute exactly the full pass
    // the incremental merge exists to avoid.
    val (statsPath, snapPath, curSnapPath) =
      graft.core.SessionCache.getOrElseUpdate(spark, "incrprofland", dir) {
        (RunStore.land(
           spark.sql(statsSql(priorRel)(d)), root, "run_000", "profile_stats"),
         RunStore.land(
           spark.sql(DocDrift.snapshotSql(priorRel)), root, "run_000", "profile_snapshot"),
         RunStore.land(
           spark.sql(DocDrift.snapshotSql(docs)), root, "run_001", "profile_snapshot"))
      }
    spark.sql(
      s"""WITH landed AS (SELECT * FROM ${d.readParquet(statsPath)}),
         |pr AS (SELECT * FROM ${d.readParquet(snapPath)}),
         |cu AS (SELECT * FROM ${d.readParquet(curSnapPath)}),
         |cls AS (
         |  SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
         |         CASE WHEN p.doc_id IS NULL THEN 'ADDED'
         |              WHEN c.doc_id IS NULL THEN 'REMOVED'
         |              WHEN p.content_hash <> c.content_hash THEN 'CHANGED'
         |              ELSE 'UNCHANGED' END AS change_type
         |    FROM pr p FULL OUTER JOIN cu c ON p.doc_id = c.doc_id
         |),
         |neg AS (
         |${statsSql(s"""(SELECT o.* FROM $priorRel o
         |   JOIN cls ON cls.doc_id = o.doc_id
         |  WHERE cls.change_type IN ('REMOVED', 'CHANGED'))""")(d)}
         |),
         |pos AS (
         |${statsSql(s"""(SELECT o.* FROM $docs o
         |   JOIN cls ON cls.doc_id = o.doc_id
         |  WHERE cls.change_type IN ('ADDED', 'CHANGED'))""")(d)}
         |),
         |merged AS (
         |  SELECT COALESCE(l.source, p.source, n.source) AS source,
         |         COALESCE(l.doc_ct, 0) + COALESCE(p.doc_ct, 0)
         |           - COALESCE(n.doc_ct, 0) AS doc_ct,
         |         COALESCE(l.token_ct, 0) + COALESCE(p.token_ct, 0)
         |           - COALESCE(n.token_ct, 0) AS token_ct,
         |         COALESCE(l.char_ct, 0) + COALESCE(p.char_ct, 0)
         |           - COALESCE(n.char_ct, 0) AS char_ct
         |    FROM landed l
         |    FULL OUTER JOIN pos p ON p.source = l.source
         |    FULL OUTER JOIN neg n ON n.source = COALESCE(l.source, p.source)
         |)
         |${presentSql("merged")}""".stripMargin)
  }
}

/** Temperature-based source mixing weights — the standard multinomial
  * alpha-sampling of multilingual/multi-source pretraining (weight ∝
  * corpus_share^alpha, alpha = 0.5): flattens the source distribution
  * so small sources are upsampled relative to their share without
  * letting any dominate. Emits per source the token count, raw corpus
  * share, normalized mixture weight, and the implied upsample factor a
  * sampler applies. One scan + two metadata-sized scalar rollups.
  */
object SourceMixture {

  val Alpha = 0.5

  def sql(table: String)(d: Dialect): String = {
    val tokens = d.regexpCount("text", "\\S+")
    // the per-source weight is scaled to an integer BEFORE the
    // normalizing sum: a SUM over doubles is aggregation-order-dependent
    // and the two engines aggregate in different orders (the same
    // determinism discipline as the scaled-integer averages above);
    // integer sums are exact at any order
    s"""WITH d0 AS (
       |  SELECT source, CAST($tokens AS BIGINT) AS tk FROM $table
       |),
       |t AS (SELECT source, SUM(tk) AS tok FROM d0 GROUP BY source),
       |tot AS (SELECT SUM(tok) AS tt FROM t),
       |w AS (
       |  SELECT source, tok,
       |         CAST(ROUND(SQRT(CAST(tok AS DOUBLE) / tt) * 100000000) AS BIGINT) AS raw8
       |    FROM t CROSS JOIN tot
       |),
       |n AS (SELECT SUM(raw8) AS sw8 FROM w)
       |SELECT w.source, CAST(w.tok AS BIGINT) AS token_ct,
       |       CAST(ROUND(CAST(w.tok AS DOUBLE) / t2.tt, 4) AS DOUBLE) AS corpus_share,
       |       CAST(ROUND(CAST(w.raw8 AS DOUBLE) / n.sw8, 4) AS DOUBLE) AS mixture_weight,
       |       CAST(ROUND((CAST(w.raw8 AS DOUBLE) / n.sw8)
       |                  / (CAST(w.tok AS DOUBLE) / t2.tt), 4)
       |            AS DOUBLE) AS upsample_factor
       |  FROM w CROSS JOIN tot t2 CROSS JOIN n
       | ORDER BY source""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)

  /** EXECUTE the mixture — the sampling pass the weights exist for:
    * each document is emitted `floor(uf)` times plus one more when its
    * deterministic md5 draw falls under the fractional part, where
    * `uf = mixture_weight / corpus_share` is the (4-dp, hash-checked)
    * upsample factor of its source. Rare sources replicate (copy 0, 1,
    * …), dominant sources thin (uf < 1 ⇒ keep-probability = uf), and
    * in expectation the sampled corpus's per-source token share lands
    * on the alpha-flattened mixture. All decisions are integer
    * arithmetic on the factor's basis points and an md5 % 10⁴ draw —
    * exact in both engines, seed-free, and stable under any
    * partitioning. At 100 TB the weights relation is |sources| rows —
    * a broadcast join against the corpus scan; replication is a
    * lateral series, never a self-join. */
  def sampleSql(table: String)(d: Dialect): String = {
    val draw = s"(${d.hexToInt(s"SUBSTRING(MD5('mix:' || ${d.castText("doc_id")}), 1, 8)")} % 10000)"
    s"""WITH wsel AS (SELECT * FROM (
       |${sql(table)(d)}
       |) z),
       |m AS (
       |  SELECT source,
       |         CAST(ROUND(upsample_factor * 10000) AS BIGINT) AS uf_bp
       |    FROM wsel
       |),
       |kk AS (
       |  SELECT dd.doc_id, dd.source,
       |         ${d.intDiv("m.uf_bp", "10000")}
       |           + (CASE WHEN $draw < m.uf_bp % 10000 THEN 1 ELSE 0 END)
       |           AS n_copies
       |    FROM $table dd JOIN m ON m.source = dd.source
       |)
       |SELECT doc_id, source, CAST(pos - 1 AS INT) AS copy
       |  FROM (${d.seriesRel("kk", Seq("doc_id", "source"), "n_copies")}) s
       | ORDER BY doc_id, copy""".stripMargin
  }

  /** The landed per-source mixture relation — memoized per (session,
    * dir) as a LocalRelation (one row per source). The sampling entry
    * consumes the LANDED weights instead of re-deriving the full
    * mixture plan inline (the quality-gate/outView pattern; the r14
    * plan audit measured sample_mixture re-running the whole mixture
    * computation per pass — 42 exchanges for a join+explode entry). */
  private def mixtureView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "mixture", dir, graft.core.Materialize.Local())(
      run(spark, dir))

  /** [[sampleSql]]'s tail over an already-computed mixture relation. */
  private def sampleTail(table: String, wselRel: String)(d: Dialect): String = {
    val draw = s"(${d.hexToInt(s"SUBSTRING(MD5('mix:' || ${d.castText("doc_id")}), 1, 8)")} % 10000)"
    s"""WITH m AS (
       |  SELECT source,
       |         CAST(ROUND(upsample_factor * 10000) AS BIGINT) AS uf_bp
       |    FROM $wselRel
       |),
       |kk AS (
       |  SELECT dd.doc_id, dd.source,
       |         ${d.intDiv("m.uf_bp", "10000")}
       |           + (CASE WHEN $draw < m.uf_bp % 10000 THEN 1 ELSE 0 END)
       |           AS n_copies
       |    FROM $table dd JOIN m ON m.source = dd.source
       |)
       |SELECT doc_id, source, CAST(pos - 1 AS INT) AS copy
       |  FROM (${d.seriesRel("kk", Seq("doc_id", "source"), "n_copies")}) s
       | ORDER BY doc_id, copy""".stripMargin
  }

  def runSample(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents")
    spark.sql(sampleTail(documents, mixtureView(spark, dir))(SparkDialect))
  }

  def sampleDuckSql(): String = sampleSql("documents")(DuckDialect)
}
