package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Data-selection operators over `documents` — the curation steps that
  * decide WHICH raw documents reach training, beyond dedup and quality
  * gating:
  *
  *  - DSIR-style importance scoring: rank raw documents by how
  *    target-like their hashed n-gram feature distribution is
  *    (importance resampling with hashed features — Xie et al. 2023,
  *    "Data Selection for Language Models via Importance Resampling").
  *    The scorer here is the integer-exact cross-multiplied linear form
  *    of the smoothed likelihood ratio, so both engines agree bit-for-
  *    bit without a single log or float.
  *
  *  - repeated-substring screen: per-document fraction of 13-word
  *    grams that occur in 2+ documents (the memorization/dup-span
  *    signal of Lee et al. 2022, "Deduplicating Training Data Makes
  *    Language Models Better" — word-gram granularity).
  *
  * All hashing is md5 so Spark and the DuckDB oracle score identically.
  */
object Selection {

  /** Hashed-feature buckets. Real DSIR uses 10^4..10^6 buckets; the
    * fixture corpus is small so 64 keeps features non-degenerate. */
  val Buckets = 64

  /** The target slice: documents from this source define the
    * distribution we want the selected corpus to match. */
  val TargetSource = "src0"

  val SelectTop = 100

  /** Per-word hashed feature id in [0, B). */
  private def featExpr(d: Dialect): String =
    s"(${d.hexToLong("SUBSTRING(MD5('dsir:' || word), 1, 15)")} % $Buckets)"

  /** DSIR importance scores for every candidate (non-target) document —
    * including empty/whitespace-only candidates, which produce no word
    * features and land as token_ct=0, score 0, selected 0 rows (the
    * candidate table is LEFT-JOINed back so no document silently
    * disappears from the relation).
    *
    * For word feature f: target count t_f over target docs, raw count
    * r_f over candidate docs, totals T and R. The per-occurrence
    * contribution of the +1-smoothed log ratio
    * `log((t_f+1)/(T+B)) - log((r_f+1)/(R+B))` is monotone in the
    * integer `(t_f+1)*(R+B) - (r_f+1)*(T+B)` cross-multiplication ONLY
    * per-feature, so the summed surrogate is the linearized (first-
    * order) form of the ratio — deterministic, order-independent
    * BIGINT arithmetic that both engines reproduce exactly. Documents
    * are ranked by their summed surrogate; `selected` marks the top
    * [[SelectTop]].
    *
    * Scale shape: the feature relation is one word-explode scan; the
    * two count rollups are map-side-partial groupBys over B-bounded
    * keys; the per-doc score is one more groupBy after a broadcast
    * join against the B-row count tables (B rows — ALWAYS broadcast-
    * sized, by construction); and the totals are a 1-row cross join.
    * Nothing here pair-joins or re-scans the corpus — at 100 TB this
    * is two passes over the text (count, score), each embarrassingly
    * parallel, which is why hashed-feature DSIR is the standard
    * trillion-token selection pass. At real scale `Buckets` rises to
    * 10^5 and the count tables stay broadcast-sized. */
  /** The `scored` relation CTE chain shared by the single-statement
    * oracle form and the engine's cutoff-based plan: one row per
    * candidate document with its word count and summed surrogate. */
  private def dsirScoredCtes(table: String)(d: Dialect): String = {
    val f = featExpr(d)
    s"""words AS (
       |  ${d.wordsRel(table, "doc_id", "text")}
       |),
       |feat AS (
       |  SELECT w.id, $f AS f,
       |         CASE WHEN dd.source = '$TargetSource' THEN 1 ELSE 0 END AS is_tgt
       |    FROM words w JOIN $table dd ON dd.doc_id = w.id
       |),
       |tcnt AS (SELECT f, COUNT(*) AS t_ct FROM feat WHERE is_tgt = 1 GROUP BY f),
       |rcnt AS (SELECT f, COUNT(*) AS r_ct FROM feat WHERE is_tgt = 0 GROUP BY f),
       |tot AS (
       |  SELECT (SELECT COUNT(*) FROM feat WHERE is_tgt = 1) AS tt,
       |         (SELECT COUNT(*) FROM feat WHERE is_tgt = 0) AS rr
       |),
       |scored AS (
       |  SELECT fe.id AS doc_id, COUNT(*) AS token_ct,
       |         SUM((COALESCE(t.t_ct, 0) + 1) * (tot.rr + $Buckets)
       |             - (COALESCE(r.r_ct, 0) + 1) * (tot.tt + $Buckets)) AS dsir_score
       |    FROM feat fe
       |    CROSS JOIN tot
       |    LEFT JOIN tcnt t ON t.f = fe.f
       |    LEFT JOIN rcnt r ON r.f = fe.f
       |   WHERE fe.is_tgt = 0
       |   GROUP BY fe.id
       |)""".stripMargin
  }

  /** Single-statement form — stays the DuckDB oracle rendering. The
    * global ROW_NUMBER here is fine on the single-node oracle; the
    * engine side uses the cutoff plan in [[runDsir]] instead, which
    * produces the identical relation without a one-partition sort. */
  def dsirSql(table: String)(d: Dialect): String =
    s"""WITH ${dsirScoredCtes(table)(d)}
       |SELECT c.doc_id,
       |       CAST(COALESCE(r.token_ct, 0) AS BIGINT) AS token_ct,
       |       CAST(COALESCE(r.dsir_score, 0) AS BIGINT) AS dsir_score,
       |       CAST(COALESCE(CASE WHEN r.rnk <= $SelectTop THEN 1 ELSE 0 END, 0)
       |            AS INT) AS selected
       |  FROM (SELECT doc_id FROM $table
       |         WHERE source <> '$TargetSource') c
       |  LEFT JOIN (SELECT *, ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id) AS rnk
       |               FROM scored) r ON r.doc_id = c.doc_id
       | ORDER BY c.doc_id""".stripMargin

  /** Engine-side scored relation, as its own statement (landed once by
    * [[runDsir]] — it is read twice: cutoff election + final join). */
  def dsirScoredSql(table: String)(d: Dialect): String =
    s"""WITH ${dsirScoredCtes(table)(d)}
       |SELECT doc_id, token_ct, dsir_score FROM scored""".stripMargin

  /** Cutoff-based selection — the 100×-safe replacement for ranking
    * every candidate through one global ROW_NUMBER (a single-partition
    * sort of a per-document relation: at 10⁹+ docs one task would sort
    * the whole corpus). Instead:
    *
    *  1. land `scored` once (localCheckpoint — it feeds two jobs);
    *  2. elect the selection CUTOFF with `ORDER BY dsir_score DESC,
    *     doc_id LIMIT K` — Spark plans TakeOrderedAndProject: per-
    *     partition top-K, then a driver merge of K·P candidate rows,
    *     never a global sort (PlanSpec pins the shape);
    *  3. mark `selected` by comparing each row against the cutoff pair
    *     `(score, doc_id)` — deterministic ties identical to the
    *     ROW_NUMBER form, so the relation is bit-identical to the
    *     oracle's.
    *
    * The K-row driver collect is metadata-sized (K = [[SelectTop]]).
    * At a token-budgeted real-scale K this becomes an approx-quantile
    * score threshold instead of an exact K-th element — same two-job
    * shape, the cutoff just comes from percentile_approx. */
  /** The landed scored relation + candidate docs view, memoized per
    * (session, dir) — runDsir's cutoff election, the final join, and
    * the token-budget selection all read it. */
  private[graft] def scoredView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "dsir_scored", dir, graft.core.Materialize.Checkpoint)(
      spark.sql(dsirScoredSql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect)))

  def runDsir(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredView(spark, dir)
    val cut = spark.sql(
      s"""SELECT dsir_score, doc_id FROM $scored
         | ORDER BY dsir_score DESC, doc_id LIMIT $SelectTop""".stripMargin)
      .collect()
    val selCond =
      if (cut.isEmpty) "FALSE"
      else {
        val cs = cut.last.getLong(0)
        val cd = cut.last.getLong(1)
        s"(r.dsir_score > $cs OR (r.dsir_score = $cs AND r.doc_id <= $cd))"
      }
    spark.sql(
      s"""SELECT c.doc_id,
         |       CAST(COALESCE(r.token_ct, 0) AS BIGINT) AS token_ct,
         |       CAST(COALESCE(r.dsir_score, 0) AS BIGINT) AS dsir_score,
         |       CAST(COALESCE(CASE WHEN $selCond THEN 1 ELSE 0 END, 0)
         |            AS INT) AS selected
         |  FROM (SELECT doc_id FROM ${graft.core.Tables.view(spark, dir, "documents")}
         |         WHERE source <> '$TargetSource') c
         |  LEFT JOIN $scored r ON r.doc_id = c.doc_id
         | ORDER BY c.doc_id""".stripMargin)
  }

  /** Greedy token budget for [[runBudget]] — the data-mixing knob: take
    * highest-importance documents until their token mass fills the
    * budget. Sized so a nontrivial slice of the fixture corpus selects. */
  val TokenBudget = 5000L

  /** Histogram resolution of the engine's budget-threshold election. */
  private val BudgetBuckets = 1024

  /** Token-BUDGETED DSIR selection — real pipelines select to a token
    * budget, not a document count: rank candidates by importance and
    * keep every document that STARTS before the budget is exhausted
    * (greedy in `(dsir_score DESC, doc_id)` order; the boundary doc
    * that crosses the budget is kept — the standard first-fit rule).
    *
    * The oracle renders the direct form: a running `SUM(token_ct) OVER
    * (ORDER BY score)` — a single-partition window, fine single-node.
    * The engine elects the budget THRESHOLD instead ([[runBudget]]):
    * a score-histogram pass finds the bucket where the cumulative
    * token mass crosses the budget, and only that one ~1/[[BudgetBuckets]]
    * corpus slice runs the exact windowed cumsum — the same two-phase
    * weighted-quantile shape every distributed percentile uses. Output
    * relations are identical: bucket boundaries respect the greedy
    * order (score maps monotonically to bucket), so only the crossing
    * bucket needs row-exact treatment. */
  def budgetSql(table: String)(d: Dialect): String =
    s"""WITH ${dsirScoredCtes(table)(d)},
       |sel AS (
       |  SELECT doc_id, token_ct, dsir_score,
       |         SUM(token_ct) OVER (ORDER BY dsir_score DESC, doc_id
       |                             ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM scored
       |)
       |SELECT c.doc_id,
       |       CAST(COALESCE(s.token_ct, 0) AS BIGINT) AS token_ct,
       |       CAST(COALESCE(s.dsir_score, 0) AS BIGINT) AS dsir_score,
       |       CAST(COALESCE(CASE WHEN s.cum - s.token_ct < $TokenBudget
       |                          THEN 1 ELSE 0 END, 0) AS INT) AS selected_budget
       |  FROM (SELECT doc_id FROM $table
       |         WHERE source <> '$TargetSource') c
       |  LEFT JOIN sel s ON s.doc_id = c.doc_id
       | ORDER BY c.doc_id""".stripMargin

  def budgetDuckSql(): String = budgetSql("documents")(DuckDialect)

  /** Engine-side budget selection: histogram threshold election + one
    * bucket-slice window (see [[budgetSql]]). Driver collects are the
    * 1-row score bounds and the ≤[[BudgetBuckets]]-row histogram —
    * metadata-sized at any corpus size; the windowed slice is
    * ~1/[[BudgetBuckets]] of the corpus by construction (PlanSpec
    * asserts the single Window sits above the bucket filter). */
  def runBudget(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredView(spark, dir)
    val bounds = spark.sql(
      s"SELECT MIN(dsir_score) AS mn, MAX(dsir_score) AS mx FROM $scored")
      .collect()(0)
    val cands =
      s"""(SELECT doc_id FROM ${graft.core.Tables.view(spark, dir, "documents")}
         |  WHERE source <> '$TargetSource') c""".stripMargin
    if (bounds.isNullAt(0))
      // empty scored relation: every candidate lands unselected
      return spark.sql(
        s"""SELECT c.doc_id, CAST(0 AS BIGINT) AS token_ct,
           |       CAST(0 AS BIGINT) AS dsir_score,
           |       CAST(0 AS INT) AS selected_budget
           |  FROM $cands ORDER BY c.doc_id""".stripMargin)
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    // bucket by score, highest scores in bucket 0; double math is fine
    // here — bucketing only needs to be deterministic and monotone in
    // the score, the exact boundary handling is row-level below
    val span = (mx - mn).toDouble + 1.0
    val bktExpr = s"CAST(FLOOR(($mx - dsir_score) * $BudgetBuckets.0 / $span) AS INT)"
    val hist = spark.sql(
      s"""SELECT $bktExpr AS __bb, SUM(token_ct) AS tk FROM $scored
         | GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    // walk buckets in greedy (score-desc) order to the budget-crossing
    // bucket; if the whole corpus fits the budget, the last bucket is
    // the "crossing" one and its slice rule selects everything
    var cum = 0L
    var cb = hist.last.getInt(0)
    var prior = 0L
    var found = false
    val it = hist.iterator
    while (it.hasNext && !found) {
      val r = it.next()
      if (cum + r.getLong(1) >= TokenBudget) { cb = r.getInt(0); prior = cum; found = true }
      else cum += r.getLong(1)
    }
    if (!found) prior = cum - hist.last.getLong(1)
    spark.sql(
      s"""WITH sb AS (
         |  SELECT doc_id, token_ct, dsir_score, $bktExpr AS __bb FROM $scored
         |),
         |slice AS (
         |  SELECT doc_id,
         |         CASE WHEN $prior + SUM(token_ct)
         |                OVER (ORDER BY dsir_score DESC, doc_id
         |                      ROWS UNBOUNDED PRECEDING) - token_ct < $TokenBudget
         |              THEN 1 ELSE 0 END AS sel
         |    FROM sb WHERE __bb = $cb
         |)
         |SELECT c.doc_id,
         |       CAST(COALESCE(s.token_ct, 0) AS BIGINT) AS token_ct,
         |       CAST(COALESCE(s.dsir_score, 0) AS BIGINT) AS dsir_score,
         |       CAST(COALESCE(CASE WHEN s.__bb < $cb THEN 1
         |                          WHEN s.__bb > $cb THEN 0
         |                          ELSE sl.sel END, 0) AS INT) AS selected_budget
         |  FROM $cands
         |  LEFT JOIN sb s ON s.doc_id = c.doc_id
         |  LEFT JOIN slice sl ON sl.doc_id = c.doc_id
         | ORDER BY c.doc_id""".stripMargin)
  }

  /** Per-document curation LEDGER — the provenance record a pipeline
    * owner actually audits: for every document, what happened to it and
    * why, with one deterministic first-cause precedence:
    * `contaminated` (eval-set fingerprint collision — poison, dropped
    * no matter what) > `dup_loser` (non-survivor of a near-dup cluster)
    * > `gate_fail` (composite quality gate) > `kept`. The aggregate
    * funnel says how many dropped at each stage; this relation says
    * WHICH, with the token mass each decision cost.
    *
    * Scale shape: three LEFT equi-joins of the corpus against landed
    * relations (cluster labels, gate decisions, decontamination hits) —
    * all metadata-or-smaller sides, no recomputation: the Spark path
    * reads the memoized views, the oracle inlines the full derivations. */
  private def ledgerTail(table: String, compRel: String, gateRel: String,
                         hitsRel: String)(d: Dialect): String =
    s"""contam AS (SELECT DISTINCT corpus_id AS id FROM $hitsRel),
       |ledger AS (
       |  SELECT dd.doc_id,
       |         CAST(${d.regexpCount("dd.text", "\\S+")} AS BIGINT) AS token_ct,
       |         CASE WHEN ct.id IS NOT NULL THEN 'contaminated'
       |              WHEN c.cid IS NOT NULL AND c.cid <> dd.doc_id THEN 'dup_loser'
       |              WHEN g.keep = 0 THEN 'gate_fail'
       |              ELSE 'kept' END AS disposition
       |    FROM $table dd
       |    LEFT JOIN $compRel c ON c.id = dd.doc_id
       |    LEFT JOIN $gateRel g ON g.doc_id = dd.doc_id
       |    LEFT JOIN contam ct ON ct.id = dd.doc_id
       |)
       |SELECT doc_id, token_ct, disposition FROM ledger
       | ORDER BY doc_id""".stripMargin

  def ledgerSql(table: String)(d: Dialect): String =
    s"""${Dedup.clusterCompCtes(table, 0.5)(d)},
       |gate AS (
       |${graft.pipeline.QualityGate.gateSql(table)(d)}
       |),
       |dfps AS (${Dedup.winnowFpsSql(table)(d)}),
       |${Dedup.decontCtes("dfps", 3, 50)},
       |${ledgerTail(table, "comp", "gate", "hits")(d)}""".stripMargin

  def ledgerDuckSql(): String = ledgerSql("documents")(DuckDialect)

  /** Spark path: every input is a landed relation. */
  def runLedger(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents")
    val comp = Dedup.clusterCompView(spark, dir)
    val gate = graft.pipeline.QualityGate.outView(spark, dir)
    val hits = Dedup.decontHitsView(spark, dir)
    spark.sql(
      s"WITH ${ledgerTail(documents, comp, gate, hits)(SparkDialect)}")
  }

  /** The FROZEN per-feature weight table the batch scorer implies:
    * feature f → `(t_f+1)*(R+B) - (r_f+1)*(T+B)`. B rows, collected
    * driver-side (metadata-sized by construction) — this is the
    * artifact a streaming ingest scorer broadcasts so arriving docs
    * score row-locally against the landed corpus statistics (see
    * [[graft.streaming.StreamMonitors.ingestDsirScore]]). */
  def dsirWeightMap(spark: SparkSession, dir: String): Map[Long, Long] = {
    val docs = graft.core.Tables.view(spark, dir, "documents")
    val d: Dialect = SparkDialect
    val f = featExpr(d)
    val rows = spark.sql(
      s"""WITH words AS (
         |  ${d.wordsRel(docs, "doc_id", "text")}
         |),
         |feat AS (
         |  SELECT w.id, $f AS f,
         |         CASE WHEN dd.source = '$TargetSource' THEN 1 ELSE 0 END AS is_tgt
         |    FROM words w JOIN $docs dd ON dd.doc_id = w.id
         |),
         |tot AS (
         |  SELECT (SELECT COUNT(*) FROM feat WHERE is_tgt = 1) AS tt,
         |         (SELECT COUNT(*) FROM feat WHERE is_tgt = 0) AS rr
         |)
         |SELECT f,
         |       SUM(CASE WHEN is_tgt = 1 THEN 1 ELSE 0 END) AS t_ct,
         |       SUM(CASE WHEN is_tgt = 0 THEN 1 ELSE 0 END) AS r_ct,
         |       MAX(tot.tt) AS tt, MAX(tot.rr) AS rr
         |  FROM feat CROSS JOIN tot GROUP BY f""".stripMargin).collect()
    val (tt, rr) =
      if (rows.isEmpty) (0L, 0L)
      else (rows.head.getAs[Long]("tt"), rows.head.getAs[Long]("rr"))
    val present = rows.map { r =>
      r.getAs[Long]("f") ->
        ((r.getAs[Long]("t_ct") + 1) * (rr + Buckets)
          - (r.getAs[Long]("r_ct") + 1) * (tt + Buckets))
    }.toMap
    // buckets no word hashed into still carry the smoothing-only weight
    (0L until Buckets.toLong).map { f =>
      f -> present.getOrElse(f, (rr + Buckets) - (tt + Buckets))
    }.toMap
  }

  def dsirDuckSql(): String = dsirSql("documents")(DuckDialect)

  /** Gram width of the repeated-substring screen (words). */
  val GramWords = 13

  /** Per-document repeated-13-gram fraction: a gram is "duplicated"
    * when it occurs in 2 or more DISTINCT documents; the fraction is
    * the share of a document's grams that are duplicated. Documents
    * shorter than 13 words carry zero grams and a zero fraction.
    *
    * Scale shape: grams are built by LEAD windows partitioned per doc
    * (one shuffle on doc id, no self-join), hashed to fixed-width md5
    * so the global duplicate census is a groupBy over 16-byte keys
    * with map-side partials — the census never joins doc-to-doc, which
    * is what distinguishes this screen from pairwise dedup and keeps
    * it linear at 100 TB (Lee et al. run the equivalent census with a
    * suffix array; the hashed-gram census is the shuffle-native form). */
  def substringDupSql(table: String)(d: Dialect): String = {
    s"""WITH grams AS (
       |  SELECT id, MD5(gram) AS gh
       |    FROM (${d.wordNgramsRel(table, "doc_id", "text", GramWords)}) g
       |),
       |census AS (
       |  SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT id) >= 2
       |),
       |per_doc AS (
       |  SELECT g.id, COUNT(*) AS gram_ct,
       |         SUM(CASE WHEN c.gh IS NULL THEN 0 ELSE 1 END) AS dup_ct
       |    FROM grams g LEFT JOIN census c ON c.gh = g.gh
       |   GROUP BY g.id
       |)
       |SELECT dd.doc_id,
       |       CAST(COALESCE(p.gram_ct, 0) AS BIGINT) AS gram_ct,
       |       CAST(COALESCE(p.dup_ct, 0) AS BIGINT) AS dup_gram_ct,
       |       CAST(CASE WHEN COALESCE(p.gram_ct, 0) = 0 THEN 0.0
       |            ELSE ROUND(CAST(p.dup_ct AS DOUBLE) / p.gram_ct, 4)
       |            END AS DOUBLE) AS dup_fraction
       |  FROM $table dd LEFT JOIN per_doc p ON p.id = dd.doc_id
       | ORDER BY dd.doc_id""".stripMargin
  }

  def runSubstringDup(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(substringDupSql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def substringDupDuckSql(): String = substringDupSql("documents")(DuckDialect)

  /** The span-removal REWRITE — the transform behind the census above:
    * every non-first occurrence of a duplicated 13-gram is elided (the
    * corpus-wide first occurrence, by (doc_id, pos), survives — Lee et
    * al.'s keep-one policy), where eliding a gram occurrence drops its
    * full 13-word span. Emits the per-doc rewrite ledger with an md5 of
    * the retained text, not the text itself.
    *
    * Scale shape: the keeper election is one window over the gram
    * relation partitioned by gram hash; span coverage is the running-
    * max islands trick — `MAX(dup_start_end) OVER (per doc ORDER BY
    * pos)` — so no word-to-span range join ever forms; the rebuild is
    * one ordered string_agg per doc. Three window passes and a
    * groupBy, all linear, no doc-to-doc joins. */
  def substringRewriteSql(table: String)(d: Dialect): String = {
    val leads = (1 to (GramWords - 1)).map(i =>
      s"LEAD(word, $i) OVER w AS w$i").mkString(",\n       |         ")
    val concat = (1 to (GramWords - 1)).map(i => s"w$i").mkString(
      "word || ' ' || ", " || ' ' || ", "")
    s"""WITH words AS (
       |  ${d.wordsRel(table, "doc_id", "text")}
       |),
       |lagged AS (
       |  SELECT id, pos, word,
       |         $leads
       |    FROM words
       |  WINDOW w AS (PARTITION BY id ORDER BY pos)
       |),
       |grams AS (
       |  SELECT id, pos, MD5($concat) AS gh
       |    FROM lagged WHERE w${GramWords - 1} IS NOT NULL
       |),
       |dupg AS (
       |  SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2
       |),
       |occ AS (
       |  SELECT id, pos,
       |         CASE WHEN in_dup = 1 AND rn > 1 THEN 1 ELSE 0 END AS is_dup
       |    FROM (
       |      SELECT g.id, g.pos,
       |             CASE WHEN dg.gh IS NULL THEN 0 ELSE 1 END AS in_dup,
       |             ROW_NUMBER() OVER (PARTITION BY g.gh
       |                                ORDER BY g.id, g.pos) AS rn
       |        FROM grams g LEFT JOIN dupg dg ON dg.gh = g.gh
       |    ) x
       |),
       |cover AS (
       |  SELECT w.id, w.pos, w.word,
       |         MAX(CASE WHEN o.is_dup = 1 THEN o.pos + ${GramWords - 1} END)
       |           OVER (PARTITION BY w.id ORDER BY w.pos
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS dup_end
       |    FROM words w
       |    LEFT JOIN occ o ON o.id = w.id AND o.pos = w.pos
       |),
       |kept AS (
       |  SELECT id, pos, word,
       |         CASE WHEN dup_end IS NOT NULL AND dup_end >= pos
       |              THEN 0 ELSE 1 END AS keep
       |    FROM cover
       |)
       |SELECT dd.doc_id,
       |       CAST(COALESCE(k.word_ct, 0) AS BIGINT) AS word_ct,
       |       CAST(COALESCE(k.kept_ct, 0) AS BIGINT) AS kept_word_ct,
       |       CAST(COALESCE(k.word_ct, 0) - COALESCE(k.kept_ct, 0) AS BIGINT)
       |         AS removed_word_ct,
       |       COALESCE(k.retained_hash, MD5('')) AS retained_hash
       |  FROM $table dd
       |  LEFT JOIN (
       |    SELECT id, COUNT(*) AS word_ct, SUM(keep) AS kept_ct,
       |           MD5(${d.stringAgg("CASE WHEN keep = 1 THEN word END", " ", "pos")})
       |             AS retained_hash
       |      FROM kept GROUP BY id
       |  ) k ON k.id = dd.doc_id
       | ORDER BY dd.doc_id""".stripMargin
  }

  def runSubstringRewrite(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(substringRewriteSql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  /** 13-gram eval decontamination — the canonical published
    * contamination check (the GPT-3 appendix-C n-gram overlap method):
    * an eval document is contaminated when any of its 13-word grams
    * appears verbatim in a training document. Complements the
    * winnow-fingerprint (`decontaminate`) and embedding
    * (`decontaminate_semantic`) screens with the exact-n-gram form
    * most eval suites publish against. Eval split: `doc_id %
    * ${Dedup}.EvalMod = 0`, matching the fingerprint screen.
    *
    * Scale shape: train-side grams collapse to a DISTINCT hash set
    * (groupBy, map-side partials); the check is one equi-join of the
    * (tiny) eval gram relation against it — never doc-to-doc. */
  def ngramDecontaminateSql(table: String)(d: Dialect): String = {
    val evalMod = Dedup.EvalMod
    s"""WITH grams AS (
       |  SELECT id, MD5(gram) AS gh
       |    FROM (${d.wordNgramsRel(table, "doc_id", "text", GramWords)}) g
       |),
       |train_g AS (
       |  SELECT DISTINCT gh FROM grams WHERE id % $evalMod <> 0
       |),
       |eval_g AS (
       |  SELECT id, gh FROM grams WHERE id % $evalMod = 0
       |),
       |hits AS (
       |  SELECT e.id, COUNT(*) AS gram_ct,
       |         SUM(CASE WHEN t.gh IS NULL THEN 0 ELSE 1 END) AS contam_ct
       |    FROM eval_g e LEFT JOIN train_g t ON t.gh = e.gh
       |   GROUP BY e.id
       |)
       |SELECT dd.doc_id AS eval_doc_id,
       |       CAST(COALESCE(h.gram_ct, 0) AS BIGINT) AS gram_ct,
       |       CAST(COALESCE(h.contam_ct, 0) AS BIGINT) AS contaminated_gram_ct,
       |       CAST(CASE WHEN COALESCE(h.contam_ct, 0) > 0 THEN 1 ELSE 0 END AS INT)
       |         AS contaminated
       |  FROM $table dd LEFT JOIN hits h ON h.id = dd.doc_id
       | WHERE dd.doc_id % $evalMod = 0
       | ORDER BY eval_doc_id""".stripMargin
  }

  def runNgramDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(ngramDecontaminateSql(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect))
  }

  def ngramDecontaminateDuckSql(): String =
    ngramDecontaminateSql("documents")(DuckDialect)

  /** The curation FUNNEL — the one-page account of where the corpus
    * went: raw → canonical-exact dedup survivors → near-dup cluster
    * survivors → quality-gate keepers → the train side of the
    * leakage-free split, each stage with doc/token counts and the
    * retained share of the raw corpus. This is the artifact a data
    * lead reads before signing off a training set — every count here
    * reconciles against its stage's own oracle-checked relation.
    *
    * Scale shape: every stage is an id-keyed semi-join against a landed
    * metadata-sized relation (canon keepers, component labels, gate
    * flags); tokens ride one regexp-count scan joined per stage by id.
    * Nothing rescans text beyond that one pass. */
  /** The funnel's per-doc token/canon-hash relation — three regexes +
    * an MD5 per document. The stage chain references it transitively
    * from EVERY stage (stages ∪-branches re-derive the whole prefix
    * chain under Spark's CTE inlining), so the engine entry checkpoints
    * it once per run and feeds [[funnelTailFromTok]]; the oracle keeps
    * the single statement via [[funnelTail]]. */
  private[pipeline] def funnelTokSql(table: String)(d: Dialect): String = {
    val tokens = d.regexpCount("text", "\\S+")
    // Unicode-aware, mirroring Dedup.canonExpr — see the note there
    val noPunct = d.regexpReplace("LOWER(text)", "[^\\p{L}\\p{N}\\s]", "")
    val canon = s"TRIM(${d.regexpReplace(noPunct, "\\s+", " ")})"
    s"""SELECT doc_id, CAST($tokens AS BIGINT) AS tk,
       |       MD5($canon) AS canon_hash
       |  FROM $table""".stripMargin
  }

  private def funnelTail(table: String, compRel: String, gateRel: String)
                        (d: Dialect): String =
    s"""tok AS (
       |${funnelTokSql(table)(d)}
       |),
       |${funnelTailFromTok("tok", compRel, gateRel)(d)}""".stripMargin

  private def funnelTailFromTok(tokRel: String, compRel: String,
                                gateRel: String)(d: Dialect): String = {
    val draw = d.hexToLong(
      s"SUBSTRING(MD5('split:' || ${d.castText("unit_id")}), 1, 15)")
    s"""s1 AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY canon_hash
       |                                      ORDER BY doc_id) AS rn
       |      FROM $tokRel) c WHERE rn = 1
       |),
       |s2 AS (
       |  SELECT s1.doc_id FROM s1 LEFT JOIN $compRel c ON c.id = s1.doc_id
       |   WHERE c.id IS NULL OR c.cid = s1.doc_id
       |),
       |s3 AS (
       |  SELECT s2.doc_id FROM s2 JOIN $gateRel g ON g.doc_id = s2.doc_id
       |   WHERE g.too_short + g.too_long + g.low_quality
       |         + g.repetitive + g.boilerplate = 0
       |),
       |s4 AS (
       |  SELECT doc_id FROM (
       |    SELECT s3.doc_id, COALESCE(c.cid, s3.doc_id) AS unit_id
       |      FROM s3 LEFT JOIN $compRel c ON c.id = s3.doc_id
       |  ) u WHERE ($draw % 10) < $TrainBuckets
       |),
       |stages AS (
       |  SELECT 0 AS stage_ord, 'raw' AS stage, doc_id FROM $tokRel
       |  UNION ALL SELECT 1, 'post_exact_dedup', doc_id FROM s1
       |  UNION ALL SELECT 2, 'post_near_dedup', doc_id FROM s2
       |  UNION ALL SELECT 3, 'post_quality_gate', doc_id FROM s3
       |  UNION ALL SELECT 4, 'train_split', doc_id FROM s4
       |),
       |agg AS (
       |  SELECT s.stage_ord, s.stage,
       |         COUNT(*) AS doc_ct, SUM(t.tk) AS token_ct
       |    FROM stages s JOIN $tokRel t ON t.doc_id = s.doc_id
       |   GROUP BY s.stage_ord, s.stage
       |),
       |raw AS (SELECT token_ct AS raw_tokens FROM agg WHERE stage_ord = 0)
       |SELECT CAST(a.stage_ord AS INT) AS stage_ord, a.stage,
       |       CAST(a.doc_ct AS BIGINT) AS doc_ct,
       |       CAST(a.token_ct AS BIGINT) AS token_ct,
       |       CAST(ROUND(CAST(a.token_ct AS DOUBLE) / r.raw_tokens, 4) AS DOUBLE)
       |         AS token_share
       |  FROM agg a CROSS JOIN raw r
       | ORDER BY stage_ord""".stripMargin
  }

  def funnelSql(table: String)(d: Dialect): String =
    s"""${Dedup.clusterCompCtes(table, 0.5)(d)},
       |gate AS (
       |${graft.pipeline.QualityGate.gateSql(table)(d)}
       |),
       |${funnelTail(table, "comp", "gate")(d)}""".stripMargin

  /** Spark path: every stage input is a landed relation. (r14 audit
    * note: checkpointing the `tok` relation per run was tried to kill
    * the stage chain's repeated tok derivation and MEASURED SLOWER at
    * both sf0.1 and sf1 — 1.02→1.28 s / 0.82→0.95 s warm — the
    * checkpoint materialization costs more than the re-derivations it
    * saves, and the inline form stays one statement for the planner to
    * dedupe. Kept the single-statement form.) */
  def runFunnel(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents")
    val comp = Dedup.clusterCompView(spark, dir)
    val gate = graft.pipeline.QualityGate.outView(spark, dir)
    spark.sql(s"WITH ${funnelTail(documents, comp, gate)(SparkDialect)}")
  }

  def substringRewriteDuckSql(): String = substringRewriteSql("documents")(DuckDialect)

  /** Train share of the leakage-free split, out of 10 md5 buckets. */
  val TrainBuckets = 9

  /** Leakage-free train/heldout split: the assignment unit is the
    * near-dup CLUSTER (a doc outside any cluster is its own unit), so
    * two near-duplicate documents can never land on opposite sides of
    * the split — the standard guard against eval contamination that a
    * uniform per-doc split silently violates. The unit's md5 decides
    * the side, so the split is reproducible and any future member of
    * an existing cluster follows its cluster.
    *
    * Scale shape: one LEFT equi-join of the corpus against the landed
    * component labels (metadata-sized), a per-row md5, and a 2-row
    * rollup. */
  private def splitCtes(table: String, compRel: String)(d: Dialect): String = {
    val tokens = d.regexpCount("text", "\\S+")
    val draw = d.hexToLong(
      s"SUBSTRING(MD5('split:' || ${d.castText("unit_id")}), 1, 15)")
    s"""su AS (
       |  SELECT dd.doc_id, COALESCE(c.cid, dd.doc_id) AS unit_id,
       |         CAST($tokens AS BIGINT) AS tk
       |    FROM $table dd LEFT JOIN $compRel c ON c.id = dd.doc_id
       |),
       |sp AS (
       |  SELECT doc_id, unit_id, tk,
       |         CASE WHEN ($draw % 10) < $TrainBuckets
       |              THEN 'train' ELSE 'heldout' END AS split
       |    FROM su
       |)""".stripMargin
  }

  private def splitTail(table: String, compRel: String)(d: Dialect): String =
    s"""${splitCtes(table, compRel)(d)}
       |SELECT split,
       |       CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |       CAST(COUNT(DISTINCT unit_id) AS BIGINT) AS unit_ct,
       |       CAST(SUM(tk) AS BIGINT) AS token_ct
       |  FROM sp
       | GROUP BY split
       | ORDER BY split""".stripMargin

  def splitSql(table: String)(d: Dialect): String =
    s"""${Dedup.clusterCompCtes(table, 0.5)(d)},
       |${splitTail(table, "comp")(d)}""".stripMargin

  /** Spark path: reads the landed component labels. */
  def runSplit(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents")
    val comp = Dedup.clusterCompView(spark, dir)
    spark.sql(s"WITH ${splitTail(documents, comp)(SparkDialect)}")
  }

  /** Per-doc split assignment — the relation the spec audits for
    * straddling clusters; not an oracle entry (the rollup is). */
  private[graft] def splitAssignments(spark: SparkSession, dir: String): DataFrame = {
    val splitDocs = graft.core.Tables.view(spark, dir, "documents")
    val comp = Dedup.clusterCompView(spark, dir)
    spark.sql(s"""WITH ${splitCtes(splitDocs, comp)(SparkDialect)}
                 |SELECT doc_id, unit_id, split FROM sp""".stripMargin)
  }

  /** Quality-score calibration against duplication — score deciles vs
    * the share of dup-cluster members per decile: a well-calibrated
    * quality score should dislike duplicated boilerplate, and this is
    * the report that shows whether it does (flat dup-share across
    * deciles = the score carries no dedup signal; falling = it does).
    * Deciles tie-break on doc_id so both engines bucket identically.
    *
    * Scale shape: quality comes from the single-scan text metrics, dup
    * membership from the landed component labels (metadata-sized LEFT
    * join). The decile is NOT a global NTILE (that plans an
    * all-rows-to-one-task sort — the engine's worst standing sf1 ratio
    * at 3.7× before this rework): because quality_score is ROUND(x, 4)
    * — a ≤10001-value quantized domain — ROUND(score·10⁴) is an
    * INJECTIVE bucket key, so the exact global rank decomposes into
    * (bucket offset from a ≤10001-row count relation) +
    * (ROW_NUMBER partitioned by bucket, ordered by doc_id), and the
    * decile restates NTILE's piecewise size split (first n mod 10
    * groups get one extra row) in closed integer form. The corpus
    * shuffles once on the bucket key; every window over corpus-sized
    * data is bucket-partitioned; the only single-partition window runs
    * over the bounded bucket-count relation. Equality with literal
    * NTILE is spec-pinned. */
  private def calibDqbCtes(table: String, compRel: String)
                          (d: Dialect): String =
    s"""qx AS (
       |  SELECT doc_id, quality_score FROM (
       |${graft.pipeline.TextAnalysis.sql(table, ordered = false)(d)}
       |  ) tq
       |),
       |dqb AS ${d.cteMaterialized}(
       |  SELECT q.doc_id, q.quality_score,
       |         CASE WHEN c.id IS NULL THEN 0 ELSE 1 END AS is_dup,
       |         CAST(ROUND(q.quality_score * 10000) AS BIGINT) AS qb
       |    FROM qx q LEFT JOIN $compRel c ON c.id = q.doc_id
       |)""".stripMargin

  /** The rank/decile tail over a (landed) dqb relation — referenced
    * TWICE (bucket counts + the rank join), which is exactly why the
    * engine lands dqb first: Spark inlines multi-referenced CTEs, and
    * the qx scan is the regex-heavy text-metrics pass. The oracle marks
    * dqb MATERIALIZED instead. */
  private def calibRankTail(dqbRel: String)(d: Dialect): String = {
    val base = d.intDiv("n", "10")
    s"""bo AS (
       |  SELECT qb, CAST(COUNT(*) AS BIGINT) AS bc FROM $dqbRel GROUP BY qb
       |),
       |bo2 AS (
       |  SELECT qb,
       |         CAST(COALESCE(SUM(bc) OVER (ORDER BY qb
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS off,
       |         CAST(SUM(bc) OVER () AS BIGINT) AS n
       |    FROM bo
       |),
       |dq AS (
       |  SELECT b.is_dup, b.quality_score, o.n,
       |         o.off + ROW_NUMBER() OVER (PARTITION BY b.qb
       |                                    ORDER BY b.doc_id) AS rnk
       |    FROM $dqbRel b JOIN bo2 o ON o.qb = b.qb
       |),
       |dd AS (
       |  SELECT is_dup, quality_score,
       |         CASE WHEN rnk <= (n % 10) * ($base + 1)
       |              THEN ${d.intDiv("(rnk - 1)", s"($base + 1)")} + 1
       |              ELSE n % 10
       |                   + ${d.intDiv(s"(rnk - 1 - (n % 10) * ($base + 1))",
                                        s"($base)")} + 1
       |         END AS decile
       |    FROM dq
       |)
       |SELECT CAST(decile AS INT) AS decile,
       |       CAST(COUNT(*) AS BIGINT) AS doc_ct,
       |       CAST(SUM(is_dup) AS BIGINT) AS dup_doc_ct,
       |       CAST(ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)
       |         AS dup_share,
       |       CAST(MIN(quality_score) AS DOUBLE) AS min_quality,
       |       CAST(MAX(quality_score) AS DOUBLE) AS max_quality
       |  FROM dd
       | GROUP BY decile
       | ORDER BY decile""".stripMargin
  }

  def calibrationSql(table: String)(d: Dialect): String =
    s"""${Dedup.clusterCompCtes(table, 0.5)(d)},
       |${calibDqbCtes(table, "comp")(d)},
       |${calibRankTail("dqb")(d)}""".stripMargin

  def runCalibration(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents")
    val comp = Dedup.clusterCompView(spark, dir)
    // land dqb once per call — the tail reads it twice (bucket counts,
    // rank join) and the qx scan must not run twice
    val dqb = spark.sql(s"""WITH ${calibDqbCtes(documents, comp)(SparkDialect)}
                           |SELECT * FROM dqb""".stripMargin)
      .localCheckpoint(eager = true)
    graft.core.Materialize.sql(spark, dqb) { case Seq(v) =>
      s"WITH ${calibRankTail(v)(SparkDialect)}"
    }
  }
}
