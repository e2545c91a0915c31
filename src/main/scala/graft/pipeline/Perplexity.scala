package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Language-model perplexity filter in the CCNet mold (Wenzek et al.
  * 2019, "CCNet: Extracting High Quality Monolingual Datasets from Web
  * Crawl Data"): train a word-bigram model with add-one smoothing on a
  * small reference slice of the corpus (CCNet trains KenLM on
  * Wikipedia; here the deterministic `src0` source stands in), then
  * score EVERY document's perplexity under it — low perplexity reads
  * like the reference prose, high perplexity flags boilerplate / noise
  * / wrong-register text — and bucket head/middle/tail at the
  * perplexity terciles exactly as CCNet splits its shards.
  *
  * Cross-engine exactness: every probability is the integer ratio
  * `(c(prev,w) + 1) / (c(prev) + V)`, each term's log is quantized ONCE
  * to integer micro-nats (`ROUND(LN(p) · 1e6)`), and per-document sums
  * are then BIGINT — order-free and bit-identical in both engines; the
  * one floating exp/round per document runs on identical inputs.
  *
  * At 100 TB: training counts shuffle once on (prev, w) with map-side
  * combine and are metadata-sized thereafter (bounded by the reference
  * slice's bigram vocabulary — CCNet's reference corpus is orders of
  * magnitude smaller than the crawl); scoring is two equi-joins of the
  * token stream against those landed count relations (broadcast-able
  * when the reference slice is small) plus one per-doc integer groupBy.
  * The tercile is NOT a global NTILE (that plans an all-docs-to-one-
  * task sort): `FLOOR(ppl·[[TercileBuckets]])` is monotone in the
  * tercile order, so the exact global rank decomposes into a bucket
  * offset (prefix sum over the bounded bucket-count relation) plus a
  * bucket-partitioned ROW_NUMBER ordered by (ppl, doc_id) — the same
  * decomposition as `quality_calibration`, spec-pinned equal to
  * literal NTILE.
  */
object Perplexity {

  /** The reference slice the bigram model trains on. */
  val TrainSource = "src0"

  private def trainWords(table: String)(d: Dialect): String =
    d.wordsRel(
      s"(SELECT doc_id, text FROM $table WHERE source = '$TrainSource' AND text IS NOT NULL) __lmtr",
      "doc_id", "text")

  /** Model CTEs: bigram counts with a `<s>` start context, context
    * totals, vocabulary (= distinct bigram successors: every train
    * token occurs exactly once as a successor) and V = |vocab| + 1
    * (`<unk>`). */
  private def modelCtes(table: String)(d: Dialect): String =
    s"""tw AS (${trainWords(table)(d)}),
       |tb0 AS (
       |  SELECT COALESCE(LAG(word) OVER (PARTITION BY id ORDER BY pos), '<s>') AS prev,
       |         word AS w
       |    FROM tw
       |),
       |train_big AS (SELECT prev, w, COUNT(*) AS c FROM tb0 GROUP BY prev, w),
       |train_ctx AS (SELECT prev, SUM(c) AS cc FROM train_big GROUP BY prev),
       |vocab AS (SELECT DISTINCT w AS word FROM train_big),
       |vsz AS (SELECT COUNT(*) + 1 AS v FROM vocab)""".stripMargin

  /** Scoring CTEs + final select over landed/named model relations.
    * `vExpr` is the smoothing denominator V — a literal on the engine
    * path, a scalar subquery in the one-statement oracle. */
  private def scoreText(table: String, bigRel: String, ctxRel: String,
                        vocabRel: String, vExpr: String)(d: Dialect): String = {
    val sw = d.wordsRel(
      s"(SELECT doc_id, text FROM $table WHERE text IS NOT NULL) __lmsc",
      "doc_id", "text")
    s"""sw AS ($sw),
       |sm AS (
       |  SELECT s.id, s.pos,
       |         CASE WHEN v.word IS NOT NULL THEN s.word ELSE '<unk>' END AS wm
       |    FROM sw s LEFT JOIN $vocabRel v ON v.word = s.word
       |),
       |sb AS (
       |  SELECT id, wm,
       |         COALESCE(LAG(wm) OVER (PARTITION BY id ORDER BY pos), '<s>') AS pm
       |    FROM sm
       |),
       |terms AS (
       |  SELECT sb.id,
       |         CAST(ROUND(LN(CAST(COALESCE(tb.c, 0) + 1 AS DOUBLE)
       |                       / (COALESCE(tc.cc, 0) + $vExpr)) * 1000000) AS BIGINT) AS lp_micro,
       |         CASE WHEN sb.wm = '<unk>' THEN 1 ELSE 0 END AS oov
       |    FROM sb
       |    LEFT JOIN $bigRel tb ON tb.prev = sb.pm AND tb.w = sb.wm
       |    LEFT JOIN $ctxRel tc ON tc.prev = sb.pm
       |),
       |docstats AS (
       |  SELECT id AS doc_id, COUNT(*) AS n_tokens,
       |         SUM(lp_micro) AS lps, SUM(oov) AS oov_ct
       |    FROM terms GROUP BY id
       |),
       |scored AS ${d.cteMaterialized}(
       |  SELECT doc_id, n_tokens, lps, oov_ct,
       |         CAST(ROUND(EXP(-(CAST(lps AS DOUBLE) / 1000000.0) / n_tokens), 4) AS DOUBLE) AS ppl
       |    FROM docstats
       |)""".stripMargin
  }

  /** Row-local Spark rendering of the scoring pipeline through `scored`
    * (the dual-rendered [[scoreText]] stays the oracle rendering): the
    * (prev, word) bigram derives from the split array inside each
    * document row — no LAG window, so the corpus token stream never
    * shuffles into a per-doc sort — and the vocab `<unk>` mapping
    * applies through TWO broadcast joins (one per bigram side) instead
    * of map-then-window. Per-doc sums are order-free integer micro-nats,
    * so the relation is bit-identical (the engine-vs-one-statement
    * parity spec re-proves it end-to-end). */
  private def scoreSparkCtes(table: String, bigRel: String, ctxRel: String,
                             vocabRel: String, vExpr: String): String =
    s"""pr AS (
       |  SELECT doc_id AS id, ws[i] AS wraw,
       |         CASE WHEN i = 0 THEN NULL ELSE ws[i - 1] END AS praw
       |    FROM (SELECT doc_id, ws FROM (
       |            SELECT doc_id,
       |                   filter(split(LOWER(text), '\\\\s+'), w -> w <> '') AS ws
       |              FROM (SELECT doc_id, text FROM $table
       |                     WHERE text IS NOT NULL) t0) z0
       |           WHERE size(ws) >= 1) z
       |    LATERAL VIEW explode(sequence(0, size(ws) - 1)) e AS i
       |),
       |sm2 AS (
       |  SELECT pr.id,
       |         CASE WHEN vw.word IS NOT NULL THEN pr.wraw
       |              ELSE '<unk>' END AS wm,
       |         CASE WHEN pr.praw IS NULL THEN '<s>'
       |              WHEN vp.word IS NOT NULL THEN pr.praw
       |              ELSE '<unk>' END AS pm
       |    FROM pr
       |    LEFT JOIN $vocabRel vw ON vw.word = pr.wraw
       |    LEFT JOIN $vocabRel vp ON vp.word = pr.praw
       |),
       |terms AS (
       |  SELECT sm2.id,
       |         CAST(ROUND(LN(CAST(COALESCE(tb.c, 0) + 1 AS DOUBLE)
       |                       / (COALESCE(tc.cc, 0) + $vExpr)) * 1000000) AS BIGINT) AS lp_micro,
       |         CASE WHEN sm2.wm = '<unk>' THEN 1 ELSE 0 END AS oov
       |    FROM sm2
       |    LEFT JOIN $bigRel tb ON tb.prev = sm2.pm AND tb.w = sm2.wm
       |    LEFT JOIN $ctxRel tc ON tc.prev = sm2.pm
       |),
       |docstats AS (
       |  SELECT id AS doc_id, COUNT(*) AS n_tokens,
       |         SUM(lp_micro) AS lps, SUM(oov) AS oov_ct
       |    FROM terms GROUP BY id
       |),
       |scored AS (
       |  SELECT doc_id, n_tokens, lps, oov_ct,
       |         CAST(ROUND(EXP(-(CAST(lps AS DOUBLE) / 1000000.0) / n_tokens), 4) AS DOUBLE) AS ppl
       |    FROM docstats
       |)""".stripMargin

  /** Coarse monotone bucket resolution for the tercile rank
    * decomposition — bucket count is bounded by
    * TercileBuckets · max-ppl, metadata at any corpus size. */
  val TercileBuckets = 256

  /** The tercile tail over a (landed) scored relation — read twice
    * (bucket counts + the rank join), so the engine lands `scored`
    * first; the oracle marks it MATERIALIZED. Restates NTILE(3)'s
    * piecewise size split (first n mod 3 groups get one extra row) in
    * closed integer form over the decomposed exact rank. */
  private def tercileTail(scoredRel: String)(d: Dialect): String = {
    val base = d.intDiv("n", "3")
    s"""pbo AS (
       |  SELECT pb, CAST(COUNT(*) AS BIGINT) AS bc FROM (
       |    SELECT CAST(FLOOR(ppl * $TercileBuckets) AS BIGINT) AS pb
       |      FROM $scoredRel) z
       |   GROUP BY pb
       |),
       |pbo2 AS (
       |  SELECT pb,
       |         CAST(COALESCE(SUM(bc) OVER (ORDER BY pb
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS off,
       |         CAST(SUM(bc) OVER () AS BIGINT) AS n
       |    FROM pbo
       |),
       |prk AS (
       |  SELECT s.doc_id, s.n_tokens, s.oov_ct, s.lps, s.ppl, o.n,
       |         o.off + ROW_NUMBER() OVER (PARTITION BY o.pb
       |                                    ORDER BY s.ppl, s.doc_id) AS rnk
       |    FROM (SELECT *, CAST(FLOOR(ppl * $TercileBuckets) AS BIGINT) AS spb
       |            FROM $scoredRel) s
       |    JOIN pbo2 o ON o.pb = s.spb
       |)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(oov_ct AS BIGINT) AS oov_ct,
       |       CAST(lps AS BIGINT) AS lp_micro,
       |       ppl,
       |       CAST(CASE WHEN rnk <= (n % 3) * ($base + 1)
       |                 THEN ${d.intDiv("(rnk - 1)", s"($base + 1)")} + 1
       |                 ELSE n % 3
       |                      + ${d.intDiv(s"(rnk - 1 - (n % 3) * ($base + 1))",
                                           s"($base)")} + 1
       |            END AS INT) AS ppl_bucket
       |  FROM prk
       | ORDER BY doc_id""".stripMargin
  }

  /** The one-statement rendering (the DuckDB oracle executes this; the
    * parity spec also runs it on Spark). */
  def sql(table: String)(d: Dialect): String =
    s"""WITH ${modelCtes(table)(d)},
       |${scoreText(table, "train_big", "train_ctx", "vocab",
                    "(SELECT v FROM vsz)")(d)},
       |${tercileTail("scored")(d)}""".stripMargin

  def duckSql(): String = sql("documents")(DuckDialect)

  /** Engine path: the three model relations land once per (session,
    * dir) — ONE scan of the reference slice total (context totals and
    * the vocabulary both derive from the landed bigram counts) — and V
    * is collected to a literal; the scoring tail then joins the token
    * stream against the landed views. */
  def run(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"WITH ${tercileTail(scoredView(spark, dir))(SparkDialect)}")

  /** The per-doc scored relation, landed once per (session, dir) — it
    * is the SIGNAL relation every consumer reads (the tercile tail
    * reads it twice: bucket counts + rank join; the streaming gate's
    * cutoff derives from it), so it follows the landed-relation
    * convention (Retrieval hit lists, the BPE merge table). */
  private def scoredView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "lm_scored", dir, graft.core.Materialize.Checkpoint) {
      val (bigV, ctxV, vocV, v) = modelViews(spark, dir)
      val raw = graft.core.Tables.view(spark, dir, "documents")
      spark.sql(
        s"""WITH ${scoreSparkCtes(raw, bigV, ctxV, vocV, v.toString)}
           |SELECT * FROM scored""".stripMargin)
    }

  /** The frozen model for the streaming ingest gate: bigram counts
    * keyed `"prev w"` (words are whitespace-split, so the space join is
    * unambiguous), context totals keyed by `prev`, and V. Collected
    * driver-side from the landed model relations — bounded by the
    * reference slice's bigram vocabulary, the same metadata-sized
    * collect the batch path's V already does. */
  def frozenModel(spark: SparkSession, dir: String): (Map[String, Long], Map[String, Long], Long) = {
    val (bigV, ctxV, _, v) = modelViews(spark, dir)
    val big = spark.sql(s"SELECT prev, w, c FROM $bigV").collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)}" -> r.getLong(2)).toMap
    val ctx = spark.sql(s"SELECT prev, cc FROM $ctxV").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (big, ctx, v)
  }

  private def modelViews(spark: SparkSession, dir: String): (String, String, String, Long) = {
    import graft.core.Materialize.{view, Checkpoint}
    val bigV = view(spark, "lm_big", dir, Checkpoint) {
      spark.sql(
        s"""WITH tw AS (${trainWords(graft.core.Tables.view(spark, dir, "documents"))(SparkDialect)}),
           |tb0 AS (
           |  SELECT COALESCE(LAG(word) OVER (PARTITION BY id ORDER BY pos), '<s>') AS prev,
           |         word AS w
           |    FROM tw
           |)
           |SELECT prev, w, COUNT(*) AS c FROM tb0 GROUP BY prev, w""".stripMargin)
    }
    val ctxV = view(spark, "lm_ctx", dir, Checkpoint)(
      spark.sql(s"SELECT prev, SUM(c) AS cc FROM $bigV GROUP BY prev"))
    val vocV = view(spark, "lm_voc", dir, Checkpoint)(
      spark.sql(s"SELECT DISTINCT w AS word FROM $bigV"))
    val v = graft.core.SessionCache.getOrElseUpdate(spark, "lm_vocab_size", dir)(
      spark.sql(s"SELECT COUNT(*) FROM $vocV").head().getLong(0) + 1)
    (bigV, ctxV, vocV, v)
  }
}
