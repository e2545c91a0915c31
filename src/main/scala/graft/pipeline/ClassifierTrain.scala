package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Quality-classifier TRAINING — the half of the fastText-style filter
  * [[QualityClassifier]] stubs with frozen md5 weights. Production
  * curation stacks (CCNet-style) train a linear model against a
  * labeled seed corpus and score the crawl with it; this operator runs
  * that loop end to end: a deterministic weak-supervision rule labels
  * the seed docs, a multinomial naive-Bayes trainer derives per-token
  * log-odds weights from ONE corpus scan, and the eval entry scores
  * the corpus with the TRAINED weights and reports the confusion
  * matrix against the labels.
  *
  * The label is a stand-in the way the md5 weights are: in production
  * it is "document came from the curated reference corpus"; here it is
  * a deterministic text predicate (document mentions the token `dup`)
  * both engines render identically — which also makes the demo
  * self-checking, since the trainer must discover that token's
  * dominant positive log-odds from counts alone.
  *
  * Determinism discipline: weights are class-conditional +1-smoothed
  * log-likelihood-ratio, quantized ONCE to integer micro-nats
  * (`ROUND(llr · 1e6)` — the [[Perplexity]] micro-nat convention), so
  * document scores are order-free BIGINT sums both engines reproduce
  * bit-identically; the decision threshold folds in the integer
  * micro-nat class prior.
  *
  * Scale shape: training is a map-side-combinable token census
  * (GROUP BY word — vocabulary-bounded output, the [[BpeMerges]]
  * census argument) with the totals taken as windows OVER that
  * metadata-sized relation (the [[graft.profiling.PsiDrift]] form);
  * the corpus never sorts and raw rows never shuffle. Scoring is
  * explode → equi-join to the vocabulary-bounded weight relation
  * (broadcast at any realistic vocab) → per-doc partial aggregation,
  * map-side-combined because exploded tokens stay row-local to their
  * document's partition. The trained weights land once per
  * (session, dir) — the [[Retrieval]] hit-list convention — so eval
  * and any downstream gate read the landed relation instead of
  * re-training. */
object ClassifierTrain {

  /** Deterministic weak-supervision label: doc mentions token `dup`. */
  private def labelExpr(text: String): String =
    s"(CASE WHEN (' ' || LOWER($text) || ' ') LIKE '% dup %' THEN 1 ELSE 0 END)"

  /** Row-local Scala twins of the SQL tokenizer/label — the streaming
    * ingest twin ([[graft.streaming.StreamMonitors.ingestClassifierCounts]])
    * folds with these, replay-spec-pinned to the SQL census. */
  private[graft] def tokensOf(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
  private[graft] def labelOf(text: String): Int =
    if ((" " + text.toLowerCase(java.util.Locale.ROOT) + " ")
          .contains(" dup ")) 1 else 0

  /** Labeled-words CTE prefix: (id, pos, word) with the label carried
    * in the id's parity (id = doc_id·2 + y) — the [[Multimodal]] id
    * trick, avoiding a token-stream re-join to recover y. */
  private def wordsCtes(table: String)(d: Dialect): String =
    s"""WITH docs AS (
       |  SELECT doc_id, text, ${labelExpr("text")} AS y
       |    FROM $table
       |   WHERE text IS NOT NULL
       |),
       |ydocs AS (
       |  SELECT doc_id * 2 + y AS yid, text FROM docs
       |),
       |words AS (
       |  ${d.wordsRel("ydocs", "yid", "text")}
       |)""".stripMargin

  /** Weight-table tail over the words relation: per-token class counts
    * and the +1-smoothed multinomial NB log-likelihood-ratio in integer
    * micro-nats. Dialect-neutral. */
  private def weightsTailSql: String =
    s"""counts AS (
       |  SELECT word,
       |         CAST(SUM(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ct_pos,
       |         CAST(SUM(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ct_neg
       |    FROM words
       |   GROUP BY word
       |),
       |weights AS (
       |  SELECT word, ct_pos, ct_neg,
       |         CAST(ROUND(
       |           (LN((ct_pos + 1.0) / (CAST(SUM(ct_pos) OVER () AS BIGINT) + CAST(COUNT(*) OVER () AS BIGINT)))
       |            - LN((ct_neg + 1.0) / (CAST(SUM(ct_neg) OVER () AS BIGINT) + CAST(COUNT(*) OVER () AS BIGINT))))
       |           * 1000000) AS BIGINT) AS w_micro
       |    FROM counts
       |)""".stripMargin

  /** Full training statement: the landed weight table, one per token. */
  def trainSql(table: String)(d: Dialect): String =
    s"""${wordsCtes(table)(d)},
       |$weightsTailSql
       |SELECT word, ct_pos, ct_neg, w_micro
       |  FROM weights
       | ORDER BY word""".stripMargin

  /** Eval statement: score every doc with the trained weights plus the
    * integer micro-nat doc-count prior, predict by the score's sign,
    * and report the label × prediction confusion matrix. */
  def evalSql(table: String)(d: Dialect): String =
    s"""${wordsCtes(table)(d)},
       |$weightsTailSql,
       |scored AS (
       |  SELECT w.id AS yid, CAST(SUM(wt.w_micro) AS BIGINT) AS s_micro
       |    FROM words w
       |    JOIN weights wt ON wt.word = w.word
       |   GROUP BY w.id
       |),
       |prior AS (
       |  SELECT CAST(ROUND(LN((CAST(SUM(y) AS BIGINT) + 1.0)
       |                        / (CAST(SUM(1 - y) AS BIGINT) + 1.0))
       |                    * 1000000) AS BIGINT) AS p_micro
       |    FROM docs
       |)
       |SELECT CAST(d.y AS INT) AS y,
       |       CAST(CASE WHEN COALESCE(s.s_micro, 0) + p.p_micro >= 0
       |                 THEN 1 ELSE 0 END AS INT) AS pred,
       |       CAST(COUNT(*) AS BIGINT) AS n
       |  FROM docs d
       |  LEFT JOIN scored s ON s.yid = d.doc_id * 2 + d.y
       |  LEFT JOIN prior p ON TRUE
       | GROUP BY 1, 2
       | ORDER BY 1, 2""".stripMargin

  private def docsView(spark: SparkSession, dir: String): String =
    graft.core.Tables.view(spark, dir, "documents")

  /** Landed trained-weights view, once per (session, dir). */
  private[graft] def weightsView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "clf_weights", dir, graft.core.Materialize.Checkpoint)(
      spark.sql(trainSql(docsView(spark, dir))(SparkDialect)))

  /** Engine train entry: reads the landed weight relation. */
  def runTrain(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT * FROM ${weightsView(spark, dir)} ORDER BY word")

  /** Engine eval entry: scores with the LANDED weights — the corpus
    * pays one scan here (explode + broadcast-sized weight join), and
    * training is never repeated. */
  def runEval(spark: SparkSession, dir: String): DataFrame = {
    val table = docsView(spark, dir)
    val wv = weightsView(spark, dir)
    val d: Dialect = SparkDialect
    spark.sql(
      s"""${wordsCtes(table)(d)},
         |scored AS (
         |  SELECT w.id AS yid, CAST(SUM(wt.w_micro) AS BIGINT) AS s_micro
         |    FROM words w
         |    JOIN $wv wt ON wt.word = w.word
         |   GROUP BY w.id
         |),
         |prior AS (
         |  SELECT CAST(ROUND(LN((CAST(SUM(y) AS BIGINT) + 1.0)
         |                        / (CAST(SUM(1 - y) AS BIGINT) + 1.0))
         |                    * 1000000) AS BIGINT) AS p_micro
         |    FROM docs
         |)
         |SELECT CAST(d.y AS INT) AS y,
         |       CAST(CASE WHEN COALESCE(s.s_micro, 0) + p.p_micro >= 0
         |                 THEN 1 ELSE 0 END AS INT) AS pred,
         |       CAST(COUNT(*) AS BIGINT) AS n
         |  FROM docs d
         |  LEFT JOIN scored s ON s.yid = d.doc_id * 2 + d.y
         |  LEFT JOIN prior p ON TRUE
         | GROUP BY 1, 2
         | ORDER BY 1, 2""".stripMargin)
  }

  def duckTrainSql(): String = trainSql("documents")(DuckDialect)
  def duckEvalSql(): String = evalSql("documents")(DuckDialect)
}
