package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** The composite keep/drop decision of a training-data curation run —
  * the operator that turns the per-document signal relations into the
  * materialized corpus: every document gets one row of per-rule reason
  * flags plus the final `keep` bit. Rules follow the published filter
  * stacks (Gopher / C4-style):
  *
  *  - `too_short` / `too_long` — token-count band ([[TextAnalysis]]);
  *  - `low_quality` — composite quality score below threshold;
  *  - `repetitive` — within-doc repetition ([[Repetition]]);
  *  - `boilerplate` — cross-doc boilerplate share ([[Boilerplate]]);
  *  - `dup_dropped` — member of a duplicate cluster that is not the
  *    cluster survivor ([[Dedup.runClusters]]);
  *  - `keep` — 1 iff every flag above is 0.
  *
  * Composition shape at 100 TB: each signal relation is one landed
  * per-doc row set (the engine joins the memoized/materialized outputs;
  * the oracle recomputes each as a subquery from the same dual-rendered
  * SQL), and the gate itself is four broadcast-or-copartitioned LEFT
  * joins on doc_id plus a row-local projection — no extra scan of the
  * corpus text, no shuffle wider than the per-doc signal rows.
  */
object QualityGate {

  /** Dialect-free gate body over the per-doc signal relations. LEFT
    * joins: a zero-token document has no repetition row, an all-hot or
    * sub-trigram document no boilerplate row, an undeduped document no
    * cluster row — absence means "rule does not fire", except the token
    * band, where absence IS too_short (COALESCE to 0 tokens). */
  def bodySql(table: String, taRel: String, repRel: String, bpRel: String,
              clRel: String, minTokens: Int = 10, maxTokens: Int = 10000,
              minQuality: Double = 0.15): String =
    s"""WITH flags AS (
       |  SELECT d.doc_id,
       |    CAST(CASE WHEN COALESCE(ta.ws_token_ct, 0) < $minTokens
       |         THEN 1 ELSE 0 END AS INT) AS too_short,
       |    CAST(CASE WHEN COALESCE(ta.ws_token_ct, 0) > $maxTokens
       |         THEN 1 ELSE 0 END AS INT) AS too_long,
       |    CAST(CASE WHEN COALESCE(ta.quality_score, 0) < $minQuality
       |         THEN 1 ELSE 0 END AS INT) AS low_quality,
       |    CAST(COALESCE(rep.repetitive_flag, 0) AS INT) AS repetitive,
       |    CAST(COALESCE(bp.boilerplate_heavy, 0) AS INT) AS boilerplate,
       |    CAST(CASE WHEN cl.doc_id IS NOT NULL AND cl.is_survivor = 0
       |         THEN 1 ELSE 0 END AS INT) AS dup_dropped
       |  FROM $table d
       |  LEFT JOIN $taRel ta ON ta.doc_id = d.doc_id
       |  LEFT JOIN $repRel rep ON rep.doc_id = d.doc_id
       |  LEFT JOIN $bpRel bp ON bp.doc_id = d.doc_id
       |  LEFT JOIN $clRel cl ON cl.doc_id = d.doc_id
       |)
       |SELECT doc_id, too_short, too_long, low_quality, repetitive,
       |       boilerplate, dup_dropped,
       |       CAST(CASE WHEN too_short + too_long + low_quality + repetitive
       |                      + boilerplate + dup_dropped = 0
       |            THEN 1 ELSE 0 END AS INT) AS keep
       |  FROM flags
       | ORDER BY doc_id""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.core.Tables.view(spark, dir, "documents")
    // text analysis rides its own single corpus scan; repetition,
    // boilerplate and cluster labels join the memoized landed outputs
    // (the CorpusStats composition pattern)
    graft.core.Materialize.sql(spark, Dedup.runClusters(spark, dir)) { case Seq(clusters) =>
      bodySql(docs, s"(${TextAnalysis.sql(docs)(SparkDialect)})",
        Repetition.outView(spark, dir), Boilerplate.outView(spark, dir), clusters)
    }
  }

  /** The materialized gate decision, memoized per (session, dir) — the
    * post-gate budget rollup joins this instead of re-deriving it. */
  def outView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "qg_out", dir, graft.core.Materialize.Checkpoint)(
      run(spark, dir))

  /** The gate as one self-contained statement over `table` — every
    * signal relation nested inline (the oracle's form; the Spark run
    * path composes landed views instead). */
  def gateSql(table: String)(d: Dialect): String =
    bodySql(table,
      s"(${TextAnalysis.sql(table)(d)})",
      s"(${Repetition.sql(table)(d)})",
      s"(${Boilerplate.sql(table)(d)})",
      s"(${Dedup.clustersSql(table)(d)})")

  def duckSql(): String = gateSql("documents")(DuckDialect)

  /** The joined per-doc signal relation (text metrics + gate flags) —
    * the artifact the Runner lands from BUCKETED tables via the
    * zero-exchange co-located join; this entry checks the same rows
    * through the plain join so the landed artifact is oracle-anchored. */
  def runDocSignals(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.run(spark, dir)
      .join(run(spark, dir), Seq("doc_id"))
      .orderBy("doc_id")

  def docSignalsDuckSql(): String =
    s"""SELECT ta.*, qg.too_short, qg.too_long, qg.low_quality,
       |       qg.repetitive, qg.boilerplate, qg.dup_dropped, qg.keep
       |  FROM (${TextAnalysis.duckSql()}) ta
       |  JOIN (${duckSql()}) qg ON qg.doc_id = ta.doc_id
       | ORDER BY ta.doc_id""".stripMargin
}
