package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The stage-to-call tables: for each `graft.Runner` stage, the same
  * public calls in the same order, each landed the way `Runner.land`
  * lands it (parquet write, then a row count from the written footers).
  *
  * Every call is one operation and one span, named
  * `package.Object.method[:arg]`; a landing is a second span of the
  * same name and kind `land`. A call that throws is recorded as a
  * failed operation and the job goes on, so one failure cannot hide
  * another; nothing is retried. A workload may keep only some calls of
  * a stage (see [[stage]]); the others are neither made nor recorded.
  */
final class Stages(spark: SparkSession, dataDir: String, outDir: String,
                   spans: Spans) {
  val ops = mutable.ArrayBuffer[Op]()

  private val historyRoot = s"$outDir/runs"
  private val runId = "run_" + java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMdd_HHmmss_SSS")
    .format(java.time.LocalDateTime.now())

  /** The calls of the running stage this workload keeps; None keeps all. */
  private var keep: Option[Set[String]] = None
  private val made = mutable.Set[String]()

  /** Run one stage: `name`, or `name=call+call` to make only the named
    * calls of it (still in the stage's order). */
  def stage(spec: String): Unit = {
    val (name, calls) = spec.split("=", 2) match {
      case Array(n, cs) => (n, Some(cs.split("\\+").toSet))
      case Array(n) => (n, None)
    }
    keep = calls
    spans(s"stage:$name", "stage", "stage")(run(name))
    // a kept call that was never made: misspelt, or after a failed call it needs
    calls.map(_ -- made).filter(_.nonEmpty).foreach { missed =>
      ops += Op(s"stage:$name", s"stage:$name", None,
        Some(s"calls not made: ${missed.toSeq.sorted.mkString(", ")}"))
    }
  }

  /** A call the workload leaves out is neither made nor recorded. */
  private val skipped = "skipped"

  private def build[T](call: String)(body: => T): Either[String, T] =
    if (!keep.forall(_(call))) Left(skipped)
    else {
      made += call
      spans(call, Stages.layerOf(call), "build") {
        try Right(body)
        catch { case NonFatal(e) => Left(Json.error(e)) }
      }
    }

  private def record(op: Op): Unit = if (!op.error.contains(skipped)) ops += op

  private def land(name: String, call: String, df: Either[String, DataFrame]): Unit = {
    val path = s"$outDir/$name"
    val landed = df.flatMap { d =>
      spans(call, Stages.layerOf(call), "land") {
        try {
          d.write.mode("overwrite").parquet(path)
          spark.read.parquet(path).count()
          Right(())
        } catch { case NonFatal(e) => Left(Json.error(e)) }
      }
    }
    record(Op(name, call, Some(path), landed.left.toOption))
  }

  private def landCall(name: String, call: String)(body: => DataFrame): Unit =
    land(name, call, build(call)(body))

  private def effect(call: String)(body: => Unit): Unit =
    record(Op(call, call, None, build(call)(body).left.toOption))

  /** A call that returns a relation only once enough history has landed. */
  private def landIfAny(name: String, call: String)(body: => Option[DataFrame]): Unit =
    build(call)(body) match {
      case Right(Some(df)) => land(name, call, Right(df))
      case Right(None) =>
      case Left(err) => record(Op(name, call, None, Some(err)))
    }

  private def run(stage: String): Unit = stage match {
    case "chars" =>
      val chars = build("core.DataChars.run")(graft.core.DataChars.run(spark, dataDir))
      land("data_chars", "core.DataChars.run", chars)
      chars.foreach(df => effect("core.RunStore.land:data_chars")(
        graft.core.RunStore.land(df, historyRoot, runId, "data_chars")))
    case "drift" =>
      landIfAny("data_structure_log", "inference.SchemaDrift.diffLatest")(
        graft.inference.SchemaDrift.diffLatest(spark, historyRoot))
      landCall("scd2_history", "pipeline.Scd2.run")(graft.pipeline.Scd2.run(spark, dataDir))
      landCall("reconcile_tables", "pipeline.Reconcile.run")(graft.pipeline.Reconcile.run(spark, dataDir))
    case "profile" =>
      val mode = graft.profiling.Profiler.defaultMode
      graft.core.Tables.names.foreach { t =>
        landCall(s"profile_results_$t", s"profiling.Profiler.profile:$t")(
          graft.profiling.Profiler.profile(spark, dataDir, t, mode = mode))
      }
      if (mode == "approx")
        landCall("profile_approx_report", "profiling.ApproxProfiler.report")(
          graft.profiling.ApproxProfiler.report(spark, dataDir, "lineitem"))
      landCall("profile_incremental", "pipeline.IncrementalProfile.run")(
        graft.pipeline.IncrementalProfile.run(spark, dataDir))
      landCall("freq_heavy_hitters", "profiling.HeavyHitters.run")(
        graft.profiling.HeavyHitters.run(spark, dataDir))
      landCall("profile_benford", "profiling.Benford.run")(
        graft.profiling.Benford.run(spark, dataDir))
    case "infer" =>
      landCall("functional_datatype", "inference.FunctionalType.infer")(
        graft.inference.FunctionalType.infer(spark, dataDir))
      landCall("functional_tabletype", "generation.TestGenerator.runTableType")(
        graft.generation.TestGenerator.runTableType(spark, dataDir))
      landCall("fk_integrity", "inference.Referential.run")(
        graft.inference.Referential.run(spark, dataDir))
    case "hygiene" =>
      landCall("profile_anomaly_results", "inference.HygieneScreens.run")(
        graft.inference.HygieneScreens.run(spark, dataDir))
      landCall("privacy_k_anonymity", "inference.KAnonymity.run")(
        graft.inference.KAnonymity.run(spark, dataDir))
      landCall("privacy_l_diversity", "inference.LDiversity.run")(
        graft.inference.LDiversity.run(spark, dataDir))
      landCall("text_encoding_screen", "pipeline.EncodingScreen.run")(
        graft.pipeline.EncodingScreen.run(spark, dataDir))
    case "generate" =>
      landCall("test_definitions", "generation.TestValidation.run")(
        graft.generation.TestValidation.run(spark, dataDir))
      effect("generation.TestDefinitionStore.generateInto") {
        graft.generation.TestDefinitionStore
          .generateInto(spark, dataDir, s"$outDir/test_definitions_store").count()
      }
    case "execute" =>
      graft.cat.CatSuite.suites.keys.toSeq.sorted.foreach { t =>
        landCall(s"test_results_cat_$t", s"cat.CatSuite.run:$t")(
          graft.cat.CatSuite.run(spark, dataDir, t))
      }
      graft.querytests.QueryTests.tests.map(_.name).foreach { q =>
        landCall(s"test_results_query_$q", s"querytests.QueryTests.run:$q")(
          graft.querytests.QueryTests.run(spark, dataDir, q))
      }
    case "score" =>
      import graft.scoring.Scoring
      landCall("test_prevalence", "scoring.Scoring.runTestPrevalence")(
        Scoring.runTestPrevalence(spark, dataDir))
      landCall("dq_scores", "scoring.Scoring.runScoreRollup")(Scoring.runScoreRollup(spark, dataDir))
      landCall("score_cards", "scoring.Scoring.runScoreCard")(Scoring.runScoreCard(spark, dataDir))
      landCall("score_card_columns", "scoring.Scoring.runScoreCardColumns")(
        Scoring.runScoreCardColumns(spark, dataDir))
      landCall("score_card_dimensions", "scoring.Scoring.runScoreCardDimensions")(
        Scoring.runScoreCardDimensions(spark, dataDir))
      landCall("score_card_issues", "scoring.Scoring.runScoreCardIssues")(
        Scoring.runScoreCardIssues(spark, dataDir))
      effect("scoring.Scoring.landScoreDetail")(
        Scoring.landScoreDetail(spark, dataDir, historyRoot, runId))
      landIfAny("score_history", "scoring.Scoring.scoreHistoryFromLanded")(
        Scoring.scoreHistoryFromLanded(spark, historyRoot))
    case "export" =>
      landCall("observability_export", "scoring.Observability.runQueued")(
        graft.scoring.Observability.runQueued(spark, dataDir, historyRoot, runId))
      effect("scoring.Observability.markSent")(graft.scoring.Observability.markSent(spark,
        spark.read.parquet(s"$outDir/observability_export"), historyRoot, runId))
    case "monitor" =>
      import graft.streaming.Monitors
      landCall("monitor_freshness", "streaming.Monitors.runFreshness")(
        Monitors.runFreshness(spark, dataDir))
      landCall("monitor_volume_bands", "streaming.Monitors.runVolumeBands")(
        Monitors.runVolumeBands(spark, dataDir))
      landCall("monitor_sarimax", "streaming.Monitors.runSarimax")(Monitors.runSarimax(spark, dataDir))
      effect("streaming.Monitors.landSignals")(
        Monitors.landSignals(spark, dataDir, historyRoot, runId))
      landIfAny("monitor_history_thresholds", "streaming.Monitors.thresholdsFromHistory")(
        Monitors.thresholdsFromHistory(spark, historyRoot))
      val sigRuns = build("core.RunStore.runsWith:monitor_signals")(
        graft.core.RunStore.runsWith(historyRoot, "monitor_signals")).getOrElse(Nil)
      if (sigRuns.nonEmpty)
        landCall("monitor_predict_thresholds", "streaming.Monitors.predictThresholdsFrom")(
          Monitors.predictThresholdsFrom(spark,
            sigRuns.map(r => graft.core.RunStore.runPath(historyRoot, r, "monitor_signals"))))
      landCall("drift_ks", "profiling.KsDrift.run")(graft.profiling.KsDrift.run(spark, dataDir))
      landCall("drift_psi", "profiling.PsiDrift.run")(graft.profiling.PsiDrift.run(spark, dataDir))
      landCall("drift_chisq", "profiling.ChisqDrift.run")(graft.profiling.ChisqDrift.run(spark, dataDir))
      landCall("event_changepoint", "streaming.Changepoint.run")(
        graft.streaming.Changepoint.run(spark, dataDir))
    case "curate" =>
      import graft.pipeline._
      val textAnalysis = build("pipeline.TextAnalysis.run")(TextAnalysis.run(spark, dataDir))
      land("text_analysis", "pipeline.TextAnalysis.run", textAnalysis)
      landCall("dsir_scores", "pipeline.Selection.runDsir")(Selection.runDsir(spark, dataDir))
      landCall("dsir_token_budget", "pipeline.Selection.runBudget")(Selection.runBudget(spark, dataDir))
      val qualityGate = build("pipeline.QualityGate.run")(QualityGate.run(spark, dataDir))
      land("quality_gate", "pipeline.QualityGate.run", qualityGate)
      textAnalysis.foreach(df => effect("core.Bucketing.writeBucketed:graft_text_analysis_bk")(
        graft.core.Bucketing.writeBucketed(df, "graft_text_analysis_bk", "doc_id")))
      qualityGate.foreach(df => effect("core.Bucketing.writeBucketed:graft_quality_gate_bk")(
        graft.core.Bucketing.writeBucketed(df, "graft_quality_gate_bk", "doc_id")))
      landCall("doc_signals", "core.Bucketing.colocatedJoin")(graft.core.Bucketing.colocatedJoin(
        spark, "graft_text_analysis_bk", "graft_quality_gate_bk", "doc_id"))
      landCall("dedup_clusters", "pipeline.Dedup.runClusters")(Dedup.runClusters(spark, dataDir))
      landCall("dedup_survivor_audit", "pipeline.Dedup.runSurvivorAudit")(
        Dedup.runSurvivorAudit(spark, dataDir))
      landCall("substring_rewrite", "pipeline.Selection.runSubstringRewrite")(
        Selection.runSubstringRewrite(spark, dataDir))
      landCall("split_leakage_free", "pipeline.Selection.runSplit")(Selection.runSplit(spark, dataDir))
      landCall("quality_calibration", "pipeline.Selection.runCalibration")(
        Selection.runCalibration(spark, dataDir))
      landCall("corpus_kept_stats", "pipeline.CorpusStats.runKept")(CorpusStats.runKept(spark, dataDir))
      landCall("chunks", "pipeline.Chunker.run")(Chunker.run(spark, dataDir))
      landCall("packs", "pipeline.Packer.run")(Packer.run(spark, dataDir))
      landCall("pack_curriculum", "pipeline.Packer.runCurriculum")(Packer.runCurriculum(spark, dataDir))
      landCall("pack_epochs", "pipeline.Packer.runEpochs")(Packer.runEpochs(spark, dataDir))
      landCall("curation_funnel", "pipeline.Selection.runFunnel")(Selection.runFunnel(spark, dataDir))
      landCall("curation_ledger", "pipeline.Selection.runLedger")(Selection.runLedger(spark, dataDir))
      landCall("media_phash_dedup", "pipeline.Multimodal.runPhashDedup")(
        Multimodal.runPhashDedup(spark, dataDir))
      landCall("media_audio_dedup", "pipeline.Multimodal.runAudioDedup")(
        Multimodal.runAudioDedup(spark, dataDir))
      landCall("media_video_dedup", "pipeline.Multimodal.runVideoDedup")(
        Multimodal.runVideoDedup(spark, dataDir))
      landCall("bpe_merge_table", "pipeline.BpeMerges.runTrain")(BpeMerges.runTrain(spark, dataDir))
      landCall("classifier_weights", "pipeline.ClassifierTrain.runTrain")(
        ClassifierTrain.runTrain(spark, dataDir))
      landCall("classifier_eval", "pipeline.ClassifierTrain.runEval")(
        ClassifierTrain.runEval(spark, dataDir))
    case "index" =>
      import graft.pipeline._
      effect("pipeline.Similarity.writeIndex")(
        Similarity.writeIndex(spark, dataDir, s"$outDir/ann_index"))
      effect("pipeline.Similarity.compactIndex")(Similarity.compactIndex(spark, s"$outDir/ann_index"))
      landCall("knn_recall", "pipeline.Similarity.runRecall")(Similarity.runRecall(spark, dataDir))
      landCall("embedding_gram", "pipeline.EmbeddingAlgebra.runGram")(
        EmbeddingAlgebra.runGram(spark, dataDir))
      landCall("pca_components", "pipeline.EmbeddingAlgebra.pcaComponents")(
        EmbeddingAlgebra.pcaComponents(spark, dataDir, k = 8))
      build("pipeline.Dedup.embeddingIndex")(Dedup.embeddingIndex(spark, dataDir)) match {
        case Right((embIdx, embBmod)) =>
          land("embedding_index", "pipeline.Dedup.embeddingIndex", Right(embIdx))
          land("embedding_index_meta", "pipeline.Dedup.embeddingIndex", Right {
            import spark.implicits._
            Seq((embBmod, Similarity.AdaptiveMaxPlanes)).toDF("bmod", "max_planes")
          })
        case Left(err) =>
          Seq("embedding_index", "embedding_index_meta").foreach(n =>
            record(Op(n, "pipeline.Dedup.embeddingIndex", None, Some(err))))
      }
      build("pipeline.DomainRank.landedGraph")(DomainRank.landedGraph(spark, dataDir)) match {
        case Right((gnv, gev, _)) =>
          land("domain_graph_nodes", "pipeline.DomainRank.landedGraph", Right(spark.table(gnv)))
          land("domain_graph_edges", "pipeline.DomainRank.landedGraph", Right(spark.table(gev)))
        case Left(err) =>
          Seq("domain_graph_nodes", "domain_graph_edges").foreach(n =>
            record(Op(n, "pipeline.DomainRank.landedGraph", None, Some(err))))
      }
      landCall("domain_rank_budget", "pipeline.DomainRank.runRankBudget")(
        DomainRank.runRankBudget(spark, dataDir))
      landCall("store_file_report", "core.RunStore.fileReport")(
        graft.core.RunStore.fileReport(spark, outDir))
    case other =>
      throw new IllegalArgumentException(s"unknown stage '$other'")
  }
}

object Stages {
  private val ownLayers = Set("Dedup", "Similarity", "Multimodal")

  /** `package.Object.method` -> layer: the package, except that the three
    * candidate-join families of `pipeline` are layers of their own. */
  def layerOf(call: String): String = call.split("[.:]").take(2) match {
    case Array("pipeline", obj) if ownLayers(obj) => s"pipeline.$obj"
    case Array(pkg, _*) => pkg
  }

  val layers: Seq[String] = Seq("core", "profiling", "inference", "generation",
    "cat", "querytests", "scoring", "streaming", "pipeline",
    "pipeline.Dedup", "pipeline.Similarity", "pipeline.Multimodal")
}
