package graft

import org.apache.spark.sql.DataFrame

/** End-to-end job runner — the engine's CLI, mirroring the reference's
  * job lifecycle (reference: testgen/commands/run_profiling.py:37-127 →
  * run_test_execution.py:36-169 → rollup scoring): data-chars refresh →
  * column profiling (+ frequency analysis) → type inference → hygiene
  * screens → test generation → test execution (CAT + QUERY) → prevalence
  * and score rollups → monitors. Each stage lands its result as parquet
  * under the output directory, the Spark analogue of the reference's
  * app-DB tables.
  *
  * Usage: runMain graft.Runner <dataDir> <outDir> [stage,stage,...]
  */
object Runner {
  // "ingest" is opt-in (not in the default lifecycle): it converts a
  // text-format source corpus to parquet before everything else runs
  private val allStages = Seq("chars", "drift", "profile", "infer", "hygiene",
    "generate", "execute", "score", "export", "monitor", "curate", "index")

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_run"
    val stages = if (args.length > 2) args(2).split(",").toSeq else allStages
    // bucketed signal tables land under the run's own warehouse
    val spark = graft.core.Sessions.create(Some(s"$outDir/warehouse"))

    val landedRows = scala.collection.mutable.LinkedHashMap[String, Long]()
    def land(stage: String, name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      // row count from the written parquet footers — no second execution
      val n = spark.read.parquet(s"$outDir/$name").count()
      landedRows(name) = n
      println(s"[graft] $stage: $name rows=$n -> $outDir/$name")
    }

    // run-stamped history root: every invocation appends a new run dir,
    // so history consumers (schema drift, table types, thresholds) see
    // genuine cross-invocation state — the reference's app-DB run tables.
    val historyRoot = s"$outDir/runs"
    val runId = "run_" + java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss_SSS")
      .format(java.time.LocalDateTime.now())

    val t0 = System.nanoTime()
    val stageSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timedStage[T](stage: String)(body: => T): T = {
      val s0 = System.nanoTime()
      val r = body
      stageSecs(stage) = (System.nanoTime() - s0) / 1e9
      r
    }
    stages.foreach(stage => timedStage(stage)(stage match {
      case "ingest" =>
        // land a csv/json/orc source corpus as parquet ONCE, so every
        // later stage scans a columnar layout (pruning + pushdown the
        // text formats cannot give). GRAFT_SOURCE_FORMAT picks the
        // format; the source dir is GRAFT_SOURCE_DIR when set (a text-
        // format corpus usually lives apart from the parquet lake),
        // else the run's dataDir; the landing is <outDir>/ingested
        // (point later stages at it).
        val fmt = sys.env.getOrElse("GRAFT_SOURCE_FORMAT", "csv")
        val srcDir = sys.env.getOrElse("GRAFT_SOURCE_DIR", dataDir)
        graft.core.Tables.names.foreach { t =>
          graft.sources.Sources.convertToParquet(
            spark, srcDir, t, fmt, s"$outDir/ingested")
          println(s"[graft] ingest: $t ($fmt) -> $outDir/ingested/$t.parquet")
        }
      case "chars" =>
        val chars = graft.core.DataChars.run(spark, dataDir)
        land("chars", "data_chars", chars)
        graft.core.RunStore.land(chars, historyRoot, runId, "data_chars")
        println(s"[graft] chars: landed history snapshot $historyRoot/$runId/data_chars")
      case "drift" =>
        graft.inference.SchemaDrift.diffLatest(spark, historyRoot) match {
          case Some(df) => land("drift", "data_structure_log", df)
          case None =>
            println("[graft] drift: fewer than two landed runs — nothing to diff yet")
        }
        // snapshot-pair artifacts: SCD2 history build + per-column
        // reconciliation (the migration sign-off report)
        land("drift", "scd2_history", graft.pipeline.Scd2.run(spark, dataDir))
        land("drift", "reconcile_tables",
          graft.pipeline.Reconcile.run(spark, dataDir))
      case "profile" =>
        // GRAFT_PROFILE_MODE=approx routes every table through the
        // sketch profiler — the selectable at-scale path (one scan per
        // table, no distinct-value shuffle)
        val mode = graft.profiling.Profiler.defaultMode
        if (mode != "exact") println(s"[graft] profile: mode=$mode")
        graft.core.Tables.names.foreach { t =>
          land("profile", s"profile_results_$t",
            graft.profiling.Profiler.profile(spark, dataDir, t, mode = mode))
        }
        if (mode == "approx")
          land("profile", "profile_approx_report",
            graft.profiling.ApproxProfiler.report(spark, dataDir, "lineitem"))
        // doc-grain CDC-maintained corpus profile (full-recompute parity
        // is the oracle contract — see IncrementalProfile)
        land("profile", "profile_incremental",
          graft.pipeline.IncrementalProfile.run(spark, dataDir))
        // bounded-memory token heavy hitters — the sketch-pass
        // complement of the exact frequency profile
        land("profile", "freq_heavy_hitters",
          graft.profiling.HeavyHitters.run(spark, dataDir))
        land("profile", "profile_benford",
          graft.profiling.Benford.run(spark, dataDir))
      case "infer" =>
        land("infer", "functional_datatype",
          graft.inference.FunctionalType.infer(spark, dataDir))
        land("infer", "functional_tabletype",
          graft.generation.TestGenerator.runTableType(spark, dataDir))
        land("infer", "fk_integrity",
          graft.inference.Referential.run(spark, dataDir))
      case "hygiene" =>
        land("hygiene", "profile_anomaly_results",
          graft.inference.HygieneScreens.run(spark, dataDir))
        land("hygiene", "privacy_k_anonymity",
          graft.inference.KAnonymity.run(spark, dataDir))
        land("hygiene", "privacy_l_diversity",
          graft.inference.LDiversity.run(spark, dataDir))
        land("hygiene", "text_encoding_screen",
          graft.pipeline.EncodingScreen.run(spark, dataDir))
      case "generate" =>
        land("generate", "test_definitions",
          graft.generation.TestValidation.run(spark, dataDir))
        // persistent store: first run initializes, re-runs MERGE honoring
        // user-locked rows (lock_refresh = 'Y')
        val store = graft.generation.TestDefinitionStore
          .generateInto(spark, dataDir, s"$outDir/test_definitions_store")
        println(s"[graft] generate: test_definitions_store rows=${store.count()}" +
          s" -> $outDir/test_definitions_store")
      case "execute" =>
        graft.cat.CatSuite.suites.keys.toSeq.sorted.foreach { t =>
          land("execute", s"test_results_cat_$t",
            graft.cat.CatSuite.run(spark, dataDir, t))
        }
        graft.querytests.QueryTests.tests.map(_.name).foreach { q =>
          land("execute", s"test_results_query_$q",
            graft.querytests.QueryTests.run(spark, dataDir, q))
        }
      case "score" =>
        land("score", "test_prevalence",
          graft.scoring.Scoring.runTestPrevalence(spark, dataDir))
        land("score", "dq_scores",
          graft.scoring.Scoring.runScoreRollup(spark, dataDir))
        land("score", "score_cards",
          graft.scoring.Scoring.runScoreCard(spark, dataDir))
        land("score", "score_card_columns",
          graft.scoring.Scoring.runScoreCardColumns(spark, dataDir))
        land("score", "score_card_dimensions",
          graft.scoring.Scoring.runScoreCardDimensions(spark, dataDir))
        land("score", "score_card_issues",
          graft.scoring.Scoring.runScoreCardIssues(spark, dataDir))
        // land this run's by-column score detail, then trend over the
        // FULL landed history — the reference's score history lifecycle
        graft.scoring.Scoring.landScoreDetail(spark, dataDir, historyRoot, runId)
        graft.scoring.Scoring.scoreHistoryFromLanded(spark, historyRoot)
          .foreach(df => land("score", "score_history", df))
      case "export" =>
        // outbound observability feed: only result rows still Queued for
        // THIS execution export (a crashed/re-run export of the same
        // execution sends nothing; the next invocation's fresh execution
        // results always export) — the reference's post-then-mark
        // increment loop (run_observability_exporter.py:283-314)
        val exported = graft.scoring.Observability
          .runQueued(spark, dataDir, historyRoot, runId)
        land("export", "observability_export", exported)
        // mark from the landed parquet — no second plan execution
        graft.scoring.Observability.markSent(spark,
          spark.read.parquet(s"$outDir/observability_export"), historyRoot, runId)
        println(s"[graft] export: marked Sent in $historyRoot/$runId/observability_sent")
      case "monitor" =>
        land("monitor", "monitor_freshness",
          graft.streaming.Monitors.runFreshness(spark, dataDir))
        land("monitor", "monitor_volume_bands",
          graft.streaming.Monitors.runVolumeBands(spark, dataDir))
        land("monitor", "monitor_sarimax",
          graft.streaming.Monitors.runSarimax(spark, dataDir))
        // land this run's monitor signals, then recalc thresholds from
        // the FULL landed history — a re-invocation tightens bands using
        // prior runs' signals (update_history_calc_thresholds semantics)
        graft.streaming.Monitors.landSignals(spark, dataDir, historyRoot, runId)
        graft.streaming.Monitors.thresholdsFromHistory(spark, historyRoot)
          .foreach(df => land("monitor", "monitor_history_thresholds", df))
        // PREDICT-mode: SARIMAX tolerances over ALL landed signal runs
        // (stats fallback while the landed history is short)
        val sigRuns = graft.core.RunStore.runsWith(historyRoot, "monitor_signals")
        if (sigRuns.nonEmpty)
          land("monitor", "monitor_predict_thresholds",
            graft.streaming.Monitors.predictThresholdsFrom(spark,
              sigRuns.map(r => graft.core.RunStore.runPath(historyRoot, r, "monitor_signals"))))
        // within-run content-drift screens (numeric shape, numeric
        // stability, categorical homogeneity) + the level-shift locator
        land("monitor", "drift_ks", graft.profiling.KsDrift.run(spark, dataDir))
        land("monitor", "drift_psi", graft.profiling.PsiDrift.run(spark, dataDir))
        land("monitor", "drift_chisq",
          graft.profiling.ChisqDrift.run(spark, dataDir))
        land("monitor", "event_changepoint",
          graft.streaming.Changepoint.run(spark, dataDir))
      case "curate" =>
        // the training-data curation lifecycle over the documents
        // corpus: per-doc signals → selection scores → composite gate →
        // dedup clusters + survivor audit + span rewrite → leakage-free
        // split + calibration → budgets → chunks → packs → curriculum
        val textAnalysis = graft.pipeline.TextAnalysis.run(spark, dataDir)
        land("curate", "text_analysis", textAnalysis)
        land("curate", "dsir_scores",
          graft.pipeline.Selection.runDsir(spark, dataDir))
        land("curate", "dsir_token_budget",
          graft.pipeline.Selection.runBudget(spark, dataDir))
        val qualityGate = graft.pipeline.QualityGate.run(spark, dataDir)
        land("curate", "quality_gate", qualityGate)
        // per-doc signal tables land BUCKETED on doc_id, and the joined
        // doc_signals artifact comes from the co-located (zero-exchange)
        // join — the storage-level strategy every later doc_id-keyed
        // consumer of the landed store inherits for free
        graft.core.Bucketing.writeBucketed(textAnalysis,
          "graft_text_analysis_bk", "doc_id")
        graft.core.Bucketing.writeBucketed(qualityGate,
          "graft_quality_gate_bk", "doc_id")
        land("curate", "doc_signals", graft.core.Bucketing.colocatedJoin(
          spark, "graft_text_analysis_bk", "graft_quality_gate_bk", "doc_id"))
        land("curate", "dedup_clusters",
          graft.pipeline.Dedup.runClusters(spark, dataDir))
        land("curate", "dedup_survivor_audit",
          graft.pipeline.Dedup.runSurvivorAudit(spark, dataDir))
        land("curate", "substring_rewrite",
          graft.pipeline.Selection.runSubstringRewrite(spark, dataDir))
        land("curate", "split_leakage_free",
          graft.pipeline.Selection.runSplit(spark, dataDir))
        land("curate", "quality_calibration",
          graft.pipeline.Selection.runCalibration(spark, dataDir))
        land("curate", "corpus_kept_stats",
          graft.pipeline.CorpusStats.runKept(spark, dataDir))
        land("curate", "chunks", graft.pipeline.Chunker.run(spark, dataDir))
        land("curate", "packs", graft.pipeline.Packer.run(spark, dataDir))
        land("curate", "pack_curriculum",
          graft.pipeline.Packer.runCurriculum(spark, dataDir))
        land("curate", "pack_epochs",
          graft.pipeline.Packer.runEpochs(spark, dataDir))
        land("curate", "curation_funnel",
          graft.pipeline.Selection.runFunnel(spark, dataDir))
        land("curate", "curation_ledger",
          graft.pipeline.Selection.runLedger(spark, dataDir))
        land("curate", "media_phash_dedup",
          graft.pipeline.Multimodal.runPhashDedup(spark, dataDir))
        land("curate", "media_audio_dedup",
          graft.pipeline.Multimodal.runAudioDedup(spark, dataDir))
        land("curate", "media_video_dedup",
          graft.pipeline.Multimodal.runVideoDedup(spark, dataDir))
        // tokenizer-fit artifact: the learned 8-merge BPE table
        land("curate", "bpe_merge_table",
          graft.pipeline.BpeMerges.runTrain(spark, dataDir))
        // trained NB quality-filter weights + the confusion matrix of
        // the trained model against its weak-supervision labels
        land("curate", "classifier_weights",
          graft.pipeline.ClassifierTrain.runTrain(spark, dataDir))
        land("curate", "classifier_eval",
          graft.pipeline.ClassifierTrain.runEval(spark, dataDir))
      case "index" =>
        // build + persist the bucket-partitioned ANN index, then report
        // the recall of every probe path against the exact baseline
        graft.pipeline.Similarity.writeIndex(spark, dataDir, s"$outDir/ann_index")
        println(s"[graft] index: bucket-partitioned index -> $outDir/ann_index")
        // maintenance pass: a re-invoked Runner (or appended batches)
        // accumulates files per bucket; rewrite the overgrown ones
        val compacted = graft.pipeline.Similarity
          .compactIndex(spark, s"$outDir/ann_index")
        println(s"[graft] index: compaction rewrote ${compacted.size} buckets")
        land("index", "knn_recall",
          graft.pipeline.Similarity.runRecall(spark, dataDir))
        // PCA/whitening sufficient statistics for the embedding corpus:
        // one scan, metadata-sized output (the eigensolve consumes it
        // driver-side via EmbeddingAlgebra.pcaComponents)
        land("index", "embedding_gram",
          graft.pipeline.EmbeddingAlgebra.runGram(spark, dataDir))
        // the driver-side eigensolve over the landed statistics: top-8
        // principal components + eigenvalues, the metadata-sized model
        // a whitening/projection pass broadcasts
        land("index", "pca_components",
          graft.pipeline.EmbeddingAlgebra.pcaComponents(spark, dataDir, k = 8))
        // the adaptive-bucket embedding-dedup index the streaming
        // probes (ingestEmbeddingDedup) join against: landed here the
        // same way the session builds it, with the elected modulus
        // FROZEN beside the rows — a later session (or a streaming
        // job) reads index + meta and probes with the INDEX's
        // resolution, never a re-election over its own batch
        val (embIdx, embBmod) =
          graft.pipeline.Dedup.embeddingIndex(spark, dataDir)
        land("index", "embedding_index", embIdx)
        land("index", "embedding_index_meta", {
          import spark.implicits._
          Seq((embBmod, graft.pipeline.Similarity.AdaptiveMaxPlanes))
            .toDF("bmod", "max_planes")
        })
        // the link-graph authority relations the streaming annotation
        // (ingestDomainRank) probes: graph extracted once, rank
        // converged batch-side, budget allocation landed beside it —
        // a later session or streaming job reads these instead of
        // re-running the fixpoint (the embedding-index precedent)
        val (gnv, gev, _) = graft.pipeline.DomainRank.landedGraph(spark, dataDir)
        land("index", "domain_graph_nodes", spark.table(gnv))
        land("index", "domain_graph_edges", spark.table(gev))
        land("index", "domain_rank_budget",
          graft.pipeline.DomainRank.runRankBudget(spark, dataDir))
        // store health: per landed relation file count / bytes /
        // small-files flag (driver-side fs metadata, no data reads)
        land("index", "store_file_report",
          graft.core.RunStore.fileReport(spark, outDir))
      case other =>
        println(s"[graft] unknown stage '$other' (known: ${allStages.mkString(",")})")
    }))
    val totalSec = (System.nanoTime() - t0) / 1e9
    println(f"[graft] run complete in $totalSec%.1f s")
    // Cold lifecycle record: per-stage wall time + landed row counts of
    // THIS invocation. A fresh JVM running the full lifecycle (the 11
    // default stages, 12 with the opt-in ingest prepended from a text
    // fixture) is the all-in cost the steady-state Bench (untimed
    // warm-up + min-of-passes) cannot show — one-time JIT/codegen and
    // the memoized-relation builds land here, so regressions in cold
    // cost stay visible.
    sys.env.get("SPARK_GRAFT_RUNNER_BENCH_OUT").foreach { path =>
      def jnum(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      val stagesJson = stageSecs
        .map { case (s, t) => s""""$s":${jnum(t)}""" }.mkString("{", ",", "}")
      val rowsJson = landedRows
        .map { case (n, c) => s""""$n":$c""" }.mkString("{", ",", "}")
      val json = s"""{"metric":"runner_cold","value":${jnum(totalSec)},""" +
        s""""unit":"sec","sf":"$dataDir","stages":$stagesJson,""" +
        s""""landed_rows":$rowsJson}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
      println(s"[graft] runner bench -> $path")
    }
    spark.stop()
  }
}
