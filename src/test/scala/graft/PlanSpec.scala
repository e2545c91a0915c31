package graft

import graft.streaming.StreamMonitors

/** Physical-plan assertions: the scale-critical plan properties the
  * design relies on, checked against `.queryExecution.executedPlan` so
  * a regression that silently changes the plan shape fails loudly.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("CAT suite fuses all measures into a single scan of the table") {
    val p = plan(spark.sql(
      graft.cat.CatRunner.sparkSql("__graft_cat_plan_orders", {
        graft.core.Tables.load(spark, dir, "orders")
          .createOrReplaceTempView("__graft_cat_plan_orders")
        graft.cat.CatSuite.suites("orders")
      })))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans")
  }

  test("test validation adds no shuffle over the definitions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("test_type", StringType),
      StructField("table_name", StringType),
      StructField("column_name", StringType)))
    val defs = spark.createDataFrame(
      java.util.Arrays.asList(Row("Unique", "orders", "o_orderkey")), schema)
    val cat = graft.generation.TestValidation.catalog(spark, dir)
    val p = plan(graft.generation.TestValidation.validate(defs, cat))
    assert(!p.contains("Exchange hashpartitioning"),
      "validation must not shuffle the definitions")
  }

  test("brute-force knn build broadcasts the tiny query side") {
    val p = plan(graft.pipeline.Similarity.buildBodies(spark, dir)("brute"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast join for the query set:\n${p.take(800)}")
  }

  test("ann probe bodies read only the materialized index relations") {
    // Every method body (and the recall harness) must compose over the
    // checkpointed base/seeds/centroids views — a parquet re-scan means
    // the index build leaked back into the per-query path.
    graft.pipeline.Similarity.buildBodies(spark, dir).foreach { case (m, df) =>
      val scans = "FileScan parquet".r.findAllIn(plan(df)).length
      assert(scans == 0, s"method $m re-scans parquet ($scans scans)")
    }
    val pr = plan(graft.pipeline.Similarity.runRecall(spark, dir))
    val scans = "FileScan parquet".r.findAllIn(pr).length
    assert(scans == 0, s"recall harness re-scans parquet ($scans scans)")
  }

  test("drill-down lookups prune to the referenced columns") {
    val p = plan(graft.lookup.DrillDown.runDuplicates(spark, dir))
    // ReadSchema must contain only the grouped column
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("o_custkey"))
    assert(!read.contains("o_totalprice") && !read.contains("o_orderpriority"),
      s"lookup read too many columns: $read")
  }

  test("batch daily volume is a two-phase partial aggregate") {
    val events = graft.core.Tables.load(spark, dir, "events")
    val p = plan(StreamMonitors.dailyVolume(events))
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
    // partial then final: two aggregate operators around one exchange
    val aggs = "HashAggregate".r.findAllIn(p).length +
      "SortAggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregation:\n${p.take(600)}")
  }

  test("minhash verification joins shingles only through LSH candidates") {
    // The quadratic shape banding exists to avoid is a shingle-only
    // equi-self-join (shf a JOIN shf b ON a.shingle = b.shingle). In the
    // candidate-restricted verification every shingle join also carries a
    // doc-id equi-key, so no Join in the optimized plan may have `shingle`
    // as its ONLY equi-join key.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.pipeline.Dedup.runMinhash(spark, dir)
    val perJoinKeys = df.queryExecution.optimizedPlan.collect {
      case j: Join =>
        j.condition.toSeq.flatMap(_.collect {
          case org.apache.spark.sql.catalyst.expressions.EqualTo(l, r) =>
            (l.references ++ r.references).map(_.name).toSet
        }).foldLeft(Set.empty[String])(_ ++ _)
    }
    assert(!perJoinKeys.exists(_ == Set("shingle")),
      s"minhash plan contains an unrestricted shingle-only self-join: $perJoinKeys")
  }

  test("fused multi-branch queries scan each raw table at most once") {
    // The r3 regression class: a shared CTE (e.g. the table-type relation)
    // re-inlined into every branch re-scans the raw run-history tables
    // k× (28 scans of each table were observed). The fix pre-materializes
    // shared relations into local views, so the final plans must contain
    // AT MOST ONE FileScan of any raw parquet table — this test is the
    // tripwire for any reintroduced k×-rescan.
    val checks = Seq(
      "test_generation" -> graft.generation.TestGenerator.run(spark, dir),
      "hygiene_screens" -> graft.inference.HygieneScreens.run(spark, dir),
      "dq_scores_weighted" -> graft.scoring.Scoring.runScoreCard(spark, dir),
      "score_card_columns" -> graft.scoring.Scoring.runScoreCardColumns(spark, dir),
      "score_card_issues" -> graft.scoring.Scoring.runScoreCardIssues(spark, dir))
    for ((name, df) <- checks; t <- graft.core.Tables.names) {
      val p = plan(df)
      val scans = s"$t\\.parquet".r.findAllIn(p).length
      assert(scans <= 1,
        s"$name scans raw table $t $scans times — a shared relation " +
          "is being recomputed per branch")
    }
  }

  test("timeframe family scans the table at most twice") {
    // One column-pruned boundary scan + one data scan — the fused
    // conditional-aggregation shape. The pre-r6 EXCEPT form scanned
    // lineitem 4-6× per query (each branch + each scalar subquery).
    val checks = Seq(
      "query_timeframe_combo_match" ->
        graft.querytests.QueryTests.run(spark, dir, "timeframe_combo_match"),
      "query_timeframe_combo_gain" ->
        graft.querytests.QueryTests.run(spark, dir, "timeframe_combo_gain"))
    for ((name, df) <- checks) {
      val p = plan(df)
      val scans = "lineitem\\.parquet".r.findAllIn(p).length
      assert(scans <= 2, s"$name scans lineitem $scans times (expected <= 2)")
    }
  }

  test("winnowing candidates join only on fingerprints, never all-pairs") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.pipeline.Dedup.runWinnow(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "winnowing plan contains a cartesian product")
    // every join over the fingerprint relation carries an equi-key
    val hasEqui = df.queryExecution.optimizedPlan.collect {
      case j: Join => j.condition.isDefined
    }
    assert(hasEqui.nonEmpty && hasEqui.forall(identity),
      "winnowing has a join without a condition")
  }

  test("fuzzy chunk dedup joins only on fingerprints from the chunk-fps checkpoint") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.pipeline.Dedup.runFuzzyChunks(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "fuzzy chunk dedup plans a cartesian product")
    val hasEqui = df.queryExecution.optimizedPlan.collect {
      case j: Join => j.condition.isDefined
    }
    assert(hasEqui.nonEmpty && hasEqui.forall(identity),
      "fuzzy chunk dedup has a join without a condition")
    // the pair body must read the landed chunk fingerprints, never
    // re-derive them from parquet
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"fuzzy chunk body re-scans parquet ($scans scans)")
  }

  test("incremental dedup joins only on hashes/fingerprints, batch side fresh") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.pipeline.Dedup.runIncremental(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      "incremental dedup plans a cartesian product")
    val hasEqui = df.queryExecution.optimizedPlan.collect {
      case j: Join => j.condition.isDefined
    }
    assert(hasEqui.nonEmpty && hasEqui.forall(identity),
      "incremental dedup has a join without a condition")
    // the near path reads the LANDED fingerprint checkpoint; the only
    // parquet scans are the exact path's two pruned md5 sides
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"incremental dedup scans parquet $scans times (expected <= 2)")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!read.contains("lang") && !read.contains("source"),
      s"exact path read more than doc_id/text: $read")
  }

  test("sampled profile materializes the sample once, jobs read the checkpoint") {
    graft.profiling.SampledProfiler.run(spark, dir).count()
    val p = plan(spark.table(
      graft.profiling.SampledProfiler.sampledView(spark, dir)))
    assert(!p.contains("FileScan"),
      "downstream jobs still re-derive the sample from the raw scan")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"sampled view is not a materialized checkpoint:\n$p")
  }

  test("repetition and corpus rollup read the corpus once, grams from the checkpoint") {
    // the gram passes read the materialized token stream, not the corpus
    val rep = plan(graft.pipeline.Repetition.run(spark, dir))
    assert(!rep.contains("FileScan"),
      s"repetition re-derives grams from a raw scan:\n$rep")
    // the rollup's only corpus scan is the text-analysis passthrough
    val cs = plan(graft.pipeline.CorpusStats.run(spark, dir))
    val csScans = cs.linesIterator.count(_.contains("FileScan"))
    assert(csScans == 1, s"expected 1 corpus scan in corpus_stats, got $csScans")
  }

  test("pii scrub and stratified sampling stay single-scan, rates broadcast") {
    val pii = plan(graft.pipeline.PiiScrub.run(spark, dir))
    assert(pii.linesIterator.count(_.contains("FileScan")) == 1)
    val ss = plan(graft.pipeline.StratifiedSample.run(spark, dir))
    assert(ss.linesIterator.count(_.contains("FileScan")) == 1)
    assert(ss.contains("BroadcastHashJoin"),
      s"rates relation is not broadcast:\n$ss")
  }

  test("masked lookup reads the pii flag relation exactly once") {
    val df = graft.lookup.DrillDown.runMasked(spark, dir)
    val p = plan(df)
    val piiScans = p.linesIterator
      .count(l => l.contains("FileScan") && l.contains("pii_flags"))
    assert(piiScans == 1,
      s"expected exactly 1 pii_flags scan, got $piiScans")
  }

  test("LSH embedding dedup pair join is a bucket equi-join, never all-pairs") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.pipeline.Dedup.runEmbeddingLsh(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH embedding dedup plan degenerated to an all-pairs join")
    val hasEqui = df.queryExecution.optimizedPlan.collect {
      case j: Join => j.condition.exists(_.toString.contains("bucket"))
    }
    assert(hasEqui.nonEmpty && hasEqui.forall(identity),
      "pair join does not carry the bucket equi-key")
  }

  test("duplicate-cluster edges are equi-joins only — no cartesian") {
    val p = plan(graft.pipeline.Dedup.clusterEdges(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cluster edge relation degenerated to an all-pairs join")
  }

  test("boilerplate body never re-scans parquet (trigram rel materialized once)") {
    // run() checkpoints the trigram relation, so the scoring body's plan
    // must contain ZERO parquet scans — a regression to inline CTEs
    // would show the corpus scan twice here
    val p = plan(graft.pipeline.Boilerplate.run(spark, dir))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"expected 0 parquet scans after materialization, got $scans")
  }

  test("sequence packing windows per shard, never a single global partition") {
    val p = plan(graft.pipeline.Packer.run(spark, dir))
    // the cumsum window must keep the shard hash-partitioning; an
    // unpartitioned Window would serialize the whole corpus through one
    // task. The only single-partition exchange allowed in the plan is
    // the scalar COUNT(*) that derives the shard count (1 row).
    assert(p.contains("windowspecdefinition(shard"),
      s"pack window is not partitioned by shard:\n${p.take(600)}")
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles <= 1,
      s"pack plan has $singles single-partition exchanges — row data is being serialized through one task")
  }

  test("persisted ann index prunes bucket probes at the partition level") {
    val out = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    try {
      graft.pipeline.Similarity.writeIndex(spark, dir, out)
      val df = graft.pipeline.Similarity.readBucket(spark, out, 3)
      val p = plan(df)
      val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(pf.contains("bucket"),
        s"bucket probe is not partition-pruned:\n${p.take(800)}")
      // pruned read returns exactly the bucket's rows
      val expected = spark.table(graft.pipeline.Similarity.annBaseView(spark, dir))
        .where("bucket = 3").count()
      assert(df.count() == expected,
        s"pruned probe returned ${df.count()} rows, expected $expected")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("seeded ivf build broadcasts the centroid seeds") {
    val p = plan(graft.pipeline.Similarity.buildBodies(spark, dir)("ivf_seeded"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast seed joins:\n${p.take(600)}")
  }

  test("exact dedup groups once and reads only doc_id and text") {
    val df = graft.pipeline.Dedup.runExact(spark, dir)
    val p = plan(df)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text"))
    assert(!read.contains("lang") && !read.contains("source"),
      s"dedup_exact read too many columns: $read")
  }

  test("quality classifier runs in one scan with zero shuffles") {
    // the whole score folds inside the row (HOF aggregate over split);
    // an Exchange in this plan means the token stream got row-ified
    val p = plan(graft.pipeline.QualityClassifier.run(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"classifier plan shuffles:\n${p.take(800)}")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 corpus scan, got $scans")
  }

  test("semantic dedup pair join is seed-blocked, never a cartesian") {
    val p = plan(graft.pipeline.Similarity.runSemantic(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup fell back to an unblocked pair join:\n${p.take(800)}")
    assert(p.contains("seed_id"), "pair join lost the seed blocking key")
  }

  test("containment and lsh-recall read the memoized intersection, no parquet re-scan") {
    graft.pipeline.Dedup.runJaccard(spark, dir).count() // land the rels
    val pc = plan(graft.pipeline.Dedup.runContainment(spark, dir))
    val pr = plan(graft.pipeline.Dedup.runLshRecall(spark, dir))
    Seq("containment" -> pc, "lsh_recall" -> pr).foreach { case (n, p) =>
      assert(!p.contains("FileScan parquet"),
        s"$n re-scanned parquet instead of the checkpointed relations")
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian")
    }
  }

  test("threshold sweep reads the landed candidate relation, no re-derivation") {
    graft.pipeline.Dedup.runMinhash(spark, dir).count() // land the rels
    val p = plan(graft.pipeline.Dedup.runThresholdSweep(spark, dir))
    assert(!p.contains("FileScan parquet"),
      "sweep re-scanned parquet instead of the landed candidate relation")
    assert(!p.contains("CartesianProduct") ||
      // the 5-row threshold relation legitimately cross-joins
      "CartesianProduct".r.findAllIn(p).length <= 2,
      "sweep plans an unexpected cartesian beyond the 5-row threshold join")
  }

  test("dsir joins the B-row count tables broadcast, never a cartesian") {
    val p = plan(graft.pipeline.Selection.runDsir(spark, dir))
    assert(!p.contains("CartesianProduct"), "dsir plans a cartesian")
    // the feature-count side relations are bounded at Buckets rows by
    // construction — the scored computation must join them broadcast
    val scoredPlan = plan(spark.sql(graft.pipeline.Selection
      .dsirScoredSql(graft.core.Tables.view(spark, dir, "documents"))(graft.oracle.SparkDialect)))
    assert(scoredPlan.contains("BroadcastHashJoin"),
      s"expected broadcast joins against the count tables:\n${scoredPlan.take(600)}")
    // selection is cutoff-based: the final plan must carry NO window —
    // the old global ROW_NUMBER was a single-partition sort of one row
    // per corpus document
    assert(!p.contains("Window"),
      "dsir final plan ranks through a window again")
    // the landed scored relation comes back as a checkpoint scan, and
    // the cutoff election over it must plan TakeOrderedAndProject
    // (per-partition top-K + driver merge), never a global sort
    val cutPlan = plan(spark.sql(
      s"""SELECT dsir_score, doc_id FROM ${graft.pipeline.Selection.scoredView(spark, dir)}
         | ORDER BY dsir_score DESC, doc_id LIMIT 100""".stripMargin))
    assert(cutPlan.contains("TakeOrderedAndProject"),
      s"cutoff election is not a top-K:\n${cutPlan.take(600)}")
  }

  test("token-budget selection windows only the crossing bucket slice") {
    val p = plan(graft.pipeline.Selection.runBudget(spark, dir))
    // exactly one window — the exact cumsum over the ~1/K corpus slice;
    // a second window would mean the full relation is being ranked
    val wins = "Window".r.findAllIn(p).length
    assert(wins == 1, s"expected 1 Window, got $wins")
    // the window's input is the bucket-filtered slice: in the top-down
    // plan printout the Filter (carrying the FLOOR bucket expression)
    // sits below the Window node
    val winAt = p.indexOf("Window")
    val filterAfter = p.indexOf("Filter", winAt)
    assert(filterAfter > winAt, "no Filter beneath the slice Window")
    assert(p.indexOf("FLOOR", winAt) > 0,
      "slice filter lost the bucket expression")
    assert(!p.contains("CartesianProduct"))
  }

  test("phash image dedup joins banded candidates — never all-pairs") {
    val p = plan(graft.pipeline.Multimodal.runPhashDedup(spark, dir))
    assert(!p.contains("CartesianProduct"), "phash dedup plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "phash dedup degenerated to a nested loop")
    // the landed (id, phash) relation is scanned, never the corpus text
    assert(!p.contains("FileScan parquet"),
      "phash dedup re-scanned parquet instead of the landed hash relation")
  }

  test("audio dedup joins banded candidates — never all-pairs") {
    val p = plan(graft.pipeline.Multimodal.runAudioDedup(spark, dir))
    assert(!p.contains("CartesianProduct"), "audio dedup plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "audio dedup degenerated to a nested loop")
    assert(!p.contains("FileScan parquet"),
      "audio dedup re-scanned parquet instead of the landed hash relation")
  }

  test("video dedup joins frame-aligned full-hash candidates — never all-pairs") {
    val p = plan(graft.pipeline.Multimodal.runVideoDedup(spark, dir))
    assert(!p.contains("CartesianProduct"), "video dedup plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "video dedup degenerated to a nested loop")
    assert(!p.contains("FileScan parquet"),
      "video dedup re-scanned parquet instead of the landed frame-hash relation")
    val ps = plan(graft.pipeline.Multimodal.runVideoFrameSample(spark, dir))
    assert(!ps.contains("FileScan parquet"),
      "frame-sample re-scanned parquet instead of the landed frame-hash relation")
  }

  test("gram statistics accumulate in one scan with no joins") {
    val p = plan(graft.pipeline.EmbeddingAlgebra.runGram(spark, dir))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"gram must read embeddings exactly once, got $scans scans")
    assert(!p.contains("Join"), "gram statistics must never join — partials only")
  }

  test("standardization broadcasts the D stats — one scan, no joins") {
    val p = plan(graft.pipeline.EmbeddingAlgebra.runStandardized(spark, dir))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"standardization must read embeddings exactly once, got $scans")
    assert(!p.contains("Join"), "standardization must never join — stats are broadcast")
  }

  test("jl projection is a single shuffle-free scan (sort excepted)") {
    val p = plan(graft.pipeline.EmbeddingAlgebra.runJlProjection(spark, dir))
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"jl projection must read embeddings exactly once, got $scans")
    assert(!p.contains("Join"), "jl projection must never join")
    assert(!p.contains("Exchange hashpartitioning"),
      "jl projection must not hash-shuffle — per-row map work only")
  }

  test("curation ledger joins landed relations — no recompute, no cartesian") {
    val p = plan(graft.pipeline.Selection.runLedger(spark, dir))
    assert(!p.contains("CartesianProduct"), "ledger plans a cartesian")
    // the corpus text is scanned once (token counts); cluster labels,
    // gate decisions and decontamination hits come from checkpointed
    // relations, never re-derived
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"ledger re-derives a landed input: $scans scans")
  }

  test("substring screen censuses grams by groupBy — no doc-to-doc join") {
    val p = plan(graft.pipeline.Selection.runSubstringDup(spark, dir))
    assert(!p.contains("CartesianProduct"), "substring screen plans a cartesian")
    // the census is an aggregate over gram hashes, joined back per-gram:
    // a SortMergeJoin keyed on the doc id pair would be the quadratic
    // dedup shape leaking in
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      "expected the gram census aggregate")
  }

  test("cluster sample and lloyd refinement read the landed index base") {
    val ps = plan(graft.pipeline.Similarity.runClusterSample(spark, dir))
    assert(!ps.contains("FileScan parquet"),
      "cluster sample re-scanned parquet instead of the landed assignment")
    // the ledger reads the landed K²-bounded transition relation —
    // re-deriving the corpus pass per rollup (CTE inlining) would show
    // up as parquet scans here
    val pk = plan(graft.pipeline.Similarity.runKmeansRefine(spark, dir))
    val scans = "FileScan parquet".r.findAllIn(pk).length
    assert(scans == 0, s"lloyd ledger re-scans parquet $scans times")
    assert(!pk.contains("CartesianProduct"), "lloyd ledger plans a cartesian")
  }

  test("as-of join plans join-free: one union, one hash partition, windows") {
    val p = plan(graft.operators.AsofJoin.run(spark, dir))
    // the whole point of the union+window form: no join operator at
    // all — the naive equi-key + ts-range spelling re-materializes
    // every historical version per probe row
    assert(!p.contains("Join"), s"as-of planned a join:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
    // two hash exchanges: the per-(key, ts) tie-dedupe window on the
    // orders side, then the single as-of window partition on the key —
    // never a per-probe-row expansion
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"as-of shuffles $exchanges times, expected <= 2")
  }

  test("range join plans as a bucket equi-join, never a nested loop") {
    val p = plan(graft.operators.RangeJoin.run(spark, dir))
    // the naive pure-inequality spelling plans BroadcastNestedLoopJoin —
    // quadratic compares; the two-bucket expansion must keep this an
    // equi-join on the bucket key
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to a nested loop:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("ngram novelty rollups read the landed gram relation only") {
    val p = plan(graft.pipeline.NgramNovelty.run(spark, dir))
    // three rollups over a once-landed census: CTE inlining would show
    // up here as repeated word-explode scans and window passes
    assert(!p.contains("FileScan parquet"),
      "novelty rollups re-derive the gram census from parquet")
    assert(!p.contains("Window"), "novelty rollups re-run the gram windows")
  }

  test("incremental profile scans text only for the affected partials") {
    val p = plan(graft.pipeline.IncrementalProfile.run(spark, dir))
    // 2 prior-corpus derivations (the fixture unions two selects) + 1
    // current-corpus pass for the added/changed side; everything else is
    // landed metadata — more scans means a rollup re-derived a corpus
    val scans = "documents.parquet".r.findAllIn(p).length
    assert(scans <= 4, s"incremental profile scans the corpus $scans times")
  }

  test("interval-overlap join buckets to an equi-join — never a nested loop") {
    val p = plan(graft.operators.IntervalJoin.run(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the two-sided bucket expansion must plan an equi-join")
    assert(p.contains("hashpartitioning(b#") || p.contains("BroadcastHashJoin"),
      s"expected the bucket-keyed join:\n${p.take(500)}")
  }

  test("interval-overlap join claims each pair in exactly one bucket") {
    val spark2 = spark
    import spark2.implicits._
    val rows = graft.operators.IntervalJoin.run(spark, dir)
      .select("promo_id", "burst_id", "overlap_sec")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty, "the fixture should produce overlapping windows")
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length,
      "a pair spanning two shared buckets was double-counted")
    rows.foreach { r =>
      assert(r._3 > 0 && r._3 <= 600, s"overlap ${r._3}s outside (0, 600]")
    }
    // exact durations against a driver-side recompute of both interval sets
    val evs = graft.core.Tables.load(spark, dir, "events")
      .selectExpr("event_id", "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
      .as[(Long, String, Long)].collect()
    val w = graft.operators.IntervalJoin.BucketUs
    val pa = evs.collect { case (id, "signup", us) => id -> (us, us + w) }.toMap
    val pb = evs.collect { case (id, "purchase", us) =>
      id -> (us - w / 2, us + w / 2) }.toMap
    val expect = for {
      (aid, (as, ae)) <- pa.toSeq; (bid, (bs, be)) <- pb.toSeq
      if as < be && bs < ae
    } yield (aid, bid, (math.min(ae, be) - math.max(as, bs)) / 1000000)
    assert(rows.toSet == expect.toSet, "overlap relation drifted from naive")
  }

  test("interval-overlap property: random interval sets match the naive join") {
    val spark2 = spark
    import spark2.implicits._
    val w = 1000L // small bucket so multi-bucket and boundary cases are dense
    val rnd = new scala.util.Random(421)
    (1 to 3).foreach { round =>
      // lengths 1..w (never exceeding the bucket), starts cluster so
      // overlaps, exact-touch (s == other.e), and shared-bucket pairs
      // all occur
      def mk(n: Int) = (1 to n).map { i =>
        val s = rnd.nextInt(40) * 250L + rnd.nextInt(8)
        (i.toLong, s, s + 1 + rnd.nextInt(w.toInt))
      }
      val pa = mk(60); val pb = mk(60)
      pa.toDF("promo_id", "s", "e").createOrReplaceTempView("__ivp_a")
      pb.toDF("burst_id", "s", "e").createOrReplaceTempView("__ivp_b")
      val got = spark.sql(graft.operators.IntervalJoin
          .overlapSparkSql("__ivp_a", "__ivp_b", w))
        .as[(Long, Long, Long)].collect().toSeq
      val expect = for {
        (aid, as, ae) <- pa; (bid, bs, be) <- pb
        if as < be && bs < ae
      } yield (aid, bid, (math.min(ae, be) - math.max(as, bs)) / 1000000)
      assert(got.sorted == expect.sorted,
        s"round $round: bucketized relation != naive (${got.length} vs ${expect.length})")
      assert(got.map(r => (r._1, r._2)).distinct.length == got.length,
        s"round $round: duplicate pair claimed by two buckets")
    }
  }

  test("cheap-aggregate and shuffle-first consumers skip the load rebalance") {
    // These entries either map-side-combine straight off the scan (the
    // partial aggregate collapses rows before any exchange) or re-key
    // every row at their first window/groupBy anyway — in both shapes
    // the load-time rebalance (Exchange RoundRobinPartitioning) would
    // be a full shuffle of raw rows the plan never needs. The guard
    // fires on this fixture's single-row-group files, so a regression
    // that re-enables it shows up here as a roundrobin exchange.
    val entries = Seq("skew_report", "drift_ks", "drift_psi", "drift_chisq",
      "profile_benford", "event_sessions", "event_funnel", "event_retention",
      "event_pattern", "event_rate_anomaly", "lookup_rate_anomaly",
      "event_attribution", "event_attribution_multitouch",
      "event_changepoint")
    entries.foreach { n =>
      val p = plan(SparkEntry.queries(n)(spark, dir))
      assert(!p.contains("RoundRobinPartitioning"),
        s"$n pays the load-time rebalance its first shuffle/aggregate makes redundant")
    }
  }
}
