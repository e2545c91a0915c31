package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming forms of the monitor family.
  *
  * The reference has no streaming runtime — its monitors are cron-driven
  * batch snapshots (reference: testgen/scheduler/,
  * testgen/commands/test_thresholds_prediction.py:83-137) — so the batch
  * monitors in [[Monitors]] are the faithful mapping. These operators are
  * the Spark-native CONTINUOUS form of the same signals for deployments
  * that tail an event stream instead of rerunning snapshots:
  *
  *  - [[dailyVolume]]: the Volume_Trend signal as a watermarked windowed
  *    aggregation (late data beyond the watermark is dropped, state is
  *    bounded — the properties that let this run forever at scale);
  *  - [[freshness]]: the Freshness_Trend fingerprint as a running
  *    per-series max (update mode);
  *  - [[gapAlerts]]: staleness detection as explicit keyed state with a
  *    processing-time timeout — the `flatMapGroupsWithState` form of the
  *    freshness-gap threshold check, emitting an alert when a series
  *    stops updating for longer than its threshold.
  *
  * All three work identically on a batch DataFrame (Spark's unified
  * model), which is how the spec exercises them against the batch
  * monitors' results.
  */
object StreamMonitors {

  /** Daily volume counts per series from a (streaming or batch) frame
    * with `ts` timestamp and `event_type` columns. Watermark bounds the
    * aggregation state; append output emits a day only once its window
    * can no longer receive late rows. */
  def dailyVolume(events: DataFrame, watermark: String = "2 days"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("ct"))
      .select(col("event_type").as("series"),
        col("w.start").cast("date").as("day"), col("ct"))
  }

  /** Streaming exact deduplication for a continuously-ingested corpus —
    * the streaming form of [[graft.pipeline.Dedup.exactSql]]: rows whose
    * content hash was already seen inside the watermark horizon are
    * dropped. `dropDuplicatesWithinWatermark` keeps per-hash state only
    * until the watermark passes it, so state is bounded however long the
    * stream runs — the property that makes dedup-on-ingest viable for a
    * training-data firehose (an unbounded `dropDuplicates` would
    * accumulate one state row per distinct document forever). Works
    * identically on a batch frame (plain dropDuplicates). */
  def dedupExact(docs: DataFrame, tsCol: String = "ts",
                 watermark: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("content_hash", md5(col("text")))
    if (hashed.isStreaming)
      hashed.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark("content_hash")
    else hashed.dropDuplicates("content_hash")
  }

  /** Freshness fingerprint per series: running max event id/timestamp,
    * hashed exactly like the batch Freshness_Trend signal
    * (test_types_Freshness_Trend.yaml MD5({CUSTOM_QUERY})). Update-mode
    * sink sees a new fingerprint whenever new data arrives. */
  def freshness(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type").as("series"))
      .agg(max("event_id").as("max_id"), max("ts").as("latest_update"))
      .withColumn("fingerprint",
        md5(concat_ws("|", col("max_id"), date_format(col("latest_update"),
          "yyyy-MM-dd HH:mm:ss"))))

  final case class SeriesEvent(series: String, eventTs: java.sql.Timestamp)
  final case class GapState(lastTs: Long)
  final case class GapAlert(series: String, last_seen: java.sql.Timestamp,
                            gap_minutes: Long, stale: Boolean)

  /** Keyed staleness detection: remembers each series' latest event time
    * in explicit state and emits the event-time gap each time a series
    * advances, flagged stale when it exceeds the threshold. This is the
    * reference's freshness-gap threshold (freshness_service.py gap
    * model) recast as flatMapGroupsWithState — state per series is one
    * long, so millions of monitored series fit trivially. (A
    * processing-time timeout could additionally alert on silent series,
    * but its timeout-driven empty triggers busy-loop a test harness, so
    * staleness here is evaluated on arrival, like the reference's
    * snapshot checks.) */
  def gapAlerts(events: Dataset[SeriesEvent],
                thresholdMinutes: Long): Dataset[GapAlert] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.series)
      .flatMapGroupsWithState[GapState, GapAlert](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (series: String, rows: Iterator[SeriesEvent], state: GroupState[GapState]) =>
          val incoming = rows.map(_.eventTs.getTime).toSeq
          if (incoming.isEmpty) Iterator.empty
          else {
            val newMax = incoming.max
            val prev = state.getOption.map(_.lastTs)
            state.update(GapState(math.max(newMax, prev.getOrElse(newMax))))
            val gapMin = prev.map(p => math.max(0L, (newMax - p) / 60000L)).getOrElse(0L)
            Iterator.single(GapAlert(series, new java.sql.Timestamp(newMax),
              gapMin, stale = gapMin > thresholdMinutes))
          }
      }
  }

  final case class AdaptiveState(timesSec: Seq[Long])
  final case class AdaptiveAlert(series: String,
                                 last_seen: java.sql.Timestamp,
                                 gap_minutes: Double,
                                 threshold_minutes: Option[Double],
                                 stage: String, stale: Boolean)

  /** Adaptive staleness detection: each series' keyed state holds its
    * recent update times (bounded to the reference's sliding window,
    * [[Freshness.MaxFreshnessGaps]] + 1 epoch-seconds — millions of
    * series fit trivially) and LEARNS its own threshold with the full
    * ported gap model: percentile-of-gaps × floor multiplier in
    * business minutes, holidays resolved through [[HolidayCalendar]].
    * Until enough completed gaps accumulate the series reports stage
    * "training" with no threshold — the reference's training → active
    * lifecycle (freshness_service.py:39-120) recast as
    * flatMapGroupsWithState. Works identically on batch frames. */
  def adaptiveGapAlerts(events: Dataset[SeriesEvent],
                        sensitivity: String = "medium",
                        excludeWeekends: Boolean = false,
                        holidayCodes: Seq[String] = Seq("US")): Dataset[AdaptiveAlert] = {
    import events.sparkSession.implicits._
    val sens = sensitivity
    val codes = holidayCodes
    val wkend = excludeWeekends
    events
      .groupByKey(_.series)
      .flatMapGroupsWithState[AdaptiveState, AdaptiveAlert](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (series: String, rows: Iterator[SeriesEvent], state: GroupState[AdaptiveState]) =>
          val incoming = rows.map(_.eventTs.getTime / 1000L).toSeq
          if (incoming.isEmpty) Iterator.empty
          else {
            val prior = state.getOption.map(_.timesSec).getOrElse(Seq.empty)
            val all = (prior ++ incoming).distinct.sorted
              .takeRight(Freshness.MaxFreshnessGaps + 1)
            state.update(AdaptiveState(all))
            val newest = all.last
            def r4(x: Double) = math.rint(x * 10000) / 10000
            val gapMin = prior.lastOption
              .map(p => math.max(0.0, (newest - p) / 60.0)).getOrElse(0.0)
            // threshold learned from the history BEFORE this arrival —
            // the arriving gap must not raise its own threshold (the
            // reference checks current staleness against thresholds
            // derived from prior history)
            val holidays = HolidayCalendar.dates(codes, HolidayCalendar.yearsOf(all))
            val thr =
              try Some(Freshness.gapThreshold(prior, sens,
                excludeWeekends = wkend, holidays = holidays))
              catch { case _: Freshness.NotEnoughData => None }
            Iterator.single(AdaptiveAlert(
              series, new java.sql.Timestamp(newest * 1000L),
              r4(gapMin), thr.map(t => r4(t.upper)),
              if (thr.isEmpty) "training" else "active",
              thr.exists(t => gapMin > t.upper)))
          }
      }
  }

  /** Stateless per-document quality gate on an ingest stream: the SAME
    * TextAnalysis projection the oracle-checked `text_analysis` batch
    * entry runs, applied to a streaming (doc_id, text) frame — pure
    * per-row expressions, so the stream needs no watermark or state
    * and emits one metrics row per arriving document. */
  def textQuality(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.core.Materialize.sql(docs.sparkSession, docs) { case Seq(v) =>
      graft.pipeline.TextAnalysis.sql(v, ordered = false)(graft.oracle.SparkDialect)
    }
  }

  /** Filter-on-ingest: the streaming form of the composite quality gate
    * for a continuously-ingested corpus — every arriving (doc_id, text)
    * row gets keep/drop flags, statelessly:
    *
    *  - token band and quality score: the same TextAnalysis expressions
    *    the oracle-checked batch `quality_gate` thresholds;
    *  - `contaminated`: decontamination AT ingest — the native
    *    [[graft.functions.WinnowFpsExpr]] fingerprints the arriving doc
    *    row-locally and `arrays_overlap` tests it against the BROADCAST
    *    eval-set fingerprints (eval sets are benchmark-sized, so the
    *    set ships as a literal to every executor; no join, no state).
    *
    * Cross-doc rules that need global state follow downstream: chain
    * [[dedupExact]] for watermark-bounded dedup-on-ingest; boilerplate
    * and cluster survivorship remain batch recompactions by design.
    * StreamMonitorsSpec replays the fixture corpus and asserts the
    * flags match the batch relations row-for-row. */
  def ingestGate(docs: org.apache.spark.sql.DataFrame, evalFps: Array[Long],
                 minTokens: Int = 10, maxTokens: Int = 10000,
                 minQuality: Double = 0.15): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{arrays_overlap, coalesce, col, expr, lit, typedLit, when}
    val spark = docs.sparkSession
    graft.functions.WinnowFpsExpr.register(spark)
    val metrics = graft.core.Materialize.sql(spark, docs) { case Seq(v) =>
      graft.pipeline.TextAnalysis.sql(v, extraCols = Seq("text"), ordered = false)(
        graft.oracle.SparkDialect)
    }
    // COALESCE to 0 mirrors the batch gate: a null-text doc IS too short
    val flagged = metrics
      .withColumn("too_short",
        when(coalesce(col("ws_token_ct"), lit(0L)) < minTokens, 1)
          .otherwise(0).cast("int"))
      .withColumn("too_long",
        when(coalesce(col("ws_token_ct"), lit(0L)) > maxTokens, 1)
          .otherwise(0).cast("int"))
      .withColumn("low_quality",
        when(coalesce(col("quality_score"), lit(0.0)) < minQuality, 1)
          .otherwise(0).cast("int"))
      .withColumn("contaminated",
        when(arrays_overlap(expr("graft_winnow_fps(text)"),
          typedLit(evalFps.toSeq)), 1).otherwise(0).cast("int"))
    flagged
      .withColumn("keep",
        when(col("too_short") + col("too_long") + col("low_quality")
          + col("contaminated") === 0, 1).otherwise(0).cast("int"))
      .select("doc_id", "ws_token_ct", "quality_score", "fingerprint",
        "too_short", "too_long", "low_quality", "contaminated", "keep")
  }

  /** Incremental-ingest NEAR-dup — the streaming form of the
    * `dedup_incremental` near path: every arriving (doc_id, text) row
    * fingerprints ROW-LOCALLY with the native
    * [[graft.functions.WinnowFpsExpr]], the fingerprints stream-static
    * equi-join the LANDED corpus fingerprint relation (hot-cutoff
    * bounded on the landed side, exactly as the batch body), and a
    * per-(batch, corpus) count aggregates shared fingerprints. At
    * 100 TB the landed side is a fingerprint-partitioned table the
    * stream joins shard-locally — never a broadcast of the corpus, and
    * never any doc-pair join. StreamMonitorsSpec replays the fixture
    * batch split and asserts the hit set equals the oracle-checked
    * `dedup_incremental` relation's near rows. */
  def ingestDedupIncremental(docs: org.apache.spark.sql.DataFrame,
                             landedFps: org.apache.spark.sql.DataFrame,
                             minShared: Int = 3, hotCutoff: Int = 50): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, expr}
    val spark = docs.sparkSession
    graft.functions.WinnowFpsExpr.register(spark)
    val hot = landedFps.groupBy("fp").count()
      .filter(col("count") <= hotCutoff).select("fp")
    val landf = landedFps.join(hot, "fp")
    val streamFps = docs.select(col("doc_id"),
      explode(expr("graft_winnow_fps(text)")).as("fp"))
    streamFps.join(landf, "fp")
      .select(col("doc_id").as("batch_id"), col("id").as("corpus_id"))
      .groupBy("batch_id", "corpus_id").count()
      .filter(col("count") >= minShared)
      .withColumnRenamed("count", "shared_fp_ct")
  }

  /** Streaming DSIR scoring at ingest — the production shape of
    * [[graft.pipeline.Selection.runDsir]]: the per-feature weight table
    * is FROZEN from the landed corpus (B entries — see
    * `Selection.dsirWeightMap`) and ships as a literal map, so every
    * arriving (doc_id, text) row scores ROW-LOCALLY with one
    * higher-order-function fold over its own words — no explode, no
    * shuffle, no state, stream-legal in append mode at any rate. The
    * word split, md5 feature hash and integer weight arithmetic mirror
    * the batch scorer expression for expression, so a replayed row's
    * score is BIT-IDENTICAL to the oracle-checked batch relation
    * (StreamMonitorsSpec). */
  final case class ProfileDoc(doc_id: Long, source: String, text: String)
  final case class ProfileState(doc_ct: Long, token_ct: Long, char_ct: Long)
  final case class ProfileTotals(source: String, doc_ct: Long,
                                 token_ct: Long, char_ct: Long,
                                 avg_chars: Double)

  /** Continuous corpus-profile maintenance — the streaming twin of
    * [[graft.pipeline.IncrementalProfile]]: per-source keyed state
    * holds the same additive sufficient stats (doc/token/char counts),
    * each micro-batch folds its documents in, and the updated totals
    * emit per batch. State is three longs per source — thousands of
    * sources fit trivially, however long the stream runs. Token
    * counting matches the batch `regexp_count('\\S+')` exactly
    * (whitespace-split non-empty segments), so a replayed corpus lands
    * totals BIT-IDENTICAL to the batch full recompute (replay spec).
    * Works identically on batch frames via the same fold. */
  def ingestProfileTotals(docs: Dataset[ProfileDoc]): Dataset[ProfileTotals] = {
    import docs.sparkSession.implicits._
    def tokens(text: String): Long =
      text.split("\\s+").count(_.nonEmpty).toLong
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[ProfileState, ProfileTotals](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[ProfileDoc], state: GroupState[ProfileState]) =>
          val prev = state.getOption.getOrElse(ProfileState(0L, 0L, 0L))
          val next = rows.foldLeft(prev) { (acc, d) =>
            ProfileState(acc.doc_ct + 1,
              acc.token_ct + tokens(d.text),
              // code points, not UTF-16 units — SQL LENGTH semantics
              acc.char_ct + d.text.codePointCount(0, d.text.length).toLong)
          }
          state.update(next)
          if (next.doc_ct == 0) Iterator.empty
          else Iterator.single(ProfileTotals(source, next.doc_ct,
            next.token_ct, next.char_ct,
            // same once-at-the-end rounding as the batch presentation
            math.rint(next.char_ct.toDouble / next.doc_ct * 1e4) / 1e4))
      }
  }

  final case class GramState(sxy: Long, sx: Long, sy: Long, n: Long)
  final case class GramCell(i: Int, j: Int, sxy: Long, sx: Long, sy: Long, n: Long)

  /** Continuous Gram/covariance maintenance — the streaming twin of
    * [[graft.pipeline.EmbeddingAlgebra.runGram]]: every micro-batch
    * folds its vectors through the SAME per-partition outer-product
    * accumulator ([[graft.pipeline.EmbeddingAlgebra.gramPartials]] —
    * one code path, so batch and stream quantize identically), then
    * keyed state per (i, j) cell adds the partials in. The sufficient
    * statistics are additive longs, so the running matrix after any
    * prefix of the stream is BIT-IDENTICAL to a batch recompute over
    * the same rows (replay spec) — the property that makes PCA/
    * whitening maintainable without ever rescanning the corpus. State
    * is 4 longs per cell — D(D+1)/2 cells (2 080 at D=64, ~300 k at
    * D=768) regardless of how long the stream runs. */
  def ingestGram(vecs: Dataset[graft.pipeline.EmbeddingAlgebra.VecRow]): Dataset[GramCell] = {
    import vecs.sparkSession.implicits._
    vecs.mapPartitions(graft.pipeline.EmbeddingAlgebra.gramPartials _)
      .groupByKey { case (i, j, _, _, _, _) => (i, j) }
      .flatMapGroupsWithState[GramState, GramCell](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: (Int, Int), rows: Iterator[(Int, Int, Long, Long, Long, Long)],
         state: GroupState[GramState]) =>
          val prev = state.getOption.getOrElse(GramState(0L, 0L, 0L, 0L))
          val next = rows.foldLeft(prev) { (a, c) =>
            GramState(a.sxy + c._3, a.sx + c._4, a.sy + c._5, a.n + c._6)
          }
          state.update(next)
          Iterator.single(GramCell(key._1, key._2, next.sxy, next.sx, next.sy, next.n))
      }
  }

  final case class HhCand(word: String, est: Long, epoch: Long)

  /** Streaming heavy-hitter sketch maintenance — the continuous twin of
    * [[graft.profiling.HeavyHitters]]' candidate pass. Each micro-batch
    * summarizes its token stream per partition with the same m-counter
    * Misra–Gries insert the batch pass uses, so ONLY sketch entries
    * shuffle (≤ m rows per task — never the token stream), and a single
    * keyed state folds them into the running global summary with the
    * mergeable-summaries merge (bounded at m keys forever). Every
    * trigger emits the current candidates with its state epoch, so the
    * highest-epoch emission is always a SUPERSET of the true ≥1/K-support
    * tokens of everything ingested so far (same pigeonhole as the batch
    * pass; the exact counting scan stays a batch job over the landed
    * corpus). Single-group state is deliberate: the merged summary IS
    * m entries, so the state task touches ≤ m·P sketch rows per trigger,
    * metadata-sized at any ingest rate. */
  def ingestHeavyHitters(docs: DataFrame): Dataset[HhCand] = {
    import docs.sparkSession.implicits._
    val m = graft.profiling.HeavyHitters.SummarySize
    val toks = docs
      .selectExpr("explode(filter(split(LOWER(text), '\\\\s+'), w -> w <> '')) AS word")
      .as[String]
    toks
      .mapPartitions(it => graft.profiling.HeavyHitters.partitionSketch(it, m))
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[(Map[String, Long], Long), HhCand](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[(String, Long)],
         state: GroupState[(Map[String, Long], Long)]) =>
          val (prev, prevEpoch) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          val epoch = prevEpoch + 1
          val next = graft.profiling.HeavyHitters.mergeInto(prev, rows, m)
          state.update((next, epoch))
          next.iterator.map { case (w, est) => HhCand(w, est, epoch) }
      }
  }

  final case class PrioMember(doc_id: Long, priority: String, epoch: Long)

  /** Streaming exact-k priority sample — the continuous twin of
    * [[graft.pipeline.PrioritySample]]: maintain the k lowest-priority
    * documents of everything ingested so far. Bottom-k is EXACTLY
    * mergeable, so each micro-batch reduces per partition to ≤ k
    * (priority, id) rows (the only rows that shuffle), and one keyed
    * state merges them — every trigger's emission is bit-identical to
    * the batch sample over the ingested prefix (replay-spec-pinned),
    * and state is k rows forever. The holdout/eval carve that stays
    * valid while the corpus streams in. */
  def ingestPrioritySample(docs: DataFrame, k: Int): Dataset[PrioMember] = {
    import docs.sparkSession.implicits._
    docs
      .selectExpr(
        "SUBSTRING(MD5('prio:' || CAST(doc_id AS STRING)), 1, 16) AS priority",
        "doc_id")
      .as[(String, Long)]
      .mapPartitions(it =>
        graft.pipeline.PrioritySample.bottomK(it, k).iterator)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[(Seq[(String, Long)], Long), PrioMember](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[(String, Long)],
         state: GroupState[(Seq[(String, Long)], Long)]) =>
          val (prev, prevEpoch) = state.getOption.getOrElse((Seq.empty, 0L))
          val epoch = prevEpoch + 1
          val next = graft.pipeline.PrioritySample
            .bottomK(prev.iterator ++ rows, k)
          state.update((next, epoch))
          next.iterator.map { case (p, id) => PrioMember(id, p, epoch) }
      }
  }

  def ingestDsirScore(docs: org.apache.spark.sql.DataFrame,
                      weights: Map[Long, Long]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, typedLit}
    val wmap = typedLit(weights)
    val words = "filter(split(LOWER(text), '\\\\s+'), w -> w <> '')"
    val f = s"(CAST(CONV(SUBSTRING(MD5('dsir:' || w), 1, 15), 16, 10) AS BIGINT) % ${graft.pipeline.Selection.Buckets})"
    docs
      .withColumn("__wmap", wmap)
      .withColumn("token_ct", expr(s"CAST(size($words) AS BIGINT)"))
      .withColumn("dsir_score",
        expr(s"aggregate($words, CAST(0 AS BIGINT), (acc, w) -> acc + coalesce(element_at(__wmap, $f), CAST(0 AS BIGINT)))"))
      .select(col("doc_id"), col("token_ct"), col("dsir_score"))
  }

  /** Streaming perplexity gate at ingest — the production shape of
    * [[graft.pipeline.Perplexity.run]]: the add-one-smoothed bigram
    * model is FROZEN from the landed reference slice
    * ([[graft.pipeline.Perplexity.frozenModel]] — bounded by the
    * reference slice's bigram vocabulary) and ships as literal maps,
    * so every arriving (doc_id, text) row scores ROW-LOCALLY: one
    * vocabulary mapping pass over its own words, one indexed fold for
    * the bigram terms — no explode, no join, no shuffle, no state,
    * stream-legal in append mode at any ingest rate. The word split,
    * `<s>`/`<unk>` handling and micro-nat quantization mirror the
    * batch scorer expression for expression, so a replayed row's
    * (n_tokens, oov_ct, lp_micro, ppl) is BIT-IDENTICAL to the
    * oracle-checked batch relation (StreamMonitorsSpec). `admitted`
    * applies the gate threshold (the batch path's tercile split is a
    * corpus-relative rank — a stream admits against a frozen cutoff,
    * CCNet's deployment mode). Zero-token docs emit NULL ppl and are
    * admitted (nothing to judge). */
  def ingestPerplexityScore(docs: org.apache.spark.sql.DataFrame,
                            bigrams: Map[String, Long],
                            ctx: Map[String, Long],
                            v: Long,
                            pplCutoff: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, typedLit}
    val vocab = bigrams.keysIterator
      .map(k => k.substring(k.indexOf(' ') + 1) -> 1L).toMap
    val words = "filter(split(LOWER(text), '\\\\s+'), w -> w <> '')"
    docs
      .withColumn("__b", typedLit(bigrams))
      .withColumn("__c", typedLit(ctx))
      .withColumn("__v", typedLit(vocab))
      .withColumn("__ws", expr(
        s"transform($words, w -> CASE WHEN element_at(__v, w) IS NOT NULL THEN w ELSE '<unk>' END)"))
      .withColumn("n_tokens", expr("CAST(size(__ws) AS BIGINT)"))
      .withColumn("oov_ct", expr(
        "CAST(size(filter(__ws, w -> w = '<unk>')) AS BIGINT)"))
      .withColumn("lp_micro", expr(
        s"""CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) ELSE
           | aggregate(sequence(0, CAST(n_tokens AS INT) - 1), CAST(0 AS BIGINT), (acc, i) ->
           |  acc + CAST(ROUND(LN(
           |    CAST(coalesce(element_at(__b,
           |          (CASE WHEN i = 0 THEN '<s>' ELSE __ws[i - 1] END) || ' ' || __ws[i]),
           |        CAST(0 AS BIGINT)) + 1 AS DOUBLE)
           |    / (coalesce(element_at(__c,
           |          CASE WHEN i = 0 THEN '<s>' ELSE __ws[i - 1] END),
           |        CAST(0 AS BIGINT)) + $v)) * 1000000) AS BIGINT)) END""".stripMargin))
      .withColumn("ppl", expr(
        "CASE WHEN n_tokens = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE CAST(ROUND(EXP(-(CAST(lp_micro AS DOUBLE) / 1000000.0) / n_tokens), 4) AS DOUBLE) END"))
      .withColumn("admitted", expr(
        s"CAST(CASE WHEN ppl IS NULL OR ppl <= $pplCutoff THEN 1 ELSE 0 END AS INT)"))
      .select(col("doc_id"), col("n_tokens"), col("oov_ct"),
        col("lp_micro"), col("ppl"), col("admitted"))
  }

  /** Continuous distinct-vocabulary maintenance — the streaming twin of
    * [[graft.profiling.SketchStore]]: per source, fold every arriving
    * document's words into the HLL register state with the SAME
    * `hll_sketch_agg(word, lgK)` aggregate the batch store lands.
    * Sketch merge is register-wise max — associative, commutative,
    * idempotent — so state per source is one 2^lgK-register sketch
    * FOREVER (corpus-size-independent), micro-batch boundaries cannot
    * change the registers, and every emission's estimate is
    * BIT-IDENTICAL to the batch sketch of the ingested prefix
    * (replay-spec-pinned). Complete output mode: the aggregate is
    * |sources|-rows, so re-emitting the whole table per trigger is
    * metadata-sized. Word segmentation mirrors the batch `wordsRel`
    * (lowercase, whitespace split, empties dropped). */
  def ingestDistinctSketch(docs: DataFrame,
                           lgK: Int = graft.profiling.SketchStore.LgK): DataFrame =
    docs
      .select(col("source"),
        explode(expr("filter(split(LOWER(text), '\\\\s+'), w -> w <> '')")).as("word"))
      .groupBy("source")
      .agg(expr(s"hll_sketch_agg(word, $lgK)").as("sk"))
      .select(col("source"),
        expr("hll_sketch_estimate(sk)").as("distinct_words"))

  final case class CusumParams(refCt: Long, slack: Long, threshold: Long)
  final case class CusumState(openDays: Map[Int, Long], lastClosed: Int,
                              hi: Long, lo: Long)
  final case class CusumDay(event_type: String, epoch_day: Int, ct: Long,
                            cusum_hi: Long, cusum_lo: Long, alert: Boolean)

  /** Page's CUSUM test per event type — the DEPLOYMENT mode of the
    * batch [[Changepoint]] screen: the batch form locates a level
    * shift retrospectively (peak |cusum| against the period's own
    * mean); this one detects it AS IT HAPPENS against a FROZEN
    * reference rate (the landed history's mean — the
    * [[ingestPerplexityScore]] frozen-model discipline). Classic
    * two-sided Page: hi ← max(0, hi + dev − slack),
    * lo ← min(0, lo + dev + slack) with dev = day count − reference;
    * an alert fires when either side crosses the threshold and the
    * side resets — all integer, so replay is bit-exact.
    *
    * Day-closing mirrors [[graft.streaming.EventAnalytics]]'
    * streaming rate-anomaly state machine: a day CLOSES when a
    * strictly later day arrives for the same type (the last partial
    * day stays open, so partial counts never fire false alerts), and
    * closing walks EVERY calendar day up to that later day — days
    * with zero events close with ct = 0, so a multi-day outage drives
    * cusum_lo down by refCt + slack per silent day instead of being
    * skipped (an outage is the monitor's primary target);
    * batch-internal arrival order cannot matter because each trigger
    * first aggregates its rows per day and then closes days in
    * calendar order. Rows for already-closed days (late beyond the
    * open window) are dropped — the watermark semantics of the other
    * twins. State per type: the few open days + two cusum longs,
    * bounded forever. */
  def ingestCusum(events: DataFrame,
                  params: Map[String, CusumParams]): Dataset[CusumDay] = {
    import events.sparkSession.implicits._
    events
      .selectExpr("event_type", "UNIX_DATE(CAST(ts AS DATE)) AS d")
      .as[(String, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumDay](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (etype: String, rows: Iterator[(String, Int)],
         state: GroupState[CusumState]) =>
          val p = params.getOrElse(etype, CusumParams(0L, 0L, Long.MaxValue))
          val prev = state.getOption
            .getOrElse(CusumState(Map.empty, Int.MinValue, 0L, 0L))
          // fold the batch per day first — arrival order cannot matter
          val batchCounts = scala.collection.mutable.HashMap.empty[Int, Long]
          rows.foreach { case (_, d) =>
            if (d > prev.lastClosed)
              batchCounts(d) = batchCounts.getOrElse(d, 0L) + 1L
          }
          var open = prev.openDays
          batchCounts.foreach { case (d, c) =>
            open = open.updated(d, open.getOrElse(d, 0L) + c)
          }
          var (hi, lo) = (prev.hi, prev.lo)
          var lastClosed = prev.lastClosed
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumDay]
          if (open.nonEmpty) {
            val maxDay = open.keys.max
            // Close EVERY calendar day strictly before the newest open
            // day — including days with ZERO events: a fully silent day
            // is precisely the lo-side (rate-drop) signal this monitor
            // exists for, so absent days feed the recurrence with
            // ct = 0 (dev = −refCt). The first batch anchors the
            // calendar at the earliest day seen.
            var d = if (lastClosed == Int.MinValue) open.keys.min
                    else lastClosed + 1
            while (d < maxDay) {
              val ct = open.getOrElse(d, 0L)
              val dev = ct - p.refCt
              hi = math.max(0L, hi + dev - p.slack)
              lo = math.min(0L, lo + dev + p.slack)
              val alert = hi > p.threshold || lo < -p.threshold
              out += CusumDay(etype, d, ct, hi, lo, alert)
              if (alert) { hi = 0L; lo = 0L } // standard Page reset
              open = open.removed(d)
              lastClosed = d
              d += 1
            }
          }
          state.update(CusumState(open, lastClosed, hi, lo))
          out.iterator
      }
  }

  /** Streaming twin of [[graft.operators.IntervalJoin]] in its
    * deployment shape: the reference windows (promos, maintenance
    * windows) are a STATIC landed relation; the activity side streams.
    * Each arriving event derives its interval row-locally, explodes to
    * the ≤2 buckets it covers, and a stateless STREAM-STATIC equi-join
    * on the bucket + the exact overlap filter + the batch operator's
    * claim-bucket dedup emits the overlap pairs — append-legal at any
    * rate, zero state (the static side broadcasts), and because every
    * expression mirrors the batch rendering, a replayed stream lands
    * row-for-row identical to the batch relation (replay-spec-pinned). */
  def ingestIntervalOverlap(events: DataFrame,
                            promos: DataFrame): DataFrame = {
    val w = graft.operators.IntervalJoin.BucketUs
    val bursts = events
      .where(col("event_type") === "purchase")
      .selectExpr("event_id AS burst_id",
        s"unix_micros(CAST(ts AS TIMESTAMP)) - ${w / 2} AS s",
        s"unix_micros(CAST(ts AS TIMESTAMP)) + ${w / 2} AS e")
      .selectExpr("burst_id", "s", "e",
        s"explode(array_distinct(array(s DIV $w, (e - 1) DIV $w))) AS b")
    val px = promos
      .selectExpr("promo_id", "s", "e",
        s"explode(array_distinct(array(s DIV $w, (e - 1) DIV $w))) AS b")
    bursts.as("bx").join(broadcast(px.as("ax")), expr(
        s"""ax.b = bx.b AND ax.s < bx.e AND bx.s < ax.e
           |AND GREATEST(ax.s, bx.s) DIV $w = ax.b""".stripMargin))
      .selectExpr("ax.promo_id", "bx.burst_id",
        "CAST((LEAST(ax.e, bx.e) - GREATEST(ax.s, bx.s)) DIV 1000000 AS BIGINT)"
          + " AS overlap_sec")
  }

  final case class PsiState(ca: Long, cb: Long)
  final case class PsiBucketCount(bucket: Long, ct_a: Long, ct_b: Long)

  /** Continuous PSI-drift sufficient statistics — the streaming twin of
    * [[graft.profiling.PsiDrift]]: every micro-batch pre-folds its rows
    * to per-partition (bucket, ca, cb) partials (so ONLY bucket-domain
    * rows shuffle per trigger — the value grid is price-range-bounded,
    * never the row stream), and keyed state per bucket adds them in.
    * Counts are additive longs, so after any stream prefix the latest
    * emission per bucket is BIT-IDENTICAL to the batch bucket relation
    * over the same rows (replay-spec-pinned); the PSI itself derives
    * from the emitted counts with the batch entry's exact arithmetic —
    * the [[ingestGram]] emit-sufficient-stats shape, because the
    * smoothed shares need the cross-bucket totals, which are the
    * CONSUMER's one metadata-sized pass over B rows. State is two longs
    * per bucket forever, at any ingest rate. */
  def ingestPsiCounts(rows: DataFrame): Dataset[PsiBucketCount] = {
    import rows.sparkSession.implicits._
    val b = graft.profiling.PsiDrift.BucketCents
    rows
      .selectExpr(
        s"CAST(ROUND(l_extendedprice * 100) AS BIGINT) DIV $b AS bucket",
        "CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END AS a")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
        it.foreach { case (bkt, a) =>
          val (ca, cb) = m.getOrElse(bkt, (0L, 0L))
          m(bkt) = (ca + a, cb + (1L - a))
        }
        m.iterator.map { case (bkt, (ca, cb)) => (bkt, ca, cb) }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[PsiState, PsiBucketCount](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (bucket: Long, partials: Iterator[(Long, Long, Long)],
         state: GroupState[PsiState]) =>
          val prev = state.getOption.getOrElse(PsiState(0L, 0L))
          val next = partials.foldLeft(prev) { (s, p) =>
            PsiState(s.ca + p._2, s.cb + p._3)
          }
          state.update(next)
          Iterator.single(PsiBucketCount(bucket, next.ca, next.cb))
      }
  }

  final case class ChisqState(o: Long)
  final case class ChisqCellCount(category: String, slice: String, o: Long)

  /** Continuous chi-square-drift sufficient statistics — the streaming
    * twin of [[graft.profiling.ChisqDrift]], completing the drift
    * family's ingest coverage (PSI and CUSUM already have twins). Same
    * emit-sufficient-stats shape as [[ingestPsiCounts]]: each
    * micro-batch pre-folds its rows to per-partition
    * (category, slice, count) partials — the contingency table is
    * K·2-bounded, so only cell-domain rows ever shuffle per trigger —
    * and keyed state per cell adds them in. Counts are additive longs,
    * so after any stream prefix the latest emission per cell is
    * BIT-IDENTICAL to the batch cells relation over the same rows
    * (replay-spec-pinned). The χ² statistic itself needs the row/column
    * marginals — cross-cell state — so, exactly like PSI's smoothed
    * shares, it stays the CONSUMER's one metadata-sized pass over the
    * K·2 emitted cells using the batch entry's integer-micro
    * arithmetic. State: one long per cell, bounded forever. */
  def ingestChisqCounts(orders: DataFrame): Dataset[ChisqCellCount] = {
    import orders.sparkSession.implicits._
    orders
      .selectExpr(
        "o_orderpriority AS category",
        "CASE WHEN o_orderstatus = 'F' THEN 'fulfilled' ELSE 'open' END AS slice")
      .as[(String, String)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
        it.foreach { k => m.update(k, m.getOrElse(k, 0L) + 1L) }
        m.iterator.map { case ((c, s), o) => (c, s, o) }
      }
      .groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState[ChisqState, ChisqCellCount](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (cell: (String, String), partials: Iterator[(String, String, Long)],
         state: GroupState[ChisqState]) =>
          val prev = state.getOption.getOrElse(ChisqState(0L))
          val next = partials.foldLeft(prev)((s, p) => ChisqState(s.o + p._3))
          state.update(next)
          Iterator.single(ChisqCellCount(cell._1, cell._2, next.o))
      }
  }

  final case class KsState(ca: Long, cb: Long)
  final case class KsValueCount(v: Long, ca: Long, cb: Long)

  /** Continuous KS-drift sufficient statistics — the streaming twin of
    * [[graft.profiling.KsDrift]], closing the drift family's last
    * batch-only member (PSI, chi-square, and CUSUM already ingest).
    * The KS statistic's whole input is the value-domain count relation
    * (per-cents-value class counts — [[graft.profiling.KsDrift.cntSql]]),
    * which is additive, so it stays current under ingestion with no
    * re-scan: each micro-batch pre-folds its rows to per-partition
    * (v, ca, cb) partials (only value-domain rows ever shuffle per
    * trigger — never the line-item stream), and keyed state per value
    * adds them in. After any stream prefix the latest emission per
    * value is BIT-IDENTICAL to the batch count relation over the same
    * rows (replay-spec-pinned). The sup-statistic itself needs the
    * cumulative sums — cross-value state — so, exactly like PSI's
    * smoothed shares and χ²'s marginals, it stays the CONSUMER's
    * metadata-sized pass over the emitted value domain (the batch
    * entry's two-level prefix sum, whose phase 1 already reads exactly
    * this relation). State: two longs per distinct cents value —
    * price-range-bounded regardless of stream length. */
  def ingestKsCounts(lineitem: DataFrame): Dataset[KsValueCount] = {
    import lineitem.sparkSession.implicits._
    lineitem
      .selectExpr(
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v",
        "CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS a")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
        it.foreach { case (v, a) =>
          val (ca, cb) = m.getOrElse(v, (0L, 0L))
          m(v) = (ca + a, cb + (1L - a))
        }
        m.iterator.map { case (v, (ca, cb)) => (v, ca, cb) }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[KsState, KsValueCount](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (v: Long, partials: Iterator[(Long, Long, Long)],
         state: GroupState[KsState]) =>
          val prev = state.getOption.getOrElse(KsState(0L, 0L))
          val next = partials.foldLeft(prev) { (s, p) =>
            KsState(s.ca + p._2, s.cb + p._3)
          }
          state.update(next)
          Iterator.single(KsValueCount(v, next.ca, next.cb))
      }
  }

  final case class ClfState(pos: Long, neg: Long)
  final case class ClfTokenCount(word: String, ct_pos: Long, ct_neg: Long)

  /** Continuous classifier-training sufficient statistics — the
    * streaming twin of [[graft.pipeline.ClassifierTrain]]: the NB
    * trainer's whole model is the per-token class-count census, which
    * is additive, so the trained weights stay current under ingestion
    * with NO retrain pass. Each micro-batch pre-folds its documents to
    * per-partition (word, ct_pos, ct_neg) partials (only the
    * vocabulary-bounded census ever shuffles per trigger — never the
    * token stream), and keyed state per word adds them in. After any
    * stream prefix the latest emission per word is BIT-IDENTICAL to the
    * batch census over the same documents (replay-spec-pinned); the
    * micro-nat log-odds weights derive from the emitted counts with the
    * batch entry's exact arithmetic — the cross-token totals they need
    * are the CONSUMER's one metadata-sized pass over V rows, the
    * [[ingestPsiCounts]] emit-sufficient-stats shape. State: two longs
    * per vocabulary token, bounded forever. */
  def ingestClassifierCounts(docs: DataFrame): Dataset[ClfTokenCount] = {
    import docs.sparkSession.implicits._
    docs
      .selectExpr("text").where("text IS NOT NULL").as[String]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
        it.foreach { text =>
          val y = graft.pipeline.ClassifierTrain.labelOf(text)
          graft.pipeline.ClassifierTrain.tokensOf(text).foreach { w =>
            val (p, n) = m.getOrElse(w, (0L, 0L))
            m(w) = if (y == 1) (p + 1L, n) else (p, n + 1L)
          }
        }
        m.iterator.map { case (w, (p, n)) => (w, p, n) }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[ClfState, ClfTokenCount](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (word: String, partials: Iterator[(String, Long, Long)],
         state: GroupState[ClfState]) =>
          val prev = state.getOption.getOrElse(ClfState(0L, 0L))
          val next = partials.foldLeft(prev) { (s, p) =>
            ClfState(s.pos + p._2, s.neg + p._3)
          }
          state.update(next)
          Iterator.single(ClfTokenCount(word, next.pos, next.neg))
      }
  }

  /** Streaming record linkage at ingest — the stream twin of
    * [[graft.pipeline.EntityMatch]]: the clean dimension lands once
    * with its block width FROZEN at index time
    * ([[graft.pipeline.EntityMatch.blockDigitsFor]] over the dimension
    * count — a property of the index, like the embedding twin's
    * modulus); each arriving dirty record derives its block key
    * ROW-LOCALLY, stream-static equi-joins its ONE block, and emits
    * every candidate within edit distance ≤ 2. Stateless and
    * append-mode legal: the BEST-match election is per-record
    * aggregation, which production runs in the sink's `foreachBatch`
    * (each record arrives once, so the election is batch-local) — the
    * candidate relation here is the stream-legal surface, spec-pinned
    * to the batch path's pre-election candidate set on a full replay. */
  def ingestEntityMatch(dirty: DataFrame, clean: DataFrame,
                        digits: Int): DataFrame = {
    val probes = dirty.selectExpr(
      "src_id", "variant_class", "dirty_name",
      s"CAST(c_nationkey AS STRING) || '|' || RIGHT(dirty_name, $digits) AS blk_key")
    probes.join(clean, Seq("blk_key"))
      .selectExpr("src_id", "variant_class", "c_custkey AS match_key",
        "LEVENSHTEIN(LOWER(dirty_name), LOWER(c_name)) AS dist")
      .where(col("dist") <= 2)
      .selectExpr("src_id", "variant_class", "match_key",
        "CAST(dist AS BIGINT) AS edit_distance")
  }

  /** Streaming embedding dedup at ingest — the stream twin of
    * [[graft.pipeline.Dedup.runEmbeddingLsh]] and the incremental
    * companion of [[ingestDedupIncremental]] for the vector modality:
    * the landed corpus index ([[graft.pipeline.Dedup.embeddingIndex]])
    * carries (bucket, vector, norm) with the adaptive modulus FROZEN at
    * index time; each arriving vector buckets ROW-LOCALLY with the
    * index's modulus (one native bucket call + MOD — no election, no
    * state), stream-static equi-joins its ONE bucket of the index, and
    * gates on exact cosine. Stateless and append-mode legal at any
    * rate; per-probe candidate work is bucket-occupancy-bounded by the
    * same adaptive election the batch path ships, so the per-row cost
    * does not grow with the landed corpus. Replay-spec-pinned: a full
    * corpus replay emits exactly the batch entry's verified pairs,
    * symmetrized (each unordered pair once per endpoint). */
  def ingestEmbeddingDedup(vecs: DataFrame,
                           index: DataFrame, bmod: Int,
                           threshold: Double = 0.30): DataFrame = {
    val probes = vecs.selectExpr(
      "vec_id AS batch_vec_id",
      s"MOD(graft_bucket(embedding, ${graft.pipeline.Similarity.AdaptiveMaxPlanes}, 64), $bmod) AS bucket",
      "embedding AS b_emb",
      "SQRT(graft_dot(embedding, embedding)) AS b_nrm")
    probes.join(index, Seq("bucket"))
      .where(col("vec_id") =!= col("batch_vec_id"))
      .selectExpr("batch_vec_id", "vec_id AS corpus_vec_id", "bucket",
        "graft_dot(b_emb, embedding) / NULLIF(b_nrm * nrm, 0) AS cos")
      .where(col("cos") >= threshold)
      .selectExpr("batch_vec_id", "corpus_vec_id", "bucket",
        "CAST(ROUND(cos, 4) AS DOUBLE) AS cosine")
  }

  /** Streaming crawl-authority annotation at ingest — the stream twin
    * of [[graft.pipeline.DomainRank]]: the rank relation converges
    * BATCH-side and lands once ([[graft.pipeline.DomainRank.landedRanks]]
    * — rank is an iterative fixpoint, not a streaming computation);
    * each arriving document derives its site key ROW-LOCALLY (the same
    * md5-nibble arithmetic the batch graph uses) and stream-static
    * equi-joins the frozen node-grain relation — host-count-sized, so
    * Spark plans it as a reused broadcast per trigger. Stateless,
    * append-mode legal; emits the doc annotated with its site's
    * authority and budget. Admission control against `alloc_docs` (a
    * per-site running count) is the sink's `foreachBatch` job — the
    * same batch-local-election adjudication as [[ingestEntityMatch]].
    * Replay-spec-pinned: a full corpus replay carries exactly the
    * batch budget entry's per-site rank/alloc on every doc. A doc
    * from a site the landed graph has never seen (a NOVEL domain at
    * ingest) is NOT dropped — the join is left-outer and the doc
    * emits with NULL rank/alloc, so the sink routes new domains to
    * its cold-start policy instead of losing them silently (the
    * no-silent-caps rule applied to stream joins). */
  def ingestDomainRank(docs: DataFrame, rankBudget: DataFrame): DataFrame = {
    val site = graft.pipeline.DomainRank
      .siteExpr("doc_id", "source")(graft.oracle.SparkDialect)
    docs.selectExpr("doc_id", s"$site AS site")
      .join(rankBudget.selectExpr("site", "rank_micro", "alloc_docs"),
        Seq("site"), "left")
      .selectExpr("doc_id", "site", "rank_micro", "alloc_docs")
  }
}
