package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.EventAnalytics

/** Top-level so Spark can generate an Encoder without an outer scope. */
final case class SkDoc(doc_id: Long, source: String, text: String)

/** Round-11 operators: last-touch click attribution (join-free batch
  * form + watermarked stream-stream join twin), URL canonicalization /
  * per-domain capping, z-order layout, grouping-sets budget, weighted
  * sampling, and the landed HLL sketch store + its streaming twin. */
class Round11OpsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def attrFixture: Seq[EventAnalytics.AttrEvent] = Seq(
    // user 1: click 30 min before purchase -> attributed
    EventAnalytics.AttrEvent(10, 1, ts("2026-01-01 10:00:00"), "click"),
    EventAnalytics.AttrEvent(11, 1, ts("2026-01-01 10:30:00"), "purchase"),
    // user 2: click 2 h before purchase -> NOT attributed (window 1 h)
    EventAnalytics.AttrEvent(20, 2, ts("2026-01-01 08:00:00"), "click"),
    EventAnalytics.AttrEvent(21, 2, ts("2026-01-01 10:00:00"), "purchase"),
    // user 3: no click at all
    EventAnalytics.AttrEvent(31, 3, ts("2026-01-01 09:00:00"), "purchase"),
    // user 4: click at the exact purchase instant -> attributed (>=)
    EventAnalytics.AttrEvent(40, 4, ts("2026-01-01 12:00:00"), "click"),
    EventAnalytics.AttrEvent(41, 4, ts("2026-01-01 12:00:00"), "purchase"),
    // user 5: two in-window clicks -> the LATEST wins last-touch
    EventAnalytics.AttrEvent(50, 5, ts("2026-01-01 13:00:00"), "click"),
    EventAnalytics.AttrEvent(51, 5, ts("2026-01-01 13:40:00"), "click"),
    EventAnalytics.AttrEvent(52, 5, ts("2026-01-01 13:50:00"), "purchase"),
    // user 6: click AFTER the purchase -> not attributed
    EventAnalytics.AttrEvent(60, 6, ts("2026-01-01 14:10:00"), "click"),
    EventAnalytics.AttrEvent(61, 6, ts("2026-01-01 14:00:00"), "purchase"))

  private def fixtureView(name: String): Unit = {
    val spark2 = spark
    import spark2.implicits._
    attrFixture.toDF()
      .withColumn("value", org.apache.spark.sql.functions.lit(10.0))
      .createOrReplaceTempView(name)
  }

  test("attribution semantics: window bound, ties, last-touch election") {
    val spark2 = spark
    import spark2.implicits._
    fixtureView("__attr_fix")
    val rows = spark.sql(EventAnalytics.attributionSql("__attr_fix"))
      .select("purchase_id", "click_id", "attributed")
      .as[(Long, Option[Long], Boolean)].collect()
      .map { case (p, c, a) => p -> ((c, a)) }.toMap
    assert(rows(11L) == (Some(10L), true), "30-min-prior click attributes")
    assert(rows(21L) == (None, false), "2-h-stale click must not attribute")
    assert(rows(31L) == (None, false), "no click -> unattributed")
    assert(rows(41L) == (Some(40L), true), "same-instant click attributes")
    assert(rows(52L) == (Some(51L), true), "latest in-window click wins")
    assert(rows(61L) == (None, false), "future click must not attribute")
  }

  test("attribution plans join-free: union + one window, no join operator") {
    val p = EventAnalytics.runAttribution(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"attribution planned a join:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"attribution shuffles $exchanges times, expected <= 2 (click dedupe + asof window)")
  }

  test("streaming attribution: stream-stream join replays to the batch candidates") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    // fixture invariant the twin relies on (batch anchor dedups clicks
    // per (user, instant); the stream side must never see two)
    val clicks = attrFixture.filter(_.event_type == "click")
    assert(clicks.groupBy(e => (e.user_id, e.ts)).forall(_._2.size == 1))
    val input = MemoryStream[EventAnalytics.AttrEvent]
    val q = EventAnalytics.streamingAttribution(input.toDS())
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    try {
      // two chunks + a far-future watermark flush event
      val (a, b) = attrFixture.splitAt(6)
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      input.addData(EventAnalytics.AttrEvent(999, 99, ts("2026-02-01 00:00:00"), "click"))
      q.processAllAvailable()
      val streamed = spark.table("attr_stream")
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      fixtureView("__attr_fix")
      val batch = spark.sql(EventAnalytics.attributionCandidatesSql("__attr_fix"))
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      assert(streamed == batch,
        s"stream-stream candidates diverge: stream=$streamed batch=$batch")
      assert(batch.contains((52L, 50L)) && batch.contains((52L, 51L)),
        "both in-window clicks are candidates; last-touch election is batch-side")
    } finally q.stop()
  }

  test("url normalization rules on literal spellings") {
    import graft.oracle.SparkDialect
    def norm(u: String): String =
      spark.sql(s"SELECT ${graft.pipeline.UrlOps.normalizeSqlExpr(s"'$u'")(SparkDialect)} AS n")
        .collect().head.getString(0)
    // case fold on scheme+host only, www strip, default port strip,
    // fragment drop, tracking strip, trailing-slash collapse
    assert(norm("HTTP://WWW.Site.com:80/a/?utm_source=x&id=1#top")
      == "http://site.com/a?id=1")
    assert(norm("https://site.com:443/a?id=1") == "http" + "s://site.com/a?id=1")
    // non-default port survives; param order of survivors is preserved
    assert(norm("https://site.com:8080/a?b=2&utm_campaign=c&a=1")
      == "https://site.com:8080/a?b=2&a=1")
    // all params tracked -> dangling '?' collapses too
    assert(norm("https://site.com/a/?utm_source=x&gclid=z")
      == "https://site.com/a")
    // path case is NOT folded
    assert(norm("https://site.com/A/B?id=1") == "https://site.com/A/B?id=1")
  }

  test("url dedup groups by doc_id % 97 with a min-id survivor") {
    val spark2 = spark
    import spark2.implicits._
    val rows = graft.pipeline.UrlOps.runNormalize(spark, sfDir)
      .select("doc_id", "url_norm", "dup_ct", "survivor")
      .as[(Long, String, Long, Boolean)].collect()
    val byNorm = rows.groupBy(_._2)
    byNorm.foreach { case (_, g) =>
      assert(g.forall(_._3 == g.length), "dup_ct must equal the group size")
      val survivors = g.filter(_._4)
      assert(survivors.map(_._1).toSeq == Seq(g.map(_._1).min),
        "exactly the min doc_id survives")
    }
    // the synthetic URL keys canonical identity on (doc_id % 97, source):
    // docs in one normalized group must agree on both
    rows.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._1 % 97).distinct.length == 1)
    }
  }

  test("domain cap keeps at most K per domain, deterministically") {
    val spark2 = spark
    import spark2.implicits._
    val rows = graft.pipeline.UrlOps.runDomainCap(spark, sfDir)
      .select("doc_id", "domain", "kept").as[(Long, String, Boolean)].collect()
    val kept = rows.filter(_._3).groupBy(_._2)
    kept.foreach { case (d, g) =>
      assert(g.length <= graft.pipeline.UrlOps.CapK, s"domain $d over cap")
    }
    // deterministic: a second run elects the identical kept set
    val again = graft.pipeline.UrlOps.runDomainCap(spark, sfDir)
      .select("doc_id", "domain", "kept").as[(Long, String, Boolean)].collect()
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("z-order rectangle query lists only the covering Morton codes") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val all = spark.read
      .parquet(graft.core.ZOrderLayout.layoutPath(spark, sfDir))
      .select("zbucket").distinct().count()
    val pruned = graft.core.ZOrderLayout.rectFrame(spark, sfDir)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    val listed = scan.selectedPartitions.partitionCount
    assert(all > 4, s"layout degenerate: only $all codes")
    assert(listed < all,
      s"no 2-D pruning: $listed of $all code directories listed")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("zbucket"),
      plan.take(400))
  }

  test("z-order code list COVERS the rectangle — pruning drops no row") {
    import org.apache.spark.sql.functions._
    val ev = graft.core.Tables.load(spark, sfDir, "events")
    val mm = ev.selectExpr("MAX(user_id) AS mu", "CAST(MIN(ts) AS DATE) AS md").head()
    val mu = mm.getLong(0); val md = mm.getDate(1).toLocalDate
    val (uLo, uHi) = (mu / 6, mu / 3)
    val (dLo, dHi) = (md.plusDays(8), md.plusDays(15))
    val rectCt = ev.where(col("user_id").between(uLo, uHi)
      && to_date(col("ts")).between(
        java.sql.Date.valueOf(dLo), java.sql.Date.valueOf(dHi))).count()
    val prunedCt = graft.core.ZOrderLayout.rectFrame(spark, sfDir)
      .where(col("user_id").between(uLo, uHi)
        && to_date(col("ts")).between(
          java.sql.Date.valueOf(dLo), java.sql.Date.valueOf(dHi))).count()
    assert(rectCt > 0, "empty rectangle makes the coverage check vacuous")
    assert(prunedCt == rectCt,
      s"code list lost rows: $prunedCt of $rectCt survive pruning")
  }

  test("z-order append only touches the batch's own code directories") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_zorder_app").toString + "/ev"
    val events = graft.core.Tables.load(spark, sfDir, "events")
    graft.core.ZOrderLayout.appendBatch(spark, dir, events)
    def stats(d: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(d)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val before = stats(dir)
    // a next-day batch confined to one (user-bucket, day-bucket) cell
    val nextDay = events.selectExpr("date_add(CAST(MAX(ts) AS DATE), 64)")
      .head().getDate(0)
    val batch = events.limit(40)
      .withColumn("ts", to_timestamp(lit(nextDay.toString + " 12:00:00")))
      .withColumn("user_id", col("user_id") % 16) // one user bucket
    graft.core.ZOrderLayout.appendBatch(spark, dir, batch)
    val after = stats(dir)
    before.foreach { case (p, s) => assert(after(p) == s, s"$p rewritten") }
    val newFiles = after.keySet.diff(before.keySet)
    assert(newFiles.nonEmpty, "append landed nothing")
    val touched = newFiles.map(_.split("zbucket=")(1).split("/")(0)).toSet
    // one day bucket x one user bucket -> exactly one Morton code dir
    assert(touched.size == 1, s"batch leaked into codes $touched")
  }

  test("morton interleave is a bijection on the 8x8 bucket grid") {
    val codes = for (u <- 0 until 8; d <- 0 until 8)
      yield graft.core.ZOrderLayout.zOf(u, d)
    assert(codes.distinct.length == 64 && codes.forall(c => c >= 0 && c < 64))
  }

  test("grouping-sets budget: one scan, and cells roll up to the totals") {
    val spark2 = spark
    import spark2.implicits._
    val df = graft.pipeline.CorpusCube.run(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans <= 1, s"grouping sets re-scans: $scans scans")
    assert(p.contains("Expand"), "expected the Expand-based grouping-sets plan")
    val rows = df.select("source", "lang", "grouping_level", "doc_ct", "token_ct")
      .as[(String, String, Int, Long, Long)].collect()
    val cells = rows.filter(_._3 == 0)
    val bySource = rows.filter(_._3 == 1)
    val byLang = rows.filter(_._3 == 2)
    val grand = rows.filter(_._3 == 3)
    assert(grand.length == 1 && grand.head._4 == cells.map(_._4).sum)
    bySource.foreach { case (s, _, _, dc, tc) =>
      assert(cells.filter(_._1 == s).map(_._4).sum == dc)
      assert(cells.filter(_._1 == s).map(_._5).sum == tc)
    }
    byLang.foreach { case (_, l, _, dc, _) =>
      assert(cells.filter(_._2 == l).map(_._4).sum == dc)
    }
  }

  test("weighted sample: TakeOrdered plan, reproducible, length-biased") {
    val p = graft.pipeline.PrioritySample.runWeighted(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample must plan a k-heap, not a global sort:\n${p.take(400)}")
    assert(!p.contains("Exchange rangepartitioning"))
    // the bias property needs corpus >> k — use sf0.01 (500 docs, k=100)
    val spark2 = spark
    import spark2.implicits._
    graft.core.Tables.load(spark, "/root/testdata/sf0.01", "documents",
      parallelize = false).createOrReplaceTempView("__wprio_spec")
    def once() = spark.sql(graft.pipeline.PrioritySample
      .weightedSql("__wprio_spec")(graft.oracle.SparkDialect))
      .select("doc_id", "weight").as[(Long, Long)].collect()
    val a = once(); val b = once()
    assert(a.toSeq == b.toSeq, "weighted draw must be deterministic")
    val corpusMean = spark.table("__wprio_spec")
      .selectExpr("AVG(n_chars)").head().getDouble(0)
    val sampleMean = a.map(_._2).sum.toDouble / a.length
    assert(sampleMean > corpusMean,
      s"A-ES must over-sample long docs: sample $sampleMean vs corpus $corpusMean")
  }

  test("sketch store: union of landed registers == direct corpus sketch") {
    import graft.profiling.SketchStore
    val rel = SketchStore.sketchRel(spark, sfDir)
    val nSources = graft.core.Tables.load(spark, sfDir, "documents")
      .select("source").distinct().count()
    assert(spark.table(rel).count() == nSources,
      "landed store must hold exactly one register row per source")
    val merged = SketchStore.globalEstimateFrame(spark, sfDir)
      .head().getLong(0)
    val docs = SketchStore.docsView(spark, sfDir)
    val direct = spark.sql(
      s"""SELECT hll_sketch_estimate(hll_sketch_agg(word, ${SketchStore.LgK}))
         |  FROM (${graft.oracle.SparkDialect.wordsRel(docs, "doc_id", "text")}) w""".stripMargin)
      .head().getLong(0)
    // same lgK, register-wise max: the union of per-source sketches IS
    // the whole-corpus sketch — the mergeability the store exists for
    assert(merged == direct, s"union $merged != direct $direct")
    val p = SketchStore.globalEstimateFrame(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("FileScan parquet"),
      "global estimate must read the landed registers, not rescan the corpus")
  }

  test("streaming sketch maintenance replays to the batch estimates") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source", "text").as[SkDoc].collect()
    val input = MemoryStream[SkDoc]
    val q = graft.streaming.StreamMonitors
      .ingestDistinctSketch(input.toDF())
      .writeStream.format("memory").queryName("sketch_stream")
      .outputMode("complete").start()
    val streamed = try {
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.toIndexedSeq: _*); q.processAllAvailable()
      input.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      spark.table("sketch_stream")
        .as[(String, Long)].collect().toMap
    } finally q.stop()
    val batch = graft.streaming.StreamMonitors
      .ingestDistinctSketch(docs.toSeq.toDF())
      .as[(String, Long)].collect().toMap
    assert(streamed == batch,
      s"replayed registers diverge from batch: $streamed vs $batch")
    assert(batch.nonEmpty && batch.values.forall(_ > 0))
  }
}
