package graft

import graft.oracle.SparkDialect
import graft.pipeline.Selection

/** Round-10 curation additions: token-budgeted DSIR selection and the
  * per-document curation ledger. */
class Round10OpsSpec extends SparkSpec {

  test("engine budget selection is row-identical to the direct windowed form") {
    // the oracle's rendering (global running-sum window) also runs on
    // Spark — the histogram-threshold engine path must reproduce it
    // bit-for-bit, boundary document and ties included
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__r10_budget_docs")
    val direct = spark.sql(Selection.budgetSql("__r10_budget_docs")(SparkDialect))
      .collect().map(_.toSeq).toSeq
    val engine = Selection.runBudget(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(engine.nonEmpty)
    assert(engine == direct,
      s"first diff: ${engine.zip(direct).find { case (a, b) => a != b }}")
  }

  test("budget selection is greedy: selected docs are a prefix in score order") {
    val rows = Selection.runBudget(spark, sfDir).collect()
      .filter(r => r.getAs[Long]("token_ct") > 0)
      .sortBy(r => (-r.getAs[Long]("dsir_score"), r.getAs[Long]("doc_id")))
    val firstUnselected = rows.indexWhere(_.getAs[Int]("selected_budget") == 0)
    if (firstUnselected >= 0)
      assert(rows.drop(firstUnselected).forall(_.getAs[Int]("selected_budget") == 0),
        "selection is not a prefix of the greedy order")
    val selTokens = rows.takeWhile(_.getAs[Int]("selected_budget") == 1)
      .map(_.getAs[Long]("token_ct")).sum
    // every selected doc STARTS before the budget: total minus the
    // boundary doc must be under it
    if (firstUnselected > 0)
      assert(selTokens - rows(firstUnselected - 1).getAs[Long]("token_ct")
        < Selection.TokenBudget)
  }

  test("rendered BMPs round-trip the real decoder with exact stats") {
    import graft.pipeline.Multimodal
    val vals = Array.tabulate(64)(i => (i * 37 + 11) % 256)
    val bmp = Multimodal.renderGrayBmp(vals)
    val stats = Multimodal.decodeBmp(bmp).get
    assert(stats.width == 8 && stats.height == 8)
    val mean = vals.sum / 64.0
    // gray pixels: every channel mean is the value mean
    assert(math.abs(stats.meanR - math.rint(mean * 10000) / 10000) < 1e-9)
    assert(stats.meanR == stats.meanG && stats.meanG == stats.meanB)
    // the 8x8 grid over an 8x8 image is the identity: aHash bits are
    // exactly the v*64 >= sum thresholds
    val grid = Multimodal.bmpGridLuma(bmp, 8).get
    val s = vals.sum
    val expect = vals.zipWithIndex.foldLeft(0L) { case (h, (v, i)) =>
      if (v.toLong * 64 >= s) h | (1L << i) else h
    }
    assert(Multimodal.aHash(grid) == expect)
  }

  test("engine phash dedup (decode + band join) matches the all-pairs arithmetic oracle form") {
    import graft.pipeline.Multimodal
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__r10_phash_docs")
    val direct = spark.sql(Multimodal.phashPairsSql("__r10_phash_docs")(SparkDialect))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val engine = Multimodal.runPhashDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(engine.nonEmpty, "fixture corpus produced no near-dup image pairs")
    assert(engine == direct,
      s"missing=${(direct -- engine).take(5)} extra=${(engine -- direct).take(5)}")
  }

  test("rendered WAVs round-trip the real decoder with exact frame energies") {
    import graft.pipeline.Multimodal
    val samples = Array.tabulate(128)(i => ((i * 53 + 7) % 256 - 128) * 256)
    val wav = Multimodal.renderPcmWav(samples)
    val stats = Multimodal.decodeWav(wav).get
    assert(stats.sampleRate == 8000 && stats.nChannels == 1 && stats.nSamples == 128)
    assert(stats.peak == samples.map(math.abs).max)
    val energies = Multimodal.wavFrameEnergy(wav, 64).get
    assert(energies.length == 64)
    val expect = Array.tabulate(64)(f =>
      samples(2 * f).toLong * samples(2 * f) +
        samples(2 * f + 1).toLong * samples(2 * f + 1))
    assert(energies.sameElements(expect))
    val s = expect.sum
    val eh = expect.zipWithIndex.foldLeft(0L) { case (h, (e, f)) =>
      if (e * 64 >= s) h | (1L << f) else h
    }
    assert(Multimodal.eHash(energies) == eh)
  }

  test("rendered AVIs round-trip the real container parser with exact frame grids") {
    import graft.pipeline.Multimodal
    val frames = Array.tabulate(16)(f =>
      Array.tabulate(64)(i => (f * 37 + i * 11 + 3) % 256))
    val avi = Multimodal.renderDibAvi(frames, 8, 8)
    val st = Multimodal.decodeAvi(avi).get
    assert(st.width == 8 && st.height == 8 && st.nFrames == 16
      && st.usecPerFrame == 100000)
    // 8×8 gray frame → the 8×8 grid is the pixel bytes themselves
    (0 until 16).foreach { f =>
      val grid = Multimodal.aviFrameGrid(avi, st, f, 8)
      assert(grid.sameElements(frames(f).map(_.toDouble)), s"frame $f grid mismatch")
    }
    assert(Multimodal.sampleFrameIdx(16, 4).sameElements(Array(0, 4, 8, 12)))
    assert(Multimodal.sampleFrameIdx(3, 4).sameElements(Array(0, 1, 2)))
    val hashes = Multimodal.aviFrameHashes(avi, 4).get
    assert(hashes.map(_._1).sameElements(Array(0, 4, 8, 12)))
    hashes.foreach { case (f, h) =>
      assert(h == Multimodal.aHash(frames(f).map(_.toDouble)), s"frame $f hash")
    }
    // non-AVI payloads are rejected, not mis-parsed
    assert(Multimodal.decodeAvi(Multimodal.renderPcmWav(Array.fill(8)(0))).isEmpty)
  }

  test("engine video frame-sample and dedup match the arithmetic oracle forms") {
    import graft.pipeline.Multimodal
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__r10_video_docs")
    // materialize the bits relation first: the single-statement form
    // re-inlines the 64 pixel expressions through the self-join and
    // explodes at Spark plan time (DuckDB executes it fine)
    spark.sql(Multimodal.videoBitsSelectSql("__r10_video_docs")(SparkDialect))
      .localCheckpoint(eager = true).createOrReplaceTempView("__r10_video_bits")
    val directFrames = spark.sql(Multimodal.videoFramesTailSql("__r10_video_bits"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toSet
    val engineFrames = Multimodal.runVideoFrameSample(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toSet
    assert(engineFrames.nonEmpty)
    assert(engineFrames == directFrames,
      s"missing=${(directFrames -- engineFrames).take(3)} extra=${(engineFrames -- directFrames).take(3)}")
    val direct = spark.sql(Multimodal.videoPairsTailSql("__r10_video_bits"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val engine = Multimodal.runVideoDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(engine.nonEmpty, "fixture corpus produced no near-dup video pairs")
    assert(engine == direct,
      s"missing=${(direct -- engine).take(5)} extra=${(engine -- direct).take(5)}")
  }

  test("engine audio dedup (decode + band join) matches the all-pairs arithmetic oracle form") {
    import graft.pipeline.Multimodal
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__r10_audio_docs")
    val direct = spark.sql(Multimodal.audioPairsSql("__r10_audio_docs")(SparkDialect))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val engine = Multimodal.runAudioDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(engine.nonEmpty, "fixture corpus produced no near-dup audio pairs")
    assert(engine == direct,
      s"missing=${(direct -- engine).take(5)} extra=${(engine -- direct).take(5)}")
  }

  test("every queries entry has a matching oracleSql entry and vice versa") {
    // a missing oracle silently downgrades the driver's gate to a
    // rows-only check; a dangling oracle is dead weight
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("mixture sampling emits exactly the closed-form copy count per document") {
    import graft.pipeline.SourceMixture
    // recompute every doc's expected copies from the landed weights +
    // the md5 draw, independent of the SQL's lateral-series plumbing
    val uf = SourceMixture.run(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") ->
        math.round(r.getAs[Double]("upsample_factor") * 10000))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(docId: Long): Long = {
      md.reset()
      val hex = md.digest(s"mix:$docId".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    val expected = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map { r =>
        val bp = uf(r.getString(1))
        r.getLong(0) -> (bp / 10000 + (if (draw(r.getLong(0)) < bp % 10000) 1 else 0))
      }.toMap
    val got = SourceMixture.runSample(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (id, g) =>
        // copies are a dense 0..n-1 series
        assert(g.map(_.getInt(2)).sorted.sameElements(0 until g.length), s"doc $id copies")
        id -> g.length.toLong
      }
    assert(got.values.sum > 0)
    expected.foreach { case (id, n) =>
      assert(got.getOrElse(id, 0L) == n, s"doc $id: expected $n copies, got ${got.getOrElse(id, 0L)}")
    }
  }

  test("curation ledger covers every document with a consistent first-cause") {
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    val ledger = Selection.runLedger(spark, sfDir).collect()
    assert(ledger.length == docs.count())
    val byDisp = ledger.groupBy(_.getAs[String]("disposition"))
    assert(byDisp.keySet.subsetOf(
      Set("contaminated", "dup_loser", "gate_fail", "kept")))
    assert(byDisp.contains("kept"), "fixture corpus must keep something")
    // dup_loser rows are exactly the non-survivor cluster members not
    // already claimed by contamination
    val comp = spark.table(graft.pipeline.Dedup.clusterCompView(spark, sfDir))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cid")).toMap
    val contam = ledger.filter(_.getAs[String]("disposition") == "contaminated")
      .map(_.getAs[Long]("doc_id")).toSet
    val losers = ledger.filter(_.getAs[String]("disposition") == "dup_loser")
      .map(_.getAs[Long]("doc_id")).toSet
    val expectedLosers = comp.collect {
      case (id, cid) if id != cid && !contam.contains(id) => id
    }.toSet
    assert(losers == expectedLosers,
      s"missing=${(expectedLosers -- losers).take(5)} extra=${(losers -- expectedLosers).take(5)}")
    // kept rows pass the gate
    val gate = spark.table(graft.pipeline.QualityGate.outView(spark, sfDir))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("keep")).toMap
    ledger.filter(_.getAs[String]("disposition") == "kept").foreach { r =>
      assert(gate(r.getAs[Long]("doc_id")) == 1,
        s"kept doc ${r.getAs[Long]("doc_id")} fails the gate")
    }
  }

  // ---- mp3 / mp4 structural parse (Multimodal) ------------------------

  import graft.pipeline.Multimodal

  test("mp3 frame walk round-trips the rendered CBR stream exactly") {
    val st = Multimodal.decodeMp3Meta(Multimodal.renderMp3(5, 128, 44100)).get
    // 5 frames * 1152 samples * 1000 / 44100 Hz = 130 ms (integer floor)
    assert(st == Multimodal.Mp3Stats(1, 44100, 128, 5, 130))
  }

  test("mp3 walk skips a leading ID3v2 tag and averages VBR bitrates") {
    val frames = Multimodal.renderMp3(1, 64, 44100) ++
      Multimodal.renderMp3(1, 128, 44100)
    val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 20) ++
      Array.fill[Byte](20)(0x55)
    val st = Multimodal.decodeMp3Meta(id3 ++ frames).get
    assert(st.nFrames == 2 && st.bitrateKbps == 96 && st.sampleRate == 44100)
  }

  test("mp3 walk handles MPEG2 framing and rejects truncation/garbage") {
    // hand-built MPEG2 Layer III frame: 64 kbps (V2 table idx 8), 22050 Hz
    val len = 72 * 64 * 1000 / 22050
    val f = Array.ofDim[Byte](len)
    f(0) = 0xff.toByte; f(1) = 0xf3.toByte; f(2) = ((8 << 4) | (0 << 2)).toByte
    assert(Multimodal.decodeMp3Meta(f).get ==
      Multimodal.Mp3Stats(2, 22050, 64, 1, 576 * 1000 / 22050))
    val two = Multimodal.renderMp3(2, 128, 44100)
    assert(Multimodal.decodeMp3Meta(two.take(two.length - 10)).isEmpty,
      "truncated second frame must reject")
    assert(Multimodal.decodeMp3Meta("not audio at all".getBytes("UTF-8")).isEmpty)
  }

  test("mp4 box walk round-trips the rendered file and rejects overruns") {
    val st = Multimodal.decodeMp4Meta(Multimodal.renderMp4(90000, 123456, 2)).get
    assert(st == Multimodal.Mp4Stats("isom", 90000, 123456, 2, 1371))
    val bad = Multimodal.renderMp4(1000, 500, 1)
    bad(16 + 11) = 0x7f // mvhd size now overruns its parent moov
    assert(Multimodal.decodeMp4Meta(bad).isEmpty)
    assert(Multimodal.decodeMp4Meta("0123456789abcdef".getBytes("UTF-8")).isEmpty,
      "no ftyp magic must reject")
  }

  test("mp4 box walk reads a v1 (64-bit) mvhd") {
    val b = Array.ofDim[Byte](16 + 8 + 120)
    var p = 0
    def tag(s: String): Unit = { s.getBytes("US-ASCII").copyToArray(b, p); p += 4 }
    def w32(v: Long): Unit = {
      b(p) = (v >>> 24).toByte; b(p + 1) = (v >>> 16).toByte
      b(p + 2) = (v >>> 8).toByte; b(p + 3) = v.toByte; p += 4
    }
    w32(16); tag("ftyp"); tag("mp42"); w32(0)
    w32(8 + 120); tag("moov")
    w32(120); tag("mvhd")
    w32(0x01000000L)                 // version 1 + flags
    w32(0); w32(0); w32(0); w32(0)   // creation, modification (64-bit each)
    w32(600)                         // timescale
    w32(1); w32(0x2b67L)             // duration = 2^32 + 11111
    while (p < b.length) w32(0)
    val st = Multimodal.decodeMp4Meta(b).get
    assert(st.majorBrand == "mp42" && st.timescale == 600 &&
      st.duration == 4294978407L && st.durationMs == 4294978407L * 1000 / 600)
  }

  test("featuresOf dispatches mp3/mp4 structurally, opaque for the rest") {
    import spark.implicits._
    val ds = Seq(
      1L -> Multimodal.renderMp3(5, 128, 44100),
      2L -> Multimodal.renderMp4(1000, 2500, 3),
      3L -> "plain text payload".getBytes("UTF-8")).toDS()
    val rows = Multimodal.extractFrom(ds).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("kind"),
         r.getAs[scala.collection.Seq[Double]]("features").toList)).toMap
    assert(rows(1L)._1 == "mp3" && rows(1L)._2 == List(44100.0, 5.0, 130.0, 128.0))
    assert(rows(2L)._1 == "mp4" && rows(2L)._2 == List(1000.0, 2500.0, 2500.0, 3.0))
    assert(rows(3L)._1 == "opaque")
  }

  // ---- CCNet-style bigram-LM perplexity filter ------------------------

  import graft.pipeline.Perplexity

  test("perplexity on a hand corpus matches the hand-computed model") {
    import spark.implicits._
    Seq(
      (1L, "a b a", "src0"), // the reference slice: trains the LM
      (2L, "a b c", "src1")) // c is OOV -> <unk>
      .toDF("doc_id", "text", "source")
      .createOrReplaceTempView("__r10_lm_hand")
    val rows = spark.sql(Perplexity.sql("__r10_lm_hand")(SparkDialect))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // model: bigrams (<s>,a) (a,b) (b,a) each c=1; ctx <s>:1 a:1 b:1;
    // vocab {a,b} so V=3 -> every seen bigram p=2/4, unseen-from-seen-ctx p=1/4
    def micro(p: Double) = math.round(math.log(p) * 1e6)
    val lp2 = 2 * micro(0.5) + micro(0.25) // doc 2: (<s>,a) (a,b) (b,<unk>)
    val r2 = rows(2L)
    assert(r2.getAs[Long]("n_tokens") == 3 && r2.getAs[Long]("oov_ct") == 1)
    assert(r2.getAs[Long]("lp_micro") == lp2)
    val expPpl = math.rint(math.exp(-(lp2.toDouble / 1e6) / 3) * 10000) / 10000
    assert(math.abs(r2.getAs[Double]("ppl") - expPpl) < 1e-9)
    // doc 1 is pure training prose: all three bigrams seen -> lower ppl
    assert(rows(1L).getAs[Double]("ppl") < r2.getAs[Double]("ppl"))
  }

  // ---- Bloom-filter decontamination -----------------------------------

  import graft.pipeline.BloomDecontam

  test("bloom decontamination: planted eval span flags, no false negatives") {
    import spark.implicits._
    // 13-word span shared verbatim between an eval doc (id % 23 = 0)
    // and a corpus doc; a second corpus doc is clean
    val span = (1 to 13).map(i => s"tok$i").mkString(" ")
    Seq(
      (23L, s"eval prefix $span eval suffix"),
      (1L, s"corpus head $span corpus tail"),
      (2L, "a totally different stream of words " +
        (1 to 13).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text").createOrReplaceTempView("__r10_bloom_hand")
    val rows = spark.sql(BloomDecontam.sql("__r10_bloom_hand")(SparkDialect))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // Bloom filters have NO false negatives: every one of doc 1's grams
    // that textually occurs in the eval doc must register as a hit.
    // Doc 1 contains the full 13-word eval span -> exactly 1 shared gram.
    assert(rows(1L).getAs[Long]("bloom_hit_ct") >= 1,
      "shared 13-gram must hit the filter (no false negatives)")
    assert(rows(1L).getAs[Long]("gram_ct") == 5) // 17 words -> 5 grams
    // doc 2 shares nothing; at this filter load FPs are ~impossible
    assert(rows(2L).getAs[Long]("bloom_hit_ct") == 0)
    assert(!rows.contains(23L), "eval docs are excluded from the probe")
  }

  test("bloom engine path is row-identical to the one-statement form") {
    val engine = BloomDecontam.run(spark, sfDir).collect().map(_.toSeq).toSeq
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__r10_bloom_docs")
    val direct = spark.sql(BloomDecontam.sql("__r10_bloom_docs")(SparkDialect))
      .collect().map(_.toSeq).toSeq
    assert(engine.nonEmpty && engine == direct,
      s"first diff: ${engine.zip(direct).find { case (a, b) => a != b }}")
  }

  test("bloom probe joins the filter by broadcast; filter is word-bounded") {
    val plan = BloomDecontam.run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"filter probe must broadcast the <=${BloomDecontam.Words}-row filter:\n$plan")
    // the landed filter relation is bounded by Words rows and every
    // word uses only the 60 sign-safe bits
    val words = spark.sql(
      s"SELECT COUNT(*) c, MIN(w) mn FROM ${BloomDecontam.filterView(spark, sfDir)}").head()
    assert(words.getLong(0) <= BloomDecontam.Words)
    assert(words.getLong(1) >= 0L, "no word may set the sign bits")
  }

  test("engine perplexity path is row-identical to the one-statement form") {
    val engine = Perplexity.run(spark, sfDir).collect().map(_.toSeq).toSeq
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__r10_lm_docs")
    val direct = spark.sql(Perplexity.sql("__r10_lm_docs")(SparkDialect))
      .collect().map(_.toSeq).toSeq
    assert(engine.nonEmpty && engine == direct,
      s"first diff: ${engine.zip(direct).find { case (a, b) => a != b }}")
  }

  test("perplexity terciles are balanced and ordered") {
    val rows = Perplexity.run(spark, sfDir).collect()
    val byBucket = rows.groupBy(_.getAs[Int]("ppl_bucket"))
    assert(byBucket.keySet == Set(1, 2, 3))
    val sizes = byBucket.view.mapValues(_.length).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"unbalanced terciles: $byBucket")
    assert(byBucket(1).map(_.getAs[Double]("ppl")).max <=
      byBucket(3).map(_.getAs[Double]("ppl")).min,
      "head bucket must hold the lowest perplexities")
  }

  test("perplexity tercile decomposition equals literal NTILE exactly") {
    // the engine restates NTILE(3) as bucket-offset + bucket-partitioned
    // ROW_NUMBER; pin it to a literal NTILE computed independently over
    // the collected (ppl, doc_id) order
    val rows = Perplexity.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("ppl"),
        r.getAs[Int]("ppl_bucket")))
    val n = rows.length
    val (base, rem) = (n / 3, n % 3)
    val expected = rows.sortBy(r => (r._2, r._1)).zipWithIndex.map {
      case ((id, _, _), ix) =>
        val rnk = ix + 1
        val b = if (rnk <= rem * (base + 1)) (rnk - 1) / (base + 1) + 1
                else rem + (rnk - 1 - rem * (base + 1)) / base + 1
        id -> b
    }.toMap
    rows.foreach { case (id, _, got) =>
      assert(got == expected(id), s"doc $id bucket $got != NTILE ${expected(id)}")
    }
    // the corpus-sized rank window partitions on the ppl bucket
    val p = Perplexity.run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(spb") || p.contains("hashpartitioning(pb"),
      "rank window must partition on the coarse ppl bucket")
  }

  test("container-meta entry matches its arithmetic oracle rendering on Spark") {
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__r10_media_docs")
    val direct = spark.sql(
      Multimodal.containerMetaSql("__r10_media_docs")(SparkDialect))
      .collect().map(_.toSeq).toSeq
    val engine = Multimodal.runContainerMeta(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(engine.nonEmpty && engine == direct,
      s"first diff: ${engine.zip(direct).find { case (a, b) => a != b }}")
  }
}
