package graft

import graft.pipeline.{Dedup, Similarity, TextAnalysis}

class PipelineSpec extends SparkSpec {

  test("text analysis emits one row per document with sane metrics") {
    val rows = TextAnalysis.run(spark, sfDir).collect()
    assert(rows.length == 500)
    val r = rows.find(!_.isNullAt(1)).get
    assert(r.getAs[Long]("ws_token_ct") >= 0)
    assert(r.getAs[String]("fingerprint").length == 32)
  }

  test("exact dedup groups identical texts") {
    val rows = Dedup.runExact(spark, sfDir).collect()
    assert(rows.forall(_.getAs[Long]("dupe_ct") > 1))
  }

  test("jaccard and minhash agree: minhash pairs are a subset") {
    val jac = Dedup.runJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.runMinhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(jac))
  }

  test("winnowing fingerprints recover the word-shingle near-dup pairs") {
    val winnow = Dedup.runWinnow(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.runJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // char-gram winnowing samples ~2/(w+1) of the gram stream, so every
    // >=0.5-word-Jaccard pair should surface among its top pairs
    if (jac.nonEmpty) {
      val missed = jac -- winnow
      assert(missed.size <= jac.size / 5,
        s"winnowing missed ${missed.size} of ${jac.size} known near-dups")
    }
    // fingerprint Jaccard is a sane similarity in (0, 1]
    Dedup.runWinnow(spark, sfDir).collect().foreach { r =>
      val j = r.getAs[Double]("winnow_jaccard")
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("simhash produces candidate near-dup pairs with small hamming") {
    val rows = Dedup.runSimhash(spark, sfDir).collect()
    assert(rows.forall(_.getAs[Long]("hamming") <= 3L))
  }

  test("brute-force knn returns k ranked neighbors per query") {
    val rows = Similarity.runBruteForce(spark, sfDir).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 5)
    assert(byQuery.values.forall(_.length == 10))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0001))
  }

  test("ivf knn probes one label partition per query") {
    val rows = Similarity.runIvf(spark, sfDir).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.values.forall(rs => rs.map(_.getAs[Int]("probed_label")).distinct.length == 1))
  }

  test("lsh fold form is bit-identical to the unrolled oracle form") {
    // same hyperplanes, same left-to-right addition order -> identical
    // buckets, neighbors, and cosines
    val unrolled = Similarity.runLsh(spark, sfDir).collect().map(_.toSeq)
    val fold = Similarity.runLshFold(spark, sfDir).collect().map(_.toSeq)
    assert(unrolled.nonEmpty)
    assert(unrolled.toSeq == fold.toSeq)
  }

  test("repetition signals match hand-computed gram frequencies") {
    import spark.implicits._
    // doc 1: 11×"a" + "b" — words: top 11/12, dup 11/12, distinct 2/12;
    //   11 bigrams: (a a)×10 + (a b): top/dup 10/11; 10 trigrams:
    //   (a a a)×9 + (a a b): top 9/10. Flags on every signal.
    // doc 2: 12 distinct words — fractions below every threshold.
    Seq((1L, ("a " * 11) + "b"),
        (2L, (1 to 12).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text").createOrReplaceTempView("__graft_rep_test")
    val rows = spark.sql(graft.pipeline.Repetition.sql("__graft_rep_test")(
        graft.oracle.SparkDialect)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = rows(1L)
    assert(d1.getAs[Long]("word_ct") == 12)
    assert(d1.getAs[Double]("distinct_ratio") == 0.1667)
    assert(d1.getAs[Double]("top_word_frac") == 0.9167)
    assert(d1.getAs[Double]("dup_word_frac") == 0.9167)
    assert(d1.getAs[Double]("top_bigram_frac") == 0.9091)
    assert(d1.getAs[Double]("dup_bigram_frac") == 0.9091)
    assert(d1.getAs[Double]("top_trigram_frac") == 0.9)
    assert(d1.getAs[Int]("repetitive_flag") == 1)
    val d2 = rows(2L)
    assert(d2.getAs[Double]("distinct_ratio") == 1.0)
    assert(d2.getAs[Double]("dup_word_frac") == 0.0)
    assert(d2.getAs[Double]("top_word_frac") == 0.0833)
    assert(d2.getAs[Int]("repetitive_flag") == 0)
    // fixture-wide: one row per document, fractions bounded
    val all = graft.pipeline.Repetition.run(spark, sfDir).collect()
    assert(all.length == 500)
    assert(all.forall { r =>
      val f = r.getAs[Double]("top_word_frac"); f > 0.0 && f <= 1.0
    })
  }

  test("corpus stats keep zero-token documents in the budget") {
    import spark.implicits._
    // two empty duplicates + one normal doc: empties have no repetition
    // row but must still count toward doc_ct and the dup rate
    Seq((1L, "", "web", "en"), (2L, "", "web", "en"),
        (3L, "real words here", "web", "en"))
      .toDF("doc_id", "text", "source", "lang")
      .createOrReplaceTempView("__graft_corpus_empty")
    val rows = spark.sql(graft.pipeline.CorpusStats.sql("__graft_corpus_empty")(
      graft.oracle.SparkDialect)).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("doc_ct") == 3)
    assert(r.getAs[Long]("token_ct") == 3)
    // the two empty docs share one fingerprint -> exactly one dup
    assert(r.getAs[Long]("distinct_fingerprints") == 2)
    assert(r.getAs[Long]("dup_doc_ct") == 1)
    // means average only the docs carrying the signal
    assert(r.getAs[Double]("avg_distinct_ratio") == 1.0)
  }

  test("corpus stats roll up documents into per-(source, lang) budgets") {
    val rows = graft.pipeline.CorpusStats.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // groups partition the corpus: doc counts sum to the table size
    assert(rows.map(_.getAs[Long]("doc_ct")).sum == 500)
    assert(rows.forall { r =>
      val docs = r.getAs[Long]("doc_ct")
      val distinct = r.getAs[Long]("distinct_fingerprints")
      val dups = r.getAs[Long]("dup_doc_ct")
      distinct + dups == docs && dups >= 0 &&
        r.getAs[Long]("repetitive_ct") <= docs &&
        r.getAs[Long]("token_ct") >= docs // every fixture doc has words
    })
  }

  test("pii scrub detects and redacts every class without cross-eating") {
    import spark.implicits._
    Seq(
      (1L, "reach alice.smith+x@mail.example.org or bob@ex.io today"),
      (2L, "call 555-123-4567 about id 987-65-4321"), // phone AND ssn
      (3L, "server 192.168.0.1 and 10.0.0.2 up"),
      (4L, "no pii here at all"))
      .toDF("id", "text").createOrReplaceTempView("__graft_pii_test")
    val rows = spark.sql(graft.pipeline.PiiScrub.sql("__graft_pii_test")(
        graft.oracle.SparkDialect)).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(rows(1L).getAs[Long]("email_ct") == 2)
    assert(rows(1L).getAs[Long]("pii_total") == 2)
    // the 3-2-4 ssn shape is not half-eaten by the 3-3-4 phone pass
    assert(rows(2L).getAs[Long]("phone_ct") == 1)
    assert(rows(2L).getAs[Long]("ssn_ct") == 1)
    assert(rows(3L).getAs[Long]("ip_ct") == 2)
    assert(rows(4L).getAs[Long]("pii_total") == 0)
    // redaction is total: the clean doc's hash equals its plain MD5,
    // and a scrubbed doc's redacted text contains no residual match
    val plainMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("no pii here at all".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows(4L).getAs[String]("redacted_hash") == plainMd5)
    val redacted = spark.sql(
      """SELECT regexp_replace(regexp_replace(text,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>'),
        |  '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>') AS t
        |FROM __graft_pii_test WHERE id IN (1, 2)""".stripMargin).collect()
    assert(redacted.forall(r => !r.getString(0).contains("@")))

    // the fixture entry: every row carries exactly one synthesized class
    val entry = graft.pipeline.PiiScrub.run(spark, sfDir).collect()
    assert(entry.nonEmpty)
    assert(entry.forall { r =>
      val total = r.getAs[Long]("pii_total")
      total == 1 || (total == 2 && r.getAs[Long]("ip_ct") == 1 &&
        r.getAs[Long]("ssn_ct") == 1)
    })
  }

  test("decontamination flags eval docs whose fingerprints leak into the corpus") {
    import spark.implicits._
    // doc 23 ("eval", 23 % 23 == 0) is a verbatim copy of corpus doc 1;
    // doc 2 shares nothing. Winnowing k=8 char-grams need 11+ chars.
    val copied = "the quick brown fox jumps over the lazy dog again and again"
    Seq((1L, copied), (2L, "completely unrelated content with different characters"),
        (23L, copied))
      .toDF("doc_id", "text").createOrReplaceTempView("__graft_decon_test")
    val rows = spark.sql(graft.pipeline.Dedup.decontaminateSql(
      "__graft_decon_test")(graft.oracle.SparkDialect)).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("corpus_id") == 1L)
    assert(rows.head.getAs[Long]("eval_id") == 23L)
    // a verbatim copy covers the eval doc's full fingerprint set
    assert(rows.head.getAs[Double]("eval_overlap") == 1.0)

    // fixture-wide: sides respect the split, overlaps bounded
    val entry = graft.pipeline.Dedup.runDecontaminate(spark, sfDir).collect()
    assert(entry.forall { r =>
      r.getAs[Long]("corpus_id") % graft.pipeline.Dedup.EvalMod != 0 &&
        r.getAs[Long]("eval_id") % graft.pipeline.Dedup.EvalMod == 0 &&
        r.getAs[Double]("eval_overlap") > 0.0 &&
        r.getAs[Double]("eval_overlap") <= 1.0
    })
  }

  test("stratified sampling is deterministic and rate-faithful") {
    val rows = graft.pipeline.StratifiedSample.run(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    // every configured stratum appears; rate 1.0 keeps everything
    assert(rows.keySet == Set("en", "de", "fr", "es", "zh"))
    assert(rows("en").getAs[Long]("sampled_ct") ==
      rows("en").getAs[Long]("total_ct"))
    // sub-1.0 strata keep a strict subset (fixture strata are large
    // enough that an all-or-nothing draw is astronomically unlikely)
    assert(rows("zh").getAs[Long]("sampled_ct") <
      rows("zh").getAs[Long]("total_ct"))
    // the draw is content-keyed: rerunning yields the identical mix
    val again = graft.pipeline.StratifiedSample.run(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("sampled_ct")).toMap
    assert(rows.forall { case (l, r) => again(l) == r.getAs[Long]("sampled_ct") })
  }

  test("embedding stats flag ragged dims, zero vectors and collapsed labels") {
    import spark.implicits._
    // label 0: two identical unit vectors (collapsed: cos-to-centroid 1)
    // + a zero vector; label 1: opposite vectors (centroid ~0) and one
    // vector short a dimension (ragged)
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0), (2L, Array(1f, 0f, 0f, 0f), 0),
      (3L, Array(0f, 0f, 0f, 0f), 0),
      (4L, Array(0f, 1f, 0f, 0f), 1), (5L, Array(0f, -1f, 0f, 0f), 1),
      (6L, Array(0f, 0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    rows.createOrReplaceTempView("__graft_emb_stats_test")
    val out = spark.sql(graft.pipeline.EmbeddingStats.sql(
        "__graft_emb_stats_test")(graft.oracle.SparkDialect)).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    val l0 = out(0)
    assert(l0.getAs[Long]("vec_ct") == 3)
    assert(l0.getAs[Long]("zero_ct") == 1)
    assert(l0.getAs[Int]("min_dim") == 4 && l0.getAs[Int]("max_dim") == 4)
    assert(l0.getAs[Double]("min_norm") == 0.0)
    assert(l0.getAs[Double]("max_norm") == 1.0)
    // the two unit vectors align perfectly with their centroid
    assert(l0.getAs[Double]("avg_cos_centroid") == 1.0)
    val l1 = out(1)
    assert(l1.getAs[Int]("min_dim") == 3 && l1.getAs[Int]("max_dim") == 4,
      "ragged dimension not surfaced")

    // fixture-wide: every label consistent at dim 64, no zero vectors,
    // random vectors sit near-orthogonal to their centroid
    val entry = graft.pipeline.EmbeddingStats.run(spark, sfDir).collect()
    assert(entry.nonEmpty)
    assert(entry.forall { r =>
      r.getAs[Int]("min_dim") == 64 && r.getAs[Int]("max_dim") == 64 &&
        r.getAs[Long]("zero_ct") == 0 &&
        math.abs(r.getAs[Double]("avg_cos_centroid")) < 0.9
    })
  }

  test("chunker windows cover every document with the configured overlap") {
    import spark.implicits._
    // 10-char doc, size 6, overlap 2 (stride 4): chunks at 1, 5, 9 —
    // ceil((10-2)/4) = 2 full strides... n = ceil(8/4) = 2 chunks:
    // [1..6], [5..10]; a 3-char doc gets its single short chunk
    Seq((1L, "abcdefghij"), (2L, "xyz"))
      .toDF("doc_id", "text").createOrReplaceTempView("__graft_chunk_test")
    val rows = spark.sql(graft.pipeline.Chunker.sql(
        "__graft_chunk_test", size = 6, overlap = 2)(
        graft.oracle.SparkDialect)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")) -> r).toMap
    assert(rows.size == 3)
    assert(rows((1L, 0)).getAs[Int]("chunk_start") == 1)
    assert(rows((1L, 0)).getAs[Int]("chunk_len") == 6)
    assert(rows((1L, 1)).getAs[Int]("chunk_start") == 5)
    assert(rows((1L, 1)).getAs[Int]("chunk_len") == 6)
    assert(rows((2L, 0)).getAs[Int]("chunk_len") == 3)
    // successive chunks share exactly `overlap` characters: chunk 0
    // covers [1..6], chunk 1 [5..10] — positions 5, 6 overlap
    // (verified by construction of start/len above)

    // fixture-wide: chunks tile every doc (last chunk reaches the end)
    val entry = graft.pipeline.Chunker.run(spark, sfDir).collect()
    val byDoc = entry.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.size == 500)
    val docLens = graft.core.Tables.load(spark, sfDir, "documents")
      .selectExpr("doc_id", "LENGTH(text) AS n").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    assert(byDoc.forall { case (id, chunks) =>
      val last = chunks.maxBy(_.getAs[Int]("chunk_idx"))
      last.getAs[Int]("chunk_start") + last.getAs[Int]("chunk_len") - 1 ==
        docLens(id)
    }, "chunks do not tile to the document end")
  }

  test("duplicate clusters resolve pairs into components with one survivor") {
    val rows = graft.pipeline.Dedup.runClusters(spark, sfDir).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getAs[Long]("doc_id")).min == cid,
        s"cluster id $cid is not the min member id")
      assert(members.count(_.getAs[Int]("is_survivor") == 1) == 1,
        s"cluster $cid does not have exactly one survivor")
      assert(members.forall(_.getAs[Long]("cluster_sz") == members.length))
      assert(members.length >= 2, s"singleton cluster $cid emitted")
    }
    // transitivity: both endpoints of every minhash pair share a cluster
    val cidOf = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    Dedup.runMinhash(spark, sfDir).collect().foreach { p =>
      assert(cidOf(p.getLong(0)) == cidOf(p.getLong(1)),
        s"pair (${p.getLong(0)}, ${p.getLong(1)}) split across clusters")
    }
  }

  test("wordNgramsRel row-local override equals the window form across n") {
    val spark2 = spark
    import spark2.implicits._
    // planted edge cases: leading/trailing whitespace, runs, short docs
    Seq((1L, "  alpha beta gamma delta epsilon zeta  "),
        (2L, "one  two\tthree"),
        (3L, "short"),
        (4L, "a b"),
        (5L, (1 to 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text").createOrReplaceTempView("__ng_par")
    val d: graft.oracle.Dialect = graft.oracle.SparkDialect
    Seq(2, 3, 5, 13).foreach { n =>
      val rowLocal = spark.sql(d.wordNgramsRel("__ng_par", "doc_id", "text", n))
      // the trait's default LEAD-window rendering, hand-inlined with the
      // Spark wordsRel — the oracle-path shape
      val leads = (1 to (n - 1)).map(i => s"LEAD(word, $i) OVER w AS w$i")
        .mkString(", ")
      val concat = (1 to (n - 1)).map(i => s"w$i")
        .mkString("word || ' ' || ", " || ' ' || ", "")
      val windowed = spark.sql(
        s"""SELECT id, $concat AS gram FROM (
           |  SELECT id, word, $leads
           |    FROM (${d.wordsRel("__ng_par", "doc_id", "text")}) words
           |  WINDOW w AS (PARTITION BY id ORDER BY pos)
           |) lg WHERE w${n - 1} IS NOT NULL""".stripMargin)
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(canon(rowLocal) == canon(windowed), s"n=$n gram multisets differ")
      assert(!rowLocal.queryExecution.executedPlan.toString.contains("Window"),
        s"n=$n row-local form must plan no window")
    }
  }

  test("row-local shingle derivation equals the window form, shuffle-free") {
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__sh_par")
    val rowLocal = spark.sql(graft.pipeline.Dedup.shinglesSparkSql("__sh_par"))
    val d: graft.oracle.Dialect = graft.oracle.SparkDialect
    val windowed = spark.sql(
      s"""WITH words AS (
         |  ${d.wordsRel("__sh_par", "doc_id", "text")}
         |),
         |lagged AS (
         |  SELECT id, word,
         |         LEAD(word, 1) OVER w AS w1, LEAD(word, 2) OVER w AS w2,
         |         LEAD(word, 3) OVER w AS w3, LEAD(word, 4) OVER w AS w4
         |    FROM words
         |  WINDOW w AS (PARTITION BY id ORDER BY pos)
         |)
         |SELECT DISTINCT id,
         |       word || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4 AS shingle
         |  FROM lagged WHERE w4 IS NOT NULL""".stripMargin)
    val a = rowLocal.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = windowed.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b, s"shingle relations differ: ${(a -- b).take(3)} / ${(b -- a).take(3)}")
    assert(!rowLocal.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("row-local repetition grams equal the window form incl. tail NULLs") {
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__rep_par")
    val rowLocal = spark.sql(
      graft.pipeline.Repetition.gramsSparkSql("__rep_par"))
    val windowed = spark.sql(graft.pipeline.Repetition
      .gramsSql("__rep_par")(graft.oracle.SparkDialect))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3))))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(canon(rowLocal) == canon(windowed), "gram multisets differ")
    assert(!rowLocal.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("row-local trigram derivation equals the window form, shuffle-free") {
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__bp_tg_par")
    val rowLocal = spark.sql(
      graft.pipeline.Boilerplate.tgSparkSql("__bp_tg_par"))
    val windowed = spark.sql(graft.pipeline.Boilerplate
      .tgSql("__bp_tg_par")(graft.oracle.SparkDialect))
    val a = rowLocal.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = windowed.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b, s"trigram relations differ: ${(a -- b).take(3)} / ${(b -- a).take(3)}")
    // the row-local form is a pure projection+explode+distinct: the only
    // exchange is the DISTINCT's — the token stream itself never
    // shuffles into a per-doc sort (the windowed form pays Sort+Exchange)
    val p = rowLocal.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "row-local form must plan no window")
  }

  test("boilerplate scoring emits one sane row per document") {
    val rows = graft.pipeline.Boilerplate.run(spark, sfDir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val frac = r.getAs[Double]("boilerplate_frac")
      assert(frac >= 0.0 && frac <= 1.0)
      assert(r.getAs[Long]("boilerplate_ct") <= r.getAs[Long]("gram_ct"))
      assert(r.getAs[Int]("boilerplate_heavy") ==
        (if (r.getAs[Long]("boilerplate_ct") >= 0.5 * r.getAs[Long]("gram_ct")) 1 else 0))
    }
  }

  test("quality gate composes reason flags into the keep bit") {
    import spark.implicits._
    Seq(1L, 2L, 3L, 4L).toDF("doc_id").createOrReplaceTempView("qg_docs")
    Seq((1L, 50L, 0.8), (2L, 5L, 0.8), (3L, 50L, 0.05), (4L, 50L, 0.9))
      .toDF("doc_id", "ws_token_ct", "quality_score")
      .createOrReplaceTempView("qg_ta")
    Seq((3L, 1)).toDF("doc_id", "repetitive_flag")
      .createOrReplaceTempView("qg_rep")
    Seq((1L, 0)).toDF("doc_id", "boilerplate_heavy")
      .createOrReplaceTempView("qg_bp")
    Seq((4L, 0)).toDF("doc_id", "is_survivor")
      .createOrReplaceTempView("qg_cl")
    val rows = spark.sql(graft.pipeline.QualityGate.bodySql(
        "qg_docs", "qg_ta", "qg_rep", "qg_bp", "qg_cl"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Int]("keep") == 1)
    assert(rows(2L).getAs[Int]("too_short") == 1 && rows(2L).getAs[Int]("keep") == 0)
    assert(rows(3L).getAs[Int]("low_quality") == 1 &&
      rows(3L).getAs[Int]("repetitive") == 1 && rows(3L).getAs[Int]("keep") == 0)
    assert(rows(4L).getAs[Int]("dup_dropped") == 1 && rows(4L).getAs[Int]("keep") == 0)
  }

  test("quality gate covers every document and keep matches the flags") {
    val rows = graft.pipeline.QualityGate.run(spark, sfDir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val fired = Seq("too_short", "too_long", "low_quality", "repetitive",
        "boilerplate", "dup_dropped").map(r.getAs[Int]).sum
      assert(r.getAs[Int]("keep") == (if (fired == 0) 1 else 0))
    }
    // the gate must actually drop the dup-cluster losers
    val losers = Dedup.runClusters(spark, sfDir).collect()
      .filter(_.getAs[Int]("is_survivor") == 0).map(_.getAs[Long]("doc_id")).toSet
    val dropped = rows.filter(_.getAs[Int]("dup_dropped") == 1)
      .map(_.getAs[Long]("doc_id")).toSet
    assert(dropped == losers)
  }

  test("post-gate budget conserves docs and tokens per slice") {
    val kept = graft.pipeline.CorpusStats.runKept(spark, sfDir).collect()
    val raw = graft.pipeline.CorpusStats.run(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("doc_ct"), r.getAs[Long]("token_ct"))).toMap
    kept.foreach { r =>
      val key = (r.getAs[String]("source"), r.getAs[String]("lang"))
      assert(raw(key)._1 == r.getAs[Long]("doc_ct"), s"doc_ct drifted for $key")
      assert(raw(key)._2 == r.getAs[Long]("token_ct"), s"token_ct drifted for $key")
      assert(r.getAs[Long]("kept_doc_ct") <= r.getAs[Long]("doc_ct"))
      assert(r.getAs[Long]("kept_token_ct") <= r.getAs[Long]("token_ct"))
    }
    // the gate drops SOMETHING on the fixture corpus
    assert(kept.map(_.getAs[Long]("kept_doc_ct")).sum <
      kept.map(_.getAs[Long]("doc_ct")).sum)
  }

  test("language confusion shares sum to 1 per labeled language") {
    val rows = graft.pipeline.CorpusStats.runConfusion(spark, sfDir).collect()
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, cells) =>
      val share = cells.map(_.getAs[Double]("lang_share")).sum
      assert(math.abs(share - 1.0) < 0.001 + 0.0001 * cells.length,
        s"shares for $lang sum to $share")
      assert(cells.map(_.getAs[Long]("doc_ct")).sum ==
        rows.filter(_.getAs[String]("lang") == lang).map(_.getAs[Long]("doc_ct")).sum)
    }
  }

  test("sequence packing conserves chunks and fills packs to the budget") {
    val packs = graft.pipeline.Packer.run(spark, sfDir).collect()
    val chunks = graft.pipeline.Chunker.run(spark, sfDir).collect()
    // conservation: every chunk and every token lands in exactly one pack
    assert(packs.map(_.getAs[Long]("chunk_ct")).sum == chunks.length)
    assert(packs.map(_.getAs[Long]("token_ct")).sum ==
      chunks.map(_.getAs[Long]("token_ct")).sum)
    // every pack except possibly a shard's LAST starts within budget:
    // its token fill reaches at least the budget boundary it spans
    packs.groupBy(_.getAs[Int]("shard")).foreach { case (_, ps) =>
      val sorted = ps.sortBy(_.getAs[Long]("pack_id"))
      sorted.dropRight(1).foreach { p =>
        assert(p.getAs[Long]("token_ct") > 0)
      }
      // pack ids are dense from 0 within a shard (greedy fill never
      // skips a boundary unless one chunk spans multiple budgets)
      assert(sorted.head.getAs[Long]("pack_id") == 0L)
    }
    // doc ranges within a shard never interleave across packs
    packs.groupBy(_.getAs[Int]("shard")).foreach { case (_, ps) =>
      val sorted = ps.sortBy(_.getAs[Long]("pack_id"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("doc_max") <= b.getAs[Long]("doc_min"))
        case _ =>
      }
    }
    // the manifest carries the data-derived shard count (parallelism
    // floor at fixture scale), so a loader can re-derive every pack
    assert(packs.map(_.getAs[Int]("shards")).distinct.sameElements(
      Array(graft.pipeline.Packer.MinShards)))
  }

  test("pack contents are invariant to cluster parallelism") {
    // the shard count derives from the DATA (chunk count), never the
    // cluster: the same corpus must pack identically under any
    // shuffle-partition setting — re-runs on differently-sized clusters
    // reproduce byte-identical manifests
    def canon(rows: Array[org.apache.spark.sql.Row]): Set[String] =
      rows.map(_.toSeq.mkString("|")).toSet
    val conf = spark.conf.get("spark.sql.shuffle.partitions")
    val a = canon(graft.pipeline.Packer.run(spark, sfDir).collect())
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = canon(graft.pipeline.Packer.run(spark, sfDir).collect())
      assert(a == b, "packs changed under a different parallelism")
    } finally spark.conf.set("spark.sql.shuffle.partitions", conf)
  }

  test("exact-token packing budgets in tokenizer-grain counts") {
    val exact = graft.pipeline.Packer.runExact(spark, sfDir).collect()
    val chunks = spark.sql(graft.pipeline.Chunker.sql(
      {
        graft.core.Tables.load(spark, sfDir, "documents")
          .createOrReplaceTempView("__graft_exact_docs")
        "__graft_exact_docs"
      },
      tokenRe = graft.pipeline.Chunker.ExactTokenRe)(
      graft.oracle.SparkDialect)).collect()
    // conservation holds in the exact grain too
    assert(exact.map(_.getAs[Long]("chunk_ct")).sum == chunks.length)
    assert(exact.map(_.getAs[Long]("token_ct")).sum ==
      chunks.map(_.getAs[Long]("token_ct")).sum)
    // the exact grain counts punctuation separately, so it is never
    // smaller than the whitespace estimate on the same corpus
    val ws = graft.pipeline.Packer.run(spark, sfDir).collect()
    assert(exact.map(_.getAs[Long]("token_ct")).sum >=
      ws.map(_.getAs[Long]("token_ct")).sum)
  }

  test("seeded ivf probes one centroid bucket per query without labels") {
    val rows = graft.pipeline.Similarity.runIvfSeeded(spark, sfDir).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 5)
    byQuery.values.foreach { hits =>
      // all neighbors come from the single probed centroid bucket
      assert(hits.map(_.getAs[Long]("probed_centroid")).distinct.length == 1)
      assert(hits.length <= 5)
      assert(hits.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0001))
    }
  }

  test("chunk dedup flags cross-doc repeated spans with a minimal keeper") {
    val rows = graft.pipeline.Chunker.runDup(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("dupe_ct") > 1)
      assert(r.getAs[Long]("doc_ct") <= r.getAs[Long]("dupe_ct"))
    }
    // duplicated docs (exact dedup groups) must surface duplicated chunks
    val exactDups = Dedup.runExact(spark, sfDir).collect()
    if (exactDups.nonEmpty) assert(rows.nonEmpty)
  }

  test("keywords rank each doc's terms by tf-idf with dense ranks") {
    val rows = graft.pipeline.Keywords.run(spark, sfDir).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.values.foreach { terms =>
      val sorted = terms.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      // scores never increase down the ranking
      val scores = sorted.map(_.getAs[Double]("tfidf"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ann recall is measured against the exact baseline per method") {
    val rows = graft.pipeline.Similarity.runRecall(spark, sfDir).collect()
    val methods = rows.map(_.getAs[String]("method")).distinct.sorted
    assert(methods.sameElements(
      Array("ivf", "ivf_seeded", "ivf_seeded_p2", "lsh", "pq_adc",
        "pq_adc_trained", "quantized_bf")))
    rows.foreach { r =>
      val recall = r.getAs[Double]("recall_at_5")
      assert(recall >= 0.0 && recall <= 1.0)
      assert(r.getAs[Long]("hit_ct") <= 5)
    }
    // the recall gate on the probe knob: probe-2's candidate set is a
    // superset of probe-1's, and a true neighbor in the top-5 can only
    // be displaced by another global-top-5 member — so recall@5 is
    // monotone in nProbe; assert the mean does not decrease
    def mean(m: String): Double = {
      val rs = rows.filter(_.getAs[String]("method") == m)
      rs.map(_.getAs[Double]("recall_at_5")).sum / rs.length
    }
    assert(mean("ivf_seeded_p2") >= mean("ivf_seeded"),
      s"probe-2 recall ${mean("ivf_seeded_p2")} < probe-1 ${mean("ivf_seeded")}")
    // the Lloyd-trained codebook must not lose recall vs the raw seed
    // draw — recentering codewords to their assignment means only
    // tightens quantization error on the fixture
    assert(mean("pq_adc_trained") >= mean("pq_adc"),
      s"trained PQ recall ${mean("pq_adc_trained")} < seed ${mean("pq_adc")}")
  }

  test("lsh fold form holds at production dims (768)") {
    // the unrolled form at 768 dims would emit 8×768 inline literal
    // terms; the fold form constant-folds each plane to one array
    // literal and stays codegen-compact — prove it plans and runs
    import spark.implicits._
    val dim = 768
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1), (i % 4).toInt))
    vecs.toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("__graft_emb768")
    val rows = spark.sql(
      Similarity.lshFoldSql("__graft_emb768", nQueries = 3, dim = dim)).collect()
    assert(rows.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0001))
    // every returned neighbor shares its query's bucket by construction
    assert(rows.map(_.getAs[Long]("query_id")).distinct.length <= 3)
  }
}

/** The sampled drill-down variants must be a genuine random draw, not
  * the top slice re-ordered: at sf0.01 the duplicates failing set
  * exceeds the 500-row limit, so the md5-drawn sample and the
  * deterministic top-500 must pick different subsets (both are
  * oracle-checked; this pins the SEMANTIC distinction). */
class SampledLookupSpec extends SparkSpec {
  test("sampled duplicates lookup draws a different subset than the top slice") {
    val dir01 = "/root/testdata/sf0.01"
    val top = graft.lookup.DrillDown.runDuplicates(spark, dir01).collect()
      .map(_.getAs[Long]("value")).toSet
    val sampled = graft.lookup.DrillDown.runDuplicatesSampled(spark, dir01)
      .collect().map(_.getAs[Long]("value")).toSet
    assert(top.size == 500 && sampled.size == 500)
    assert(top != sampled,
      "sampled lookup returned exactly the deterministic top slice")
    // and the sample is drawn from the same failing set: every sampled
    // value is a genuine duplicate group
    val failing = spark.sql(
      s"""SELECT o_custkey
         |  FROM ${graft.core.Tables.view(spark, dir01, "orders", parallelize = false)}
         | GROUP BY o_custkey HAVING COUNT(*) > 1""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(sampled.subsetOf(failing))
  }
}
