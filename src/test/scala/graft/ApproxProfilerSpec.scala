package graft

import graft.profiling.{ApproxProfiler, Profiler}

/** Pins the sketch profiler's error against the exact profile, and the
  * plan shape that justifies it at 100 TB (one scan, no Expand, no
  * distinct-value shuffle). */
class ApproxProfilerSpec extends SparkSpec {

  test("sketched distinct counts land within 5% of the exact profile") {
    for (table <- Seq("lineitem", "documents")) {
      val exact = Profiler.profile(spark, sfDir, table).collect()
        .map(r => r.getAs[String]("column_name") ->
          r.getAs[Long]("distinct_value_ct")).toMap
      val approx = ApproxProfiler.profile(spark, sfDir, table).collect()
      assert(approx.nonEmpty)
      approx.foreach { r =>
        val name = r.getAs[String]("column_name")
        val a = r.getAs[Long]("distinct_value_ct")
        val e = exact(name)
        assert(math.abs(a - e) <= math.max(1L, (0.05 * e).toLong),
          s"$table.$name: approx $a vs exact $e")
        // exact counts stay exact in the sketch pass
        assert(r.getAs[Long]("value_ct") + r.getAs[Long]("null_value_ct") ==
          r.getAs[Long]("record_ct"))
      }
    }
  }

  test("sketched percentiles rank-agree with the data") {
    val table = "lineitem"
    val approx = ApproxProfiler.profile(spark, sfDir, table).collect()
      .filter(_.getAs[String]("general_type") == "N")
    assert(approx.nonEmpty)
    val df = graft.core.Tables.load(spark, sfDir, table)
    approx.foreach { r =>
      val name = r.getAs[String]("column_name")
      if (!r.isNullAt(r.fieldIndex("percentile_50"))) {
        val p50 = r.getAs[Double]("percentile_50")
        assert(p50 >= r.getAs[Double]("min_value") &&
          p50 <= r.getAs[Double]("max_value"))
        val n = df.where(s"`$name` IS NOT NULL").count().toDouble
        val below = df.where(s"CAST(`$name` AS DOUBLE) <= $p50").count()
        // the sketch's median must split the column near the middle
        assert(below / n >= 0.40 && below / n <= 0.65,
          s"$name: approx p50 $p50 sits at rank ${below / n}")
      }
    }
  }

  test("approx-vs-exact report lands every column in bound on the fixture") {
    for (table <- Seq("lineitem", "documents")) {
      val rows = ApproxProfiler.report(spark, sfDir, table).collect()
      assert(rows.length ==
        graft.core.Tables.schemas(table).fields.length)
      rows.foreach { r =>
        assert(r.getAs[Int]("distinct_within_bound") == 1,
          s"$table.${r.getString(0)}: distinct estimate out of bound")
        if (!r.isNullAt(r.fieldIndex("median_within_iqr")))
          assert(r.getAs[Int]("median_within_iqr") == 1,
            s"$table.${r.getString(0)}: sketched median outside IQR")
        assert(r.getAs[Long]("exact_distinct") >= 0L)
      }
      // numeric columns carry a median verdict, others don't
      rows.foreach { r =>
        val isN = r.getAs[String]("general_type") == "N"
        assert(r.isNullAt(r.fieldIndex("median_within_iqr")) != isN)
      }
    }
  }

  test("profile mode gate routes to the sketch profiler") {
    val approx = Profiler.profile(spark, sfDir, "nation", mode = "approx")
    // the sketch profile's narrower schema is the tell
    assert(approx.columns.contains("distinct_value_ct"))
    assert(!approx.columns.contains("distinct_std_value_ct"))
    val exact = Profiler.profile(spark, sfDir, "nation", mode = "exact")
    assert(exact.columns.contains("distinct_std_value_ct"))
  }

  test("profile() defaults to the exact schema — approx is explicit opt-in only") {
    // GRAFT_PROFILE_MODE must never ambiently reroute default callers
    // (FunctionalType cascade, freq profiler, profile_* oracle entries
    // all require the exact per-column schema): the default-arg path
    // has to produce exact-profile columns regardless of environment.
    val p = Profiler.profile(spark, sfDir, "nation")
    for (c <- Seq("max_length", "min_length", "avg_length", "distinct_std_value_ct"))
      assert(p.columns.contains(c), s"default profile lost exact column $c")
  }

  test("the sketch profile is one scan with no Expand and no value shuffle") {
    val sqls = ProfileJobs.withColdDir(spark, sfDir)(dir =>
      ProfileJobs.statements(spark)(ApproxProfiler.profile(spark, dir, "lineitem")))
    assert(sqls.length == 1, s"expected 1 statement, got:\n${sqls.map(_._1).mkString("\n---\n")}")
    val p = sqls.head._2
    assert(!p.contains("Expand"), "multi-distinct Expand crept in")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans")
    // the only exchange is the single-partition merge of partial
    // sketches — never a hash partitioning of column values
    assert(!p.contains("hashpartitioning"),
      "sketch aggregation should not shuffle values")
  }
}
