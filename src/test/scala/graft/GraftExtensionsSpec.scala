package graft

import graft.plans.DotProductRewrite

/** The optimizer rewrite: user-spelled HOF dot products upgrade to the
  * native kernel with bit-identical values. Installed here via
  * `experimental.extraOptimizations` (the per-session form of what
  * `spark.sql.extensions=graft.plans.GraftExtensions` does at
  * deployment). */
class GraftExtensionsSpec extends SparkSpec {

  private val hofDot =
    "aggregate(zip_with(%s, %s, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))," +
      " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  test("rule rewrites the HOF dot pattern to graft_dot, values unchanged") {
    graft.core.Tables.load(spark, sfDir, "embeddings")
      .createOrReplaceTempView("__graft_ext_emb")
    val sql =
      s"""SELECT vec_id, ${hofDot.format("embedding", "embedding")} AS sq
         |  FROM __graft_ext_emb ORDER BY vec_id""".stripMargin
    val before = spark.sql(sql).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sq"))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ DotProductRewrite
    try {
      val df = spark.sql(sql)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_dot"),
        s"rewrite did not fire:\n${plan.take(600)}")
      assert(!plan.contains("aggregate(zip_with"),
        "HOF form survived the rewrite")
      val after = df.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sq"))
      assert(after.length == before.length)
      before.zip(after).foreach { case ((id1, v1), (id2, v2)) =>
        assert(id1 == id2)
        assert(java.lang.Double.doubleToRawLongBits(v1) ==
          java.lang.Double.doubleToRawLongBits(v2),
          s"value drift at vec $id1: $v1 vs $v2")
      }
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == DotProductRewrite)
    }
  }

  test("rewrite leaves DECIMAL-element arrays untouched and they still evaluate") {
    // a bare `array(0.1, …)` literal is typed ARRAY<DECIMAL>; the
    // analyzer's inserted casts satisfy every structural guard, so
    // before the element-type gate the rewrite produced a DotExpr that
    // crashed at runtime with Decimal→Double ClassCastException (found
    // live: knn_lsh_fold under the Bench extensions session)
    graft.core.Tables.load(spark, sfDir, "embeddings")
      .createOrReplaceTempView("__graft_ext_emb_dec")
    val sql =
      s"""SELECT vec_id,
         |       aggregate(zip_with(embedding, array(${
              (1 to 64).map(i => s"0.0$i").mkString(", ")}),
         |         (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE),
         |         (acc, v) -> acc + v) AS d
         |  FROM __graft_ext_emb_dec ORDER BY vec_id""".stripMargin
    val before = spark.sql(sql).collect().map(_.getDouble(1))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ DotProductRewrite
    try {
      val df = spark.sql(sql)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("graft_dot"),
        "rewrite fired on a DECIMAL-element array — the kernel cannot read it")
      val after = df.collect().map(_.getDouble(1))
      assert(after.sameElements(before))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == DotProductRewrite)
    }
  }

  test("knn_lsh_fold executes under an extensions session, rows identical to plain") {
    // the production fold form now renders D-suffixed (ARRAY<DOUBLE>)
    // weights, so the rewrite fires legitimately — and must not change
    // a row (this entry once crashed under the extensions session while
    // the weights were decimal-typed). The session comes from the same
    // factory Verify, Bench, Runner and PlanDump use.
    import org.apache.spark.sql.SparkSession
    val plain = graft.pipeline.Similarity.runLshFold(spark, sfDir)
      .collect().map(_.toString).sorted
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = graft.core.Sessions.create()
    try {
      val ext = graft.pipeline.Similarity.runLshFold(s2, sfDir)
        .collect().map(_.toString).sorted
      assert(ext.nonEmpty && ext.sameElements(plain),
        s"extensions session changed knn_lsh_fold: ${ext.length} vs ${plain.length} rows")
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("a Runner-style session (builder.withExtensions) rewrites user HOF dot") {
    import org.apache.spark.sql.SparkSession
    // the session every main builds — withExtensions at session
    // construction, nothing injected by hand (the static
    // spark.sql.extensions conf form cannot apply on a reused
    // SparkContext, which is exactly why the factory uses withExtensions)
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = graft.core.Sessions.create()
    try {
      graft.core.Tables.load(s2, sfDir, "embeddings")
        .createOrReplaceTempView("__graft_ext_emb2")
      val df = s2.sql(
        s"""SELECT vec_id, ${hofDot.format("embedding", "embedding")} AS sq
           |  FROM __graft_ext_emb2""".stripMargin)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_dot"),
        s"factory session did not rewrite:\n${plan.take(600)}")
      assert(df.count() > 0)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("unrolled LSH bucket SQL rewrites to the native BucketExpr, buckets bit-identical") {
    import graft.oracle.SparkDialect
    import graft.pipeline.Similarity
    graft.core.Tables.load(spark, sfDir, "embeddings")
      .createOrReplaceTempView("__graft_ext_bkt")
    val unrolled = Similarity.unrolledBucketExpr("embedding", 8, 64)(SparkDialect)
    val sql = s"SELECT vec_id, $unrolled AS bucket FROM __graft_ext_bkt"
    // ground truth BEFORE installing the rule: the raw unrolled chain
    val before = spark.sql(sql).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("bucket")).toMap
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.BucketRewrite
    try {
      val df = spark.sql(sql)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_bucket"),
        s"bucket rewrite did not fire:\n${plan.take(600)}")
      assert(!plan.contains("CASE WHEN"), "unrolled CASE chain survived")
      val after = df.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("bucket")).toMap
      assert(after == before, "rewritten buckets drifted from the unrolled form")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == graft.plans.BucketRewrite)
    }
  }

  test("a Runner-style session rewrites pasted unrolled bucket SQL") {
    import org.apache.spark.sql.SparkSession
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = graft.core.Sessions.create()
    try {
      graft.core.Tables.load(s2, sfDir, "embeddings")
        .createOrReplaceTempView("__graft_ext_bkt2")
      val unrolled = graft.pipeline.Similarity
        .unrolledBucketExpr("embedding", 4, 64)(graft.oracle.SparkDialect)
      val df = s2.sql(
        s"SELECT vec_id, $unrolled AS bucket FROM __graft_ext_bkt2")
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_bucket"),
        s"factory session did not rewrite the bucket form:\n${plan.take(600)}")
      assert(df.count() > 0)
      // regression: plans carrying WindowSpecDefinition must pass
      // through the rules unscathed — `dataType` THROWS on that node
      // (INTERNAL_ERROR), and the rewrite matcher runs against every
      // expression in every plan of an extensions session (this exact
      // shape crashed the Runner infer stage before the Add-gate)
      val win = s2.sql(
        """SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk
          |  FROM __graft_ext_bkt2 LIMIT 5""".stripMargin)
      assert(win.count() == 5)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("bucket rewrite leaves foreign bucket schemes untouched") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.BucketRewrite
    try {
      // weights that are NOT the engine's hyperplane sequence — the
      // guard must refuse (a rewrite would change this query's meaning)
      val r = spark.sql(
        """SELECT (CASE WHEN element_at(a, 1) * 0.5 + element_at(a, 2) * 0.25 >= 0
          |             THEN 1 ELSE 0 END)
          |     + (CASE WHEN element_at(a, 1) * 0.125 + element_at(a, 2) * 0.0625 >= 0
          |             THEN 2 ELSE 0 END) AS b
          |  FROM (SELECT array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)) AS a)
          |""".stripMargin)
      assert(!r.queryExecution.optimizedPlan.toString.contains("graft_bucket"),
        "rewrite fired on foreign weights")
      assert(r.collect()(0).getAs[Int]("b") == 3)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == graft.plans.BucketRewrite)
    }
  }

  test("rule leaves non-dot aggregates untouched") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ DotProductRewrite
    try {
      // sum (not product) and a non-zero seed — must NOT rewrite
      val r = spark.sql(
        """SELECT aggregate(zip_with(array(1.0D, 2.0D), array(3.0D, 4.0D),
          |  (x, y) -> x + y), CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS s,
          |  aggregate(zip_with(array(1.0D), array(2.0D),
          |  (x, y) -> x * y), CAST(5 AS DOUBLE), (acc, v) -> acc + v) AS seeded
          |""".stripMargin).collect()(0)
      assert(r.getAs[Double]("s") == 10.0)
      assert(r.getAs[Double]("seeded") == 7.0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == DotProductRewrite)
    }
  }
}
