package graft

import graft.core.Materialize

/** The capped landed-relation form (VERDICT r14 #8): under the cap a
  * relation lands as a LocalRelation (consumers see LocalTableScan);
  * past the cap it falls back to a distributed localCheckpoint with the
  * same rows — the "metadata-sized" claim is enforced, not argued. The
  * memo names a relation by its key, so two keys never share a view. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("under the cap: LocalRelation, same rows") {
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val view = Materialize.view(spark, "mat_spec", "small", Materialize.Local())(df)
    val landed = spark.table(view)
    assert(landed.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(landed.collect().map(r => (r.getInt(0), r.getString(1))).sorted
      === Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("over the cap: distributed fallback, same rows, no driver relation") {
    val df = spark.range(0, 50).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    val view = Materialize.view(spark, "mat_spec", "big", Materialize.Local(cap = 10))(df)
    val landed = spark.table(view)
    val plan = landed.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"), s"expected checkpoint scan, got:\n$plan")
    assert(landed.count() === 50)
    assert(landed.selectExpr("SUM(k)").as[Long].head() === (0L until 50L).sum)
  }

  test("two keys: two views, each with its own rows; the body runs once per key") {
    var runs = Map.empty[String, Int]
    def land(key: String, n: Int): String =
      Materialize.view(spark, "mat_spec_keys", key, Materialize.Checkpoint) {
        runs = runs.updated(key, runs.getOrElse(key, 0) + 1)
        spark.range(0, n).toDF("id")
      }
    val a = land("a", 3)
    val b = land("b", 7)
    assert(a !== b)
    assert(land("a", 3) === a && land("b", 7) === b)
    assert(spark.table(a).count() === 3)
    assert(spark.table(b).count() === 7)
    assert(runs === Map("a" -> 1, "b" -> 1))
  }

  test("no lock outlives its landing") {
    val names = (1 to 5).map { k =>
      Materialize.view(spark, "mat_spec_locks", k, Materialize.Checkpoint)(
        spark.range(0, k).toDF("id"))
    }
    // a second call finds the view and takes no lock either
    assert(Materialize.view(spark, "mat_spec_locks", 3)(spark.range(0).toDF("id")) === names(2))
    assert(names.forall(n => !Materialize.lockHeld(n)),
      s"locks left behind: ${names.filter(Materialize.lockHeld)}")
    assert(names.map(n => spark.table(n).count()) === (1L to 5L))
  }
}
