package graft

import graft.oracle.SparkDialect
import graft.pipeline.{DomainRank, Harmonic}

/** Harmonic centrality: the landed per-hop engine loop must equal a
  * plain-Scala BFS over the engine's own edge relation bit-for-bit,
  * and the HyperBall sketch estimate must track the exact relation
  * within HLL error at fixture scale. */
class HarmonicSpec extends SparkSpec {

  private def docsView(): String = {
    graft.core.Tables.load(spark, sfDir, "documents")
      .createOrReplaceTempView("__hc_docs")
    "__hc_docs"
  }

  private def nSrc(): Long =
    spark.sql(s"SELECT COUNT(DISTINCT source) FROM ${docsView()}")
      .collect()(0).getLong(0)

  private def edgePairs(): Array[(String, String)] =
    spark.sql(DomainRank.edgesSql(docsView(), Some(nSrc()))(SparkDialect))
      .collect().map(r => (r.getString(0), r.getString(1))).distinct

  /** Plain-Scala truncated BFS: per node, in-distance map within
    * MaxHops via reverse-layered expansion from each source. */
  private def exactBfs(edges: Array[(String, String)],
                       nodes: Seq[String]): Map[String, (Long, Long)] = {
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      .withDefaultValue((0L, 0L))
    nodes.foreach { u =>
      var frontier = Set(u)
      var seen = Set(u)
      for (d <- 1 to Harmonic.MaxHops) {
        frontier = frontier.flatMap(out.getOrElse(_, Array.empty[String]))
          .diff(seen)
        frontier -= u
        frontier.foreach { v =>
          val (c, h) = acc(v)
          acc(v) = (c + 1, h + Harmonic.MicroBase / d)
        }
        seen ++= frontier
      }
    }
    acc.toMap.withDefaultValue((0L, 0L))
  }

  test("exact harmonic equals a plain-Scala BFS over the engine's own graph") {
    val out = Harmonic.runHarmonic(spark, sfDir).collect()
    assert(out.nonEmpty)
    val expected = exactBfs(edgePairs(), out.map(_.getString(0)).toSeq)
    out.foreach { r =>
      val (ct, h) = expected(r.getString(0))
      assert(r.getLong(1) == ct, s"reach_ct mismatch for ${r.getString(0)}")
      assert(r.getLong(2) == h, s"harmonic mismatch for ${r.getString(0)}")
    }
    // the measure discriminates: not all sites tie
    assert(out.map(_.getLong(2)).distinct.length > 1)
  }

  test("engine loop equals the oracle's one-statement unrolled form") {
    val oneShot = spark.sql(
      Harmonic.harmonicSql(docsView(), Some(nSrc()))(SparkDialect))
      .collect().toSeq
    val looped = Harmonic.runHarmonic(spark, sfDir).collect().toSeq
    assert(looped == oneShot)
  }

  test("hyperball estimate tracks the exact relation within HLL error") {
    val (nv, pv) = Harmonic.landedPairs(spark, sfDir)
    val est = Harmonic.hyperBall(spark, nv, pv).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Harmonic.runHarmonic(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(est.keySet == exact.keySet)
    // ball_est counts |B(v,D)| INCLUDING v itself; exact reach_ct is
    // in-reach pairs excluding self
    val relErrs = exact.toSeq.map { case (site, (ct, _)) =>
      math.abs(est(site)._1 - (ct + 1)).toDouble / (ct + 1)
    }
    assert(relErrs.max < 0.15, f"worst ball rel-err ${relErrs.max}%.3f")
    val (sumEst, sumExact) =
      (est.values.map(_._2).sum.toDouble, exact.values.map(_._2).sum.toDouble)
    assert(math.abs(sumEst - sumExact) / sumExact < 0.05,
      f"total harmonic rel-err ${math.abs(sumEst - sumExact) / sumExact}%.3f")
    // estimates are monotone-union sketches: every increment landed,
    // so no estimate is below the self-ball
    assert(est.values.forall(_._1 >= 1L))
  }

  // exact-equality determinism is a COUPON-REGIME property (fixture
  // balls are small enough that DataSketches stays in its exact
  // sparse mode); dense-regime runs agree only within HLL error —
  // hyperball_scale_r14.json measures and bounds that drift at 1M nodes
  // (harness: git show a829ce8:src/main/scala/graft/HyperBallScaleBench.scala)
  test("hyperball is deterministic: two runs agree exactly") {
    val (nv, pv) = Harmonic.landedPairs(spark, sfDir)
    val a = Harmonic.hyperBall(spark, nv, pv).collect().toSeq
    val b = Harmonic.hyperBall(spark, nv, pv).collect().toSeq
    assert(a == b)
  }
}
