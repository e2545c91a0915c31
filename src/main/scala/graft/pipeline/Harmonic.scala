package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Harmonic centrality over the [[DomainRank]] site graph — the OTHER
  * published crawl host rank (Common Crawl ships harmonic centrality
  * beside PageRank precisely because it is distance-based where rank
  * is mass-based: a site cited by many NEAR sites outranks one fed by
  * a single deep chain). `H(v) = Σ_{u: d(u,v) ≤ D} 1/d(u,v)` over
  * directed in-paths, truncated at [[MaxHops]] hops (the standard
  * bounded-radius form — at damping-free truncation D the tail
  * contributes < 1/D per reachable node).
  *
  * Two implementations share one loop shape:
  *
  *  - EXACT ([[runHarmonic]], oracle-checked): the min-distance pair
  *    relation grown one hop per iteration — frontier-only join
  *    (`dist = d-1` rows against the distinct-edge relation) + a
  *    MIN-group against the carried relation. Harmonic sums the
  *    integer micro-units `10⁶ DIV dist`, so both engines and a
  *    plain-Scala BFS agree bit-for-bit. The pair relation tends
  *    toward |V|² on small-world graphs — this is the FIXTURE/oracle
  *    mode, priced honestly as such.
  *
  *  - HYPERBALL ([[hyperBall]], the 100 TB path): the Boldi–Vigna
  *    HyperBall recurrence `B(v,d) = B(v,d-1) ∪ ⋃_{u→v} B(u,d-1)` run
  *    on Spark's native DataSketches HLL primitives — per-node state
  *    is ONE fixed-size sketch (`hll_sketch_agg` seed of {self},
  *    `hll_union_agg` over in-neighbors, `hll_union` with the carried
  *    sketch), per-iteration cost one equi-join + one aggregation
  *    over the landed edge relation (the [[DomainRank.iterSql]]
  *    shape), harmonic accumulated from the monotone ball-size
  *    estimates `h += (|B(d)|-|B(d-1)|)·10⁶ DIV d`. State is
  *    O(V · sketch) whatever the edge count; sketches are
  *    register-max monotone so increments never go negative.
  *    [[graft.HarmonicSpec]] pins the estimate against the exact
  *    relation at fixture scale; the estimate is engine-specific
  *    (DataSketches), so it ships as library API + spec, not an
  *    oracle entry — the repo's streaming-twin precedent.
  *    Determinism is REGIME-SCOPED (measured in
  *    hyperball_scale_r14.json; harness source at
  *    `git show a829ce8:src/main/scala/graft/HyperBallScaleBench.scala`):
  *    in DataSketches' exact coupon regime (balls ≲ a few hundred —
  *    the fixture) two runs are bit-identical; once sketches go
  *    dense, `hll_union_agg`'s merge order varies with shuffle
  *    arrival and estimates wander WITHIN the sketch error bound
  *    run-to-run — the standard distributed-HLL contract, same as
  *    any engine's approx_count_distinct.
  */
object Harmonic {

  /** Truncation radius — bounded-radius harmonic, the form crawl
    * rankers actually compute (HyperBall runs to stabilization; the
    * fixture graph's balls stabilize well inside 6 hops). */
  val MaxHops = 6
  /** Micro-unit scale shared with [[DomainRank.MicroBase]]. */
  val MicroBase = 1000000L
  /** Default HLL lgConfigK: 2¹² registers ≈ 1.6 % standard error. */
  val LgK = 12

  /** Distinct-edge CTE over [[DomainRank.graphCtes]]'s `edges`. */
  private def pairCtes(d: Dialect): String =
    s"""ep AS ${d.cteMaterialized}(
       |  SELECT DISTINCT src, dst FROM edges
       |)""".stripMargin

  /** The unrolled exact min-distance chain `b1 … b[[MaxHops]]` over a
    * distinct-edge relation `epRel(src, dst)`: each step joins ONLY
    * the previous frontier (`dist = d-1`) forward one hop and
    * MIN-groups into the carried relation — no re-walk of settled
    * pairs. */
  private[graft] def ballChain(epRel: String)(d: Dialect): String = {
    val steps = (2 to MaxHops).map { h =>
      val prev = s"b${h - 1}"
      s"""b$h AS ${d.cteMaterialized}(
         |  SELECT src, dst, MIN(dist) AS dist FROM (
         |    SELECT src, dst, dist FROM $prev
         |    UNION ALL
         |    SELECT p.src, e.dst, $h AS dist
         |      FROM $prev p JOIN $epRel e ON e.src = p.dst
         |     WHERE p.dist = ${h - 1} AND p.src <> e.dst
         |  ) u GROUP BY src, dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""b1 AS (
       |  SELECT src, dst, 1 AS dist FROM $epRel
       |),
       |$steps""".stripMargin
  }

  /** Final report: per site, pairs-within-[[MaxHops]] in-reach and the
    * integer harmonic sum, zero-reach sites kept via the node
    * relation. */
  private[graft] def reportSql(nodesRel: String, ballRel: String)
                              (d: Dialect): String =
    s"""h AS (
       |  SELECT dst AS site, COUNT(*) AS reach_ct,
       |         SUM(${d.intDiv(MicroBase.toString, "dist")}) AS h_u
       |    FROM $ballRel GROUP BY dst
       |)
       |SELECT n.site,
       |       CAST(COALESCE(h.reach_ct, 0) AS BIGINT) AS reach_ct,
       |       CAST(COALESCE(h.h_u, 0) AS BIGINT) AS harmonic_micro,
       |       CAST(COALESCE(h.h_u, 0) / $MicroBase.0 AS DOUBLE) AS harmonic
       |  FROM $nodesRel n LEFT JOIN h ON h.site = n.site
       | ORDER BY harmonic_micro DESC, n.site""".stripMargin

  def harmonicSql(table: String, nSrcOverride: Option[Long] = None)
                 (d: Dialect): String = {
    val nSrc = nSrcOverride.map(_.toString).getOrElse(
      s"SELECT COUNT(DISTINCT source) FROM $table")
    s"""WITH ${DomainRank.graphCtes(table, nSrc)(d)},
       |${pairCtes(d)},
       |${ballChain("ep")(d)},
       |${reportSql("nodes", s"b$MaxHops")(d)}""".stripMargin
  }

  /** Engine path: the exact chain run as landed per-hop relations over
    * the session's [[DomainRank.landedGraph]] — the oracle renders the
    * same chain as one unrolled statement, spec-pinned identical. */
  def runHarmonic(spark: SparkSession, dir: String): DataFrame = {
    val (nv, ev) = landedPairs(spark, dir)
    var layer = spark.sql(s"SELECT src, dst, 1 AS dist FROM $ev")
    var landed: Option[DataFrame] = None
    // convergence early-exit: once a hop settles NO new pair (no row at
    // dist = h), every later hop's frontier join is empty and the
    // MIN-group returns the carried relation unchanged — b_h = b_MaxHops
    // exactly, so the remaining iterations are pure no-op jobs. The
    // emptiness probe is a LIMIT-1 read of the just-checkpointed layer
    // (guide §1.2: stop computing what is already fixed-point).
    var h = 2
    var converged = false
    while (h <= MaxHops && !converged) {
      val nextDf = graft.core.Materialize.sql(spark, layer) { case Seq(prev) =>
        s"""SELECT src, dst, MIN(dist) AS dist FROM (
           |  SELECT src, dst, dist FROM $prev
           |  UNION ALL
           |  SELECT p.src, e.dst, $h AS dist
           |    FROM $prev p JOIN $ev e ON e.src = p.dst
           |   WHERE p.dist = ${h - 1} AND p.src <> e.dst
           |) u GROUP BY src, dst""".stripMargin
      }.localCheckpoint()
      landed.foreach(_.unpersist())  // only the newest layer is read again
      landed = Some(nextDf)
      layer = nextDf
      converged = nextDf.where(s"dist = $h").isEmpty
      h += 1
    }
    graft.core.Materialize.sql(spark, layer) { case Seq(ball) =>
      s"WITH ${reportSql(nv, ball)(SparkDialect)}"
    }
  }

  /** Landed distinct-edge view beside the session's graph. */
  private[graft] def landedPairs(spark: SparkSession, dir: String): (String, String) = {
    val (nv, ev, _) = DomainRank.landedGraph(spark, dir)
    (nv, graft.core.Materialize.view(spark, "hc_pairs", dir, graft.core.Materialize.Checkpoint)(
      spark.sql(s"SELECT DISTINCT src, dst FROM $ev")))
  }

  def duckSql(): String = harmonicSql("documents")(DuckDialect)

  /** HyperBall over landed `nodesRel(site, …)` / distinct-edge
    * `epRel(src, dst)`: returns `(site, ball_est, harmonic_est_micro)`
    * after [[MaxHops]] rounds. One sketch per node; each round is one
    * equi-join + one `hll_union_agg` at node grain + a LEFT JOIN merge
    * with the carried state — shuffle volume O(V · sketch), edges
    * never sorted. `rankHint` follows [[DomainRank.RankBroadcastBound]]
    * semantics (sketch relations are node-grain but carry KB-sized
    * payloads — SHUFFLE_HASH is the safe default above broadcast
    * reach). */
  def hyperBall(spark: SparkSession, nodesRel: String, epRel: String,
                lgK: Int = LgK, hint: String = "SHUFFLE_HASH"): DataFrame = {
    // each hop needs ONLY the previous state: unpersist the superseded
    // checkpoint once the next lands, or V·sketch bytes accumulate per
    // hop and the loop's memory bill is MaxHops× what the recurrence
    // actually carries (measured 50 GB RSS at 1M nodes before this)
    var prevDf = spark.sql(
      s"""SELECT site, hll_sketch_agg(site, $lgK) AS sk,
         |       CAST(1 AS BIGINT) AS est,
         |       CAST(0 AS BIGINT) AS h_u
         |  FROM $nodesRel GROUP BY site""".stripMargin)
      .localCheckpoint()
    for (d <- 1 to MaxHops) {
      val nextDf = graft.core.Materialize.sql(spark, prevDf) { case Seq(prev) =>
        s"""WITH nbr AS (
           |  SELECT /*+ $hint(p) */ e.dst AS site,
           |         hll_union_agg(p.sk) AS nsk
           |    FROM $epRel e JOIN $prev p ON p.site = e.src
           |   GROUP BY e.dst
           |),
           |m AS (
           |  SELECT /*+ $hint(p, nbr) */ p.site,
           |         CASE WHEN nbr.nsk IS NULL THEN p.sk
           |              ELSE hll_union(p.sk, nbr.nsk) END AS sk,
           |         p.est AS est0, p.h_u AS h_u
           |    FROM $prev p LEFT JOIN nbr ON nbr.site = p.site
           |)
           |SELECT site, sk, hll_sketch_estimate(sk) AS est,
           |       h_u + (hll_sketch_estimate(sk) - est0) * $MicroBase DIV $d
           |         AS h_u
           |  FROM m""".stripMargin
      }.localCheckpoint()
      prevDf.unpersist()
      prevDf = nextDf
    }
    graft.core.Materialize.sql(spark, prevDf) { case Seq(ball) =>
      s"""SELECT site, est AS ball_est, h_u AS harmonic_est_micro
         |  FROM $ball ORDER BY harmonic_est_micro DESC, site""".stripMargin
    }
  }
}
