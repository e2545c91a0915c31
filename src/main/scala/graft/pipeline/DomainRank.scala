package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Link-graph domain authority — PageRank over the site citation graph,
  * the crawl-curation signal every web-scale corpus pipeline keeps
  * beside its per-document quality scores (Common Crawl publishes
  * harmonic/PageRank host ranks for exactly this use; C4/RefinedWeb
  * style pipelines weight domain budgets by them). The reference
  * profiles tabular warehouses and has no link surface; this follows
  * the published crawl-ranking recipe, re-expressed relationally.
  *
  * The documents table carries no link column, so — like [[UrlOps]]
  * derives URLs and the media entries derive payloads — each doc emits
  * [[LinksPerDoc]] deterministic outbound citations drawn from md5
  * nibbles of its id: the destination site's path-group and source
  * index are independent draws, self-citations drop, and the DuckDB
  * oracle re-derives the identical graph from the same arithmetic.
  * Site identity is `source || '-' || (doc_id % SiteGroups)` — the
  * registrable-domain grain of [[UrlOps.runDomainCap]], coarsened so
  * the fixture graph has multiple docs per site.
  *
  * Rank arithmetic is INTEGER-EXACT end to end (the repo's scaled-
  * integer discipline): ranks live in micro-units (start 10⁶ per node),
  * the damping step is `150000 + (85 · contrib) DIV 100`, and every
  * per-edge contribution is a BIGINT floor division
  * `(rank · w) DIV out_w` — both engines run the same recurrence on
  * the same integers, so the [[Iters]]-step fixpoint approximation is
  * bit-identical (floor division sheds sub-micro mass instead of
  * accumulating float drift; [[graft.DomainRankSpec]] re-runs the
  * recurrence in plain Scala over the engine's own edge relation and
  * matches exactly). Links into sites with no crawled docs are pruned
  * (the standard remove-dangling preprocessing), so every surviving
  * edge's source has out-weight by construction.
  *
  * Scale shape: the corpus is touched ONCE — a two-column
  * (doc_id, source) projection exploded ×[[LinksPerDoc]] row-locally,
  * broadcast-joined to the ~|sources| index, then collapsed to the
  * SITE-grain weighted edge relation with map-side partials. All
  * [[Iters]] iterations run over that host-grain relation (hosts ≪
  * docs: ~10⁷ hosts vs 10¹¹ docs at 100 TB) — the Spark path lands
  * nodes+edges once (localCheckpoint) and each unrolled iteration is
  * one equi-join + one aggregation over the landed relation, never a
  * corpus re-scan; the oracle materializes the same CTEs. Rank state
  * is one BIGINT per host per iteration — metadata-sized whatever the
  * corpus.
  */
object DomainRank {

  /** Path-group fan-in: sites per source (coarser than
    * [[UrlOps.UrlGroups]] so fixture sites hold multiple docs). */
  val SiteGroups = 5
  /** Deterministic outbound citations emitted per document. */
  val LinksPerDoc = 3
  /** Unrolled power-iteration count — rank gaps at host grain settle
    * to stable ordering well inside 8 steps at damping 0.85. */
  val Iters = 8
  /** Per-node starting mass / the micro-unit scale. */
  val MicroBase = 1000000L
  /** Integer damping: rank = Teleport + (DampPct · contrib) DIV 100. */
  val DampPct = 85L
  val Teleport = 150000L

  // The group draw is an md5 nibble, NOT `doc_id % SiteGroups`: the
  // fixture assigns source = src(doc_id % 20), so any id-modulus group
  // is perfectly correlated with source and the site grain would
  // collapse to one site per source.
  private[graft] def siteExpr(idCol: String, srcCol: String)(d: Dialect): String = {
    val g = d.hexToLong(s"SUBSTRING(MD5('site:' || ${d.castText(idCol)}), 1, 4)")
    s"$srcCol || '-' || ${d.castText(s"($g % $SiteGroups)")}"
  }

  /** The site-grain graph CTE chain ending in
    * `nodes(site, n_docs)` and `edges(src, dst, w, out_w)`.
    * `nSrcExpr` is the distinct-source count — the Spark path inlines a
    * driver-counted literal (a scalar subquery inside a join-key
    * projection races the broadcast planner, same adjudication as
    * [[Dedup.embeddingSql]]); the oracle embeds the subquery. */
  private[graft] def graphCtes(table: String, nSrcExpr: String)
                              (d: Dialect): String = {
    val h = s"MD5('link:' || ${d.castText("doc_id")} || ':' || ${d.castText("pos")})"
    val draw = s"""SELECT site,
                  |       ${d.hexToLong(s"SUBSTRING($h, 1, 8)")} % $SiteGroups AS dst_g,
                  |       ${d.hexToLong(s"SUBSTRING($h, 9, 8)")} % ($nSrcExpr) AS dst_sidx
                  |  FROM (${d.seriesRel("docsite", Seq("doc_id", "site"), s"$LinksPerDoc")}) ls""".stripMargin
    s"""docsite AS (
       |  SELECT doc_id, ${siteExpr("doc_id", "source")(d)} AS site FROM $table
       |),
       |srcs AS (
       |  -- unpartitioned window, BOUNDED relation: it ranks the
       |  -- DISTINCT-source index (|sources| ≪ corpus, a crawl-config
       |  -- constant), not corpus rows — the bucket-count-relation
       |  -- exception to the no-single-partition-window rule
       |  SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS BIGINT) AS sidx
       |    FROM (SELECT DISTINCT source FROM $table) ds
       |),
       |links AS (
       |  SELECT l.site AS src, s.source || '-' || ${d.castText("l.dst_g")} AS dst
       |    FROM (
       |$draw
       |    ) l JOIN srcs s ON s.sidx = l.dst_sidx
       |   WHERE s.source || '-' || ${d.castText("l.dst_g")} <> l.site
       |),
       |nodes AS ${d.cteMaterialized}(
       |  SELECT site, COUNT(*) AS n_docs FROM docsite GROUP BY site
       |),
       |edgesk AS ${d.cteMaterialized}(
       |  SELECT e.src, e.dst, e.w
       |    FROM (SELECT src, dst, COUNT(*) AS w FROM links GROUP BY src, dst) e
       |    JOIN nodes n ON n.site = e.dst
       |),
       |edges AS ${d.cteMaterialized}(
       |  SELECT e.src, e.dst, e.w, o.out_w
       |    FROM edgesk e
       |    JOIN (SELECT src, SUM(w) AS out_w FROM edgesk GROUP BY src) o
       |      ON o.src = e.src
       |)""".stripMargin
  }

  /** Node count above which the per-iteration rank vector stops
    * broadcasting and the edge join co-partitions instead (hash-join
    * hint, never a sort of the edge relation). MEASURED, not argued
    * (`graph_scale_r14.json`, clean machine, skewed 8-degree graph):
    * broadcast wins at 64k nodes (3.1 vs 5.0 s), loses from 256k
    * (6.7 vs 5.3 s), and falls progressively further behind as the
    * per-iteration rank-map ship-and-build cost grows — 4M: 92 vs
    * 25 s, 16M: 256 vs 138 s. Crossover sits between 2¹⁶ and 2¹⁸;
    * elect the midpoint. */
  val RankBroadcastBound: Long = 1L << 17

  /** The unrolled CTE chain `r0 … r[[Iters]]` of the integer power
    * iteration over landed `nodesRel(site, n_docs)` /
    * `edgesRel(src, dst, w, out_w)` — the oracle's one-statement
    * rendering of the engine's landed-per-iteration loop. */
  private[graft] def rankChain(nodesRel: String, edgesRel: String,
                               rankHint: String)(d: Dialect): String = {
    val iters = (1 to Iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS (
         |${iterSql(nodesRel, edgesRel, prev, rankHint)(d)}
         |)""".stripMargin
    }.mkString(",\n")
    s"""r0 AS (
       |  SELECT site, CAST($MicroBase AS BIGINT) AS rank_u FROM $nodesRel
       |),
       |$iters""".stripMargin
  }

  /** The unrolled integer power iteration + final report over landed
    * `nodesRel(site, n_docs)` / `edgesRel(src, dst, w, out_w)`.
    * `rankHint` steers the per-iteration joins on the Spark path (the
    * rank/contribution relations are NODE-grain — broadcast them below
    * [[RankBroadcastBound]], co-partition above; either way the landed
    * edge relation is never sorted and per-iteration shuffle volume is
    * O(nodes), with the contribution groupBy map-side-combining edge
    * partials down to node grain). DuckDB ignores the hint comment. */
  private[graft] def rankTail(nodesRel: String, edgesRel: String,
                              rankHint: String = "BROADCAST")
                             (d: Dialect): String =
    s"""${rankChain(nodesRel, edgesRel, rankHint)(d)},
       |${reportSql(nodesRel, edgesRel, s"r$Iters", rankHint)(d)}""".stripMargin

  /** One power-iteration step over `prevRel(site, rank_u)`. */
  private[graft] def iterSql(nodesRel: String, edgesRel: String,
                             prevRel: String, rankHint: String)
                            (d: Dialect): String =
    s"""  SELECT /*+ $rankHint(c) */ n.site,
       |         CAST($Teleport + ${d.intDiv(s"$DampPct * COALESCE(c.s, 0)", "100")} AS BIGINT) AS rank_u
       |    FROM $nodesRel n LEFT JOIN (
       |      SELECT /*+ $rankHint(r) */ e.dst AS site, SUM(${d.intDiv("r.rank_u * e.w", "e.out_w")}) AS s
       |        FROM $edgesRel e JOIN $prevRel r ON r.site = e.src
       |       GROUP BY e.dst) c ON c.site = n.site""".stripMargin

  /** The final report over the converged `rankRel(site, rank_u)`. */
  private[graft] def reportSql(nodesRel: String, edgesRel: String,
                               rankRel: String, rankHint: String)
                              (d: Dialect): String =
    s"""inw AS (
       |  SELECT dst, SUM(w) AS in_w FROM $edgesRel GROUP BY dst
       |)
       |SELECT /*+ $rankHint(r, o, i) */ n.site,
       |       CAST(n.n_docs AS BIGINT) AS n_docs,
       |       CAST(COALESCE(o.out_w, 0) AS BIGINT) AS out_w,
       |       CAST(COALESCE(i.in_w, 0) AS BIGINT) AS in_w,
       |       CAST(r.rank_u AS BIGINT) AS rank_micro,
       |       CAST(r.rank_u / $MicroBase.0 AS DOUBLE) AS rank
       |  FROM $nodesRel n
       |  JOIN $rankRel r ON r.site = n.site
       |  LEFT JOIN (SELECT src, MAX(out_w) AS out_w FROM $edgesRel GROUP BY src) o
       |    ON o.src = n.site
       |  LEFT JOIN inw i ON i.dst = n.site
       | ORDER BY rank_micro DESC, n.site""".stripMargin

  def domainRankSql(table: String, nSrcOverride: Option[Long] = None)
                   (d: Dialect): String = {
    val nSrc = nSrcOverride.map(_.toString).getOrElse(
      s"SELECT COUNT(DISTINCT source) FROM $table")
    s"""WITH ${graphCtes(table, nSrc)(d)},
       |${rankTail("nodes", "edges")(d)}""".stripMargin
  }

  /** Standalone edge-relation SQL — the spec's hook for re-running the
    * recurrence in plain Scala over the engine's own graph. */
  private[graft] def edgesSql(table: String, nSrcOverride: Option[Long])
                             (d: Dialect): String = {
    val nSrc = nSrcOverride.map(_.toString).getOrElse(
      s"SELECT COUNT(DISTINCT source) FROM $table")
    s"""WITH ${graphCtes(table, nSrc)(d)}
       |SELECT src, dst, w, out_w FROM edges""".stripMargin
  }

  /** Spark path: the corpus-touching half (graph extraction) lands ONCE
    * per session as checkpointed site-grain views; the iteration tail
    * reads only those. */
  /** Engine path: one MATERIALIZED step per iteration — each r_i is a
    * node-grain relation landed with localCheckpoint (reliable
    * checkpoint on a real cluster), so lineage stays flat and the
    * per-iteration job is one equi-join + one aggregation, exactly the
    * [[Dedup]] label-propagation loop's shape. The oracle renders the
    * same recurrence as one unrolled-CTE statement ([[rankTail]]);
    * [[graft.DomainRankSpec]] pins the two forms bit-identical. */
  def runDomainRank(spark: SparkSession, dir: String): DataFrame = {
    val (nv, ev, _) = landedGraph(spark, dir)
    val (_, rv, hint) = landedRanks(spark, dir)
    spark.sql(s"WITH ${reportSql(nv, ev, rv, hint)(SparkDialect)}")
  }

  private[graft] def landedGraph(spark: SparkSession,
                                 dir: String): (String, String, Long) = {
    import graft.core.Materialize.{view, Checkpoint}
    val docs = graft.core.Tables.view(spark, dir, "documents")
    lazy val nSrc = spark.table(docs).select("source").distinct.count()
    val nv = view(spark, "dr_nodes", dir, Checkpoint) {
      spark.sql(
        s"""WITH ${graphCtes(docs, nSrc.toString)(SparkDialect)}
           |SELECT site, n_docs FROM nodes""".stripMargin)
    }
    val ev = view(spark, "dr_edges", dir, Checkpoint)(
      spark.sql(edgesSql(docs, Some(nSrc))(SparkDialect)))
    (nv, ev, graft.core.SessionCache.getOrElseUpdate(spark, "dr_node_count", dir)(
      spark.table(nv).count()))
  }

  def duckSql(): String = domainRankSql("documents")(DuckDialect)

  // ---------------------------------------------------------------------
  // Rank-weighted domain budget — the curation step the rank EXISTS for:
  // published crawl pipelines weight per-domain document budgets by host
  // rank (Common Crawl's ranked host lists feed exactly this selection in
  // C4/RefinedWeb-style recipes), replacing the flat per-domain cap of
  // [[UrlOps.runDomainCap]] with an authority-proportional allocation.

  /** Share of the corpus the rank-weighted budget keeps. */
  val BudgetPct = 50L
  /** Minimum docs every crawled site keeps (domain diversity floor). */
  val FloorDocs = 1L

  /** Site-grain allocation + kept-set report over `docsiteRel(doc_id,
    * site)`, `nodesRel(site, n_docs)` and the converged
    * `rankRel(site, rank_u)`: each site's budget is the integer-exact
    * proportional share `(rank_u · B) DIV Σrank` (B = [[BudgetPct]]% of
    * the corpus), floored at [[FloorDocs]] and capped at n_docs; the
    * kept set is the site's first `alloc` docs by the content-keyed md5
    * priority (the [[UrlOps.runDomainCap]] / [[PrioritySample]] draw, so
    * the kept set is stable across runs/engines/layouts). The report
    * pins the exact kept set via its id-sum without emitting doc grain.
    *
    * Scale shape: `alloc` is NODE-grain metadata (one BIGINT per host)
    * and joins the doc-grain window's output under the SAME hint
    * election as the rank loop (broadcast below
    * [[RankBroadcastBound]], hash-co-partitioned above — a 10⁷-host
    * alloc relation is not broadcastable); the corpus-touching work is
    * ONE scan + one window shuffle partitioned by site — identical to
    * the flat domain cap's bill. The two scalar totals are single-row
    * relations cross-joined into node grain. */
  private[graft] def budgetTail(docsiteRel: String, nodesRel: String,
                                rankRel: String, rankHint: String)
                               (d: Dialect): String = {
    val prio = s"SUBSTRING(MD5('rankbudget:' || ${d.castText("ds.doc_id")}), 1, 16)"
    val b = d.intDiv(s"t.total_docs * $BudgetPct", "100")
    s"""tot AS (
       |  SELECT SUM(n_docs) AS total_docs FROM $nodesRel
       |),
       |rsum AS (
       |  SELECT SUM(rank_u) AS sum_rank FROM $rankRel
       |),
       |alloc AS (
       |  SELECT /*+ $rankHint(r) */ n.site, n.n_docs, r.rank_u,
       |         LEAST(CAST(n.n_docs AS BIGINT),
       |               GREATEST(CAST($FloorDocs AS BIGINT),
       |                        ${d.intDiv(s"r.rank_u * ($b)", "s.sum_rank")})) AS alloc_docs
       |    FROM $nodesRel n
       |    JOIN $rankRel r ON r.site = n.site
       |    CROSS JOIN tot t CROSS JOIN rsum s
       |),
       |prio AS (
       |  SELECT ds.site, ds.doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY ds.site
       |                            ORDER BY $prio, ds.doc_id) AS rk
       |    FROM $docsiteRel ds
       |),
       |kept AS (
       |  SELECT /*+ $rankHint(a) */ p.site,
       |         COUNT(*) AS kept_docs, SUM(p.doc_id) AS kept_id_sum
       |    FROM prio p JOIN alloc a ON a.site = p.site
       |   WHERE p.rk <= a.alloc_docs
       |   GROUP BY p.site
       |)
       |SELECT a.site, CAST(a.n_docs AS BIGINT) AS n_docs,
       |       CAST(a.rank_u AS BIGINT) AS rank_micro,
       |       CAST(a.alloc_docs AS BIGINT) AS alloc_docs,
       |       CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
       |       CAST(COALESCE(k.kept_id_sum, 0) AS BIGINT) AS kept_id_sum
       |  FROM alloc a LEFT JOIN kept k ON k.site = a.site
       | ORDER BY a.site""".stripMargin
  }

  def rankBudgetSql(table: String, nSrcOverride: Option[Long] = None)
                   (d: Dialect): String = {
    val nSrc = nSrcOverride.map(_.toString).getOrElse(
      s"SELECT COUNT(DISTINCT source) FROM $table")
    s"""WITH ${graphCtes(table, nSrc)(d)},
       |${rankChain("nodes", "edges", "BROADCAST")(d)},
       |${budgetTail("docsite", "nodes", s"r$Iters", "BROADCAST")(d)}""".stripMargin
  }

  /** Converged node-grain ranks, landed once per session beside the
    * graph ([[landedGraph]]): the budget entry and any downstream
    * consumer read the same frozen rank relation the report entry
    * computed — rank never recomputes per consumer. */
  private[graft] def landedRanks(spark: SparkSession,
                                 dir: String): (String, String, String) = {
    val (nv, ev, nNodes) = landedGraph(spark, dir)
    val hint = if (nNodes <= RankBroadcastBound) "BROADCAST" else "SHUFFLE_HASH"
    val rv = graft.core.Materialize.view(spark, "dr_ranks", dir) {
      var layer = spark.sql(s"SELECT site, CAST($MicroBase AS BIGINT) AS rank_u FROM $nv")
      var landed: Option[DataFrame] = None
      for (_ <- 1 to Iters) {
        val nextDf = graft.core.Materialize.sql(spark, layer) { case Seq(prev) =>
          iterSql(nv, ev, prev, hint)(SparkDialect)
        }.localCheckpoint()
        landed.foreach(_.unpersist())  // the loop reads only r_{i-1}
        landed = Some(nextDf)
        layer = nextDf
      }
      layer
    }
    (nv, rv, hint)
  }

  def runRankBudget(spark: SparkSession, dir: String): DataFrame = {
    val (nv, rv, hint) = landedRanks(spark, dir)
    val docSite = spark.sql(
      s"""SELECT doc_id, ${siteExpr("doc_id", "source")(SparkDialect)} AS site
         |  FROM ${graft.core.Tables.view(spark, dir, "documents")}""".stripMargin)
    graft.core.Materialize.sql(spark, docSite) { case Seq(dsv) =>
      s"WITH ${budgetTail(dsv, nv, rv, hint)(SparkDialect)}"
    }
  }

  def duckRankBudgetSql(): String = rankBudgetSql("documents")(DuckDialect)
}
