package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Weakly-connected communities over the [[DomainRank]] site graph —
  * the partition member of the link-graph family (authority:
  * [[DomainRank]]; distance: [[Harmonic]]; pairs: [[CoCitation]];
  * partition: this). Mirror clusters, syndication rings, and
  * link-farm neighborhoods show up as components of the undirected
  * citation graph; curation pipelines budget and sample at that
  * grain the same way [[Dedup.runClusters]] picks survivors per
  * duplicate component.
  *
  * Same algorithm pair as the duplicate clusters: the ENGINE runs
  * min-label propagation to a DRIVER-CHECKED fixpoint over the landed
  * undirected edge relation — per round one equi-join + one MIN-group
  * at node grain (O(V) shuffle, edges never sorted; rounds ≈ graph
  * diameter, ~log V on small-world host graphs), superseded label
  * checkpoints unpersisted ([[Harmonic.hyperBall]]'s hygiene rule) —
  * while the ORACLE renders the same component semantics as a
  * `WITH RECURSIVE` transitive closure with `cid = MIN(reachable)`,
  * the [[Dedup.clustersSql]] precedent. Community id = minimum site
  * label reachable, so the result is order- and engine-independent;
  * isolated sites (no citations either way) form singleton
  * communities via the node-relation seed.
  */
object GraphCommunities {

  private[graft] def reportSql(compRel: String): String =
    s"""SELECT c.id AS site, c.cid AS community,
       |       CAST(s.sz AS BIGINT) AS community_sz,
       |       CAST(CASE WHEN c.id = c.cid THEN 1 ELSE 0 END AS INT) AS is_rep
       |  FROM $compRel c
       |  JOIN (SELECT cid, COUNT(*) AS sz FROM $compRel GROUP BY cid) s
       |    ON s.cid = c.cid
       | ORDER BY community, site""".stripMargin

  def communitiesSql(table: String, nSrcOverride: Option[Long] = None)
                    (d: Dialect): String = {
    val nSrc = nSrcOverride.map(_.toString).getOrElse(
      s"SELECT COUNT(DISTINCT source) FROM $table")
    s"""WITH RECURSIVE ${DomainRank.graphCtes(table, nSrc)(d)},
       |und AS ${d.cteMaterialized}(
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT dst AS src, src AS dst FROM edges
       |),
       |reach AS (
       |  SELECT site AS id, site AS r FROM nodes
       |  UNION
       |  SELECT rc.id, e.dst AS r FROM reach rc JOIN und e ON e.src = rc.r
       |),
       |comp AS (
       |  SELECT id, MIN(r) AS cid FROM reach GROUP BY id
       |)
       |${reportSql("comp")}""".stripMargin
  }

  /** Engine path: min-label propagation to the driver-checked fixpoint
    * over the session's landed graph, memoized like the duplicate
    * clusters' component view. */
  def runCommunities(spark: SparkSession, dir: String): DataFrame =
    spark.sql(reportSql(compView(spark, dir)))

  private[graft] def compView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "graph_comm", dir) {
      import org.apache.spark.sql.functions.{coalesce, col, least, min}
      val (nv, ev, _) = DomainRank.landedGraph(spark, dir)
      val und = spark.sql(
        s"""SELECT src, dst FROM $ev
           |UNION
           |SELECT dst AS src, src AS dst FROM $ev""".stripMargin)
        .localCheckpoint(eager = true)
      var labels = spark.table(nv)
        .select(col("site").as("id"), col("site").as("cid"))
        .localCheckpoint(eager = true)
      var done = false
      var rounds = 0
      while (!done && rounds < 50) {
        val nbrMin = und.join(labels, und("src") === labels("id"))
          .select(und("dst").as("nid"), col("cid"))
          .groupBy("nid").agg(min("cid").as("nbr"))
        val next = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
          .select(labels("id"),
            least(labels("cid"), coalesce(col("nbr"), labels("cid"))).as("cid"))
          .localCheckpoint(eager = true)
        // labels are strings: converged when no row changed (cheap
        // count over the checkpointed relations, no collect of rows;
        // explicit aliases — the checkpointed frames share attribute
        // ids, which trips the ambiguous-self-join detector otherwise)
        val changed = next.as("n").join(labels.as("p"),
            col("n.id") === col("p.id"))
          .where(col("n.cid") =!= col("p.cid")).limit(1).count()
        labels.unpersist()  // superseded round, the hyperball hygiene rule
        labels = next
        done = changed == 0
        rounds += 1
      }
      und.unpersist()
      labels  // already checkpointed: the last round's relation
    }

  def duckSql(): String = communitiesSql("documents")(DuckDialect)
}
