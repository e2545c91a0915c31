package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Referential-integrity screen over the declared star-schema edges —
  * the cross-TABLE complement of the reference's per-column hygiene
  * screens (its anomaly types flag values inside one table;
  * `testgen/template/flavors/.../profiling` never checks that a child
  * key actually resolves in its parent). One row per declared FK edge:
  * child cardinality, orphan rows/values, NULL keys, and the distinct
  * cardinalities on both sides — the containment evidence a FK
  * discovery pass reads (child_val_ct − orphan_val_ct == values that
  * DO resolve; compare with parent_val_ct for direction).
  *
  * Scale shape: each edge is ONE left join of the child against the
  * parent's DISTINCT key projection, then a map-side-combinable
  * aggregate — the parent side is column-pruned to the key before the
  * join, so small dims broadcast (nation/region/customer here) and
  * only genuinely large parents (orders at 100 TB) shuffle, where AQE
  * picks the strategy. Orphan detection is join-local: no second pass,
  * no NOT IN (whose NULL semantics would need a separate guard). */
object Referential {

  /** (child table, child col, parent table, parent col). The
    * events→customer edge is an unconstrained declaration (the
    * generator never promises user_id ⊆ c_custkey) — in the shipped
    * testdata it happens to resolve cleanly at every sf, so the
    * firing path is proven by Round12OpsSpec's planted-orphan fixture
    * rather than by fixture luck. */
  val Edges: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"))

  private def edgeSql(tabs: Map[String, String],
                      ct: String, cc: String, pt: String, pc: String): String =
    s"""SELECT '$ct.$cc -> $pt.$pc' AS fk_edge,
       |       CAST(COUNT(*) AS BIGINT) AS child_ct,
       |       CAST(COALESCE(SUM(CASE WHEN c.$cc IS NOT NULL AND p.__pk IS NULL
       |                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS orphan_ct,
       |       CAST(COUNT(DISTINCT CASE WHEN c.$cc IS NOT NULL AND p.__pk IS NULL
       |                                THEN c.$cc END) AS BIGINT) AS orphan_val_ct,
       |       CAST(COALESCE(SUM(CASE WHEN c.$cc IS NULL THEN 1 ELSE 0 END), 0)
       |            AS BIGINT) AS null_key_ct,
       |       CAST(COUNT(DISTINCT c.$cc) AS BIGINT) AS child_val_ct,
       |       (SELECT CAST(COUNT(DISTINCT $pc) AS BIGINT) FROM ${tabs(pt)})
       |         AS parent_val_ct
       |  FROM ${tabs(ct)} c
       |  LEFT JOIN (SELECT DISTINCT $pc AS __pk FROM ${tabs(pt)}) p
       |    ON p.__pk = c.$cc""".stripMargin

  def sql(tabs: Map[String, String]): String =
    Edges.map { case (ct, cc, pt, pc) => edgeSql(tabs, ct, cc, pt, pc) }
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY fk_edge")

  /** Engine rendering of [[edgeSql]]: the child pre-aggregates to a
    * (key, cnt) census BEFORE the parent join (guide §2.3 — reduce the
    * big side first), so the join carries one row per distinct child
    * key and the edge report is a plain aggregate over the joined
    * census — no COUNT(DISTINCT) Expand over raw child rows (the
    * oracle form planned TWO distinct-aggregate pipelines per edge;
    * 144 exchanges across the 8-edge union, 64 after). Identical
    * values: SUM(cnt) over the census == COUNT(*) over rows, a census
    * group IS one distinct value, and COUNT(k)/COUNT(CASE…) ignore
    * NULLs exactly as COUNT(DISTINCT …) did. */
  private def edgeSparkSql(tabs: Map[String, String],
                           ct: String, cc: String, pt: String, pc: String): String =
    s"""SELECT '$ct.$cc -> $pt.$pc' AS fk_edge,
       |       CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS child_ct,
       |       CAST(COALESCE(SUM(CASE WHEN c.k IS NOT NULL AND p.__pk IS NULL
       |                              THEN cnt END), 0) AS BIGINT) AS orphan_ct,
       |       CAST(COUNT(CASE WHEN c.k IS NOT NULL AND p.__pk IS NULL
       |                       THEN 1 END) AS BIGINT) AS orphan_val_ct,
       |       CAST(COALESCE(SUM(CASE WHEN c.k IS NULL THEN cnt END), 0)
       |            AS BIGINT) AS null_key_ct,
       |       CAST(COUNT(c.k) AS BIGINT) AS child_val_ct,
       |       (SELECT CAST(COUNT(DISTINCT $pc) AS BIGINT) FROM ${tabs(pt)})
       |         AS parent_val_ct
       |  FROM (SELECT $cc AS k, COUNT(*) AS cnt FROM ${tabs(ct)}
       |         GROUP BY $cc) c
       |  LEFT JOIN (SELECT DISTINCT $pc AS __pk FROM ${tabs(pt)}) p
       |    ON p.__pk = c.k""".stripMargin

  def sparkSql(tabs: Map[String, String]): String =
    Edges.map { case (ct, cc, pt, pc) => edgeSparkSql(tabs, ct, cc, pt, pc) }
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY fk_edge")

  private def tables: Seq[String] =
    Edges.flatMap { case (ct, _, pt, _) => Seq(ct, pt) }.distinct

  def run(spark: SparkSession, dir: String): DataFrame = {
    // parallelize=false: per-row work is a key projection feeding a
    // map-side-combined census — the cheap-aggregate case the load guard
    // documents (the rebalance shuffled raw lineitem 3× here, once per
    // edge; measured equal-time either way at sf0.1)
    spark.sql(sparkSql(tables.map(t =>
      t -> graft.core.Tables.view(spark, dir, t, parallelize = false)).toMap))
  }

  def duckSql(): String = sql(tables.map(t => t -> t).toMap)
}
