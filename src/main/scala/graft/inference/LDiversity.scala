package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}

/** l-diversity screen — [[KAnonymity]]'s second line of defense: a
  * class of k identical quasi-identifier rows is still disclosive if
  * they all share the SAME sensitive value (the attacker learns it
  * without singling anyone out). Per equivalence class over the
  * quasi-identifiers (nation, segment), report the number of DISTINCT
  * sensitive values (account balance, discretized to thousands — the
  * granularity an attacker cares about) and flag classes below l.
  *
  * Scale shape: one GROUP BY over the quasi-identifier tuple with a
  * COUNT(DISTINCT sensitive) — Spark plans the distinct as a two-level
  * aggregate (partial per-(class, sensitive) dedup map-side, then the
  * class rollup), so raw rows never shuffle; the shuffled relation is
  * bounded by |classes| × |sensitive buckets|, both domain-bounded. */
object LDiversity {

  val L = 3

  def sql(table: String, l: Int = L): String =
    s"""SELECT c_nationkey AS nation_key, c_mktsegment AS segment,
       |       CAST(COUNT(*) AS BIGINT) AS class_ct,
       |       CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS INT)) AS BIGINT)
       |         AS l_distinct,
       |       COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS INT)) < $l AS at_risk
       |  FROM $table
       | GROUP BY c_nationkey, c_mktsegment
       | ORDER BY nation_key, segment""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "customer")))
  }

  def duckSql(): String = sql("customer")
}
