package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Keyed reconciliation report — the migration-audit twin of
  * [[Scd2]]: given the same two snapshots, answer "how different are
  * they, per column?" in one table: rows only in A, only in B, keys in
  * both with the column equal, and keys in both with it different —
  * the sign-off report a data migration (or a dual-write cutover)
  * reads before switching. Output: one row per compared column.
  *
  * Scale shape: ONE full-outer join on the key (the same join [[Scd2]]
  * plans, hash-shuffled, AQE-sized), then every per-column verdict is
  * row-local CASE arithmetic feeding a map-side-combinable aggregate —
  * C compared columns cost C counter columns in one pass, never C
  * joins. The unpivot to one-row-per-column happens on the single
  * aggregated row: the engine renders it as `stack()` over that one
  * row (a UNION of per-column selects would re-reference the agg CTE,
  * and Spark INLINES multiply-referenced CTEs — C unpivot branches
  * would re-plan the join C times; Round12OpsSpec's one-join tripwire
  * caught exactly that on first execution). The UNION rendering
  * remains the DuckDB oracle, where CTEs materialize. */
object Reconcile {

  /** Compared columns of the snapshot pair. */
  val Cols: Seq[String] = Seq("c_mktsegment", "c_acctbal")

  def sql(table: String): String = {
    val verdicts = Cols.map { c =>
      s"""       SUM(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
         |                 AND ${c}_1 = ${c}_2 THEN 1 ELSE 0 END) AS match_$c,
         |       SUM(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
         |                 AND ${c}_1 <> ${c}_2 THEN 1 ELSE 0 END) AS diff_$c""".stripMargin
    }.mkString(",\n")
    val unpivot = Cols.map { c =>
      s"""  SELECT '$c' AS column_name, only_a, only_b,
         |         match_$c AS match_ct, diff_$c AS diff_ct FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH s1 AS (${Scd2.snap1Sql(table)}),
       |s2 AS (${Scd2.snap2Sql(table)}),
       |j AS (
       |  SELECT s1.c_custkey AS k1, s2.c_custkey AS k2,
       |         ${Cols.map(c => s"s1.$c AS ${c}_1, s2.$c AS ${c}_2").mkString(",\n         ")}
       |    FROM s1 FULL OUTER JOIN s2 ON s2.c_custkey = s1.c_custkey
       |),
       |agg AS (
       |  SELECT SUM(CASE WHEN k2 IS NULL THEN 1 ELSE 0 END) AS only_a,
       |         SUM(CASE WHEN k1 IS NULL THEN 1 ELSE 0 END) AS only_b,
       |$verdicts
       |    FROM j
       |)
       |SELECT column_name, CAST(only_a AS BIGINT) AS only_a_ct,
       |       CAST(only_b AS BIGINT) AS only_b_ct,
       |       CAST(match_ct AS BIGINT) AS match_ct,
       |       CAST(diff_ct AS BIGINT) AS diff_ct
       |  FROM (
       |$unpivot
       |) u ORDER BY column_name""".stripMargin
  }

  /** Engine rendering: identical CTE prefix, but the unpivot runs as
    * one `stack()` generator over the single aggregated row — the agg
    * CTE is referenced exactly once, so the join plans exactly once. */
  def sparkSql(table: String): String = {
    val verdicts = Cols.map { c =>
      s"""       SUM(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
         |                 AND ${c}_1 = ${c}_2 THEN 1 ELSE 0 END) AS match_$c,
         |       SUM(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
         |                 AND ${c}_1 <> ${c}_2 THEN 1 ELSE 0 END) AS diff_$c""".stripMargin
    }.mkString(",\n")
    val stackArgs = Cols.map(c => s"'$c', match_$c, diff_$c").mkString(",\n    ")
    s"""WITH s1 AS (${Scd2.snap1Sql(table)}),
       |s2 AS (${Scd2.snap2Sql(table)}),
       |j AS (
       |  SELECT s1.c_custkey AS k1, s2.c_custkey AS k2,
       |         ${Cols.map(c => s"s1.$c AS ${c}_1, s2.$c AS ${c}_2").mkString(",\n         ")}
       |    FROM s1 FULL OUTER JOIN s2 ON s2.c_custkey = s1.c_custkey
       |),
       |agg AS (
       |  SELECT SUM(CASE WHEN k2 IS NULL THEN 1 ELSE 0 END) AS only_a,
       |         SUM(CASE WHEN k1 IS NULL THEN 1 ELSE 0 END) AS only_b,
       |$verdicts
       |    FROM j
       |)
       |SELECT u.column_name, CAST(only_a AS BIGINT) AS only_a_ct,
       |       CAST(only_b AS BIGINT) AS only_b_ct,
       |       CAST(u.m AS BIGINT) AS match_ct,
       |       CAST(u.d AS BIGINT) AS diff_ct
       |  FROM agg
       |  LATERAL VIEW stack(${Cols.length},
       |    $stackArgs) u AS column_name, m, d
       | ORDER BY column_name""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sparkSql(graft.core.Tables.view(spark, dir, "customer")))
  }

  def duckSql(): String = sql("customer")
}
