package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Slowly-changing-dimension (type 2) build — the dimension-table
  * consumer of a snapshot diff: given two versions of the customer
  * dimension, emit the effective-dated row set a warehouse keeps —
  * closed-out old versions for changed/removed keys, open current
  * versions for surviving/new keys. The reference diffs SCHEMAS
  * across profiling runs (`schema_drift`) and the engine already
  * diffs document corpora row-wise (doc CDC); SCD2 is the standard
  * MERGE pattern neither covers: maintaining history, not reporting
  * change.
  *
  * The two snapshots derive deterministically from the one landed
  * customer table (same rule in both engines), so the entry is fully
  * oracle-checkable without extra fixtures: snapshot 1 drops
  * `custkey % 50 = 7` (those become ADDED), snapshot 2 drops
  * `custkey % 50 = 13` (REMOVED) and perturbs balance
  * (`% 10 = 3` → +100) and segment (`% 17 = 5` → suffix) for CHANGED.
  *
  * Validity is versioned by integer snapshot ids (1, 2, NULL=open) —
  * no timestamps, so the history rows are bit-exact cross-engine.
  *
  * Scale shape: ONE full-outer join of the snapshots on the dimension
  * key (hash-shuffled both sides, AQE-planned), then every joined row
  * emits its 1-2 history rows ROW-LOCALLY through one generator
  * (explode of a CASE-built struct array). The first rendering
  * union'd two projections of the joined CTE — but Spark INLINES
  * multiply-referenced CTEs (the Dedup.scala lesson), so the union
  * planned the full-outer join TWICE; Round12OpsSpec's one-join
  * tripwire caught it on first execution. The UNION form remains the
  * DuckDB oracle (DuckDB materializes CTEs). No windows, no global
  * sorts: history building is embarrassingly key-parallel. */
object Scd2 {

  /** Snapshot 1: the dimension as first loaded. */
  def snap1Sql(table: String): String =
    s"""SELECT c_custkey, c_mktsegment, c_acctbal
       |  FROM $table WHERE c_custkey % 50 <> 7""".stripMargin

  /** Snapshot 2: the refreshed dimension — drops, perturbs, adds. */
  def snap2Sql(table: String): String =
    s"""SELECT c_custkey,
       |       CASE WHEN c_custkey % 17 = 5 THEN c_mktsegment || '_R'
       |            ELSE c_mktsegment END AS c_mktsegment,
       |       CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100.0
       |            ELSE c_acctbal END AS c_acctbal
       |  FROM $table WHERE c_custkey % 50 <> 13""".stripMargin

  def sql(table: String): String =
    s"""WITH s1 AS (${snap1Sql(table)}),
       |s2 AS (${snap2Sql(table)}),
       |j AS (
       |  SELECT COALESCE(s1.c_custkey, s2.c_custkey) AS c_custkey,
       |         s1.c_mktsegment AS seg1, s1.c_acctbal AS bal1,
       |         s2.c_mktsegment AS seg2, s2.c_acctbal AS bal2,
       |         CASE
       |           WHEN s1.c_custkey IS NULL THEN 'ADDED'
       |           WHEN s2.c_custkey IS NULL THEN 'REMOVED'
       |           WHEN s1.c_mktsegment <> s2.c_mktsegment
       |             OR s1.c_acctbal <> s2.c_acctbal THEN 'CHANGED'
       |           ELSE 'UNCHANGED'
       |         END AS chg
       |    FROM s1 FULL OUTER JOIN s2 ON s2.c_custkey = s1.c_custkey
       |)
       |SELECT * FROM (
       |  SELECT c_custkey, seg1 AS c_mktsegment, bal1 AS c_acctbal,
       |         CAST(1 AS INT) AS valid_from,
       |         CASE WHEN chg = 'UNCHANGED' THEN CAST(NULL AS INT)
       |              ELSE CAST(2 AS INT) END AS valid_to,
       |         chg = 'UNCHANGED' AS is_current,
       |         chg AS change_type
       |    FROM j WHERE chg <> 'ADDED'
       |  UNION ALL
       |  SELECT c_custkey, seg2, bal2,
       |         CAST(2 AS INT), CAST(NULL AS INT), TRUE,
       |         chg
       |    FROM j WHERE chg IN ('ADDED', 'CHANGED')
       |) hist
       |ORDER BY c_custkey, valid_from""".stripMargin

  /** Engine rendering: the same relation with the history rows emitted
    * by ONE generator over the single joined relation — the CASE picks
    * each key's 1-2 version structs, explode flattens them. Result
    * rows identical to [[sql]] (the driver hash-checks them against
    * it); the plan holds exactly one join. */
  def sparkSql(table: String): String = {
    def v(seg: String, bal: String, from: Int, to: String, cur: String) =
      s"named_struct('c_mktsegment', $seg, 'c_acctbal', $bal, " +
        s"'valid_from', CAST($from AS INT), 'valid_to', CAST($to AS INT), " +
        s"'is_current', $cur)"
    s"""WITH s1 AS (${snap1Sql(table)}),
       |s2 AS (${snap2Sql(table)}),
       |j AS (
       |  SELECT COALESCE(s1.c_custkey, s2.c_custkey) AS c_custkey,
       |         s1.c_mktsegment AS seg1, s1.c_acctbal AS bal1,
       |         s2.c_mktsegment AS seg2, s2.c_acctbal AS bal2,
       |         CASE
       |           WHEN s1.c_custkey IS NULL THEN 'ADDED'
       |           WHEN s2.c_custkey IS NULL THEN 'REMOVED'
       |           WHEN s1.c_mktsegment <> s2.c_mktsegment
       |             OR s1.c_acctbal <> s2.c_acctbal THEN 'CHANGED'
       |           ELSE 'UNCHANGED'
       |         END AS chg
       |    FROM s1 FULL OUTER JOIN s2 ON s2.c_custkey = s1.c_custkey
       |)
       |SELECT c_custkey, r.c_mktsegment, r.c_acctbal,
       |       r.valid_from, r.valid_to, r.is_current,
       |       chg AS change_type
       |  FROM j
       |  LATERAL VIEW explode(CASE chg
       |    WHEN 'ADDED' THEN array(${v("seg2", "bal2", 2, "NULL", "TRUE")})
       |    WHEN 'CHANGED' THEN array(
       |      ${v("seg1", "bal1", 1, "2", "FALSE")},
       |      ${v("seg2", "bal2", 2, "NULL", "TRUE")})
       |    WHEN 'REMOVED' THEN array(${v("seg1", "bal1", 1, "2", "FALSE")})
       |    ELSE array(${v("seg1", "bal1", 1, "NULL", "TRUE")})
       |  END) e AS r
       | ORDER BY c_custkey, valid_from""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sparkSql(graft.core.Tables.view(spark, dir, "customer")))
  }

  def duckSql(): String = sql("customer")
}
