package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Join-key skew report — the profiling pass that decides HOW each join
  * should run at scale before any join runs: for every declared join
  * key, the key-count distribution (distinct keys, biggest key's row
  * count and share, skew ratio = biggest/average) and its top heavy
  * hitters, with the dispatch a planner acts on:
  *
  *  - `SALT`     — a single key holds >1% of the rows: a shuffled hash
  *                 join or grouped aggregate stragglers on one task;
  *                 route through [[SkewJoin.saltedJoinHot]] with these
  *                 hot keys.
  *  - `BROADCAST`— few distinct keys: the dimension side is trivially
  *                 broadcast-sized; no shuffle at all.
  *  - `HASH_OK`  — flat distribution: the plain shuffled join is fine
  *                 (AQE handles residual imbalance).
  *
  * Advice thresholds compare exact integers (`100·hot_ct > total`), so
  * both engines dispatch identically; shares are rounded single
  * divisions of exact counts.
  *
  * Scale shape: one column-pruned scan per declared TABLE (a row-local
  * stack() unpivot emits every declared key's (join_key, k) pair from
  * the same scanned row), map-side combined counts, per-key top-5
  * windows over the (distinct-key-sized) count relation — raw rows
  * never shuffle, only (key, count) pairs. */
object SkewReport {

  /** The fixture's join keys — production passes its own catalog. */
  val Keys: Seq[(String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "lineitem.l_orderkey"),
    ("lineitem", "l_suppkey", "lineitem.l_suppkey"),
    ("lineitem", "l_partkey", "lineitem.l_partkey"),
    ("orders", "o_custkey", "orders.o_custkey"),
    ("documents", "source", "documents.source"))

  def sql(tableOf: String => String,
          keys: Seq[(String, String, String)] = Keys)(d: Dialect): String = {
    // One column-pruned scan per declared key, each branch aggregating
    // on the key's NATIVE type and casting to text only on its
    // distinct-key-sized count relation. Two scale properties fall out:
    // (1) columnar input bandwidth is the same as a fused multi-key
    // scan — each branch's scan prunes to exactly its one column, so K
    // single-column scans read the bytes of one K-column scan (a
    // stack()-unpivot fusion was measured 60% SLOWER at sf10: it forces
    // every key through one text-typed partial-aggregate hash carrying
    // all K key spaces at once); (2) the raw-row cast disappears — the
    // COUNT hashes 8-byte natives, and the text cast runs over
    // distinct keys, not rows.
    val scans = keys.map { case (t, c, label) =>
      s"""SELECT '$label' AS join_key, ${d.castText("k")} AS k, ct FROM (
         |    SELECT $c AS k, COUNT(*) AS ct FROM ${tableOf(t)} GROUP BY $c) g_$c""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH cnt AS (
       |  $scans
       |),
       |tot AS (
       |  SELECT join_key, SUM(ct) AS total, COUNT(*) AS distinct_keys,
       |         MAX(ct) AS max_ct
       |    FROM cnt GROUP BY join_key
       |),
       |ranked AS (
       |  SELECT join_key, k, ct,
       |         ROW_NUMBER() OVER (PARTITION BY join_key
       |                            ORDER BY ct DESC, k) AS rn
       |    FROM cnt
       |)
       |SELECT r.join_key, CAST(r.rn AS INT) AS rank, r.k AS hot_key,
       |       CAST(r.ct AS BIGINT) AS hot_ct,
       |       CAST(t.total AS BIGINT) AS total_rows,
       |       CAST(t.distinct_keys AS BIGINT) AS distinct_keys,
       |       CAST(ROUND(CAST(r.ct AS DOUBLE) / t.total, 6) AS DOUBLE) AS share,
       |       CAST(ROUND(CAST(t.max_ct * t.distinct_keys AS DOUBLE) / t.total, 4)
       |            AS DOUBLE) AS skew_ratio,
       |       CASE WHEN 100 * t.max_ct > t.total THEN 'SALT'
       |            WHEN t.distinct_keys <= 1000 THEN 'BROADCAST'
       |            ELSE 'HASH_OK' END AS advice
       |  FROM ranked r
       |  JOIN tot t ON t.join_key = r.join_key
       | WHERE r.rn <= 5
       | ORDER BY r.join_key, r.rn""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    // cheap count-groupBy consumer: the map-side partial aggregation on
    // the raw scan collapses each branch to (key, count) pairs, so a
    // load-time rebalance would shuffle raw rows the aggregate never
    // needs to move
    spark.sql(sql(t => Tables.view(spark, dir, t, parallelize = false))(SparkDialect))
  }

  def duckSql(): String = sql(identity)(DuckDialect)
}
