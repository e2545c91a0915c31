package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distributed AS-OF join — "attach the most recent prior right-side
  * row to each left row per key", the temporal join every event/state
  * pipeline needs (events ↔ latest order, ticks ↔ latest quote).
  * Spark has no ASOF operator; the naive spelling (equi-key join plus
  * a `b.ts <= a.ts` predicate, then max-per-left) re-materializes every
  * historical right row per left row before pruning — quadratic in
  * versions per key.
  *
  * The engine computes it JOIN-FREE, the canonical distributed form:
  * UNION both sides tagged, hash-partition once on the key, sort each
  * partition by (ts, side) — right rows sort BEFORE left rows at equal
  * timestamps so a same-instant state row is visible, matching ASOF's
  * `>=` — and carry the right side's attributes forward with
  * LAST_VALUE ... IGNORE NULLS over the running frame. One shuffle, no
  * join operator in the plan at all (PlanSpec asserts exactly that),
  * linear in rows per key — the shape that survives a key with a
  * million versions.
  *
  * The DuckDB oracle runs its NATIVE `ASOF JOIN` — a genuinely
  * different algorithm producing the same relation, which is exactly
  * what makes the hash compare a strong check. Ties among multiple
  * right rows at the same (key, ts) are resolved to the greatest
  * right key in BOTH engines before the as-of (ASOF's own tie pick is
  * unspecified).
  */
object AsofJoin {

  /** Shared side CTEs: events as the probe side, one order per
    * (customer, order timestamp) — greatest order key wins ties. */
  private def sideCtes(eventsRel: String, ordersRel: String): String =
    s"""ev AS (
       |  SELECT user_id AS k, ts AS ats, event_id, value AS event_value
       |    FROM $eventsRel
       |),
       |ord AS (
       |  SELECT k, bts, o_orderkey, o_totalprice FROM (
       |    SELECT o_custkey AS k, o_orderdate AS bts, o_orderkey, o_totalprice,
       |           ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
       |                              ORDER BY o_orderkey DESC) AS rn
       |      FROM $ordersRel
       |  ) d WHERE rn = 1
       |)""".stripMargin

  private val outCols =
    """event_id, user_id, ts,
      |       CAST(order_key AS BIGINT) AS order_key,
      |       CAST(order_price AS DOUBLE) AS order_price""".stripMargin

  /** Spark (engine) form: union + single hash partition + running
    * LAST_VALUE — no join operator. */
  def sparkSql(eventsRel: String, ordersRel: String): String =
    s"""WITH ${sideCtes(eventsRel, ordersRel)},
       |u AS (
       |  SELECT k, bts AS uts, 0 AS side,
       |         CAST(NULL AS BIGINT) AS event_id,
       |         CAST(NULL AS DOUBLE) AS event_value,
       |         o_orderkey, o_totalprice
       |    FROM ord
       |  UNION ALL
       |  SELECT k, ats, 1,
       |         event_id, event_value,
       |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
       |    FROM ev
       |),
       |w AS (
       |  SELECT k, uts, side, event_id, event_value,
       |         LAST_VALUE(o_orderkey) IGNORE NULLS OVER asof AS order_key,
       |         LAST_VALUE(o_totalprice) IGNORE NULLS OVER asof AS order_price
       |    FROM u
       |  WINDOW asof AS (PARTITION BY k ORDER BY uts, side
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT $outCols
       |  FROM (SELECT event_id, k AS user_id, uts AS ts,
       |               order_key, order_price
       |          FROM w WHERE side = 1) z
       | WHERE order_key IS NOT NULL
       | ORDER BY event_id""".stripMargin

  /** DuckDB oracle: the native ASOF JOIN over the same sides. */
  def duckSql(eventsRel: String, ordersRel: String): String =
    s"""WITH ${sideCtes(eventsRel, ordersRel)}
       |SELECT $outCols
       |  FROM (SELECT e.event_id, e.k AS user_id, e.ats AS ts,
       |               o.o_orderkey AS order_key, o.o_totalprice AS order_price
       |          FROM ev e ASOF JOIN ord o
       |            ON e.k = o.k AND e.ats >= o.bts) z
       | ORDER BY event_id""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sparkSql(graft.core.Tables.view(spark, dir, "events", parallelize = false),
      graft.core.Tables.view(spark, dir, "orders", parallelize = false)))
  }
}
