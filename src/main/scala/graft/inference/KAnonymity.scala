package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** k-anonymity screen — the privacy complement of the PII flag
  * cascade ([[PiiFlag]]): a row is re-identifiable when its
  * quasi-identifier combination (attributes an attacker can look up
  * elsewhere — region, segment, zip...) is shared by fewer than k rows.
  * The reference detects PII columns (anomaly types
  * `testgen/template/dbsetup_anomaly_types/`) but never measures
  * JOINT re-identifiability; this screen reports, per equivalence
  * class over the declared quasi-identifiers, the class size and the
  * at-risk flag, plus each class's share of the table — the table a
  * privacy review reads before a data release.
  *
  * Scale shape: ONE map-side-combinable GROUP BY over the
  * quasi-identifier tuple — the result is bounded by the
  * quasi-identifier domain product (here nations × segments), not the
  * row count; nothing but the class counts ever shuffles. */
object KAnonymity {

  val K = 5

  def sql(table: String, k: Int = K)(d: Dialect): String =
    s"""SELECT c_nationkey AS nation_key, c_mktsegment AS segment,
       |       CAST(COUNT(*) AS BIGINT) AS class_ct,
       |       COUNT(*) < $k AS at_risk,
       |       CAST(${d.intDiv(s"COUNT(*) * 1000000", s"SUM(COUNT(*)) OVER ()")} AS BIGINT)
       |         AS share_ppm
       |  FROM $table
       | GROUP BY c_nationkey, c_mktsegment
       | ORDER BY nation_key, segment""".stripMargin

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, "customer"))(SparkDialect))
  }

  def duckSql(): String = sql("customer")(DuckDialect)
}
