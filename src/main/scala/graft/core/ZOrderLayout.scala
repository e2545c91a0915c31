package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Z-order (Morton-interleaved) partition layout — the storage-level
  * strategy for queries that slice on TWO dimensions at once.
  *
  * [[TimeLayout]] prunes one dimension (the date). An incident
  * drill-down usually carries two — "these users, that week" — and a
  * single-key layout can only prune one of them, full-scanning the
  * other. The lakehouse answer (Delta/Iceberg `OPTIMIZE ZORDER BY`,
  * Hudi space-filling curves) is to key layout on an interleaved code:
  * bucket each dimension, interleave the bucket bits into one Morton
  * code, and partition by that code. A rectangle predicate then maps to
  * a SMALL SET of codes — at most `|ub range| × |db range|` of the
  * [[ZBuckets]] directories are listed, so pruning multiplies across
  * dimensions instead of picking one.
  *
  * Here the two dimensions are `user_id` (bucket = `id/16 mod 8`) and
  * the event date (bucket = `epoch_days/4 mod 8`): 3 bits each,
  * interleaved into a 6-bit code (64 directories). All bucket algebra
  * is plain integer arithmetic (`DIV`/`%`), so the driver enumerates a
  * rectangle's code list WITHOUT touching data, and the scan carries
  * `zbucket IN (…)` as a static partition filter (spec asserts the
  * listing prunes). The modulo wrap keeps directory count bounded at
  * any corpus size — a wrapped-in stranger bucket costs a false-listed
  * directory, never a wrong row, because the exact predicate still
  * applies after pruning.
  *
  * The landing reuses [[TimeLayout]]'s salted-writer discipline (at
  * most [[WritersPerBucket]] files per code directory). The DuckDB
  * oracle answers the same rectangle from the RAW unpartitioned
  * parquet — no zbucket anywhere — so the hash match proves the layout
  * is a pure access-path optimization.
  */
object ZOrderLayout {

  val ZBuckets = 64
  val WritersPerBucket = 4
  /** User-dimension bucket width / day-dimension bucket width. */
  val UserWidth = 16
  val DayWidth = 4

  /** 3-bit bucket of each dimension, interleaved u0d0u1d1u2d2 (LSB
    * first) — pure integer algebra shared by both dialects. */
  def zExpr(userCol: String, dateExpr: String)(d: Dialect): String = {
    val ub = s"((${d.intDiv(userCol, UserWidth.toString)}) % 8)"
    val db = s"((${d.intDiv(d.dateDiffDay("DATE '1970-01-01'", dateExpr), DayWidth.toString)}) % 8)"
    interleaveSql(ub, db)(d)
  }

  private def interleaveSql(ub: String, db: String)(d: Dialect): String =
    s"""(($ub % 2) + 2 * ($db % 2)
       | + 4 * (${d.intDiv(ub, "2")} % 2) + 8 * (${d.intDiv(db, "2")} % 2)
       | + 16 * (${d.intDiv(ub, "4")} % 2) + 32 * (${d.intDiv(db, "4")} % 2))""".stripMargin

  /** Scala twin of [[interleaveSql]] for driver-side code enumeration. */
  def zOf(userBucket: Int, dayBucket: Int): Int = {
    val ub = userBucket & 7; val db = dayBucket & 7
    (ub & 1) + 2 * (db & 1) + 4 * ((ub >> 1) & 1) + 8 * ((db >> 1) & 1) +
      16 * ((ub >> 2) & 1) + 32 * ((db >> 2) & 1)
  }

  /** The code list covering a rectangle — every row with
    * `user_id ∈ [uLo, uHi]` and date ∈ [dLo, dHi] lands in one of these
    * codes (bucketing is monotone per dimension before the wrap, and
    * the enumeration walks the SAME wrapped function). */
  def zCodesFor(uLo: Long, uHi: Long, dLo: java.time.LocalDate,
                dHi: java.time.LocalDate): Seq[Int] = {
    val ubs = (uLo / UserWidth to uHi / UserWidth).map(k => (k % 8).toInt).distinct
    val dbs = (dLo.toEpochDay / DayWidth to dHi.toEpochDay / DayWidth)
      .map(k => (k % 8).toInt).distinct
    (for (ub <- ubs; db <- dbs) yield zOf(ub, db)).distinct.sorted
  }

  // the ONE layout-landing shape (code derivation + salted co-location),
  // shared by the initial landing and the daily append so the two can
  // never fork (the TimeLayout discipline)
  private def landInto(df: org.apache.spark.sql.DataFrame, path: String,
                       mode: String): Unit =
    df.withColumn("zbucket",
        expr(zExpr("user_id", "CAST(ts AS DATE)")(SparkDialect)))
      .repartition(col("zbucket"),
        pmod(xxhash64(col("event_id")), lit(WritersPerBucket)))
      .write.mode(mode).partitionBy("zbucket").parquet(path)

  /** Land events partitioned by the Morton code (memoized per
    * session+dir), salted to bound files per directory. */
  private[graft] def layoutPath(spark: SparkSession, dir: String): String =
    SessionCache.getOrElseUpdate(spark, "zorder_layout", dir) {
      val out = java.nio.file.Files
        .createTempDirectory("graft_events_zorder").toString
      landInto(Tables.load(spark, dir, "events"), out, "overwrite")
      out
    }

  /** Daily maintenance: append a batch into the layout. partitionBy
    * append only creates/extends the code directories the batch
    * touches — an incoming day's events spread over the (bounded) code
    * set of its day bucket × observed user buckets, and pre-existing
    * files are never rewritten (spec asserts byte-identity, the
    * [[TimeLayout.appendBatch]] discipline carried to the 2-D layout). */
  def appendBatch(spark: SparkSession, layoutPath: String,
                  batch: org.apache.spark.sql.DataFrame): Unit =
    landInto(batch, layoutPath, "append")

  /** Rectangle bounds derived from the corpus min/max (so every scale
    * queries a proportionate, non-empty window): users
    * `[maxU/6, maxU/3]`, days 8-15 past the first event. */
  private def boundsSql(eventsRel: String)(d: Dialect): (String, String, String, String) = {
    val maxU = s"(SELECT MAX(user_id) FROM $eventsRel)"
    val minD = s"(SELECT CAST(MIN(ts) AS DATE) FROM $eventsRel)"
    val uHi = d.intDiv(maxU, "3")
    (d.intDiv(uHi, "2"), uHi, d.dateAddDays(minD, 8), d.dateAddDays(minD, 15))
  }

  /** The rectangle rollup: per event_type count, cents-exact revenue,
    * distinct users. */
  def rectSql(rel: String, uLo: String, uHi: String, dLo: String,
              dHi: String, dateCol: String, extraPred: String = "TRUE"): String =
    s"""SELECT event_type,
       |       CAST(COUNT(*) AS BIGINT) AS ct,
       |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS user_ct
       |  FROM $rel
       | WHERE $extraPred
       |   AND user_id BETWEEN $uLo AND $uHi
       |   AND $dateCol BETWEEN $dLo AND $dHi
       | GROUP BY event_type
       | ORDER BY event_type""".stripMargin

  /** The two-dimensional pruned query: elect the rectangle literals once
    * per session (one min/max scan over the raw table, memoized),
    * enumerate the covering Morton codes driver-side, and read the
    * layout with `zbucket IN (codes)` + the exact rectangle predicate. */
  def runRectPruned(spark: SparkSession, dir: String): DataFrame = {
    val path = layoutPath(spark, dir)
    val (uLo, uHi, dLo, dHi) =
      SessionCache.getOrElseUpdate(spark, "zorder_rect", dir) {
        val mm = Tables.load(spark, dir, "events")
          .selectExpr("MAX(user_id) AS mu", "CAST(MIN(ts) AS DATE) AS md")
          .head()
        val mu = mm.getLong(0); val md = mm.getDate(1).toLocalDate
        val hi = mu / 3
        (hi / 2, hi, md.plusDays(8), md.plusDays(15))
      }
    val codes = zCodesFor(uLo, uHi, dLo, dHi)
    Materialize.sql(spark, spark.read.parquet(path)) { case Seq(layout) =>
      rectSql(layout, uLo.toString, uHi.toString, s"DATE '$dLo'", s"DATE '$dHi'",
        "CAST(ts AS DATE)", s"zbucket IN (${codes.mkString(", ")})")
    }
  }

  /** The pruned layout frame (for the partition-listing tripwire). */
  private[graft] def rectFrame(spark: SparkSession, dir: String): DataFrame = {
    val mm = Tables.load(spark, dir, "events")
      .selectExpr("MAX(user_id) AS mu", "CAST(MIN(ts) AS DATE) AS md").head()
    val mu = mm.getLong(0); val md = mm.getDate(1).toLocalDate
    val codes = zCodesFor(mu / 6, mu / 3, md.plusDays(8), md.plusDays(15))
    spark.read.parquet(layoutPath(spark, dir))
      .where(col("zbucket").isin(codes: _*))
  }

  def duckSql(): String = {
    val (uLo, uHi, dLo, dHi) = boundsSql("events")(DuckDialect)
    rectSql("events", uLo, uHi, dLo, dHi, "CAST(ts AS DATE)")
  }
}
