package graft.profiling

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Sketch-based profiling — the shape the exact [[Profiler]] swaps to
  * at full 100 TB scale. The exact profiler's only super-linear cost is
  * its distinct job: COUNT(DISTINCT) re-expressed as an unpivot +
  * two-phase group-by still shuffles every distinct value of every
  * profiled column. This profiler replaces each distinct count with a
  * HyperLogLog++ sketch (`approx_count_distinct`, 2% rsd) and
  * each exact interpolated percentile with a KLL-style quantile sketch
  * (`approx_percentile`) — both are ordinary partial-mergeable
  * aggregates, so the ENTIRE profile collapses into the scalar job's
  * shape: one pass over the table, map-side partials, a
  * single-row result, zero value shuffles of any kind.
  *
  * The trade is bounded, measured error (ApproxProfilerSpec pins the
  * sketches against the exact profile on the fixtures); the reference
  * has no approximate path at all — its profiling SQL scans once per
  * COLUMN (`testgen/commands/run_profiling.py:146-218`), which is the
  * design this one is the 1000× scale-out of.
  */
object ApproxProfiler {

  /** HLL++ relative standard deviation of the distinct estimates. */
  private val Rsd = 0.02
  /** `approx_percentile` accuracy (relative rank error 1/accuracy). */
  private val PctAccuracy = 10000

  def profile(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.table(graft.core.Materialize.view(spark, "approx_profile", (dir, table))(
      compute(spark, dir, table)))

  /** One column's sketch entries, all scalar, so [[Profiler.measure]]
    * runs the whole profile as one statement: exact counts, the HLL++
    * distinct estimate and, for numerics, min/max and the three quartiles
    * as one `approx_percentile` array. */
  private def entries(f: StructField): Seq[ScalarM] = {
    val c = s"`${f.name}`"
    val isN = GeneralType.of(f.dataType) == "N"
    Seq(
      ScalarM("record_ct", "bigint", true, _ => "COUNT(*)"),
      ScalarM("value_ct", "bigint", true, _ => s"COUNT($c)"),
      ScalarM("null_value_ct", "bigint", true,
        _ => s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)"),
      ScalarM("distinct_value_ct", "bigint", true,
        _ => s"CAST(approx_count_distinct($c, $Rsd) AS BIGINT)"),
      ScalarM("min_value", "double", isN, _ => s"CAST(MIN($c) AS DOUBLE)"),
      ScalarM("max_value", "double", isN, _ => s"CAST(MAX($c) AS DOUBLE)"),
      ScalarM("quartiles", "array<double>", isN,
        _ => s"approx_percentile(CAST($c AS DOUBLE), array(0.25, 0.5, 0.75), $PctAccuracy)"))
  }

  private def compute(spark: SparkSession, dir: String, table: String): DataFrame = {
    val v = graft.core.Tables.view(spark, dir, table)
    val fields = spark.table(v).schema.fields.toSeq
    val perCol = fields.map(entries)
    val vals = Profiler.measure(spark, v, perCol.zipWithIndex.map(_.swap))
    // every entry but the quartile array is an output column
    val counted = perCol.head.init
    val schema = StructType(
      Seq(StructField("column_name", StringType), StructField("general_type", StringType)) ++
        counted.map(e => StructField(e.name, ProfileMetrics.sparkType(e.tpe))) ++
        Seq(25, 50, 75).map(p => StructField(s"percentile_$p", DoubleType)))
    val rows = fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) =>
      val q = vals((i, "quartiles")).asInstanceOf[scala.collection.Seq[Any]]
      Row.fromSeq(Seq(f.name, GeneralType.of(f.dataType)) ++
        counted.map(e => vals((i, e.name))) ++ Seq.tabulate(3)(k => if (q == null) null else q(k)))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Approx-vs-exact bounds report — the oracle-checkable face of the
    * sketch profiler: per column, the EXACT distinct count (which both
    * engines compute identically) plus two integer verdicts computed
    * engine-side from the real sketches: the HLL++ distinct estimate
    * within 10% (5 standard deviations at the 2% rsd) of exact,
    * and the sketched median inside the exact inter-quartile range.
    * The DuckDB oracle asserts the EXPECTED verdicts (all within
    * bounds) — a sketch drifting out of its published error bound flips
    * a flag and fails the hash compare, the same expected-value
    * anchoring the SARIMAX parity entries use.
    *
    * Scale shape: both inputs are the already-landed per-column profile
    * relations (the sketch pass is one scan; the exact pass is the
    * memoized three-job profile every other consumer shares) — the
    * report itself is a driver-side zip of two column-count-sized rows,
    * no new table scan. */
  def report(spark: SparkSession, dir: String, table: String): DataFrame = {
    val approx = profile(spark, dir, table).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    // mode pinned to exact: the report compares against the true
    // profile even when GRAFT_PROFILE_MODE=approx routes everything else
    val exact = Profiler.profile(spark, dir, table, mode = "exact").collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    val schema = StructType(Seq(
      StructField("column_name", StringType),
      StructField("general_type", StringType),
      StructField("exact_distinct", LongType),
      StructField("distinct_within_bound", IntegerType, nullable = false),
      StructField("median_within_iqr", IntegerType)))
    val rows = approx.keys.toSeq.sorted.map { name =>
      val a = approx(name); val e = exact(name)
      val aDist = a.getAs[Long]("distinct_value_ct")
      val eDist = e.getAs[Long]("distinct_value_ct")
      val dOk =
        if (math.abs(aDist - eDist) <= math.max(4L, math.ceil(0.10 * eDist).toLong)) 1
        else 0
      val isN = a.getAs[String]("general_type") == "N"
      val mOk: Any =
        if (!isN || a.isNullAt(a.fieldIndex("percentile_50"))) null
        else {
          val p50 = a.getAs[Double]("percentile_50")
          val lo = e.getAs[Double]("percentile_25")
          val hi = e.getAs[Double]("percentile_75")
          if (p50 >= lo - 1e-4 && p50 <= hi + 1e-4) Int.box(1) else Int.box(0)
        }
      Row(name, a.getAs[String]("general_type"), eDist, dOk, mOk)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** DuckDB oracle for [[report]]: exact distincts computed natively,
    * verdict flags as the EXPECTED literals (all in-bound). */
  def reportDuckSql(table: String, schema: StructType): String = {
    val selects = schema.fields.sortBy(_.name).map { f =>
      val gt = GeneralType.of(f.dataType)
      val med = if (gt == "N") "CAST(1 AS INT)" else "CAST(NULL AS INT)"
      s"""SELECT '${f.name}' AS column_name, '$gt' AS general_type,
         |  CAST(COUNT(DISTINCT ${f.name}) AS BIGINT) AS exact_distinct,
         |  CAST(1 AS INT) AS distinct_within_bound,
         |  $med AS median_within_iqr
         |FROM $table""".stripMargin
    }
    selects.mkString("\nUNION ALL\n") + "\nORDER BY column_name"
  }
}
