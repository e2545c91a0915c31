package graft.cat

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cat.CatMeasures._

/** A concrete CAT test suite over the driver testdata — the role of the
  * reference's generated `test_definitions` rows (baselines here are the
  * values test generation would have captured from a prior profiling run;
  * see reference testgen/template/generation/gen_selection_tests.sql:24-64).
  * Every measure type from the CAT inventory appears at least once.
  */
object CatSuite {

  val suites: Map[String, Seq[CatTest]] = Map(
    "lineitem" -> Seq(
      rowCt("l_orderkey", "1000"),
      rowCtPct("l_orderkey", 6000L, "25"),
      required("l_quantity", "0"),
      unique("l_orderkey", "0"),
      uniquePct("l_partkey", 200L, 6000L, "0.5"),
      missingPct("l_tax", 5990L, 6000L, "0.1"),
      avgShift("l_extendedprice", 6000L, 2400.0, 1300.0, "0.5"),
      incrAvgShift("l_extendedprice", 3000L, 7200000.0, 2400.0, 1300.0, "2"),
      minVal("l_discount", 0.0, "0"),
      outlierPctAbove("l_quantity", 25.0, 14.0, "0.05"),
      outlierPctBelow("l_quantity", 25.0, 14.0, "0.05"),
      variabilityIncrease("l_quantity", 14.0, "120"),
      variabilityDecrease("l_quantity", 14.0, "80"),
      decTrunc("l_extendedprice", "1"),
      dailyRecordCt("l_shipdate", "0"),
      weeklyRecCt("l_shipdate", "0"),
      monthlyRecCt("l_shipdate", "0"),
      recency("l_shipdate", "30"),
      futureDate("l_shipdate", "0"),
      futureDate1Y("l_shipdate", "0"),
      minDate("l_shipdate", "1995-01-01 00:00:00", "0"),
      distinctDateCt("l_shipdate", "100"),
      conditionFlag("l_orderkey", "l_discount > 0.07 AND l_quantity > 45", "10000")),
    "customer" -> Seq(
      alphaTrunc("c_name", "17"),
      lovAll("c_mktsegment", "AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY"),
      lovMatch("c_mktsegment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE"), "0"),
      distinctValueCt("c_mktsegment", "5"),
      constant("c_nationkey", "7", "0"),
      patternMatch("c_name", "^Customer#[0-9]+$", "0"),
      validCharacters("c_name", "0"),
      streetAddrPattern("c_name", "50"),
      usState("c_mktsegment", "0"),
      validUsZip("c_mktsegment", "0"),
      validUsZip3("c_mktsegment", "0")),
    "orders" -> Seq(
      distinctValueCt("o_orderstatus", "3"),
      lovMatch("o_orderstatus", Seq("F", "O", "P"), "0"),
      validMonth("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), "0"),
      recency("o_orderdate", "10000"),
      rowCt("o_orderkey", "100"),
      unique("o_orderkey", "0"),
      futureDate("o_orderdate", "0")),
    "events" -> Seq(
      required("props", "0"),
      conditionFlag("event_id", "value > 100 AND event_type = 'error'", "1000"),
      emailFormat("event_type", "0"),
      recency("ts", "1500"),
      dailyRecordCt("ts", "0"))
  )

  private val resultSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("test_type", StringType),
      StructField("column_name", StringType),
      StructField("severity", StringType),
      StructField("measure_num", DoubleType),
      StructField("measure_str", StringType),
      StructField("result_code", IntegerType),
      StructField("result_status", StringType),
      StructField("query_error", StringType)))
  }

  /** Execute a suite with the reference's error-isolation semantics: the
    * fused batch runs first; if it fails (one poisoned measure takes the
    * whole multi-aggregate down), every test re-runs INDIVIDUALLY so the
    * healthy tests still land results and the bad one lands an 'Error'
    * row carrying the message in `query_error` (reference:
    * testgen/commands/run_test_execution.py:300-352). */
  def runIsolated(spark: SparkSession, view: String,
                  tests: Seq[CatTest]): DataFrame = {
    import org.apache.spark.sql.Row
    val rows =
      try spark.sql(CatRunner.sparkSql(view, tests)).collect()
      catch {
        case _: Throwable =>
          tests.flatMap { t =>
            try spark.sql(CatRunner.sparkSql(view, Seq(t))).collect()
            catch {
              case e: Throwable =>
                val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
                Seq(Row(t.testType, t.column, null, null, null, null,
                  "Error", msg.take(500)))
            }
          }.sortBy(r => (r.getString(0), r.getString(1))).toArray
      }
    // materialized local relation — metadata-sized, shared by consumers
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), resultSchema)
  }

  /** Run (memoized) the fused CAT suite for one table. The result is one
    * row per test — metadata-sized — so it is materialized and shared by
    * every consumer (the per-table queries AND the scoring rollups),
    * mirroring the reference's `test_results` app-DB table. */
  def run(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.table(graft.core.Materialize.view(spark, "cat", (dir, table)) {
      runIsolated(spark, graft.core.Tables.view(spark, dir, table, parallelize = false),
        suites(table))
    })

  def duckSql(table: String): String = CatRunner.duckSql(table, suites(table))
}
