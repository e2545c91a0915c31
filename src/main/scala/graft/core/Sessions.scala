package graft.core

import org.apache.spark.sql.SparkSession

/** The one place the engine builds a SparkSession. Verify, Bench, Runner,
  * PlanDump and FixtureExport all start here, so the session whose
  * answers are checked against the DuckDB oracle is the session that is
  * timed and shipped: same optimizer rewrites, same time zone, same
  * parallelism.
  *
  *  - master: `SPARK_MASTER`, else `local[cpus]`;
  *  - `cpus`: `SPARK_GRAFT_CPUS`, else every available processor; it is
  *    also the shuffle-partition count;
  *  - the engine's optimizer rewrites ([[graft.plans.GraftExtensions]]),
  *    installed with `withExtensions` so they land even when the builder
  *    reuses an existing SparkContext;
  *  - UTC session time zone, no UI, WARN logging, [[Tables.tunePerf]].
  *
  * Codegen and other `spark.*` keys are deliberately not set here: an
  * A/B run passes them as JVM system properties (`GRAFT_JVM_OPTS`), which
  * SparkConf reads. */
object Sessions {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** @param warehouseDir where bucketed tables land (the Runner puts them
    *   under its run's output dir); Spark's default when absent. */
  def create(warehouseDir: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(builder.config("spark.sql.warehouse.dir", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tunePerf(spark)
  }
}
