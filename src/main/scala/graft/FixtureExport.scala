package graft

/** Dev tooling (like [[PlanDump]]): export the known
  * tables from a parquet fixture dir into a text-format fixture via
  * [[graft.sources.Sources.write]], so the Runner's opt-in `ingest`
  * stage (csv/json/orc → parquet landing) can be cold-benched at any
  * scale factor.
  *
  *   runMain graft.FixtureExport <srcParquetDir> <dstDir> <format> [t1,t2,...]
  */
object FixtureExport {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val fmt = if (args.length > 2) args(2) else "csv"
    val tables =
      if (args.length > 3) args(3).split(",").toSeq else graft.core.Tables.names
    val spark = graft.core.Sessions.create()
    tables.foreach { t =>
      graft.sources.Sources.write(
        graft.core.Tables.load(spark, src, t, parallelize = false), dst, t, fmt)
      println(s"[fixture] $t -> $dst/$t.$fmt")
    }
    spark.stop()
  }
}
