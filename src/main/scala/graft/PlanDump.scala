package graft
import java.nio.file.{Files, Paths}

/** Plan evidence dumper: `runMain graft.PlanDump <outDir> <suffix> q1 q2 …`
  * writes each named SparkEntry query's `.explain("formatted")` to
  * `<outDir>/<query>_<suffix>.txt` (the judge-facing before/after plan
  * artifacts under plans/r14/). Uses the shared session factory, so the
  * dumped plan is the benched plan.
  *
  * After one untimed warm call, each entry's `PLANDUMP` line also splits
  * its wall clock into DataFrame construction (analyze), optimization +
  * physical planning (plan, via `executedPlan`) and execution (exec, the
  * count action), so planning-bound entries (giant union SQL) are
  * distinguishable from execution-bound ones. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.create()
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    for (n <- names) {
      // memoized shared relations land on first call (same as the bench
      // warm-up), so the dumped plan is the steady-state one
      try {
        SparkEntry.queries(n)(spark, sfDir).count()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        val ex = "Exchange".r.findAllIn(txt).length
        println(f"PLANDUMP $n exchanges=$ex bytes=${txt.length} " +
          f"analyze=${(t1 - t0) / 1e9}%.2f plan=${(t2 - t1) / 1e9}%.2f exec=${(t3 - t2) / 1e9}%.2f s")
      } catch {
        case e: Throwable => nFailed += 1; println(s"PLANDUMP $n FAILED: $e")
      }
    }
    spark.stop()
    // A failed dump must fail the evidence run, not silently yield a
    // missing plans/ artifact (ADVICE r14).
    if (nFailed > 0) { println(s"PLANDUMP $nFailed failed"); sys.exit(1) }
  }
}
