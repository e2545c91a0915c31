package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.profiling.{Profiler, SampledProfiler}

/** The job discipline of the one profiling kernel (`Profiler.measure`),
  * pinned on the statements each profile actually runs: no inline
  * COUNT(DISTINCT), one `stack` distinct job and at most one percentile
  * job. (The sketch profile's single statement is pinned in
  * ApproxProfilerSpec.) */
class ProfileJobsSpec extends SparkSpec {
  import ProfileJobs._

  private def count(sqls: Seq[(String, String)], token: String): Int =
    sqls.count(_._1.contains(token))

  test("exact profile: no COUNT(DISTINCT, one stack job, at most one percentile job") {
    val sqls = withColdDir(spark, sfDir)(dir =>
      statements(spark)(Profiler.profile(spark, dir, "lineitem")))
    assert(sqls.nonEmpty)
    assert(sqls.forall(_._1.nonEmpty), "a statement without its SQL text")
    assert(count(sqls, "COUNT(DISTINCT") === 0)
    assert(count(sqls, "stack(") === 1)
    assert(count(sqls, "percentile(") <= 1)
  }

  test("sampled profile: one stack job and no percentile job") {
    val sqls = withColdDir(spark, sfDir)(dir =>
      statements(spark)(SampledProfiler.run(spark, dir).collect()))
    assert(count(sqls, "COUNT(DISTINCT") === 0)
    assert(count(sqls, "stack(") === 1)
    assert(count(sqls, "percentile(") === 0)
  }
}

object ProfileJobs {

  /** `f` over a fresh dir holding a copy of the fixture's lineitem: every
    * memo is keyed by dir, so a profile runs cold whatever other specs
    * ran in this session. The table relation is registered first, so its
    * partition probe is not counted as one of the profile's statements. */
  def withColdDir[T](spark: SparkSession, sfDir: String)(f: String => T): T = {
    val dir = Files.createTempDirectory("graft_profile_jobs")
    try {
      Files.copy(Paths.get(sfDir, "lineitem.parquet"), dir.resolve("lineitem.parquet"))
      graft.core.Tables.view(spark, dir.toString, "lineitem")
      f(dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** (SQL text, final executed plan) of every query `f` runs; commands (the
    * landings' view registrations) are not queries. */
  def statements(spark: SparkSession)(f: => Unit): Seq[(String, String)] = {
    val seen = mutable.Buffer.empty[(String, String)]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (!qe.logical.isInstanceOf[Command]) seen.synchronized {
          seen += ((qe.logical.collectFirst {
            case p if p.origin.sqlText.isDefined => p.origin.sqlText.get
          }.getOrElse(""), (qe.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan // the final plan only
            case p => p
          }).toString))
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { f; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toSeq)
  }
}
