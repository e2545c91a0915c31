package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the Spark work of a traced run: every job's interval, every
  * finished task's metrics (summed per Spark stage), and every query's
  * analysis/optimization/planning phases. Nothing is attributed here;
  * [[Attribution]] assigns it to spans by time afterwards, because the
  * engine fans actions out to pool threads that carry no job group. */
final class Tracer private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = mutable.Map[Int, JobRec]()
  val stageJob = mutable.Map[Int, Int]()
  val stageTasks = mutable.Map[Int, TaskSum]()
  val phases = mutable.ArrayBuffer[(Long, Long)]()

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.time, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageTasks.getOrElseUpdate(e.stageId, new TaskSum)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.scanBytes += m.inputMetrics.bytesRead
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.writeBytes += m.outputMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.endTimeMs - p.startTimeMs)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

object Tracer {
  final case class JobRec(startMs: Long, endMs: Long)
  final class TaskSum {
    var tasks, cpuNs, scanBytes, shuffleBytes, writeBytes, spillBytes = 0L
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}

/** Per-layer figures of a traced run. Each job, and each planning
  * phase, belongs to the call span open when it started (call spans do
  * not nest); tasks follow their job. A call span's driver time is the
  * part of it during which none of its jobs ran. */
final class Attribution(spans: Seq[Span], tracer: Tracer,
                             counters: ProcessCounters) {
  private val calls = spans.filter(_.kind != "stage")

  private def callAt(ms: Long): Option[Span] =
    calls.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(s => (s.startMs, s.id))

  private val (jobSpan, sums) = tracer.synchronized {
    val js = tracer.jobs.toMap.map { case (id, j) => id -> (j, callAt(j.startMs)) }
    val ts = tracer.stageTasks.toMap.map { case (stage, sum) =>
      (stage, tracer.stageJob.get(stage).flatMap(js.get).flatMap(_._2), sum)
    }
    (js, ts)
  }

  private def busyMs(span: Span): Long = {
    val iv = jobSpan.values.collect { case (j, Some(s)) if s.id == span.id =>
      (j.startMs max span.startMs, j.endMs min span.endMs)
    }.filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    iv.foldLeft((0L, Long.MinValue)) { case ((tot, reach), (a, b)) =>
      if (b <= reach) (tot, reach)
      else (tot + b - (a max reach), b)
    }._1
  }

  private def layer(name: String): Map[String, Any] = {
    val in = calls.filter(_.layer == name)
    val mine = (s: Option[Span]) => s.exists(_.layer == name)
    val tasks = sums.filter(t => mine(t._2)).map(_._3)
    val plans = tracer.synchronized(tracer.phases.toSeq).filter(p => mine(callAt(p._1)))
    Map(
      "build_s" -> in.filter(_.kind == "build").map(_.seconds).sum,
      "exec_s" -> in.filter(_.kind == "land").map(_.seconds).sum,
      "driver_s" -> in.map(s => s.seconds - busyMs(s) / 1e3).sum.max(0.0),
      "plan_s" -> plans.map(_._2).sum / 1e3,
      "jobs" -> jobSpan.values.count(p => mine(p._2)),
      "tasks" -> tasks.map(_.tasks).sum,
      "task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "scan_mb" -> tasks.map(_.scanBytes).sum / 1e6,
      "shuffle_mb" -> tasks.map(_.shuffleBytes).sum / 1e6)
  }

  def layers: Map[String, Map[String, Any]] = Stages.layers.map(l => l -> layer(l)).toMap

  def process: Map[String, Any] = {
    val all = sums.map(_._3)
    Map(
      "write_mb" -> all.map(_.writeBytes).sum / 1e6,
      "spill_mb" -> all.map(_.spillBytes).sum / 1e6,
      "gc_s" -> counters.gcMs / 1e3,
      "jit_s" -> counters.jitMs / 1e3,
      "codegen_compiles" -> counters.codegen)
  }
}
