package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One cold TestGen job in a fresh JVM: build the session the way
  * `graft.Runner` does, run one stage list through [[Stages]], land
  * every result as parquet, and write a result file with the job's
  * end-to-end figures (and, traced, its spans and per-layer figures).
  *
  * Usage: Job <dataDir> <outDir> <stage,stage,...> <trace 0|1> <resultFile>
  * where a stage is `name` or `name=call+call` (see [[Stages.stage]]).
  *
  * The result file is JSON; the calling script checks every landing's
  * rows and fingerprint against the committed expectations.
  */
object Job {

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, stageList, traceArg, resultFile) = args
    val trace = traceArg == "1"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tunePerf(spark)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val tracer = if (trace) Some(Tracer.install(spark)) else None
    val spans = new Spans(tracer)
    val run = new Stages(spark, dataDir, outDir, spans)
    val heap = new LiveHeap(spark)
    // the job's clock and counters stop while the live heap is measured
    var jobNs = 0L
    var process = ProcessCounters.zero
    stageList.split(",").foreach { stage =>
      val (t0, c0) = (System.nanoTime(), ProcessCounters.snapshot())
      run.stage(stage)
      jobNs += System.nanoTime() - t0
      process = process.plus(ProcessCounters.snapshot().minus(c0))
      heap.sample()
    }
    val jobS = jobNs / 1e9

    val traced = tracer.map { t =>
      t.drain()
      Files.writeString(Paths.get(s"$outDir/spans.jsonl"),
        spans.all.map(s => Json.write(s.fields(spans.runId))).mkString("", "\n", "\n"))
      val attributed = new Attribution(spans.all, t, process)
      Map("layers" -> attributed.layers, "process" -> attributed.process,
        "drain_s" -> spans.drainNs / 1e9)
    }
    val result = Map(
      "setup_s" -> setupS,
      "job_s" -> jobS,
      "job_cpu_s" -> process.cpuS,
      "peak_heap_mb" -> heap.peakMb,
      "stage_s" -> spans.all.filter(_.kind == "stage").map(_.seconds),
      "stage_live_heap_mb" -> heap.samplesMb.toSeq,
      "ops" -> run.ops.map(_.fields),
      "settings" -> Settings(spark)) ++ traced.getOrElse(Map.empty)
    Files.writeString(Paths.get(resultFile), Json.write(result))
    spark.stop()
  }
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(value: Any): String = mapper.writeValueAsString(value)
  def error(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"
}

/** One public call into a module, or one landing of what it returned. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      kind: String, startMs: Long, endMs: Long,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def fields(runId: String): Map[String, Any] = Map("run" -> runId, "id" -> id,
    "parent" -> parent, "name" -> name, "layer" -> layer, "kind" -> kind,
    "start_ms" -> startMs, "end_ms" -> endMs, "seconds" -> seconds)
}

/** In-memory span log. A traced run drains the listener bus before it
  * closes a span, so every Spark event of the span has been delivered
  * before the next span opens; the drain itself falls outside both. */
final class Spans(tracer: Option[Tracer]) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val done = mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 1
  /** Time spent waiting for the listener bus, inside the job's time. */
  var drainNs = 0L

  def all: Seq[Span] = done.toSeq.sortBy(_.id)

  def apply[T](name: String, layer: String, kind: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      val (ms1, ns1) = (System.currentTimeMillis(), System.nanoTime())
      tracer.foreach(_.drain())
      drainNs += System.nanoTime() - ns1
      open = open.tail
      done += Span(id, parent, name, layer, kind, ms0, ms1, ns0, ns1)
    }
  }
}

/** Landing outcome: the relation (or side effect) and any error. */
final case class Op(name: String, call: String, path: Option[String],
                    error: Option[String]) {
  def fields: Map[String, String] =
    Map("name" -> name, "call" -> call) ++ path.map("path" -> _) ++ error.map("error" -> _)
}

/** Peak live heap: the highest heap occupancy left by a forced full
  * collection at the end of each stage. The collection is forced twice,
  * because Spark's cleaner only releases the blocks of dropped
  * broadcasts and shuffles after a first one has found them. What
  * G1's own collections leave is not used: at this scale no mixed or
  * full collection runs, and what a young collection leaves includes
  * old garbage not yet collected, so it follows when the collector ran
  * rather than the live data. */
final class LiveHeap(spark: SparkSession) {
  /** Live heap in MB at the end of each stage, in stage order. */
  val samplesMb = mutable.ArrayBuffer[Double]()

  def sample(): Unit = {
    // events still queued for the listeners hold task metrics and plans
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(100)
    System.gc()
    samplesMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def peakMb: Double = samplesMb.max
}

/** Process-wide counters read before and after the job. */
final case class ProcessCounters(cpuNs: Long, gcMs: Long, jitMs: Long,
                                 codegen: Long) {
  def minus(o: ProcessCounters): ProcessCounters =
    ProcessCounters(cpuNs - o.cpuNs, gcMs - o.gcMs, jitMs - o.jitMs, codegen - o.codegen)
  def plus(o: ProcessCounters): ProcessCounters =
    ProcessCounters(cpuNs + o.cpuNs, gcMs + o.gcMs, jitMs + o.jitMs, codegen + o.codegen)
  def cpuS: Double = cpuNs / 1e9
}

object ProcessCounters {
  import scala.jdk.CollectionConverters._
  val zero: ProcessCounters = ProcessCounters(0L, 0L, 0L, 0L)
  def snapshot(): ProcessCounters = ProcessCounters(
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** The settings a result must carry to be comparable with another. */
object Settings {
  import scala.jdk.CollectionConverters._
  def apply(spark: SparkSession): Map[String, Any] = Map(
    "sql_confs" -> spark.conf.getAll,
    "pool_action_threads" -> graft.core.Pools.actionThreads,
    "pool_table_threads" -> graft.core.Pools.tableThreads,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
    "loadavg" -> scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse(""),
    "available_processors" -> Runtime.getRuntime.availableProcessors)
}
