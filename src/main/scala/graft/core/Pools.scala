package graft.core

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.ExecutionContext

/** Bounded thread pool for concurrent Spark actions.
  *
  * The profiling / inference family launches many independent actions per
  * table (scalar chunks, distinct stack, percentiles, frequency) across
  * all tables at once. On the unbounded global ExecutionContext the
  * all-tables cascade fans out to ~40 concurrent jobs, each competing for
  * the same executor cores — every job's wall time inflates 4-8× versus
  * isolated execution while total throughput gains nothing. The reference
  * bounds the same fan-out with a <=10-connection thread pool (reference:
  * testgen/common/database/database_service.py:219-232); this pool is the
  * Spark analogue: submitting MORE work than the bound queues it instead
  * of thrashing the scheduler.
  *
  * Threads are daemons (never block JVM exit).
  */
object Pools {

  val actionThreads: Int = 10

  val tableThreads: Int = 8

  private def fixedPool(n: Int, prefix: String): ExecutionContext = {
    val counter = new AtomicInteger()
    ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(n, new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"$prefix-${counter.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      }))
  }

  /** Bounded EC for LEAF Spark actions (a submitted task runs one action
    * and never awaits another future). */
  lazy val actions: ExecutionContext = fixedPool(actionThreads, "graft-action")

  /** Bounded EC for per-table ORCHESTRATION tasks that await actions
    * submitted to [[actions]]. A separate pool, because an orchestration
    * task blocks in Await until its inner actions finish — on a single
    * bounded pool the outer tasks would hold every thread and the inner
    * actions could never start (nested-await deadlock). */
  lazy val tables: ExecutionContext = fixedPool(tableThreads, "graft-table")
}
