package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Machine-swing telemetry: identical builds have measured uniform
    * 0.99-1.6x per-entry inflation across same-day runs (r10/r11 bench
    * notes) — pattern-adjudicated every round until now. A fixed
    * CPU-bound sentinel timed beside the queries lets the next reader
    * NORMALIZE uniform machine swing out instead: if sentinel_sec moved
    * 1.3x between two artifacts, a uniform 1.3x query inflation is the
    * machine, not a regression. Pure integer xorshift mix — no
    * allocation, no JIT-variant branches, deterministic work. */
  private def sentinelSec(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L; var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      if (x == 42L) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    once(); Seq(once(), once(), once()).min // warm, then min-of-3
  }

  /** PARALLEL sentinel: the single-thread sentinel above cannot see a
    * loss of parallel CPU capacity (host-level contention/steal on a
    * shared box) — the r13b sf10 re-run measured heavy-scan entries
    * 4-11× slower with the single-thread sentinel FLAT at 0.43 s.
    * This one saturates every lane with the same deterministic integer
    * mix (one task per configured core, min-of-2), so a future reader
    * can normalize both swing modes: single-thread sentinel moved →
    * uniform machine swing; parallel sentinel moved alone → the box's
    * spare parallel capacity shrank and bandwidth-heavy entries are
    * the ones inflated. */
  private def parallelSentinelSec(spark: SparkSession, lanes: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(0 until lanes, lanes).map { s =>
        var x = 0x9e3779b97f4a7c15L ^ s; var i = 0
        while (i < 50000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
        }
        x
      }.reduce(_ ^ _)
      (System.nanoTime() - t0) / 1e9
    }
    once(); math.min(once(), once()) // warm, then min-of-2
  }

  /** IO/CACHE sentinel: the round-14c refresh measured a TWO-SIDED
    * ±1.3–1.6× tail on sub-second scan entries with BOTH CPU sentinels
    * flat — page-cache state after memory-heavy neighbor JVMs, the one
    * swing mode CPU work cannot see. This times one fixed
    * column-bytes scan of the sf dir's documents parquet (codegen paid
    * on a warmup scan of region first, so the number is IO+decode, not
    * JIT): if this moved between artifacts while the CPU sentinels
    * held, small-scan entries are riding cache state, not code. None
    * when the sf dir cannot be read, so a run whose entries all failed
    * still reaches its summary line. */
  private def ioSentinelSec(spark: SparkSession, sfDir: String): Option[Double] =
    try {
      spark.read.parquet(s"$sfDir/region.parquet").count() // pay codegen/JIT
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/documents.parquet")
        .selectExpr("SUM(octet_length(text))").collect()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Exception =>
      System.err.println(s"[bench] io sentinel failed: ${e.getMessage}"); None
    }

  private def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).mkString(",")
    catch { case _: Exception => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.create()
    // Deterministic name order: hash-map iteration order made per-query
    // attribution incomparable across runs (the first consumer of each
    // memoized shared relation absorbs its whole build cost).
    // optional comma-separated entry filter — targeted scaling sweeps
    // (SCALING.md) time a subset without paying the full surface
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // A failed entry gets no time: it is named in the summary line, not
    // run again, and fails the run.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def runOnce(timed: Boolean): Map[String, Double] = queries.flatMap { case (name, fn) =>
      if (failed(name)) None
      else {
        // measurement hygiene: settle the heap before each TIMED query so
        // a heavy alphabetical neighbor's garbage is not charged to this
        // query's wall clock (r5 showed 2-4x in-bench inflation vs
        // isolated warm runs from exactly this cross-charging)
        if (timed) System.gc()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
    }.toMap
    // Untimed warm-up pass: pays the one-time costs (JIT/codegen warmup,
    // memoized shared relations) so the TIMED passes measure steady-state
    // per-query cost — two consecutive bench runs now agree per query
    // instead of charging cold-start to whichever query ran first.
    // Its per-entry times are RECORDED (first_pass in the file artifact,
    // warmup_total in the summary) so the cost of landing memoized shared
    // relations is a visible line item, not an invisible subsidy
    // (VERDICT r14 #5).
    val warmupRun =
      if (!sys.env.contains("SPARK_GRAFT_NO_WARMUP")) Some(runOnce(timed = false))
      else None
    // Per-query time = MIN across timed passes: the steady-state cost an
    // isolated warm run would show, robust to one-off GC/OS noise that a
    // single in-pass sample keeps picking up from its neighbors.
    // Default min-of-4: back-to-back identical-build totals measured a
    // ~10% per-entry swing with min-of-2 — too noisy to separate the
    // 0.2-0.4 s regressions worth catching from a busy neighbor.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).getOrElse(4).max(1)
    val lanes = graft.core.Sessions.cpus
    val loadStart = loadAvg()
    val sentinelBefore = sentinelSec()
    val parSentinelBefore = parallelSentinelSec(spark, lanes)
    val ioSentinelBefore = ioSentinelSec(spark, sfDir)
    val timedRuns = (1 to passes).map(_ => runOnce(timed = true))
    val sentinelAfter = sentinelSec()
    val parSentinelAfter = parallelSentinelSec(spark, lanes)
    val ioSentinelAfter = ioSentinelSec(spark, sfDir)
    val loadEnd = loadAvg()
    def num(d: Option[Double]): String = d.fold("null")(_.toString)
    val telemetry =
      s""""sentinel_sec_before":$sentinelBefore,"sentinel_sec_after":$sentinelAfter,""" +
      s""""par_sentinel_sec_before":$parSentinelBefore,"par_sentinel_sec_after":$parSentinelAfter,""" +
      s""""io_sentinel_sec_before":${num(ioSentinelBefore)},"io_sentinel_sec_after":${num(ioSentinelAfter)},""" +
      s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd""""
    val timedNames = queries.map(_._1).filterNot(failed)
    val results = timedNames.map(name => name -> timedRuns.map(_(name)).min)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // The three lookup_* entries are the k-branch union VERIFICATION
    // harness (every drill-down re-verified per test type) — a test rig,
    // not a production query a user would issue; they are ~10% of the
    // headline, so the production surface gets its own subtotal.
    val harness = Set("lookup_query_tests", "lookup_failed_tests", "lookup_hygiene")
    val productionTotal = results.collect {
      case (k, v) if !harness.contains(k) => v
    }.sum
    val warmupTotal = warmupRun.map(_.values.sum)
    println(s"""{"metric":"total","value":$total,"unit":"sec","production_total":$productionTotal,$telemetry,"queries":$qs,"sf":"$sfDir"}""")
    // Full per-query record to a file: the driver's stdout tail capture
    // truncates the one-line summary, losing entries round-over-round;
    // the file keeps every query with its per-pass samples AND the min,
    // so cross-round comparison needs no isolated re-runs and regressions
    // that manifest as variance stay visible next to the min. first_pass
    // is the untimed warm-up's wall clock for the entry — the landing
    // cost of any memoized shared relation it builds (VERDICT r14 #5).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_queries.json")
    val perQuery = timedNames.map { name =>
      val samples = timedRuns.map(_(name))
      val first = warmupRun.map(w => s""","first_pass":${w(name)}""").getOrElse("")
      s""""$name":{"min":${samples.min},"passes":[${samples.mkString(",")}]$first}"""
    }.mkString("{", ",", "}")
    val warmupField = warmupTotal.map(w => s""""warmup_total":$w,""").getOrElse("")
    val fileJson =
      s"""{"metric":"total","value":$total,"unit":"sec","production_total":$productionTotal,"sf":"$sfDir","n_passes":$passes,$warmupField$telemetry,"queries":$perQuery}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fileJson + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] file write failed: $e") }
    // SHORT summary line LAST (VERDICT r14 #1): the driver captures only
    // the final ~2 KB of stdout, and the 227-entry per-query map above
    // pushes the long line's head past that window ("parsed": null three
    // rounds running). This line carries the totals and sentinel pairs in
    // <400 bytes with NO per-query map, so the driver's tail-capture
    // always parses it. ADDITIVE: the long line and the file artifact are
    // unchanged.
    def r4(d: Double): Double = math.rint(d * 10000) / 10000
    val warmupShort = warmupTotal.map(w => s""""warmup_total":${r4(w)},""").getOrElse("")
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","production_total":${r4(productionTotal)},"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"n_passes":$passes,$warmupShort"sentinels":[${r4(sentinelBefore)},${r4(sentinelAfter)}],"par_sentinels":[${r4(parSentinelBefore)},${r4(parSentinelAfter)}],"io_sentinels":[${num(ioSentinelBefore.map(r4))},${num(ioSentinelAfter.map(r4))}],"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
