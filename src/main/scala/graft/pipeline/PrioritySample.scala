package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Deterministic exact-k priority sample — the fixed-SIZE complement of
  * the rate-based [[StratifiedSample]]: carve exactly k documents
  * (a debugging subsample, an eval holdout, a labeling batch) from a
  * corpus of any size, reproducibly.
  *
  * Each document's priority is the md5 of its id under a purpose tag —
  * the same content-keyed draw as the sampled profiler
  * ([[graft.profiling.SampledProfiler]]) — and the sample is the k
  * lowest priorities. Because priorities are content-keyed, the sample
  * is stable across runs, engines, and cluster layouts, and growing the
  * corpus only ever displaces members (a hash-priority bottom-k is a
  * uniform random k-subset under the md5's uniformity).
  *
  * At 100 TB: `ORDER BY priority LIMIT k` plans as
  * TakeOrderedAndProject — each task keeps a k-row heap and the driver
  * merges k·P rows; NO global sort, no shuffle of the corpus
  * (PlanSpec-style tripwire in the spec). The reference has no sampling
  * primitive beyond per-run Bernoulli TABLESAMPLE
  * (reference: testgen/template/flavors/postgresql/profiling/
  * project_profiling_query.sql:3,250 — rate-based, size unbounded);
  * fixed-size carving is what a training pipeline actually schedules
  * around.
  */
object PrioritySample {

  val K = 100

  def sql(table: String, k: Int = K)(d: Dialect): String = {
    val prio = s"SUBSTRING(MD5('prio:' || ${d.castText("doc_id")}), 1, 16)"
    s"""SELECT doc_id, lang, source, $prio AS priority
       |  FROM $table
       | ORDER BY priority, doc_id
       | LIMIT $k""".stripMargin
  }

  /** Bottom-k of (priority, id) pairs — the per-partition reduction and
    * the state merge of the streaming twin. Bottom-k is EXACTLY
    * mergeable (unlike a sketch): merge(bottomK(A), bottomK(B)) ==
    * bottomK(A ∪ B). */
  private[graft] def bottomK(it: Iterator[(String, Long)], k: Int): Seq[(String, Long)] = {
    val heap = new java.util.TreeSet[(String, Long)](
      Ordering.Tuple2[String, Long].reverse) // max at head for eviction
    it.foreach { e =>
      if (heap.size < k) heap.add(e)
      else if (Ordering.Tuple2[String, Long].lt(e, heap.first())) {
        // add FIRST: a duplicate of a current member must not evict the
        // max (TreeSet.add is a no-op on duplicates — the at-least-once
        // replay case the streaming twin merges through)
        if (heap.add(e)) heap.pollFirst()
      }
    }
    import scala.jdk.CollectionConverters._
    heap.asScala.toSeq.sorted
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents", parallelize = false)
    spark.sql(sql(documents)(SparkDialect))
  }

  def duckSql(): String = sql("documents")(DuckDialect)

  /** WEIGHTED exact-k sample — Efraimidis–Spirakis A-ES (Inf. Process.
    * Lett. 2006): each row draws a uniform u and keeps key u^(1/w); the
    * k largest keys are a weighted-without-replacement sample. The
    * engine ranks by the monotone-equivalent `-ln(u)/w` (smallest
    * first), with two determinism moves:
    *
    *  - u derives from md5 of the doc id — content-keyed like the
    *    unweighted draw, so the sample is stable across runs, engines,
    *    and layouts: u = (first 13 md5 hex digits + 1) / 2^52 ∈ (0, 1];
    *  - `-ln(u)` is quantized ONCE to BIGINT micro-nats (the
    *    [[Perplexity]] discipline), then scaled and integer-divided by
    *    the weight, so the ranking key is an exact integer in both
    *    engines — no float comparison ever decides membership; ties
    *    break on doc_id.
    *
    * Weight = `n_chars`: longer documents are proportionally likelier,
    * the draw a token-budgeted labeling batch wants. Plans as
    * TakeOrderedAndProject exactly like the unweighted sample — k-row
    * heap per task, no global sort (spec tripwire). */
  def weightedSql(table: String, k: Int = K)(d: Dialect): String = {
    val u = s"(CAST(${d.hexToLong(s"SUBSTRING(MD5('wprio:' || ${d.castText("doc_id")}), 1, 13)")} AS DOUBLE) + 1) / 4503599627370496.0"
    val microNats = s"CAST(ROUND(-LN($u) * 1000000) AS BIGINT)"
    val prio = d.intDiv(s"$microNats * 1000000", "GREATEST(n_chars, 1)")
    s"""SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
       |       CAST($prio AS BIGINT) AS priority
       |  FROM $table
       | ORDER BY priority, doc_id
       | LIMIT $k""".stripMargin
  }

  def runWeighted(spark: SparkSession, dir: String): DataFrame = {
    val documents = graft.core.Tables.view(spark, dir, "documents", parallelize = false)
    spark.sql(weightedSql(documents)(SparkDialect))
  }

  def duckWeightedSql(): String = weightedSql("documents")(DuckDialect)
}
