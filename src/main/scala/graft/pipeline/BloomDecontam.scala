package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Bloom-filter decontamination — the bounded-memory form of the
  * train/eval 13-gram collision screen (the published n-gram-overlap
  * decontamination of large-model training runs, e.g. the GPT-3 and
  * Llama training-data reports; reference analog: the contamination
  * concern behind `testgen`'s hygiene screens).
  *
  * The existing [[Dedup.decontaminateSql]] / [[Selection]] 13-gram
  * screens JOIN the corpus gram stream against the eval gram set — at
  * 100 TB that shuffles every corpus gram on its hash. This operator is
  * the structure production runs actually use at that scale: compress
  * the eval set into an m-bit Bloom filter (k md5-derived bit
  * positions per gram, OR-packed into 60-bit BIGINT words), then
  * stream the corpus ONCE against a BROADCAST of the ≤[[Words]]-row
  * filter relation — zero shuffles of corpus grams, memory bounded by
  * m regardless of eval-set size, the standard membership-sketch
  * trade: no false negatives, tunable false-positive rate
  * ((kn/m)^k ≈ 2e-5 at the fixture sizes here).
  *
  * Cross-engine exactness: positions are `hexToLong(md5) % m` — pure
  * integer arithmetic — and the filter words are `bit_or` aggregates
  * of `1 << (pos % 60)`; only 60 of 64 bits per word are used so every
  * shift stays in non-negative BIGINT range in both engines. The
  * oracle executes the identical arithmetic, so row hashes match
  * bit-for-bit (false positives included — they are a deterministic
  * function of the hash family, not noise).
  *
  * At 100 TB: the filter build is one scan of the (benchmark-sized)
  * eval split with a map-side-combined groupBy onto ≤[[Words]] rows,
  * landed once per session; the probe is one corpus scan whose only
  * joins are (a) the 4-row seed fanout and (b) the broadcast filter —
  * both broadcast hash joins, no corpus-side exchange beyond the
  * per-doc aggregation it already owes. Compare `decontaminate`
  * (winnow-fingerprint equi-join): exact pair attribution but a full
  * fingerprint shuffle; this screen trades pair identity for a
  * single-pass bounded-memory verdict per corpus document.
  */
object BloomDecontam {

  /** Hash functions per gram. */
  val K = 4
  /** Usable bits per BIGINT word (sign-safe shifts). */
  val WordBits = 60
  /** Filter words; m = Words * WordBits bits. */
  val Words = 4096
  val MBits: Int = Words * WordBits
  /** Word-gram width — matches the repeated-substring screen. */
  val GramWords: Int = Selection.GramWords
  /** Held-out split: doc_id % EvalMod = 0 (matches [[Dedup.EvalMod]]). */
  val EvalMod: Int = Dedup.EvalMod
  /** Docs with at least this many maybe-hit grams are flagged. */
  val MinHits = 2

  /** Shared gram stream: (id, gh) for every 13-word gram, md5-hashed.
    * Same LEAD-window build as [[Selection.substringDupSql]] — one
    * shuffle on doc id, no self-join. */
  private def gramCtes(table: String)(d: Dialect): String =
    s"""grams AS (
       |  SELECT id, MD5(gram) AS gh
       |    FROM (${d.wordNgramsRel(table, "doc_id", "text", GramWords)}) g
       |)""".stripMargin

  /** The K bit positions of a gram-hash expression, one row per seed:
    * `pos_i = hexToLong(md5('bloom:' || i || ':' || gh)) % m`. */
  private def posExpr(d: Dialect): String =
    d.hexToLong(
      s"SUBSTRING(MD5('bloom:' || ${d.castText("s.i")} || ':' || gh), 1, 15)") +
      s" % $MBits"

  private def seedsCte: String =
    (0 until K).map(i => s"SELECT $i AS i").mkString(
      "seeds AS (", " UNION ALL ", ")")

  /** Filter-build tail over an eval gram relation: ≤[[Words]] rows of
    * (widx, w) — the OR-packed filter words. */
  private def filterSql(evalGramsRel: String)(d: Dialect): String =
    s"""SELECT ${d.intDiv("pos", WordBits.toString)} AS widx,
       |       bit_or(${d.oneShiftLeftE(s"pos % $WordBits")}) AS w
       |  FROM (SELECT ${posExpr(d)} AS pos
       |          FROM $evalGramsRel CROSS JOIN seeds s) p
       | GROUP BY 1""".stripMargin

  /** Probe tail: each corpus doc's distinct grams checked against the
    * filter — a gram "maybe-hits" when all K bits are set. `hint` is
    * the engine's broadcast hint ("" on the oracle). */
  private def probeTail(table: String, filterRel: String,
                        hint: String)(d: Dialect): String =
    s"""cg AS (
       |  SELECT DISTINCT id, gh FROM grams WHERE id % $EvalMod <> 0
       |),
       |cpos AS (
       |  SELECT id, gh,
       |         ${d.intDiv("pos", WordBits.toString)} AS widx,
       |         pos % $WordBits AS bit
       |    FROM (SELECT id, gh, ${posExpr(d)} AS pos
       |            FROM cg CROSS JOIN seeds s) p
       |),
       |probe AS (
       |  SELECT $hint c.id, c.gh,
       |         MIN(CASE WHEN f.w IS NOT NULL
       |                   AND (${d.shiftRightE("f.w", "c.bit")} & 1) = 1
       |                  THEN 1 ELSE 0 END) AS hit
       |    FROM cpos c LEFT JOIN $filterRel f ON f.widx = c.widx
       |   GROUP BY c.id, c.gh
       |),
       |per_doc AS (
       |  SELECT id, COUNT(*) AS gram_ct, SUM(hit) AS hit_ct
       |    FROM probe GROUP BY id
       |)
       |SELECT dd.doc_id,
       |       CAST(COALESCE(p.gram_ct, 0) AS BIGINT) AS gram_ct,
       |       CAST(COALESCE(p.hit_ct, 0) AS BIGINT) AS bloom_hit_ct,
       |       CAST(CASE WHEN COALESCE(p.gram_ct, 0) = 0 THEN 0.0
       |            ELSE ROUND(CAST(p.hit_ct AS DOUBLE) / p.gram_ct, 4)
       |            END AS DOUBLE) AS hit_frac,
       |       CAST(CASE WHEN COALESCE(p.hit_ct, 0) >= $MinHits
       |                 THEN 1 ELSE 0 END AS INT) AS flagged
       |  FROM (SELECT doc_id FROM $table WHERE doc_id % $EvalMod <> 0) dd
       |  LEFT JOIN per_doc p ON p.id = dd.doc_id
       | ORDER BY dd.doc_id""".stripMargin

  /** One-statement rendering (DuckDB oracle / Spark parity spec). */
  def sql(table: String)(d: Dialect): String =
    s"""WITH ${gramCtes(table)(d)},
       |$seedsCte,
       |eg AS (SELECT DISTINCT gh FROM grams WHERE id % $EvalMod = 0),
       |bloom AS (${filterSql("eg")(d)}),
       |${probeTail(table, "bloom", "")(d)}""".stripMargin

  def duckSql(): String = sql("documents")(DuckDialect)

  /** Engine path: the filter words land ONCE per (session, dir) — one
    * scan of the eval split — and the probe references the landed view
    * with an explicit broadcast hint; the corpus is scanned once. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.core.Tables.view(spark, dir, "documents")
    spark.sql(
      s"""WITH ${gramCtes(raw)(SparkDialect)},
         |$seedsCte,
         |${probeTail(raw, filterView(spark, dir), "/*+ BROADCAST(f) */")(SparkDialect)}""".stripMargin)
  }

  /** The landed filter words of `dir`'s eval split. */
  private[graft] def filterView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "bloom_words", dir, graft.core.Materialize.Checkpoint) {
      val raw = graft.core.Tables.view(spark, dir, "documents")
      spark.sql(
        s"""WITH ${gramCtes(
              s"(SELECT doc_id, text FROM $raw WHERE doc_id % $EvalMod = 0) __be")(SparkDialect)},
           |$seedsCte,
           |eg AS (SELECT DISTINCT gh FROM grams)
           |${filterSql("eg")(SparkDialect)}""".stripMargin)
    }
}
