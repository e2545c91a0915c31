package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Blocked fuzzy record linkage — entity resolution for SHORT strings,
  * the data-quality op the engine's text near-dup stack doesn't cover
  * (shingles/minhash need word-scale content; a customer name is one
  * token). A dirty registry matches against the clean dimension the
  * standard two-stage way: (1) BLOCK on cheap stable keys — here
  * (nationkey, last-k-of-name) with k ELECTED from the registry size
  * ([[blockDigitsFor]]) so block occupancy stays ~constant at any
  * scale — so candidate pairs are block-local,
  * never the N×M cross product; (2) VERIFY with edit distance on the
  * case-folded names, keep distance ≤ 2, elect the best match per
  * dirty record by (distance, key) — deterministic ties.
  *
  * The dirty side derives from the clean table with deterministic
  * per-residue perturbations (head-char deletion / case flip /
  * mid-head insertion / unchanged), all head-of-string so the last-4
  * blocking key survives — exactly the property real blocking keys are
  * chosen for (perturbation-stable suffix, postcode, birth year).
  * Both engines render the same perturbations, levenshtein exists
  * natively in both, and every verdict is integer — hash-exact.
  *
  * Scale shape: one scan per side, a block-local equi-join (block
  * cardinality bounded by the key domain), a per-dirty-record
  * ROW_NUMBER window partitioned on the dirty key. Corpus-sized
  * relations shuffle once, on the block key. A 100 TB registry can
  * still hold a HOT block (a common surname suffix × a big nation
  * goes quadratic inside the block and pins one task), so the engine
  * path measures the clean side's block histogram once per
  * (session, dir) and routes any block holding more than [[HotShare]]
  * of the rows through [[graft.core.SkewJoin.saltedJoinHot]] — the
  * verify stage then runs on 1/salt slices of the hot block while
  * every cold block keeps the plain single-sub-key path
  * (hot-block-spec-pinned, results row-identical either way). */
object EntityMatch {

  /** The deterministic dirty registry: residue class picks the
    * perturbation. */
  def dirtySql(table: String): String =
    s"""SELECT c_custkey AS src_id, c_nationkey,
       |       CAST(c_custkey % 4 AS INT) AS variant_class,
       |       CASE CAST(c_custkey % 4 AS INT)
       |         WHEN 0 THEN SUBSTRING(c_name, 1, 2) || SUBSTRING(c_name, 4)
       |         WHEN 1 THEN UPPER(c_name)
       |         WHEN 2 THEN SUBSTRING(c_name, 1, 4) || 'x' || SUBSTRING(c_name, 5)
       |         ELSE c_name END AS dirty_name
       |  FROM $table""".stripMargin

  /** ADAPTIVE block resolution: the digit count of the name-tail block
    * key elected from the registry size so expected block occupancy
    * stays ~[[BlockOcc]] at any scale — a fixed last-4 key pins block
    * COUNT, so occupancy (and the verify join's candidate mass) grows
    * linearly with the registry (the r13 sf10 curve measured 10.4× on
    * a 10× hop). Pure integer comparisons, so both engines elect the
    * same width; RIGHT-of-string is stable under the head-of-string
    * perturbations at ANY width ≤ the 9-digit tail, so the true pair
    * always shares the block — widening only sheds FALSE candidates. */
  val MinBlockDigits = 4
  val MaxBlockDigits = 9
  val BlockOcc = 8L

  private def pow10(k: Int): Long = (1 to k).foldLeft(1L)((a, _) => a * 10)

  /** SQL-side election (the oracle's form). */
  def blockDigitsCase(nExpr: String): String =
    (MinBlockDigits until MaxBlockDigits).map { k =>
      s"WHEN $nExpr <= ${BlockOcc * pow10(k)} THEN $k"
    }.mkString("CASE ", " ", s" ELSE $MaxBlockDigits END")

  /** Driver-side election (the engine's form) — spec-pinned equal to
    * [[blockDigitsCase]] across the boundaries. */
  def blockDigitsFor(n: Long): Int =
    (MinBlockDigits until MaxBlockDigits)
      .find(k => n <= BlockOcc * pow10(k)).getOrElse(MaxBlockDigits)

  /** `nOverride`: the engine path passes a driver-counted registry size
    * and gets a literal width (a scalar subquery inside a broadcast
    * join-key projection races Spark's subquery-wait); the oracle
    * rendering (None) elects the width in SQL — same integer rule,
    * spec-pinned. */
  def sql(table: String, nOverride: Option[Long] = None)(d: Dialect): String = {
    val blkDigits = nOverride.map(n => blockDigitsFor(n).toString)
      .getOrElse("(SELECT blk_digits FROM nk)")
    val nkCte = if (nOverride.isDefined) ""
      else s"nk AS (\n  SELECT ${blockDigitsCase("COUNT(*)")} AS blk_digits FROM $table\n),\n"
    s"""WITH ${nkCte}dirty AS (${dirtySql(table)}),
       |clean AS (
       |  SELECT c_custkey, c_nationkey, c_name,
       |         RIGHT(c_name, $blkDigits) AS blk
       |    FROM $table
       |),
       |cand AS (
       |  SELECT src_id, variant_class, match_key, dist FROM (
       |    SELECT dr.src_id, dr.variant_class, cl.c_custkey AS match_key,
       |           LEVENSHTEIN(LOWER(dr.dirty_name), LOWER(cl.c_name)) AS dist
       |      FROM dirty dr
       |      JOIN clean cl
       |        ON cl.c_nationkey = dr.c_nationkey
       |       AND cl.blk = RIGHT(dr.dirty_name, $blkDigits)
       |  ) c0
       |   WHERE dist <= 2
       |),
       |ranked AS (
       |  SELECT src_id, variant_class, match_key, dist,
       |         CAST(COUNT(*) OVER (PARTITION BY src_id) AS BIGINT)
       |           AS candidate_ct,
       |         ROW_NUMBER() OVER (PARTITION BY src_id
       |                            ORDER BY dist, match_key) AS rk
       |    FROM cand
       |)
       |SELECT src_id, variant_class, match_key,
       |       CAST(dist AS BIGINT) AS edit_distance,
       |       candidate_ct,
       |       CASE WHEN dist = 0 THEN 'EXACT' ELSE 'FUZZY' END AS match_class,
       |       match_key = src_id AS is_true_match
       |  FROM ranked
       | WHERE rk = 1
       | ORDER BY src_id""".stripMargin
  }

  /** A block is HOT when it holds more than this share of the clean
    * side's rows. */
  val HotShare = 0.01

  /** Sub-keys a hot block fans out over. */
  val HotSalt = 8

  private[graft] def dirtyDf(spark: SparkSession, table: String,
                             digits: Int = MinBlockDigits): DataFrame =
    spark.sql(
      s"""SELECT src_id, variant_class, dirty_name,
         |       CAST(c_nationkey AS STRING) || '|' || RIGHT(dirty_name, $digits)
         |         AS blk_key
         |  FROM (${dirtySql(table)}) d""".stripMargin)

  private[graft] def cleanDf(spark: SparkSession, table: String,
                             digits: Int = MinBlockDigits): DataFrame =
    spark.sql(
      s"""SELECT c_custkey, c_name,
         |       CAST(c_nationkey AS STRING) || '|' || RIGHT(c_name, $digits)
         |         AS blk_key
         |  FROM $table""".stripMargin)

  /** The blocked match with the hot-block dispatch: blocks in `hot`
    * route through the two-tier salted join (the verify stage runs on
    * 1/[[HotSalt]] slices of each hot block), everything else keeps the
    * plain block-local equi-join. Value-identical to [[sql]] by
    * construction — the salt only re-partitions WHICH task verifies a
    * candidate pair (spec-pinned on a planted hot block). */
  private[graft] def runGuarded(spark: SparkSession, table: String,
                                hot: Seq[Any],
                                salt: Int = HotSalt,
                                digits: Int = MinBlockDigits): DataFrame = {
    val dirty = dirtyDf(spark, table, digits)
    val clean = cleanDf(spark, table, digits)
    val joined =
      if (hot.isEmpty) dirty.join(clean, Seq("blk_key"))
      else graft.core.SkewJoin.saltedJoinHot(dirty, clean, "blk_key", hot, salt)
    val perSrc = Window.partitionBy("src_id")
    val election = Window.partitionBy("src_id")
      .orderBy(col("dist"), col("match_key"))
    joined
      .select(col("src_id"), col("variant_class"),
        col("c_custkey").as("match_key"),
        expr("LEVENSHTEIN(LOWER(dirty_name), LOWER(c_name))").as("dist"))
      .where(col("dist") <= 2)
      .withColumn("candidate_ct", count(lit(1)).over(perSrc).cast("bigint"))
      .withColumn("rk", row_number().over(election))
      .where(col("rk") === 1)
      .select(col("src_id"), col("variant_class"), col("match_key"),
        col("dist").cast("bigint").as("edit_distance"),
        col("candidate_ct"),
        when(col("dist") === 0, "EXACT").otherwise("FUZZY").as("match_class"),
        (col("match_key") === col("src_id")).as("is_true_match"))
      .orderBy("src_id")
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    val cust = graft.core.Tables.view(spark, dir, "customer")
    // block width elected + block histogram measured ONCE per
    // (session, dir) — the FreqProfiler-shaped advisor pass that picks
    // the resolution and the dispatch (one column-pruned count + one
    // key histogram; both metadata-cheap next to the verify join)
    val (digits, hot) =
      graft.core.SessionCache.getOrElseUpdate(spark, "em_hot", dir) {
        // elect on a RAW load: the count collapses to parquet footer
        // stats there, where counting the rebalanced view would pay the
        // exchange just to size the block key
        val k = blockDigitsFor(graft.core.Tables.load(
          spark, dir, "customer", parallelize = false).count())
        (k, graft.core.SkewJoin.hotKeys(
          cleanDf(spark, cust, k), "blk_key", HotShare))
      }
    runGuarded(spark, cust, hot, digits = digits)
  }

  def duckSql(): String = sql("customer")(DuckDialect)
}
