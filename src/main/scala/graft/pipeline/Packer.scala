package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Sequence packing — the batch-assembly step between chunking and
  * tokenization: chunks are laid end-to-end into fixed-token-budget
  * packs (training sequences), greedily in (doc_id, chunk_idx) order.
  * A chunk belongs to the pack where its starting token offset lands
  * (`exclusive-cumsum DIV budget`), the standard document-packing
  * semantics where a sequence may spill its tail into the next pack
  * (the tokenizer truncates or continues at the sink).
  *
  * Packing is inherently sequential in the fill order, so the corpus is
  * SHARDED first (`doc_id % nShards`) and each shard packs
  * independently — one window sort per shard, all shards in parallel.
  * The shard count is DERIVED FROM THE DATA, never the cluster:
  * `max(MinShards, ceil(chunk_ct / TargetChunksPerShard))`, so each
  * shard's window partition holds a bounded number of rows at any
  * corpus size (at 100 TB the count grows with the data and no window
  * ever serializes more than ~TargetChunksPerShard rows through one
  * task), while small corpora keep a parallelism floor. Because the
  * count is a pure function of the input, pack contents are
  * REPRODUCIBLE across re-runs at any cluster parallelism, and the
  * manifest carries `shards` so a training loader can re-derive every
  * pack without re-running the job.
  *
  * `tokenRe` selects the token counter the budget is measured in:
  * whitespace runs by default, or the exact word/number/punctuation
  * tokenizer grain (see [[Chunker.ExactTokenRe]]) so pack budgets
  * match what a downstream tokenizer will actually emit.
  *
  * Output is the per-pack summary (chunk count, token fill, doc range,
  * shard count) — the manifest a training loader consumes.
  */
object Packer {

  val Budget = 512
  val MinShards = 16
  val TargetChunksPerShard = 65536

  /** CTE list ending in `assigned(shard, ns, pack_id, doc_id,
    * token_ct)` — shared by the manifest entry and the curriculum
    * ordering below. */
  private def packCtes(table: String, budget: Int,
                       tokenRe: String)(d: Dialect): String =
    s"""chunks AS (
       |${Chunker.sql(table, tokenRe = tokenRe)(d)}
       |),
       |nsh AS (
       |  SELECT GREATEST($MinShards,
       |                  CAST(CEIL(COUNT(*) / $TargetChunksPerShard.0) AS INT)) AS ns
       |    FROM chunks
       |),
       |sharded AS (
       |  SELECT c.doc_id, c.chunk_idx, c.token_ct, n.ns,
       |         CAST(c.doc_id % n.ns AS INT) AS shard
       |    FROM chunks c CROSS JOIN nsh n
       |),
       |cum AS (
       |  SELECT doc_id, chunk_idx, token_ct, ns, shard,
       |    SUM(token_ct) OVER (PARTITION BY shard
       |                        ORDER BY doc_id, chunk_idx
       |                        ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM sharded
       |),
       |assigned AS (
       |  SELECT shard, ns, ${d.intDiv("cum - token_ct", s"$budget")} AS pack_id,
       |         doc_id, token_ct
       |    FROM cum
       |)""".stripMargin

  def sql(table: String, budget: Int = Budget,
          tokenRe: String = Chunker.WsTokenRe)(d: Dialect): String =
    s"""WITH ${packCtes(table, budget, tokenRe)(d)}
       |SELECT shard, CAST(pack_id AS BIGINT) AS pack_id,
       |       CAST(COUNT(*) AS BIGINT) AS chunk_ct,
       |       CAST(SUM(token_ct) AS BIGINT) AS token_ct,
       |       MIN(doc_id) AS doc_min, MAX(doc_id) AS doc_max,
       |       CAST(MIN(ns) AS INT) AS shards
       |  FROM assigned
       | GROUP BY shard, pack_id
       | ORDER BY shard, pack_id""".stripMargin

  /** Curriculum ordering — the easy-to-hard training schedule
    * (Bengio et al. 2009) at pack grain: each pack's difficulty is the
    * exact integer mean of its chunks' FK reading grade
    * ([[DocStats.fkX100Sql]], weighted by chunk since that is what the
    * model consumes), and `curriculum_pos` is the global rank easy →
    * hard with deterministic ties. The pack manifest grows LINEARLY
    * with the corpus (one row per `budget` tokens — a 100 T-token
    * corpus packs into ~5·10¹⁰ rows), so the rank is NOT a global
    * ROW_NUMBER (an all-packs-to-one-task sort): `avg_fk_x100` is an
    * integer over the bounded FK-grade domain, so the exact global
    * rank decomposes into a grade offset (prefix sum over the bounded
    * grade-count relation) plus a grade-partitioned ROW_NUMBER ordered
    * by (shard, pack_id) — the `quality_calibration` decomposition,
    * spec-pinned equal to the literal global window. The chunk-level
    * rollup partitions by (shard, pack). */
  private[graft] def curriculumGradedCtes(table: String, budget: Int = Budget,
                    tokenRe: String = Chunker.WsTokenRe)(d: Dialect): String =
    s"""${packCtes(table, budget, tokenRe)(d)},
       |fk AS (
       |${DocStats.fkX100Sql(table)(d)}
       |),
       |pd AS (
       |  SELECT a.shard, a.pack_id,
       |         COUNT(*) AS chunk_ct,
       |         SUM(a.token_ct) AS token_ct,
       |         SUM(f.fk_x100) AS fk_sum
       |    FROM assigned a
       |    JOIN fk f ON f.doc_id = a.doc_id
       |   GROUP BY a.shard, a.pack_id
       |),
       |graded AS ${d.cteMaterialized}(
       |  SELECT shard, pack_id, chunk_ct, token_ct,
       |         CASE WHEN fk_sum >= 0
       |              THEN ${d.intDiv("2 * fk_sum + chunk_ct", "2 * chunk_ct")}
       |              ELSE -${d.intDiv("2 * -(fk_sum) + chunk_ct", "2 * chunk_ct")}
       |         END AS avg_fk_x100
       |    FROM pd
       |)""".stripMargin

  /** The rank tail over a (landed) graded relation — read twice
    * (grade counts + the rank join); the oracle marks graded
    * MATERIALIZED, the engine lands it. */
  private[graft] def curriculumRankTail(gradedRel: String)(d: Dialect): String =
    s"""gro AS (
       |  SELECT avg_fk_x100 AS gk, CAST(COUNT(*) AS BIGINT) AS gc
       |    FROM $gradedRel GROUP BY avg_fk_x100
       |),
       |gro2 AS (
       |  SELECT gk,
       |         CAST(COALESCE(SUM(gc) OVER (ORDER BY gk
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS off
       |    FROM gro
       |)
       |SELECT CAST(o.off + ROW_NUMBER() OVER (PARTITION BY g.avg_fk_x100
       |                                       ORDER BY g.shard, g.pack_id)
       |            AS BIGINT) AS curriculum_pos,
       |       g.shard, CAST(g.pack_id AS BIGINT) AS pack_id,
       |       CAST(g.chunk_ct AS BIGINT) AS chunk_ct,
       |       CAST(g.token_ct AS BIGINT) AS token_ct,
       |       CAST(g.avg_fk_x100 AS BIGINT) AS avg_fk_x100
       |  FROM $gradedRel g JOIN gro2 o ON o.gk = g.avg_fk_x100
       | ORDER BY curriculum_pos""".stripMargin

  def curriculumSql(table: String, budget: Int = Budget,
                    tokenRe: String = Chunker.WsTokenRe)(d: Dialect): String =
    s"""WITH ${curriculumGradedCtes(table, budget, tokenRe)(d)},
       |${curriculumRankTail("graded")(d)}""".stripMargin

  private def registered(spark: SparkSession, dir: String): String = {
    graft.core.Tables.view(spark, dir, "documents")
  }

  def run(spark: SparkSession, dir: String): DataFrame =
    spark.sql(sql(registered(spark, dir))(SparkDialect))

  /** Budget measured in exact tokenizer-grain counts. */
  def runExact(spark: SparkSession, dir: String): DataFrame =
    spark.sql(sql(registered(spark, dir), tokenRe = Chunker.ExactTokenRe)(SparkDialect))

  def duckSql(): String = sql("documents")(DuckDialect)
  def duckExactSql(): String =
    sql("documents", tokenRe = Chunker.ExactTokenRe)(DuckDialect)

  def runCurriculum(spark: SparkSession, dir: String): DataFrame = {
    // land graded once per call — the rank tail reads it twice
    val graded = spark.sql(
      s"""WITH ${curriculumGradedCtes(registered(spark, dir))(SparkDialect)}
         |SELECT * FROM graded""".stripMargin)
      .localCheckpoint(eager = true)
    graft.core.Materialize.sql(spark, graded) { case Seq(g) =>
      s"WITH ${curriculumRankTail(g)(SparkDialect)}"
    }
  }
  def duckCurriculumSql(): String = curriculumSql("documents")(DuckDialect)

  /** Epoch shuffling — the training-order assignment a data loader
    * consumes: every pack is dealt to a data-parallel worker and given
    * a per-epoch position, with a DIFFERENT deterministic order each
    * epoch (md5 of epoch:shard:pack — reshuffling between epochs is the
    * standard variance reduction, and a seeded hash makes the order
    * reproducible across re-runs and cluster parallelism, where a
    * `rand()` shuffle is neither). The worker is the hash's modulus so
    * assignment is load-balanced without coordination; the within-
    * worker sequence is a window partitioned by (epoch, worker) — at
    * scale that is exactly the per-output-file line numbering of the
    * shard writer, each partition bounded by packs/workers, never a
    * global sort. */
  val Epochs = 2
  val Workers = 4

  def epochsSql(table: String, epochs: Int = Epochs,
                workers: Int = Workers)(d: Dialect): String = {
    val eRows = (1 to epochs).map(e => s"SELECT $e AS epoch").mkString("\n  UNION ALL\n  ")
    val key = s"MD5(${d.castText("e.epoch")} || ':' || ${d.castText("p.shard")}" +
      s" || ':' || ${d.castText("p.pack_id")})"
    s"""WITH packs AS (
       |${sql(table)(d)}
       |),
       |ep AS (
       |  $eRows
       |),
       |keyed AS (
       |  SELECT e.epoch, p.shard, p.pack_id, p.token_ct, $key AS ord
       |    FROM packs p CROSS JOIN ep e
       |)
       |SELECT CAST(epoch AS INT) AS epoch,
       |       CAST(${d.hexToLong("SUBSTRING(ord, 1, 15)")} % $workers AS INT) AS worker,
       |       CAST(ROW_NUMBER() OVER (
       |              PARTITION BY epoch, ${d.hexToLong("SUBSTRING(ord, 1, 15)")} % $workers
       |              ORDER BY ord, shard, pack_id) AS BIGINT) AS seq,
       |       shard, pack_id, token_ct
       |  FROM keyed
       | ORDER BY epoch, worker, seq""".stripMargin
  }

  def runEpochs(spark: SparkSession, dir: String): DataFrame =
    spark.sql(epochsSql(registered(spark, dir))(SparkDialect))

  def duckEpochsSql(): String = epochsSql("documents")(DuckDialect)
}
