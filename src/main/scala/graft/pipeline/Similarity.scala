package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Similarity search over the `embeddings` table (vec_id,
  * embedding ARRAY<FLOAT>, label).
  *
  *  - Brute-force cosine top-k: exact baseline — query set × corpus dot
  *    products via `zip_with`/`aggregate` (Spark) / `list_dot_product`
  *    (DuckDB oracle), ranked per query. At scale the corpus side
  *    stays partitioned; only the (tiny) query set broadcasts.
  *  - IVF-style partitioned search: per-label centroids (element-wise
  *    mean via position explode + ordered re-assembly); each query
  *    probes its nearest `nProbe` centroids and searches ONLY those
  *    partitions — the scale path that turns a full scan into a few
  *    partition scans per query.
  *  - Sign-LSH bucketed ANN and a seeded (unlabeled) IVF variant, both
  *    multi-probe capable.
  *
  * Every method decomposes into a SHARED-RELATION derivation (centroid
  * training, seed assignment, bucket hashing — one pass over the
  * corpus each) and a cheap per-query probe body. The Spark entry
  * points materialize the derivations ONCE per (session, dir) — one
  * checkpointed base relation carrying (vec_id, label, embedding,
  * bucket, seed_id) plus tiny seeds/centroids side relations — and
  * every method (and the recall harness) composes its probe body over
  * them. At 100 TB this is the difference between "each ANN query
  * re-trains the index" and an index build that is paid once and
  * persisted (the real-cluster equivalent is writing the base relation
  * bucket-partitioned to storage). The DuckDB oracle keeps the
  * single-statement forms; the probe-body SQL text is byte-shared
  * between both paths, so results stay hash-identical.
  */
object Similarity {

  val DefaultCentroids = 8

  private def cosine(d: Dialect, a: String, b: String): String =
    s"(${d.dotProduct(a, b)} / (SQRT(${d.dotProduct(a, a)}) * SQRT(${d.dotProduct(b, b)})))"

  // ---------------------------------------------------------------------
  // Probe bodies over named relations — shared verbatim by the oracle's
  // single statements and the Spark view-composed runs.
  // ---------------------------------------------------------------------

  /** Brute-force top-k over `corpusRel(vec_id, embedding, …)`. */
  private def bruteTail(corpusRel: String, nQueries: Int, k: Int)(d: Dialect): String = {
    val cos = cosine(d, "q.embedding", "c.embedding")
    s"""WITH q AS (SELECT vec_id, embedding FROM $corpusRel WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         $cos AS cos
       |    FROM q JOIN $corpusRel c ON c.vec_id <> q.vec_id
       |),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM scored
       |)
       |SELECT query_id, neighbor_id, CAST(ROUND(cos, 4) AS DOUBLE) AS cosine, rank
       |  FROM ranked WHERE rank <= $k
       | ORDER BY query_id, rank""".stripMargin
  }

  /** Labeled-IVF probe body: queries from `corpusRel`, each probing its
    * top-`nProbe` centroids from `centroidsRel(label, centroid)` and
    * searching only those label partitions of `corpusRel`. Partitions
    * of distinct labels are disjoint, so multi-probe candidates never
    * need a dedup — the rank window unions them directly. */
  private def ivfTail(corpusRel: String, centroidsRel: String,
                      nQueries: Int, k: Int, nProbe: Int)(d: Dialect): String = {
    val qcCos = cosine(d, "q.embedding", "c.centroid")
    val cos = cosine(d, "q.embedding", "e.embedding")
    s"""WITH q AS (SELECT vec_id, embedding FROM $corpusRel WHERE vec_id < $nQueries),
       |probe AS (
       |  SELECT query_id, label FROM (
       |    SELECT q.vec_id AS query_id, c.label, $qcCos AS ccos,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY $qcCos DESC, c.label) AS rn
       |      FROM q CROSS JOIN $centroidsRel c
       |  ) p WHERE rn <= $nProbe
       |),
       |hits AS (
       |  SELECT /*+ BROADCAST(q, p) */ q.vec_id AS query_id, p.label AS probed_label, e.vec_id AS neighbor_id,
       |         $cos AS cos
       |    FROM q JOIN probe p ON p.query_id = q.vec_id
       |    JOIN $corpusRel e ON e.label = p.label AND e.vec_id <> q.vec_id
       |)
       |SELECT query_id, probed_label, neighbor_id,
       |       CAST(ROUND(cos, 4) AS DOUBLE) AS cosine, rank
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |          FROM hits) r
       | WHERE rank <= $k
       | ORDER BY query_id, rank""".stripMargin
  }

  /** Seeded-IVF probe body: queries from `qRel`, probing the top-`nProbe`
    * of `seedsRel(seed_id, centroid)` and searching only those buckets of
    * `assignRel(vec_id, embedding, seed_id)`. Assignment is exclusive
    * (rn = 1), so multi-probe candidate sets are disjoint. */
  private def ivfSeededTail(qRel: String, assignRel: String, seedsRel: String,
                            nQueries: Int, k: Int, nProbe: Int)(d: Dialect): String = {
    val qsCos = cosine(d, "q.embedding", "s.centroid")
    val cos = cosine(d, "q.embedding", "a.embedding")
    s"""WITH q AS (SELECT vec_id, embedding FROM $qRel WHERE vec_id < $nQueries),
       |probe AS (
       |  SELECT query_id, seed_id FROM (
       |    SELECT q.vec_id AS query_id, s.seed_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                              ORDER BY $qsCos DESC, s.seed_id) AS rn
       |      FROM q CROSS JOIN $seedsRel s
       |  ) p WHERE rn <= $nProbe
       |),
       |hits AS (
       |  SELECT /*+ BROADCAST(q, p) */ q.vec_id AS query_id, p.seed_id AS probed_centroid,
       |         a.vec_id AS neighbor_id, $cos AS cos
       |    FROM q JOIN probe p ON p.query_id = q.vec_id
       |    JOIN $assignRel a ON a.seed_id = p.seed_id AND a.vec_id <> q.vec_id
       |)
       |SELECT query_id, probed_centroid, neighbor_id,
       |       CAST(ROUND(cos, 4) AS DOUBLE) AS cosine, rank
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                                     ORDER BY cos DESC, neighbor_id) AS rank
       |          FROM hits) r
       | WHERE rank <= $k
       | ORDER BY query_id, rank""".stripMargin
  }

  /** Sign-LSH probe body over a pre-bucketed `bRel(vec_id, embedding,
    * bucket, …)`: queries search ONLY their bucket, ranked by exact
    * cosine. */
  private def lshTail(bRel: String, nQueries: Int, k: Int)(d: Dialect): String = {
    val cos = cosine(d, "q.embedding", "c.embedding")
    s"""WITH q AS (SELECT vec_id, embedding, bucket FROM $bRel WHERE vec_id < $nQueries),
       |hits AS (
       |  SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, q.bucket, c.vec_id AS neighbor_id, $cos AS cos
       |    FROM q JOIN $bRel c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |)
       |SELECT query_id, bucket, neighbor_id,
       |       CAST(ROUND(cos, 4) AS DOUBLE) AS cosine, rank
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |          FROM hits) r
       | WHERE rank <= $k
       | ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Shared-relation derivation CTEs (the "index build" — one corpus pass
  // each). The oracle inlines them; Spark materializes them once.
  // ---------------------------------------------------------------------

  /** Per-label centroid CTE list ending in `centroids(label, centroid)`. */
  private def centroidsCtes(table: String)(d: Dialect): String =
    s"""flat AS (
       |  SELECT label, pos, val FROM (
       |    ${d.arrayPosRel(table, "label", "embedding")}
       |  ) t
       |),
       |centroids AS (
       |  SELECT label, ${d.arrayAggOrdered("avgv", "pos")} AS centroid FROM (
       |    SELECT label, pos, AVG(val) AS avgv FROM flat GROUP BY label, pos
       |  ) g GROUP BY label
       |)""".stripMargin

  /** Deterministic md5-drawn seed sample — `seeds(seed_id, centroid)`. */
  private def seedsCte(table: String, nCentroids: Int)(d: Dialect): String =
    s"""seeds AS (
       |  SELECT vec_id AS seed_id, embedding AS centroid FROM $table
       |   ORDER BY MD5(${d.castText("vec_id")}), vec_id LIMIT $nCentroids
       |)""".stripMargin

  /** Exclusive nearest-seed assignment — `assign(vec_id, label,
    * embedding, seed_id)`, ties on seed id so both engines bucket
    * identically. */
  private def assignCte(table: String, seedsRel: String)(d: Dialect): String = {
    val esCos = cosine(d, "e.embedding", "s.centroid")
    s"""assign AS (
       |  SELECT vec_id, label, embedding, seed_id FROM (
       |    SELECT e.vec_id, e.label, e.embedding, s.seed_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                              ORDER BY $esCos DESC, s.seed_id) AS rn
       |      FROM $table e CROSS JOIN $seedsRel s
       |  ) a WHERE rn = 1
       |)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Single-statement (oracle) forms.
  // ---------------------------------------------------------------------

  /** Top-k neighbors for vec_id < `nQueries` by cosine similarity. */
  def bruteForceSql(table: String, nQueries: Int = 5, k: Int = 10)(d: Dialect): String =
    bruteTail(table, nQueries, k)(d)

  /** Labeled IVF: probe the `nProbe` nearest per-label centroids, search
    * only those partitions. */
  def ivfSql(table: String, nQueries: Int = 5, k: Int = 5,
             nProbe: Int = 1)(d: Dialect): String =
    s"""WITH ${centroidsCtes(table)(d)},
       |${ivfTail(table, "centroids", nQueries, k, nProbe)(d).stripPrefix("WITH ")}""".stripMargin

  /** Deterministic random hyperplanes (fixed LCG seed) for sign-LSH.
    * Components are short decimal literals so both engines parse the
    * exact same doubles. */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    graft.functions.BucketExpr.planes(nPlanes, dim).map(_.toSeq).toSeq

  /** The sign-LSH bucket id of `vec` as a dialect-neutral expression
    * (unrolled element sums — both engines evaluate the same addition
    * order, so buckets are bit-identical). Shared by the ANN path below
    * and the LSH-blocked embedding dedup
    * ([[graft.pipeline.Dedup.embeddingLshSql]]). */
  def bucketExpr(vec: String, nPlanes: Int = 8, dim: Int = 64)(d: Dialect): String =
    d match {
      // Spark side: ONE compact native call (the unrolled form is
      // nPlanes × dim plan terms — it dominates analysis/codegen time
      // for every LSH consumer). Bit-identical to the unrolled
      // rendering (BucketExprSpec), which stays the oracle's form.
      case SparkDialect => s"graft_bucket($vec, $nPlanes, $dim)"
      case _            => unrolledBucketExpr(vec, nPlanes, dim)(d)
    }

  /** ADAPTIVE-RESOLUTION blocking: the CASE chain electing the bucket
    * modulus `2^np` from a row count so that expected bucket occupancy
    * stays ~`occ` at ANY corpus size — `np = ceil(log2(n / occ))`
    * clamped to `[minP, maxP]`, stated in pure integer comparisons
    * (`n <= occ·2^p`) so both engines elect the SAME power bit-for-bit
    * (no float log/ceil at the cross-engine boundary).
    *
    * Why this exists: a FIXED plane count is the one scale trap left in
    * the LSH-blocked dedup family — bucket COUNT is constant, so
    * occupancy grows linearly with the corpus and within-bucket pair
    * joins quadratically (the r13 sf10 curve measured exactly that:
    * 11-14× on a 10× hop for `dedup_embedding{,_lsh}`). Scaling the
    * plane count with `log2(N)` pins occupancy, making the candidate
    * join output-linear at any scale. The hyperplane stream is
    * generated sequentially ([[graft.functions.BucketExpr.planes]]),
    * so the low `np` bits of the `maxP`-plane bucket ARE the
    * `np`-plane bucket — the adaptive bucket is a pure refinement:
    * at small N it is bit-identical to the old fixed-plane block key.
    *
    * Recall: finer buckets split near-dup pairs with probability
    * `1-(1-θ/π)^np`; production holds recall by stacking R independent
    * bucket tables (R grows with np — standard LSH (np, R) tuning);
    * the entries here demonstrate the occupancy half of that knob. */
  def adaptiveModCase(nExpr: String, occ: Int = 8,
                      minP: Int = 8, maxP: Int = 24): String =
    (minP until maxP).map { p =>
      s"WHEN $nExpr <= ${occ.toLong * (1L << p)} THEN ${1 << p}"
    }.mkString("CASE ", " ", s" ELSE ${1 << maxP} END")

  /** The one-row relation body carrying the elected modulus: render as
    * `nb AS (adaptiveModCte(t))` and block on
    * `MOD(bucket_maxP, (SELECT bmod FROM nb))`. ORACLE-side form only
    * (DuckDB executes the uncorrelated scalar once); the engine splices
    * a driver-elected literal instead ([[adaptiveModFor]]) — a scalar
    * subquery inside a broadcast-join KEY projection races Spark's
    * subquery-wait (the broadcast relation build can evaluate the key
    * before the subquery finishes), and the count is one metadata-cheap
    * driver job the session caches anyway. */
  def adaptiveModCte(table: String, occ: Int = 8,
                     minP: Int = 8, maxP: Int = 24): String =
    s"SELECT ${adaptiveModCase("COUNT(*)", occ, minP, maxP)} AS bmod FROM $table"

  /** Driver-side election — spec-pinned equal to [[adaptiveModCase]]
    * across the boundaries. */
  def adaptiveModFor(n: Long, occ: Int = 8,
                     minP: Int = 8, maxP: Int = 24): Int =
    (minP until maxP).find(p => n <= occ.toLong * (1L << p))
      .map(1 << _).getOrElse(1 << maxP)

  /** [[adaptiveModFor]] with a CLAMP WARNING: call sites whose plane
    * budget caps `maxP` below [[AdaptiveMaxPlanes]] (the stacked /
    * decontamination tables, whose R disjoint plane ranges split the
    * one native bucket) silently re-enter linear occupancy growth once
    * `n > occ·2^maxP` — the occupancy guarantee is EXHAUSTED, not just
    * clamped. The engine paths log it so a deployment sees the moment
    * the LongType-bucket widening (headroom note in
    * [[graft.pipeline.Dedup.embeddingStackBody]]) stops being optional. */
  def adaptiveModForWarn(n: Long, occ: Int, minP: Int, maxP: Int,
                         what: String): Int = {
    val m = adaptiveModFor(n, occ, minP, maxP)
    if (n > occ.toLong * (1L << maxP))
      org.slf4j.LoggerFactory.getLogger("graft.similarity").warn(
        s"$what: adaptive bucket election clamped at maxP=$maxP for n=$n " +
        s"(occupancy ~${n / m} > target $occ); candidate joins grow " +
        "linearly past this point — widen the bucket type or reduce R")
    m
  }

  /** Planes rendered for the adaptive bucket: `maxP` bits computed once
    * per row (native on the engine side), low bits selected by the
    * elected modulus. 24 planes = 16.7M buckets: occupancy ~8 up to
    * ~134M vectors per slice; `BucketExpr`'s IntegerType leaves
    * headroom to 31 planes when a deployment needs more. */
  val AdaptiveMaxPlanes: Int = 24

  /** Plane budget of the WIDE (LongType) bucket — the stacked (np, R)
    * consumers key R disjoint plane ranges off one bucket value, so
    * their budget is R × per-table-maxP; 63 planes fit 3 × 21. */
  val AdaptiveMaxPlanesLong: Int = 63

  /** The wide bucket as a dialect-neutral expression: native LongType
    * call on the engine side, unrolled BIGINT CASE sums on the oracle
    * side — the same dual-rendering contract as [[bucketExpr]], with
    * the same plane stream (the low k bits ARE [[bucketExpr]]'s k-plane
    * bucket — spec-pinned). */
  def bucketLongExpr(vec: String, nPlanes: Int = AdaptiveMaxPlanesLong,
                     dim: Int = 64)(d: Dialect): String =
    d match {
      case SparkDialect => s"graft_bucket_long($vec, $nPlanes, $dim)"
      case _            => unrolledBucketLongExpr(vec, nPlanes, dim)(d)
    }

  /** The unrolled BIGINT rendering of the wide bucket — the DuckDB
    * oracle's form and the parity anchor for the native expression.
    * The OUTER 63-term bit sum is rendered as a BALANCED tree: its
    * operands are integers, so association is exact and the balance is
    * pure parse-depth relief (63 chained terms + the 64-term inner
    * float chains overflow DuckDB's 128-deep binder); the INNER
    * projection chains stay strictly left-to-right — that order is the
    * float-rounding contract with the native expression. */
  def unrolledBucketLongExpr(vec: String, nPlanes: Int = AdaptiveMaxPlanesLong,
                             dim: Int = 64)(d: Dialect): String = {
    val planes = hyperplanes(nPlanes, dim)
    def proj(w: Seq[Double]): String =
      w.zipWithIndex.map { case (wv, i) =>
        s"${d.elementAt(vec, i + 1)} * ($wv)"
      }.mkString(" + ")
    def balanced(ts: Seq[String]): String =
      if (ts.size == 1) ts.head
      else {
        val (l, r) = ts.splitAt(ts.size / 2)
        s"(${balanced(l)} + ${balanced(r)})"
      }
    balanced(planes.zipWithIndex.map { case (w, p) =>
      s"(CASE WHEN ${proj(w)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    })
  }

  /** The unrolled element-sum rendering — the DuckDB oracle's form and
    * the parity anchor for the native expression. */
  def unrolledBucketExpr(vec: String, nPlanes: Int = 8, dim: Int = 64)
                        (d: Dialect): String = {
    val planes = hyperplanes(nPlanes, dim)
    def proj(w: Seq[Double]): String =
      w.zipWithIndex.map { case (wv, i) =>
        s"${d.elementAt(vec, i + 1)} * ($wv)"
      }.mkString(" + ")
    planes.zipWithIndex.map { case (w, p) =>
      s"(CASE WHEN ${proj(w)} >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Sign-LSH bucketed ANN: each vector hashes to a `nPlanes`-bit bucket
    * by the signs of its projections onto fixed random hyperplanes
    * (hamming-cosine LSH); queries search ONLY their bucket, then rank
    * by exact cosine. The scale path beyond IVF: no centroid training,
    * bucket id is a pure per-row expression, and the candidate join is
    * an equi-join on bucket — at 100 TB the corpus shuffles once on
    * bucket (or is written bucket-partitioned) and each query touches
    * ~1/2^nPlanes of it. */
  def lshSql(table: String, nQueries: Int = 5, k: Int = 5,
             nPlanes: Int = 8, dim: Int = 64)(d: Dialect): String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${bucketExpr("embedding", nPlanes, dim)(d)} AS bucket FROM $table
       |),
       |${lshTail("b", nQueries, k)(d).stripPrefix("WITH ")}""".stripMargin

  /** Production-path bucket form: the SAME sign-LSH bucket as [[lshSql]]
    * but with each plane projection as an array-literal `zip_with` fold
    * instead of unrolled element sums. Catalyst constant-folds each
    * plane to ONE array literal, so the expression stays compact at
    * production dims (768+) where the unrolled form blows past codegen
    * limits; the fold adds left-to-right — the same order as the
    * unrolled `a + b + c` chain — so buckets are BIT-IDENTICAL to the
    * oracle-checked form. Spark-only (higher-order functions). */
  def lshFoldSql(table: String, nQueries: Int = 5, k: Int = 5,
                 nPlanes: Int = 8, dim: Int = 64): String = {
    val d: Dialect = SparkDialect
    val planes = hyperplanes(nPlanes, dim)
    // D-suffixed literals: a bare `array(0.1, …)` is typed ARRAY<DECIMAL>,
    // which keeps the fold OFF the native-kernel rewrite (the rewrite
    // type-gates on float/double arrays) and in the interpreted
    // ArrayAggregate path; ARRAY<DOUBLE> is both what the semantics mean
    // and what lets the optimizer swap in the codegen'd DotExpr. Scala's
    // shortest-round-trip Double rendering makes the values bit-identical
    // to the decimal-literal form either way.
    def proj(vec: String, w: Seq[Double]): String =
      s"""aggregate(zip_with($vec, array(${w.map(x => s"${x}D").mkString(", ")}),
         | (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE),
         | (acc, v) -> acc + v)""".stripMargin.replace("\n", "")
    val bucket = planes.zipWithIndex.map { case (w, p) =>
      s"(CASE WHEN ${proj("embedding", w)} >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, $bucket AS bucket FROM $table
       |),
       |${lshTail("b", nQueries, k)(d).stripPrefix("WITH ")}""".stripMargin
  }

  /** IVF for UNLABELED corpora: centroids are a deterministic md5-drawn
    * seed sample (single-iteration k-means — the standard IVF training
    * shortcut when no partition key exists), every vector is assigned to
    * its nearest seed in ONE broadcast pass (|corpus| × K comparisons,
    * K broadcast-sized), and each query probes its `nProbe` nearest
    * seeds' buckets. At 100 TB: the assignment is a map-side cross with
    * K tiny broadcast rows followed by one shuffle on the centroid id
    * (or a bucket-partitioned write), and the probe join is
    * centroid-local — the same partition-bound search as the labeled
    * path, without labels. `nProbe` is the standard IVF accuracy/cost
    * knob: probing P seeds scans P/K of the corpus and recovers the
    * neighbors that straddle a partition boundary (see `knn_recall`). */
  def ivfSeededSql(table: String, nQueries: Int = 5, k: Int = 5,
                   nCentroids: Int = DefaultCentroids, nProbe: Int = 1)
                  (d: Dialect): String =
    s"""WITH ${seedsCte(table, nCentroids)(d)},
       |${assignCte(table, "seeds")(d)},
       |${ivfSeededTail(table, "assign", "seeds", nQueries, k, nProbe)(d).stripPrefix("WITH ")}""".stripMargin

  /** Int8 scalar quantization — the memory-bound ANN trick: each
    * dimension maps to 0..255 over its corpus-wide (min, max) range, so
    * a 100 TB float corpus serves from a quarter of the memory and the
    * scoring scan reads 4× fewer bytes. Search runs brute-force over
    * the DEQUANTIZED vectors (`mn + q·(mx−mn)/255`), so the recall
    * harness measures exactly the quantization loss — the number that
    * decides whether int8 serving is acceptable. CTE list ends in
    * `deq(vec_id, embedding)`. */
  private def quantizedCorpusCtes(table: String)(d: Dialect): String =
    s"""flatq AS (
       |  SELECT vec_id, pos, val FROM (
       |    ${d.arrayPosRel(table, "vec_id", "embedding")}
       |  ) t
       |),
       |rng AS (SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM flatq GROUP BY pos),
       |qv AS (
       |  SELECT f.vec_id, f.pos,
       |         CAST(CASE WHEN r.mx = r.mn THEN 0
       |                   ELSE ROUND((f.val - r.mn) / (r.mx - r.mn) * 255)
       |              END AS BIGINT) AS q,
       |         r.mn, r.mx
       |    FROM flatq f JOIN rng r ON r.pos = f.pos
       |),
       |deq AS (
       |  SELECT vec_id, ${d.arrayAggOrdered("mn + q * (mx - mn) / 255.0", "pos")} AS embedding
       |    FROM qv GROUP BY vec_id
       |)""".stripMargin

  def quantizedSql(table: String, nQueries: Int = 5, k: Int = 5)(d: Dialect): String =
    s"""WITH ${quantizedCorpusCtes(table)(d)},
       |${bruteTail("deq", nQueries, k)(d).stripPrefix("WITH ")}""".stripMargin

  /** Product quantization (the IVF-PQ memory path, Jégou et al. 2011):
    * split each vector into [[PqSub]] subspaces, code each subvector as
    * its nearest codeword (the md5-drawn seed sample's subvectors — a
    * deterministic 1-iteration codebook, same adjudication as seeded
    * IVF), and score queries by ASYMMETRIC DISTANCE: the query
    * precomputes its nQueries × nSub × K lookup table of exact
    * subspace distances and every corpus vector's distance is a
    * TABLE-LOOKUP SUM over its codes — the corpus's floats are never
    * touched at query time, which is the whole point: a 64-dim float
    * corpus serves from nSub bytes per vector (32× memory), and at
    * 100 TB the scoring scan reads codes, not embeddings.
    *
    * Determinism: each subspace distance is micro-unit-rounded BEFORE
    * the cross-subspace SUM, so the ADC total is exact integer math
    * with no accumulation order; code assignment ranks the same
    * micro-int with seed-id ties. */
  private def pqBody(corpusRel: String, seedsRel: String,
                     nQueries: Int, k: Int, nSub: Int, subDim: Int,
                     trained: Boolean = false)
                    (d: Dialect): String = {
    def sl(arr: String, s: Int) = d.arraySlice(arr, s * subDim + 1, subDim)
    val subV = (0 until nSub).map(s =>
      s"SELECT vec_id, $s AS sub, ${sl("embedding", s)} AS sv FROM $corpusRel")
      .mkString("\n  UNION ALL\n  ")
    val subC = (0 until nSub).map(s =>
      s"SELECT seed_id, $s AS sub, ${sl("centroid", s)} AS cv FROM $seedsRel")
      .mkString("\n  UNION ALL\n  ")
    val d2 = s"CAST(ROUND((${d.dotProduct("v.sv", "v.sv")}" +
      s" - 2 * ${d.dotProduct("v.sv", "c.cv")}" +
      s" + ${d.dotProduct("c.cv", "c.cv")}) * 1000000) AS BIGINT)"
    // One Lloyd iteration per subspace (the k-means step a trained PQ
    // codebook is, Jégou et al. §III): assign every subvector to its
    // nearest SEED codeword, recenter each codeword to the mean of its
    // assignments (micro-rounded to a fixed 1e-6 grid so cross-engine
    // float-sum order can't flip the downstream integer ADC), and keep
    // the seed codeword where nothing assigned. Same recenter step as
    // [[kmeansRefineSql]], applied per subspace.
    val codebook =
      if (!trained) "pc AS (\n  SELECT * FROM pc0\n)"
      else
        s"""codes0 AS (
           |  SELECT vec_id, sub, code, sv FROM (
           |    SELECT v.vec_id, v.sub, v.sv, c.seed_id AS code,
           |           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
           |                              ORDER BY $d2, c.seed_id) AS rn
           |      FROM pv v JOIN pc0 c ON c.sub = v.sub
           |  ) t0 WHERE rn = 1
           |),
           |cflat AS (
           |  ${d.arrayPosRel("codes0", "sub, code", "sv")}
           |),
           |cavg AS (
           |  SELECT sub, code, pos, ROUND(AVG(val), 6) AS cval
           |    FROM cflat GROUP BY sub, code, pos
           |),
           |cnew AS (
           |  SELECT sub, code AS seed_id,
           |         ${d.arrayAggOrdered("cval", "pos")} AS cv
           |    FROM cavg GROUP BY sub, code
           |),
           |pc AS (
           |  SELECT c0.sub, c0.seed_id, COALESCE(n.cv, c0.cv) AS cv
           |    FROM pc0 c0 LEFT JOIN cnew n
           |      ON n.sub = c0.sub AND n.seed_id = c0.seed_id
           |)""".stripMargin
    s"""WITH pv AS (
       |  $subV
       |),
       |pc0 AS (
       |  $subC
       |),
       |$codebook,
       |codes AS (
       |  SELECT vec_id, sub, seed_id AS code FROM (
       |    SELECT v.vec_id, v.sub, c.seed_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |                              ORDER BY $d2, c.seed_id) AS rn
       |      FROM pv v JOIN pc c ON c.sub = v.sub
       |  ) a WHERE rn = 1
       |),
       |qd AS (
       |  SELECT v.vec_id AS query_id, c.sub, c.seed_id, $d2 AS dmicro
       |    FROM pv v JOIN pc c ON c.sub = v.sub
       |   WHERE v.vec_id < $nQueries
       |),
       |adc AS (
       |  SELECT /*+ BROADCAST(q) */ q.query_id, co.vec_id AS neighbor_id,
       |         SUM(q.dmicro) AS dist_micro
       |    FROM codes co
       |    JOIN qd q ON q.sub = co.sub AND q.seed_id = co.code
       |   WHERE co.vec_id <> q.query_id
       |   GROUP BY q.query_id, co.vec_id
       |)
       |SELECT query_id, neighbor_id, CAST(dist_micro AS BIGINT) AS dist_micro,
       |       CAST(rk AS INT) AS rank
       |  FROM (SELECT a.*,
       |               ROW_NUMBER() OVER (PARTITION BY query_id
       |                                  ORDER BY dist_micro, neighbor_id) AS rk
       |          FROM adc a) z
       | WHERE rk <= $k
       | ORDER BY query_id, rank""".stripMargin
  }

  val PqSub = 4
  val PqSubDim = 16

  def pqSql(table: String, nQueries: Int = 5, k: Int = 5,
            nSub: Int = PqSub, subDim: Int = PqSubDim,
            nCentroids: Int = DefaultCentroids,
            trained: Boolean = false)(d: Dialect): String =
    s"""WITH ${seedsCte(table, nCentroids)(d)},
       |${pqBody(table, "seeds", nQueries, k, nSub, subDim, trained)(d).stripPrefix("WITH ")}""".stripMargin

  private def pqView(spark: SparkSession, dir: String): String =
    hitsView(spark, dir, "pq")(v =>
      pqBody(v.base, v.seeds, 5, 5, PqSub, PqSubDim)(d))
  private def pqTrainedView(spark: SparkSession, dir: String): String =
    hitsView(spark, dir, "pqtrain")(v =>
      pqBody(v.base, v.seeds, 5, 5, PqSub, PqSubDim, trained = true)(d))

  /** The PQ entry serves the TRAINED codebook (one Lloyd iteration per
    * subspace); the recall harness reports both it and the seed
    * codebook so the training gain is an oracle-checked output. */
  def runPq(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT * FROM ${pqTrainedView(spark, dir)} ORDER BY query_id, rank")

  /** ANN quality measurement — recall@k of each approximate method
    * against the exact brute-force baseline, per query and method: the
    * number every ANN deployment reports before trading exactness for
    * the bucket-bounded scale path. The multi-probe seeded IVF rides
    * along as its own method row (`ivf_seeded_p2`), so the probe knob's
    * recall gain is itself an oracle-checked output. The ground-truth
    * side is tiny (nQueries × k), so the comparison joins are
    * broadcast-sized regardless of corpus scale. */
  def recallSql(table: String, k: Int = 5)(d: Dialect): String =
    recallBody(
      bruteForceSql(table, k = k)(d),
      Seq(
        "ivf" -> ivfSql(table, k = k)(d),
        "ivf_seeded" -> ivfSeededSql(table, k = k)(d),
        "ivf_seeded_p2" -> ivfSeededSql(table, k = k, nProbe = 2)(d),
        "lsh" -> lshSql(table, k = k)(d),
        "quantized_bf" -> quantizedSql(table, k = k)(d),
        "pq_adc" -> pqSql(table, k = k)(d),
        "pq_adc_trained" -> pqSql(table, k = k, trained = true)(d)),
      k)(d)

  private def recallBody(truthSql: String, methods: Seq[(String, String)],
                         k: Int)(d: Dialect): String = {
    val approx = methods.map { case (m, rel) =>
      s"""SELECT '$m' AS method, query_id, neighbor_id FROM ($rel) h"""
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH truth AS (
       |  SELECT query_id, neighbor_id FROM ($truthSql) b
       |),
       |approx AS (
       |  $approx
       |),
       |matched AS (
       |  SELECT a.method, a.query_id,
       |         COUNT(t.neighbor_id) AS hit_ct
       |    FROM approx a
       |    LEFT JOIN truth t ON t.query_id = a.query_id
       |                     AND t.neighbor_id = a.neighbor_id
       |   GROUP BY a.method, a.query_id
       |)
       |SELECT method, query_id, CAST(hit_ct AS BIGINT) AS hit_ct,
       |       CAST(${d.intDiv("2 * 10000 * hit_ct + " + k, s"2 * $k")} / 10000.0
       |            AS DOUBLE) AS recall_at_$k
       |  FROM matched
       | ORDER BY method, query_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Spark entry points — composed over the memoized index relations.
  // ---------------------------------------------------------------------

  /** The materialized ANN index relations per (session, dir): one
    * checkpointed base pass over the corpus carrying every per-row
    * derivation (sign-LSH bucket, exclusive seed assignment) next to
    * the raw columns, plus the tiny seeds and per-label centroid side
    * relations. Built once; every method body and the recall harness
    * read the checkpoints — the real-cluster equivalent is an index
    * build job that writes the corpus bucket-partitioned to storage. */
  private final case class AnnViews(base: String, seeds: String, centroids: String)

  private def annViews(spark: SparkSession, dir: String): AnnViews = {
    val sv = annSeedsView(spark, dir)
    val cv = graft.core.Materialize.view(spark, "ann_centroids", dir,
      graft.core.Materialize.Checkpoint)(spark.sql(
      s"WITH ${centroidsCtes(embeddingsView(spark, dir))(d)} SELECT * FROM centroids"))
    AnnViews(annBaseView(spark, dir), sv, cv)
  }

  private def annSeedsView(spark: SparkSession, dir: String): String =
    graft.core.Materialize.view(spark, "ann_seeds", dir, graft.core.Materialize.Checkpoint)(
      spark.sql(
        s"WITH ${seedsCte(embeddingsView(spark, dir), DefaultCentroids)(d)} SELECT * FROM seeds"))

  /** The checkpointed index base: every row with its sign-LSH bucket
    * and exclusive seed assignment. */
  private[graft] def annBaseView(spark: SparkSession, dir: String): String = {
    val sv = annSeedsView(spark, dir)
    graft.core.Materialize.view(spark, "ann_base", dir, graft.core.Materialize.Checkpoint) {
      spark.sql(
        s"""WITH ${assignCte(embeddingsView(spark, dir), sv)(d)}
           |SELECT vec_id, label, embedding,
           |       ${bucketExpr("embedding")(d)} AS bucket, seed_id
           |  FROM assign""".stripMargin)
    }
  }

  /** A method's ranked hit relation, landed ONCE per (session, dir,
    * method): the probe body runs over the index views, its (tiny,
    * nQueries × k) result is checkpointed, and every later read —
    * the method's own entry, repeated calls, the recall harness — is a
    * metadata-sized scan of the landed rows. The probe bodies are
    * plan-compile-heavy (512-term bucket expressions, tripled
    * higher-order-function cosines), so at ANY corpus size re-planning
    * them per read costs more than the landed relation ever will; on a
    * real cluster this is the ANN serving table a query layer reads. */
  private def hitsView(spark: SparkSession, dir: String, method: String)
                      (body: AnnViews => String): String =
    graft.core.Materialize.view(spark, s"ann_$method", dir, graft.core.Materialize.Checkpoint)(
      spark.sql(body(annViews(spark, dir))))

  private val d: Dialect = SparkDialect

  /** Brute-force ground truth at k = 10 — the one landed truth relation;
    * smaller k reads are rank-prefix slices of it. */
  private def bruteView(spark: SparkSession, dir: String): String =
    hitsView(spark, dir, "brute")(v => bruteTail(v.base, 5, 10)(d))

  def runRecall(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val truth =
      s"SELECT query_id, neighbor_id, cosine, rank FROM ${bruteView(spark, dir)} WHERE rank <= $k"
    val methods = Seq(
      "ivf" -> ivfView(spark, dir),
      "ivf_seeded" -> seededView(spark, dir),
      "ivf_seeded_p2" -> probeView(spark, dir),
      "lsh" -> lshView(spark, dir),
      "quantized_bf" -> quantView(spark, dir),
      "pq_adc" -> pqView(spark, dir),
      "pq_adc_trained" -> pqTrainedView(spark, dir)).map { case (m, v) =>
      m -> s"SELECT * FROM $v"
    }
    spark.sql(recallBody(truth, methods, k)(d))
  }

  private def embeddingsView(spark: SparkSession, dir: String): String =
    graft.core.Tables.view(spark, dir, "embeddings")

  private def ivfView(spark: SparkSession, dir: String): String =
    hitsView(spark, dir, "ivf")(v => ivfTail(v.base, v.centroids, 5, 5, 1)(d))
  private def seededView(spark: SparkSession, dir: String): String =
    hitsView(spark, dir, "seeded")(v => ivfSeededTail(v.base, v.base, v.seeds, 5, 5, 1)(d))
  private def probeView(spark: SparkSession, dir: String): String =
    hitsView(spark, dir, "probe2")(v => ivfSeededTail(v.base, v.base, v.seeds, 5, 5, 2)(d))
  private def lshView(spark: SparkSession, dir: String): String =
    hitsView(spark, dir, "lsh")(v => lshTail(v.base, 5, 5)(d))
  private def quantView(spark: SparkSession, dir: String): String =
    hitsView(spark, dir, "quant")(v => quantizedSql(v.base)(d))

  /** The un-landed probe-body DataFrames over the index views — the
    * plans that run ONCE per session to land each method's hits;
    * exposed for PlanSpec's shape assertions (broadcast query side,
    * zero re-scans of parquet). */
  private[graft] def buildBodies(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val v = annViews(spark, dir)
    Map(
      "brute" -> spark.sql(bruteTail(v.base, 5, 10)(d)),
      "ivf" -> spark.sql(ivfTail(v.base, v.centroids, 5, 5, 1)(d)),
      "ivf_seeded" -> spark.sql(ivfSeededTail(v.base, v.base, v.seeds, 5, 5, 1)(d)),
      "ivf_seeded_p2" -> spark.sql(ivfSeededTail(v.base, v.base, v.seeds, 5, 5, 2)(d)),
      "lsh" -> spark.sql(lshTail(v.base, 5, 5)(d)),
      "quantized_bf" -> spark.sql(quantizedSql(v.base)(d)))
  }

  /** Metadata-FILTERED vector search — the "vector search with a WHERE
    * clause" every retrieval deployment eventually needs (tenant, date
    * range, source filters): top-k by cosine among only the corpus
    * vectors passing the predicate (fixture: `label % 2 = 0`). Shape:
    * the filter applies to the CORPUS side before scoring — post-
    * filtering an unfiltered top-k silently under-fills k — and the
    * query side stays broadcast-sized. At scale the predicate pushes
    * into the index scan (partition/bucket pruning when the index is
    * partitioned on the filter column — see [[writeIndex]]). */
  def filteredSql(table: String, nQueries: Int = 5, k: Int = 5,
                  predicate: String = "label % 2 = 0")(d: Dialect): String = {
    val qcCos = cosine(d, "q.embedding", "c.embedding")
    s"""WITH fq AS (
       |  SELECT vec_id, embedding FROM $table WHERE vec_id < $nQueries
       |),
       |fc AS (
       |  SELECT vec_id, embedding FROM $table
       |   WHERE ($predicate)
       |),
       |fpairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $qcCos AS cos
       |    FROM fq q JOIN fc c ON c.vec_id <> q.vec_id
       |)
       |SELECT query_id, neighbor_id,
       |       CAST(ROUND(cos, 4) AS DOUBLE) AS cosine, CAST(rk AS INT) AS rank
       |  FROM (SELECT p.*,
       |               ROW_NUMBER() OVER (PARTITION BY query_id
       |                                  ORDER BY cos DESC, neighbor_id) AS rk
       |          FROM fpairs p) z
       | WHERE rk <= $k
       | ORDER BY query_id, rank""".stripMargin
  }

  def runFiltered(spark: SparkSession, dir: String): DataFrame = {
    val v = hitsView(spark, dir, "filtered")(v => filteredSql(v.base)(d))
    spark.sql(s"SELECT * FROM $v ORDER BY query_id, rank")
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector, the top-k most-similar corpus vectors whose LABEL
    * differs from the query's (the "looks like a positive, isn't one"
    * examples a contrastive or reranker trainer wants), plus the margin
    * to the nearest SAME-label vector — a negative with positive margin
    * outranks every true positive and is the highest-value training
    * pair. Shape: the query side is broadcast-sized; the corpus side is
    * one label-filtered pass per class of the pair join — never more
    * work than the brute-force baseline, and at scale the same
    * bucket-pruned index probes serve it. A query whose label has no
    * other same-label vector keeps its top-k negatives with a NULL
    * `margin_vs_best_pos` (best_pos is LEFT-joined) rather than
    * silently vanishing from the relation. */
  def hardNegativesSql(table: String, nQueries: Int = 5, k: Int = 5)
                      (d: Dialect): String = {
    val qcCos = cosine(d, "q.embedding", "c.embedding")
    s"""WITH hq AS (
       |  SELECT vec_id, embedding, label FROM $table WHERE vec_id < $nQueries
       |),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         c.label AS neg_label, q.label AS query_label,
       |         CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS same_label,
       |         $qcCos AS cos
       |    FROM hq q JOIN $table c ON c.vec_id <> q.vec_id
       |),
       |best_pos AS (
       |  SELECT query_id, MAX(cos) AS best_pos_cos
       |    FROM scored WHERE same_label = 1 GROUP BY query_id
       |)
       |SELECT s.query_id, s.neighbor_id, s.query_label, s.neg_label,
       |       CAST(ROUND(s.cos, 4) AS DOUBLE) AS cosine,
       |       CAST(ROUND(s.cos - b.best_pos_cos, 4) AS DOUBLE) AS margin_vs_best_pos,
       |       CAST(rk AS INT) AS rank
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                                     ORDER BY cos DESC, neighbor_id) AS rk
       |          FROM scored WHERE same_label = 0) s
       |  LEFT JOIN best_pos b ON b.query_id = s.query_id
       | WHERE rk <= $k
       | ORDER BY s.query_id, rank""".stripMargin
  }

  def runHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val v = hitsView(spark, dir, "hardneg")(v => hardNegativesSql(v.base)(d))
    spark.sql(s"SELECT * FROM $v ORDER BY query_id, rank")
  }

  /** Semantic deduplication (the SemDeDup recipe of embedding-space
    * curation): block the corpus by its IVF seed assignment — vectors
    * can only be semantic duplicates of vectors whose nearest seed
    * matches — then score within-cluster pairwise cosine and keep pairs
    * above the threshold. The drop policy is the min-id survivor: any
    * vector appearing as `vec_b` of a pair has a smaller-id semantic
    * twin and is the one a curation run removes. Blocking reuses the
    * SAME exclusive seed assignment as seeded IVF (one broadcast pass
    * at any scale) and the pair join is seed-local — the corpus
    * shuffles once on seed_id and each partition's join is bounded by
    * its cluster population, never the all-pairs quadratic. */
  /** Pair body of the semantic dedup. Blocking key: (seed_id, sign-LSH
    * bucket) — the cluster alone is NOT a scale-safe block: with a
    * fixed seed count K, cluster size grows with the corpus and the
    * within-cluster pair join grows QUADRATICALLY (the round-11 sf1
    * curve measured 13.9× on 10× vectors before the sub-block). The
    * 8-plane bucket bounds candidates the same way it does for
    * [[graft.pipeline.Dedup.embeddingLshSql]]; true near-dups
    * (production thresholds 0.95+) almost never straddle a sign plane,
    * and the published SemDeDup configuration scales K with the corpus
    * (its production K is 50k+) — the engine gets the same effect from
    * the bucket sub-block without forking the shared K=8 index base.
    * `hasBucket` = the relation already carries the landed bucket
    * column (the engine's checkpointed base); the oracle rendering
    * recomputes it from the embedding. */
  private def semanticBody(assignRel: String, threshold: Double,
                           hasBucket: Boolean)(d: Dialect): String = {
    val blk = if (hasBucket) "bucket" else bucketExpr("embedding")(d)
    s"""WITH semb AS (
       |  SELECT vec_id, seed_id, $blk AS blk, embedding,
       |         SQRT(${d.dotProduct("embedding", "embedding")}) AS nrm
       |    FROM $assignRel
       |),
       |spairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.seed_id,
       |         ${d.dotProduct("a.embedding", "b.embedding")}
       |           / NULLIF(a.nrm * b.nrm, 0) AS cos
       |    FROM semb a JOIN semb b
       |      ON a.seed_id = b.seed_id AND a.blk = b.blk
       |     AND a.vec_id < b.vec_id
       |)
       |SELECT vec_a, vec_b, CAST(seed_id AS BIGINT) AS seed_id,
       |       CAST(ROUND(cos, 4) AS DOUBLE) AS cosine
       |  FROM spairs
       | WHERE cos >= $threshold
       | ORDER BY vec_a, vec_b""".stripMargin
  }

  // Fixture threshold 0.30 (same adjudication as the embedding dedup
  // entries): within-cluster cosine on the random synthetic embeddings
  // tops out well under production's 0.95+ SemDeDup thresholds, so 0.30
  // exercises the pair-surfacing path on the fixtures.
  def semanticSql(table: String, threshold: Double = 0.30,
                  nCentroids: Int = DefaultCentroids)(d: Dialect): String =
    s"""WITH ${seedsCte(table, nCentroids)(d)},
       |${assignCte(table, "seeds")(d)},
       |${semanticBody("assign", threshold, hasBucket = false)(d).stripPrefix("WITH ")}""".stripMargin

  /** Spark path: the (seed, bucket)-blocked pair join reads the
    * memoized checkpointed index base (one assignment pass per session;
    * the base already carries the landed bucket column). */
  def runSemantic(spark: SparkSession, dir: String): DataFrame =
    spark.sql(semanticBody(annViews(spark, dir).base, 0.30, hasBucket = true)(d))

  // ---------------------------------------------------------------------
  // Lloyd refinement — one k-means iteration past the seeded shortcut.
  // ---------------------------------------------------------------------

  /** One Lloyd iteration over the seeded assignment: recompute each
    * cluster's centroid as the mean of its assigned vectors, then
    * reassign every vector to its nearest refined centroid (ties on
    * seed id, as in [[assignCte]]). The emitted rows are the per-seed
    * movement ledger — iteration-1 size, iteration-2 size, and how many
    * vectors stayed — i.e. the convergence signal a full distributed
    * k-means loop would monitor each round.
    *
    * Scale shape: the refinement is ONE explode+groupBy over the landed
    * assignment (map-side partial means per (seed, pos)), the refined
    * centroids are K tiny rows broadcast against the corpus for
    * reassignment, and the ledger is a K-row rollup — per iteration the
    * corpus is read once and never pair-joined, which is exactly the
    * Lloyd step a 100 TB curation run executes a handful of times
    * before freezing its IVF index. */
  /** The (iter1-seed, iter2-seed) transition counts — the expensive
    * part: one explode+groupBy for the refined centroids, one corpus
    * pass for reassignment, one vec-keyed join, one K²-bounded rollup. */
  private def kmeansPairsBody(table: String, assignRel: String)
                             (d: Dialect): String = {
    val esCos = cosine(d, "e.embedding", "s.centroid")
    s"""WITH flat2 AS (
       |  SELECT seed_id, pos, val FROM (
       |    ${d.arrayPosRel(assignRel, "seed_id", "embedding")}
       |  ) t
       |),
       |centroids2 AS (
       |  SELECT seed_id, ${d.arrayAggOrdered("avgv", "pos")} AS centroid FROM (
       |    SELECT seed_id, pos, AVG(val) AS avgv FROM flat2 GROUP BY seed_id, pos
       |  ) g GROUP BY seed_id
       |),
       |assign2 AS (
       |  SELECT vec_id, seed_id FROM (
       |    SELECT e.vec_id, s.seed_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                              ORDER BY $esCos DESC, s.seed_id) AS rn
       |      FROM $table e CROSS JOIN centroids2 s
       |  ) a WHERE rn = 1
       |)
       |SELECT a1.seed_id AS s1, a2.seed_id AS s2, COUNT(*) AS ct
       |  FROM $assignRel a1 JOIN assign2 a2 ON a2.vec_id = a1.vec_id
       | GROUP BY a1.seed_id, a2.seed_id""".stripMargin
  }

  /** The movement ledger over a (K²-bounded) transition relation. The
    * three rollups read `pairsRel` three times — which is why the Spark
    * path lands it first (CTEs inline in Spark; re-deriving the corpus
    * pass per rollup would triple the scan, PlanSpec-tripwired). */
  private def kmeansLedgerBody(pairsRel: String, seedsRel: String): String =
    s"""WITH c1 AS (SELECT s1 AS seed_id, SUM(ct) AS n1 FROM $pairsRel GROUP BY s1),
       |c2 AS (SELECT s2 AS seed_id, SUM(ct) AS n2 FROM $pairsRel GROUP BY s2),
       |cs AS (SELECT s1 AS seed_id, SUM(ct) AS ns FROM $pairsRel
       |        WHERE s1 = s2 GROUP BY s1)
       |SELECT s.seed_id,
       |       CAST(COALESCE(c1.n1, 0) AS BIGINT) AS n_iter1,
       |       CAST(COALESCE(c2.n2, 0) AS BIGINT) AS n_iter2,
       |       CAST(COALESCE(cs.ns, 0) AS BIGINT) AS n_stayed
       |  FROM $seedsRel s
       |  LEFT JOIN c1 ON c1.seed_id = s.seed_id
       |  LEFT JOIN c2 ON c2.seed_id = s.seed_id
       |  LEFT JOIN cs ON cs.seed_id = s.seed_id
       | ORDER BY s.seed_id""".stripMargin

  def kmeansRefineSql(table: String,
                      nCentroids: Int = DefaultCentroids)(d: Dialect): String =
    s"""WITH ${seedsCte(table, nCentroids)(d)},
       |${assignCte(table, "seeds")(d)},
       |pairs AS (
       |${kmeansPairsBody(table, "assign")(d)}
       |),
       |${kmeansLedgerBody("pairs", "seeds").stripPrefix("WITH ")}""".stripMargin

  /** Spark path: iteration 1 is the landed index base; the K²-bounded
    * transition counts land once, the ledger reads them. */
  def runKmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    val v = annViews(spark, dir)
    val pv = graft.core.Materialize.view(spark, "km_pairs", dir,
      graft.core.Materialize.Checkpoint)(
      spark.sql(kmeansPairsBody(embeddingsView(spark, dir), v.base)(d)))
    spark.sql(kmeansLedgerBody(pv, v.seeds))
  }

  // ---------------------------------------------------------------------
  // Cluster-balanced sampling — diversity-preserving downsampling.
  // ---------------------------------------------------------------------

  /** Draw up to `perCluster` vectors from EVERY seeded-IVF cluster by a
    * deterministic md5 order — the cluster-balanced downsample a
    * curation pipeline uses to keep semantic coverage while shrinking
    * the corpus (the uniform draw over-samples dense modes; sampling
    * per cluster caps each mode's share). The draw is the same md5
    * trick as [[graft.pipeline.StratifiedSample]], so reruns and the
    * oracle pick identical rows.
    *
    * Scale shape: the assignment relation is already landed; the draw
    * is one window per seed partition over it — no joins, no second
    * corpus pass, and the window key is the cluster id, so the sort is
    * partition-local after a single shuffle on seed_id. */
  private def clusterSampleBody(assignRel: String, perCluster: Int)
                               (d: Dialect): String =
    s"""SELECT CAST(seed_id AS BIGINT) AS seed_id, vec_id, CAST(rn AS INT) AS draw_rank
       |  FROM (
       |    SELECT seed_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY seed_id
       |                              ORDER BY MD5(${d.castText("vec_id")}), vec_id) AS rn
       |      FROM $assignRel
       |  ) s
       | WHERE rn <= $perCluster
       | ORDER BY seed_id, draw_rank""".stripMargin

  def clusterSampleSql(table: String, perCluster: Int = 5,
                       nCentroids: Int = DefaultCentroids)(d: Dialect): String =
    s"""WITH ${seedsCte(table, nCentroids)(d)},
       |${assignCte(table, "seeds")(d)}
       |${clusterSampleBody("assign", perCluster)(d)}""".stripMargin

  def runClusterSample(spark: SparkSession, dir: String): DataFrame =
    spark.sql(clusterSampleBody(annViews(spark, dir).base, 5)(d))

  // ---------------------------------------------------------------------
  // Index occupancy — the report behind the nProbe / nPlanes knobs.
  // ---------------------------------------------------------------------

  /** Partition-occupancy statistics of BOTH index layouts — per
    * sign-LSH bucket and per IVF seed, how many vectors land there and
    * what share of the corpus a single-probe query therefore scans.
    * Skewed occupancy is the failure mode of both layouts (a hot
    * bucket makes its probes slow and its recall cheap; an empty one
    * wastes a partition), and this is the report that decides whether
    * to add planes, reseed, or raise nProbe.
    *
    * Scale shape: the landed index base already carries both ids —
    * two metadata-sized groupBys over it, zero corpus scans.
    * `cross_spread` is the other layout's distinct-id count inside the
    * partition (seeds per LSH bucket / buckets per IVF cell) — how far
    * a single-partition probe fans across the other layout's cells. */
  private def occupancyBody(baseRel: String): String =
    s"""WITH occ AS (
       |  SELECT 'lsh' AS layout, CAST(bucket AS BIGINT) AS partition_id,
       |         COUNT(*) AS vec_ct,
       |         COUNT(DISTINCT seed_id) AS cross_spread
       |    FROM $baseRel GROUP BY bucket
       |  UNION ALL
       |  SELECT 'ivf' AS layout, CAST(seed_id AS BIGINT) AS partition_id,
       |         COUNT(*) AS vec_ct,
       |         COUNT(DISTINCT bucket) AS cross_spread
       |    FROM $baseRel GROUP BY seed_id
       |),
       |tot AS (SELECT layout, SUM(vec_ct) AS n FROM occ GROUP BY layout)
       |SELECT o.layout AS layout, o.partition_id,
       |       CAST(o.vec_ct AS BIGINT) AS vec_ct,
       |       CAST(ROUND(CAST(o.vec_ct AS DOUBLE) / t.n, 4) AS DOUBLE) AS corpus_share,
       |       CAST(o.cross_spread AS BIGINT) AS cross_spread
       |  FROM occ o JOIN tot t ON t.layout = o.layout
       | ORDER BY o.layout, o.partition_id""".stripMargin

  def occupancySql(table: String, nCentroids: Int = DefaultCentroids)
                  (d: Dialect): String =
    s"""WITH ${seedsCte(table, nCentroids)(d)},
       |${assignCte(table, "seeds")(d)},
       |b AS (
       |  SELECT vec_id, seed_id,
       |         ${bucketExpr("embedding")(d)} AS bucket FROM assign
       |),
       |${occupancyBody("b").stripPrefix("WITH ")}""".stripMargin

  def runOccupancy(spark: SparkSession, dir: String): DataFrame =
    spark.sql(occupancyBody(annViews(spark, dir).base))

  /** Embedding-space outliers — the out-of-distribution screen a
    * curation pipeline runs before training: vectors whose cosine to
    * their assigned (seeded-IVF) centroid falls below the cluster's
    * 10th percentile are flagged as distributional stragglers (wrong-
    * modality embeds, corrupt rows, genuinely novel content — all
    * reviewed before they steer the mixture). Cosines are rounded to
    * 6 dp BEFORE the quantile so both engines rank identical inputs.
    *
    * Scale shape: one broadcast join of the corpus against the K seed
    * vectors (the assignment relation is already landed per session),
    * a K-row quantile rollup, and a broadcast fence join — the corpus
    * shuffles zero times. */
  private def outliersBody(assignRel: String, seedsRel: String)
                          (d: Dialect): String = {
    val cos = cosine(d, "a.embedding", "s.centroid")
    s"""WITH oc AS (
       |  SELECT /*+ BROADCAST(s) */ a.vec_id, a.seed_id,
       |         ROUND($cos, 6) AS cos
       |    FROM $assignRel a JOIN $seedsRel s ON a.seed_id = s.seed_id
       |),
       |ost AS (
       |  SELECT seed_id, ${d.quantileCont("cos", 0.1)} AS p10
       |    FROM oc GROUP BY seed_id
       |)
       |SELECT o.vec_id, CAST(o.seed_id AS BIGINT) AS seed_id,
       |       CAST(o.cos AS DOUBLE) AS cos_sim,
       |       CAST(ROUND(st.p10, 6) AS DOUBLE) AS cluster_p10
       |  FROM oc o JOIN ost st ON o.seed_id = st.seed_id
       | WHERE o.cos < st.p10
       | ORDER BY o.vec_id""".stripMargin
  }

  def outliersSql(table: String,
                  nCentroids: Int = DefaultCentroids)(d: Dialect): String =
    s"""WITH ${seedsCte(table, nCentroids)(d)},
       |${assignCte(table, "seeds")(d)},
       |${outliersBody("assign", "seeds")(d).stripPrefix("WITH ")}""".stripMargin

  /** Spark path: reads the memoized landed index base + frozen seeds. */
  def runOutliers(spark: SparkSession, dir: String): DataFrame = {
    val v = annViews(spark, dir)
    spark.sql(outliersBody(v.base, v.seeds)(d))
  }

  /** Persist the ANN index BUCKET-PARTITIONED — the cluster-scale
    * serving path the in-session checkpoints stand in for: the base
    * relation (vec_id, label, embedding, seed_id) written
    * `partitionBy("bucket")`, so a query's bucket probe is a partition-
    * pruned read of exactly its bucket's directory — no shuffle, no
    * full-index scan, and at 100 TB each of the 2^nPlanes buckets is an
    * independently readable slice. [[readBucket]] is the probe-side
    * read; PlanSpec asserts the bucket predicate lands in the scan's
    * PartitionFilters (pruned at the source, not filtered after). */
  def writeIndex(spark: SparkSession, dir: String, outPath: String): Unit = {
    val v = annViews(spark, dir)
    spark.table(v.base)
      .write.mode("overwrite").partitionBy("bucket").parquet(outPath)
    // freeze the seed sample beside the index — [[appendIndex]] assigns
    // future batches against exactly these
    spark.table(v.seeds)
      .write.mode("overwrite").parquet(s"${outPath}_seeds")
  }

  def readBucket(spark: SparkSession, outPath: String, bucket: Int): DataFrame =
    spark.read.parquet(outPath)
      .where(org.apache.spark.sql.functions.col("bucket") === bucket)

  /** Incremental index maintenance — the daily-batch shape: new vectors
    * append into the SAME bucket-partitioned layout without touching
    * (or re-reading) the landed index. The sign-LSH bucket is a pure
    * per-row expression, and the seed assignment reuses the seeds
    * PERSISTED at build time (`<path>_seeds`) — seeds must stay frozen
    * across appends or every previously landed assignment silently
    * invalidates; re-seeding is a full rebuild by design. Append-mode
    * partitionBy writes only the touched bucket directories; probes
    * keep partition-pruning over old + new files alike. */
  def appendIndex(spark: SparkSession, batch: DataFrame, outPath: String): Unit = {
    graft.core.Materialize.sql(spark, batch, spark.read.parquet(s"${outPath}_seeds")) {
      case Seq(b, seeds) =>
        s"""WITH ${assignCte(b, seeds)(d)}
           |SELECT vec_id, label, embedding,
           |       ${bucketExpr("embedding")(d)} AS bucket, seed_id
           |  FROM assign""".stripMargin
    }.write.mode("append").partitionBy("bucket").parquet(outPath)
  }

  /** Per-bucket FILE count of the persisted index — the small-files
    * health report for the append-mode layout: every [[appendIndex]]
    * batch adds at least one file per touched bucket directory, and at
    * a daily cadence a hot bucket accumulates hundreds of files whose
    * per-file open/footer overhead eventually dominates its probes.
    * Read from the filesystem listing (metadata-only, no data scan). */
  def indexFileReport(spark: SparkSession, outPath: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    val fs = new Path(outPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = fs.listStatus(new Path(outPath)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map { s =>
        val files = fs.listStatus(s.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        Row(s.getPath.getName.stripPrefix("bucket=").toInt, files.toLong)
      }
    spark.createDataFrame(
      rows.sortBy(_.getInt(0)).asJava,
      StructType(Seq(
        StructField("bucket", IntegerType),
        StructField("file_ct", LongType))))
  }

  /** Compact the persisted index: rewrite every bucket directory whose
    * file count exceeds `maxFiles` down to `targetFiles` files, leaving
    * all other buckets' files untouched — the maintenance pass that
    * keeps an append-mode index probe-efficient. The rewrite is
    * per-bucket (read the bucket's rows, write compacted beside it,
    * swap) so a run only ever touches the overgrown directories; at
    * 100 TB `targetFiles` rises so each file stays near the scan's
    * maxPartitionBytes rather than literally 1. Probes stay partition-
    * pruned across the swap — the layout (bucket=N directories) never
    * changes (BucketingSpec). Returns the compacted bucket ids. */
  def compactIndex(spark: SparkSession, outPath: String,
                   maxFiles: Int = 8, targetFiles: Int = 1): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val overgrown = indexFileReport(spark, outPath).collect()
      .filter(_.getAs[Long]("file_ct") > maxFiles)
      .map(_.getAs[Int]("bucket")).toSeq
    overgrown.foreach { b =>
      val bucketDir = new Path(s"$outPath/bucket=$b")
      val tmp = new Path(s"${outPath}__compact_b$b")
      val old = new Path(s"${outPath}__old_b$b")
      spark.read.parquet(bucketDir.toString)
        .coalesce(targetFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      // crash-safe swap: move the live bucket ASIDE first, then the
      // compacted files into place, and only then delete. A crash
      // between steps leaves either the live bucket or the compacted
      // one discoverable under __old_bN / __compact_bN — never a
      // silently-absent bucket=N that partition discovery would skip
      // without error. Rename return codes are checked: HDFS-style
      // filesystems report failure via `false`, not an exception.
      if (fs.exists(old) && !fs.delete(old, true))
        sys.error(s"compactIndex: cannot clear stale $old")
      if (!fs.rename(bucketDir, old))
        sys.error(s"compactIndex: rename aside failed for $bucketDir")
      if (!fs.rename(tmp, bucketDir)) {
        // restore the live bucket before failing — the index must not
        // be left without its bucket=N directory
        fs.rename(old, bucketDir)
        sys.error(s"compactIndex: swap-in failed for bucket $b")
      }
      if (!fs.delete(old, true))
        sys.error(s"compactIndex: compacted bucket $b live, but stale" +
          s" copy at $old could not be deleted")
    }
    overgrown
  }

  /** The landed index base / frozen seeds, for specs and the streaming
    * ingest twin's parity anchor. */
  private[graft] def indexBase(spark: SparkSession, dir: String): DataFrame =
    spark.table(annViews(spark, dir).base)
  private[graft] def indexSeeds(spark: SparkSession, dir: String): DataFrame =
    spark.table(annViews(spark, dir).seeds)

  final case class VecIn(vec_id: Long, label: Int, embedding: Seq[Float])
  final case class VecAssigned(vec_id: Long, label: Int,
                               embedding: Seq[Float], bucket: Int,
                               seed_id: Long)

  /** Streaming index ingestion — the continuous form of [[appendIndex]]:
    * a stream of vectors is assigned against the FROZEN seed sample and
    * sign-LSH-bucketed per row, producing exactly the bucket-partitioned
    * index layout rows (`writeStream.partitionBy("bucket")` appends only
    * touched bucket directories). Stateless — assignment needs only the
    * broadcast K seeds, so there is no streaming state at all and the
    * operator scales to any ingest rate.
    *
    * Numeric parity: the dot product accumulates left-to-right over
    * float→double-widened elements and the bucket folds projections in
    * ascending-dimension order — the SAME association orders as the
    * `graft_dot` expression and [[bucketExpr]], so a replayed stream
    * lands rows BIT-IDENTICAL to the batch assignment (spec-pinned). */
  def streamingIndexIngest(vectors: Dataset[VecIn],
                           seeds: Seq[(Long, Seq[Float])],
                           nPlanes: Int = 8, dim: Int = 64): Dataset[VecAssigned] = {
    import vectors.sparkSession.implicits._
    val planes = hyperplanes(nPlanes, dim)
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0; var i = 0; val n = a.length
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }; acc
    }
    val sorted = seeds.sortBy(_._1)
    vectors.map { v =>
      // nearest frozen seed, ties to the lowest seed id (the batch
      // ROW_NUMBER's ORDER BY cos DESC, seed_id). Degenerate inputs
      // mirror the batch SQL exactly: a zero-norm vector makes every
      // cosine NULL (the NULLIF(norm, 0) guard), and DESC NULLS LAST
      // ordering then falls through to seed_id ASC — the LOWEST seed id
      // wins, never a -1 sentinel row in the index.
      var bestId = sorted.head._1
      var bestCos = Double.NegativeInfinity
      var any = false
      for ((sid, c) <- sorted) {
        val denom =
          math.sqrt(dot(v.embedding, v.embedding)) * math.sqrt(dot(c, c))
        if (denom > 0) {
          val cos = dot(v.embedding, c) / denom
          if (!any || cos > bestCos) { bestCos = cos; bestId = sid; any = true }
        }
      }
      if (!any) bestId = sorted.head._1
      // sign-LSH bucket with BucketExpr.compute's short-array guard: a
      // vector shorter than `dim` buckets to 0 (the SQL CASE-NULL path),
      // never to a partial-projection bucket that batch replay can't hit
      var bucket = 0
      if (v.embedding.length >= dim) {
        for ((w, p) <- planes.zipWithIndex) {
          var proj = 0.0; var i = 0
          while (i < dim) { proj += v.embedding(i).toDouble * w(i); i += 1 }
          if (proj >= 0) bucket |= (1 << p)
        }
      }
      VecAssigned(v.vec_id, v.label, v.embedding, bucket, bestId)
    }
  }

  def runBruteForce(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT * FROM ${bruteView(spark, dir)} ORDER BY query_id, rank")
  def runIvf(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT * FROM ${ivfView(spark, dir)} ORDER BY query_id, rank")
  def runIvfSeeded(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT * FROM ${seededView(spark, dir)} ORDER BY query_id, rank")
  /** Multi-probe seeded IVF (nProbe = 2) — the accuracy/cost knob entry. */
  def runIvfProbe(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT * FROM ${probeView(spark, dir)} ORDER BY query_id, rank")
  def runLsh(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT * FROM ${lshView(spark, dir)} ORDER BY query_id, rank")
  /** Brute-force over the int8-dequantized corpus. */
  def runQuantized(spark: SparkSession, dir: String): DataFrame =
    spark.sql(s"SELECT * FROM ${quantView(spark, dir)} ORDER BY query_id, rank")
  def runLshFold(spark: SparkSession, dir: String): DataFrame =
    spark.sql(lshFoldSql(embeddingsView(spark, dir)))
}
