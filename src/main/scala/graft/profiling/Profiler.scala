package graft.profiling

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType, StringType}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Single-pass-per-class table profiler, and the one kernel that turns
  * a metric entry list into Spark jobs ([[measure]]; the exact profile
  * here, [[SampledProfiler]] and [[ApproxProfiler]] all run through it).
  *
  * The reference profiles one column per query — an N-column table is
  * scanned N+ times (reference: testgen/commands/run_profiling.py:179-184).
  * Here the full metric set of ALL columns is computed in three bounded
  * jobs per relation, each shaped for Spark's execution model:
  *
  *  1. **Scalar job** — every non-distinct aggregate (counts, sums, votes,
  *     min/max/avg/stddev, regex classifiers) for every column, with no
  *     DISTINCT ⇒ no Expand ⇒ the plan stays a two-phase partial
  *     HashAggregate inside whole-stage codegen, and the shuffle carries a
  *     single partial-state row per partition. The columns are CHUNKED
  *     into bounded groups of expressions ([[ChunkExprs]]), each chunk its
  *     own concurrent job: codegen/JIT compile time grows superlinearly
  *     with the generated class size (a fused 160-expression aggregate
  *     costs ~9s to compile vs <1s to execute at sf0.1), while parquet's
  *     columnar layout means the chunks read DISJOINT column subsets —
  *     total I/O stays one full scan regardless of chunk count.
  *  2. **Distinct job** — every COUNT(DISTINCT expr) re-expressed as an
  *     unpivot (`stack`) to (metric_id, value) rows followed by two
  *     group-bys: (id, value) — map-side combine collapses duplicates
  *     before the exchange — then (id) counting groups. This is the plan
  *     that survives 100 TB: per-key partial dedup instead of Spark's
  *     Expand-based multi-distinct (which multiplies the scan rows by the
  *     number of distinct aggregates and shuffles complex grouping keys).
  *  3. **Percentile job** — exact interpolated percentiles over numeric
  *     columns only (ObjectHashAggregate; kept out of job 1 so job 1 stays
  *     codegen).
  *
  * An entry list with no distinct or percentile entries (the sketch
  * profile) is therefore one scalar statement. The results are
  * metadata-sized (one row or one row per metric); they are collected
  * and assembled into the final per-column rows on the driver — no
  * joins, no unions of wide aggregate plans. Results are memoized per
  * (session, dir, table): profiling feeds many downstream queries
  * (inference, hygiene, generation, scoring) which share one pass,
  * mirroring the reference's profile_results app-DB table.
  */
object Profiler {

  /** DuckDB oracle: the same metrics as per-column aggregate SELECTs
    * UNION ALL'd (the oracle may scan N times; only the engine needs the
    * fusion). */
  def duckSqlBody(table: String, schema: StructType): String = {
    val d: Dialect = DuckDialect
    val selects = schema.fields.zipWithIndex.map { case (f, i) =>
      val ms = ProfileMetrics.forColumn(f.name, i + 1, f.dataType)
      val items = ms.map(m => s"${m.render(d)} AS ${m.name}").mkString(",\n  ")
      s"SELECT '${f.name}' AS column_name,\n  $items\nFROM $table"
    }
    selects.mkString("\nUNION ALL\n")
  }

  def duckSql(table: String, schema: StructType): String =
    duckSqlBody(table, schema) + "\nORDER BY column_name"

  /** Profiling mode gate — the Spark analogue of the reference's
    * profiling sampling gate (`profiling_query.py:22-53`):
    * `GRAFT_PROFILE_MODE=approx` swaps the Runner's profile stage to
    * the [[ApproxProfiler]] sketch pass — the one-scan, no-value-
    * shuffle shape that holds at 100 TB, where the exact distinct
    * job's distinct-value shuffle is the only super-linear cost left.
    *
    * Scoped to callers that OPT IN (the Runner profile stage passes
    * `mode = defaultMode` explicitly): the approx pass emits a
    * narrower per-column schema than the exact profile, so consumers
    * that read exact-only metrics (FreqProfiler's length stats, the
    * functional-type cascade, the `profile_*` oracle entries whose
    * DuckDB SQL is the exact form) must never be silently routed
    * through it by an ambient env var — `profile`'s default therefore
    * stays `"exact"` regardless of the environment. */
  def defaultMode: String = sys.env.getOrElse("GRAFT_PROFILE_MODE", "exact")

  /** Most scalar aggregate expressions fused into one job. */
  private val ChunkExprs = 96

  /** Packs per-column expression lists, in order and never splitting a
    * column, into chunks of at most [[ChunkExprs]] expressions (a column
    * with more than that gets a chunk of its own). */
  private def chunked(perCol: Seq[Seq[String]]): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    var cur = Seq.empty[String]
    perCol.filter(_.nonEmpty).foreach { sel =>
      if (cur.nonEmpty && cur.length + sel.length > ChunkExprs) {
        out += cur; cur = Seq.empty
      }
      cur = cur ++ sel
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }

  /** Execute (memoized per session) the three-job profile for one table.
    * `mode = "approx"` (explicit opt-in — see [[defaultMode]]) routes
    * to the sketch profiler — note the narrower per-column schema
    * documented on [[ApproxProfiler.profile]]. */
  def profile(spark: SparkSession, dir: String, table: String,
              mode: String = "exact"): DataFrame =
    if (mode == "approx")
      ApproxProfiler.profile(spark, dir, table)
    else spark.table(graft.core.Materialize.view(spark, "profile", (dir, table))(
      compute(spark, dir, table)))

  private def compute(spark: SparkSession, dir: String, table: String): DataFrame = {
    val view = graft.core.Tables.view(spark, dir, table)
    val fields = spark.table(view).schema.fields.toSeq
    val perCol: Seq[(Int, Seq[MetricEntry])] = fields.zipWithIndex.map { case (f, i) =>
      i -> ProfileMetrics.entries(f.name, i + 1, f.dataType)
    }
    val vals = measure(spark, view, perCol)
    val schema = StructType(
      StructField("column_name", StringType) +:
        perCol.head._2.map(e => StructField(e.name, ProfileMetrics.sparkType(e.tpe))))
    val rows = fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) =>
      Row.fromSeq(f.name +: perCol(i)._2.map(e => vals((i, e.name))))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Runs every (column index, entries) of `perCol` over the relation
    * `rel` as the three jobs above, concurrently, and returns each
    * entry's value by (column index, entry name): a [[ConstM]]'s value,
    * null for an entry that does not apply, 0 for a distinct count with
    * no non-null value. */
  private[profiling] def measure(spark: SparkSession, rel: String,
                                 perCol: Seq[(Int, Seq[MetricEntry])]): Map[(Int, String), Any] = {
    val d: Dialect = SparkDialect
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    // Bounded leaf-action pool (graft.core.Pools): the all-tables cascade
    // would otherwise fan out ~40 concurrent jobs and thrash the scheduler.
    implicit val ec: scala.concurrent.ExecutionContext = graft.core.Pools.actions

    // Job 1: scalar chunks.
    val scalarChunks: Seq[Seq[String]] = chunked(perCol.map { case (i, es) =>
      es.collect { case s: ScalarM if s.applies => s }
        .map(e => s"${e.expr(d)} AS v_${i}_${e.name}")
    })
    val scalarFut: Future[Map[String, Any]] = Future.sequence(
      scalarChunks.map { sel =>
        Future {
          val row = spark.sql(s"SELECT ${sel.mkString(",\n  ")} FROM $rel").collect()(0)
          row.schema.fieldNames.zipWithIndex
            .map { case (n, j) => n -> row.get(j) }.toMap
        }
      }).map(_.foldLeft(Map.empty[String, Any])(_ ++ _))

    // Job 2: distinct counts via unpivot + two-phase group-by.
    val dspecs: Seq[(Int, DistinctM)] = for {
      (i, es) <- perCol
      e <- es.collect { case x: DistinctM if x.applies => x }
    } yield (i, e)
    val kidOf: Map[(Int, String), Int] =
      dspecs.zipWithIndex.map { case ((i, e), kid) => (i, e.name) -> kid }.toMap
    val dmapFut: Future[Map[Int, Long]] =
      if (dspecs.isEmpty) Future.successful(Map.empty)
      else Future {
        val nullS = "CAST(NULL AS STRING)"
        val nullN = "CAST(NULL AS DOUBLE)"
        val nullI = "CAST(NULL AS BIGINT)"
        val stackArgs = dspecs.zipWithIndex.map { case ((_, e), kid) =>
          val inner = e.inner(d)
          e.cls match {
            case "S" => s"$kid, $inner, $nullN, $nullI"
            case "T" => s"$kid, CAST($inner AS STRING), $nullN, $nullI"
            case "D" => s"$kid, $nullS, " +
              s"CAST(UNIX_MICROS(CAST($inner AS TIMESTAMP)) AS DOUBLE), $nullI"
            // exact slot: integral values never round-trip through DOUBLE
            case "I" => s"$kid, $nullS, $nullN, CAST($inner AS BIGINT)"
            case _   => s"$kid, $nullS, CAST($inner AS DOUBLE), $nullI"
          }
        }
        val sql =
          s"""SELECT kid, COUNT(*) AS ct FROM (
             |  SELECT kid, sv, nv, iv FROM (
             |    SELECT stack(${stackArgs.length}, ${stackArgs.mkString(",\n      ")})
             |           AS (kid, sv, nv, iv) FROM $rel
             |  ) WHERE sv IS NOT NULL OR nv IS NOT NULL OR iv IS NOT NULL
             |  GROUP BY kid, sv, nv, iv
             |) GROUP BY kid""".stripMargin
        spark.sql(sql).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
      }

    // Job 3: exact percentiles per numeric column (one array call each).
    val pctCols: Seq[(Int, Seq[PctM])] = perCol.collect {
      case (i, es) if es.exists { case p: PctM => p.applies; case _ => false } =>
        i -> es.collect { case p: PctM if p.applies => p }
    }
    val pctFut: Future[Map[(Int, String), Any]] =
      if (pctCols.isEmpty) Future.successful(Map.empty)
      else Future {
        val sel = pctCols.map { case (i, ps) =>
          val qs = ps.map(_.q).mkString(", ")
          val input = ps.head.input(d)
          s"transform(percentile($input, array($qs)), x -> CAST(ROUND(x, 4) AS DOUBLE)) AS p_$i"
        }
        val row = spark.sql(s"SELECT ${sel.mkString(", ")} FROM $rel").collect()(0)
        pctCols.flatMap { case (i, ps) =>
          val arr = row.getAs[scala.collection.Seq[Any]](s"p_$i")
          ps.zipWithIndex.map { case (p, j) =>
            (i, p.name) -> (if (arr == null) null else arr(j))
          }
        }.toMap
      }

    val scalarVals = Await.result(scalarFut, Duration.Inf)
    val dmap = Await.result(dmapFut, Duration.Inf)
    val pctVals = Await.result(pctFut, Duration.Inf)
    perCol.flatMap { case (i, es) =>
      es.map { e =>
        (i, e.name) -> (e match {
          case c: ConstM => c.value
          case x if !x.applies => null
          case s: ScalarM => scalarVals(s"v_${i}_${s.name}")
          case dm: DistinctM => dmap.getOrElse(kidOf((i, dm.name)), 0L)
          case p: PctM => pctVals.getOrElse((i, p.name), null)
        })
      }
    }.toMap
  }
}
