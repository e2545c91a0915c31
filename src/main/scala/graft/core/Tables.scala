package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Parquet table loading for the driver testdata layout
  * (`/root/testdata/sf0.01/NAME.parquet`) and for user-supplied directories.
  *
  * The reference introspects `information_schema.columns` per flavor
  * (reference: testgen/template/flavors/postgresql/data_chars/get_schema_ddf.sql:48-52);
  * on Spark the parquet footer IS the schema, so "introspection" is just
  * `df.schema` — no query, no flavor layer.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Engine-owned perf confs, applied by OUR mains (Verify/Bench/Runner)
    * and test sessions — never as a side effect on a user's session.
    * LOWER/UPPER default to ICU case mapping on Spark 4, which costs a
    * per-row ICU call in every profiling aggregate; JVM case mapping is
    * identical for the ASCII fixtures (and UTF8String keeps its ASCII
    * fast path either way). On a user session with non-ASCII data the
    * default ICU semantics stay untouched. */
  def tunePerf(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    // SparkDialect.dotProduct renders graft_dot and the LSH paths render
    // graft_bucket — make both resolvable on every session that runs
    // engine SQL (idempotent)
    graft.functions.DotExpr.register(spark)
    graft.functions.BucketExpr.register(spark)
    spark
  }

  private val RebalanceTaskBytes = 128L << 10

  /** The table's relation, read through its [[view]]. */
  def load(spark: SparkSession, dir: String, name: String,
           parallelize: Boolean = true): DataFrame =
    spark.table(view(spark, dir, name, parallelize))

  /** The view name of table `name` in `dir`, registered once per
    * (session, dir, table, parallelize).
    *
    * @param parallelize rebalance an under-parallel input (single
    *   row-group file) across the cluster. Worth a shuffle of the raw
    *   table ONLY for heavy per-row work downstream (profiling's regex
    *   aggregates, shingling, signature hashing); for cheap aggregates
    *   (sums/counts/groupBys) the map-side partial aggregation on the raw
    *   scan beats paying the exchange, so those consumers pass false.
    *   Real multi-file inputs are untouched either way. */
  def view(spark: SparkSession, dir: String, name: String,
           parallelize: Boolean = true): String =
    // The RELATION (a lazy plan, not data) is memoized: every entry
    // loads its tables before running SQL, and rebuilding the DataSource
    // each time re-lists the path and re-reads the parquet footer on the
    // DRIVER per entry per pass (guide §6: file listing is driver-side,
    // single-process work worth caching —
    // `filesourcePartitionFileCacheSize` exists for exactly this). Every
    // action over the memoized plan still scans the parquet; nothing is
    // materialized.
    Materialize.view(spark, "table", (dir, name, parallelize)) {
      // belt-and-braces: every engine entry loads a table before running
      // SQL, so the native functions resolve even on a session that
      // skipped tunePerf
      graft.functions.DotExpr.register(spark)
      graft.functions.BucketExpr.register(spark)
      // Some driver parquet (events.ts) is TIMESTAMP(NANOS), which Spark's
      // vectorized reader rejects outright. Read nanos as long and restore a
      // (microsecond) timestamp column — set lazily so it also applies when
      // the driver supplies its own SparkSession.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      val typed = schemas.get(name).fold(df) { want =>
        want.fields.foldLeft(df) { (acc, f) =>
          (f.dataType, acc.schema(f.name).dataType) match {
            case (TimestampType, LongType) =>
              acc.withColumn(f.name, expr(s"timestamp_micros(${f.name} div 1000)"))
            case _ => acc
          }
        }
      }
      // Parquet parallelism is row-group-bounded: a file with one row group
      // is ONE scan task no matter how many cores exist, serializing every
      // downstream per-row computation. Real deployments have many files /
      // row groups so the scan parallelizes for free; this guard only
      // rebalances under-parallel inputs (like the single-row-group driver
      // fixtures) up to the cluster's parallelism. The partition-count
      // probe costs a physical-planning pass, paid once with the relation.
      val parallelism = spark.sparkContext.defaultParallelism
      lazy val under = typed.rdd.getNumPartitions < math.min(4, parallelism)
      // Scale-adaptive rebalance WIDTH (guide §2.2; VERDICT r14 #7): a
      // fixed repartition(defaultParallelism) split sub-MB fixtures 32
      // ways, and the landed relations derived from them carried those
      // micro-partitions into every consumer stage — the 8-core bench
      // beat the 32-core bench end-to-end on per-task fixed costs. The
      // width now derives from the input's on-disk size (deterministic,
      // driver-side, memoized with the relation): one task per
      // RebalanceTaskBytes of compressed input (128 KB — sized
      // so the heavy per-row text work behind this guard keeps tasks in
      // the tens-of-ms range), capped by cluster parallelism. On a real
      // multi-row-group input `under` is false and none of this runs;
      // on a large single-row-group file the byte count exceeds the
      // cap and the width is the full parallelism, as before.
      if (parallelize && under) {
        val bytes = try {
          val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(p).getLength
        } catch { case _: Exception => Long.MaxValue }
        val n = math.min(parallelism.toLong, bytes / RebalanceTaskBytes + 1).toInt.max(1)
        // n == 1 means the input is smaller than one task's worth: its
        // natural single-partition scan IS the right layout — adding a
        // repartition(1) would be a pure-cost exchange (and a false
        // single-partition-serialization signal in plan tripwires).
        if (n > 1) typed.repartition(n) else typed
      } else typed
    }

  /** Static schemas of the driver testdata (TESTDATA.md / FIXTURES.md §1).
    * Needed because `SparkEntry.oracleSql` is assembled without a live
    * SparkSession; kept in lockstep with the parquet footers. */
  val schemas: Map[String, StructType] = {
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    Map(
      "region" -> st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> st("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      "lineitem" -> st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType),
      "events" -> st("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> st("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> st("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
    )
  }

  /** Register every table in `dir` as a temp view so `spark.sql` works.
    * Registered views default to the raw (un-repartitioned) scan: their
    * consumers are SQL aggregates/joins where map-side partial
    * aggregation on the scan beats paying an exchange first. */
  def registerAll(spark: SparkSession, dir: String,
                  parallelize: Boolean = false): Unit =
    names.foreach { n =>
      load(spark, dir, n, parallelize).createOrReplaceTempView(n)
    }
}
