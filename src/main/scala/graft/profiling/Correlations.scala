package graft.profiling

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.oracle.{Dialect, DuckDialect, SparkDialect}

/** Pairwise Pearson correlation over a table's numeric columns — the
  * profiling depth-pass that surfaces redundant measures and derived
  * columns (|r| → 1) before anyone joins or models on them.
  *
  * Cross-engine determinism: the built-in CORR aggregate accumulates
  * co-moments in partition order — unstable across engines AND across
  * runs. Here every input is scaled to an exact hundredth
  * (`ROUND(col·100)` — one identical double op per row) and cast to
  * DECIMAL(18,0); all five sufficient statistics (Σx, Σy, Σx², Σy²,
  * Σxy) are EXACT decimal sums, so no accumulation order exists, and r
  * is derived from them in a fixed double-arithmetic expression.
  *
  * Scale shape: ONE scan computes every pair's statistics as ordinary
  * partial-mergeable aggregates (map-side combine); the result is
  * pairs²-sized metadata. The same sufficient-statistics trick is how
  * a 100 TB profile computes its whole correlation matrix in the
  * existing profiling pass rather than one CORR job per pair. */
object Correlations {

  val Table = "lineitem"
  val Cols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def sql(table: String, cols: Seq[String] = Cols)(d: Dialect): String = {
    def c100(c: String) = s"CAST(ROUND($c * 100) AS DECIMAL(18, 0))"
    val singles = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(s"SUM(${c100(c)}) AS sx_$i",
        s"SUM(${c100(c)} * ${c100(c)}) AS ss_$i")
    }
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (i, j)
    val prods = pairs.map { case (i, j) =>
      s"SUM(${c100(cols(i))} * ${c100(cols(j))}) AS sp_${i}_$j"
    }
    val agg =
      s"""SELECT COUNT(*) AS n, ${(singles ++ prods).mkString(",\n       ")}
         |  FROM $table""".stripMargin
    def dbl(x: String) = s"CAST($x AS DOUBLE)"
    val rows = pairs.map { case (i, j) =>
      val (num, dx, dy) = (
        s"(${dbl("n")} * ${dbl(s"sp_${i}_$j")} - ${dbl(s"sx_$i")} * ${dbl(s"sx_$j")})",
        s"SQRT(${dbl("n")} * ${dbl(s"ss_$i")} - ${dbl(s"sx_$i")} * ${dbl(s"sx_$i")})",
        s"SQRT(${dbl("n")} * ${dbl(s"ss_$j")} - ${dbl(s"sx_$j")} * ${dbl(s"sx_$j")})")
      s"""SELECT '${cols(i)}' AS col_x, '${cols(j)}' AS col_y,
         |       CAST(n AS BIGINT) AS n,
         |       CAST(ROUND($num / NULLIF($dx * $dy, 0), 6) AS DOUBLE) AS r
         |  FROM corr_agg""".stripMargin
    }
    s"""WITH corr_agg AS (
       |$agg
       |)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY col_x, col_y""".stripMargin
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(sql(graft.core.Tables.view(spark, dir, Table, parallelize = false))(SparkDialect))
  }

  def duckSql(): String = sql(Table)(DuckDialect)
}
