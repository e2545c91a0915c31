package graft.generation

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Test-definition validation — the reference's pre-execution pass that
  * collects every (table, column) a test references, fetches the actual
  * identifiers from the target catalog, and deactivates tests that
  * reference missing objects (reference:
  * testgen/commands/run_test_validation.py:13-60,
  * testgen/template/execution/disable_invalid_test_definitions.sql;
  * flavor get_target_identifiers.sql becomes a broadcast join against
  * the parquet-footer catalog — no query).
  */
object TestValidation {

  /** The live catalog as a (table_name, column_name) relation. */
  def catalog(spark: SparkSession, dir: String): DataFrame = {
    val rows = for {
      t <- graft.core.Tables.names
      f <- graft.core.Tables.load(spark, dir, t, parallelize = false).schema.fields.toSeq
    } yield Row(t, f.name)
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("cat_table", StringType), StructField("cat_column", StringType))))
  }

  /** Annotate definitions with validation status; tests referencing a
    * missing table or column become inactive with a message, everything
    * else stays active — the reference's disable-don't-delete semantics.
    * The catalog is metadata-sized, so it folds into literal predicates
    * (the broadcast-join limit case): the definitions never shuffle. */
  def validate(defs: DataFrame, cat: DataFrame): DataFrame = {
    val entries = cat.collect().map(r => (r.getString(0), r.getString(1)))
    val tables = entries.map(_._1).distinct.toSeq
    val columns = entries.map { case (t, c) => s"$t.$c" }.toSeq
    defs
      .withColumn("validation_message",
        when(!col("table_name").isin(tables: _*),
          concat(lit("Table not found: "), col("table_name")))
          .when(!concat(col("table_name"), lit("."), col("column_name"))
            .isin(columns: _*),
            concat(lit("Column not found: "), col("table_name"),
              lit("."), col("column_name"))))
      .withColumn("is_active", col("validation_message").isNull)
  }

  def run(spark: SparkSession, dir: String): DataFrame =
    validate(TestGenerator.run(spark, dir), catalog(spark, dir))

  /** Two definitions that reference missing objects — appended in BOTH
    * engines so the disable-don't-delete path is oracle-exercised. */
  private val poison = Seq(
    ("Row_Ct", "ghost_table", "x"),
    ("Unique", "orders", "ghost_col"))

  /** Query entry: generated definitions + the two poisoned ones,
    * validated against the live catalog. Real definitions stay active;
    * the poisoned rows carry Table-not-found / Column-not-found
    * messages and deactivate. */
  def runChecked(spark: SparkSession, dir: String): DataFrame = {
    // generated definitions are STORED artifacts (the reference lands
    // them in test_definitions and validates the stored set, not a
    // fresh generation per validation pass) — generate once per
    // (session, dir), checkpoint, and validate the landed set
    val defs = spark.table(graft.core.Materialize.view(spark, "gendefs", dir,
      graft.core.Materialize.Checkpoint)(TestGenerator.run(spark, dir)))
    val rows = poison.map { case (tt, t, c) =>
      Row.fromSeq(Seq(tt, t, c) ++ Seq.fill(defs.schema.length - 3)(null))
    }
    val poisoned = defs.unionByName(
      spark.createDataFrame(rows.asJava, defs.schema))
    validate(poisoned, catalog(spark, dir))
      .orderBy("test_type", "table_name", "column_name")
  }

  /** DuckDB oracle: the same union validated against the live
    * information_schema catalog. */
  def duckSql(): String = {
    val names = graft.core.Tables.names.map(n => s"'$n'").mkString(", ")
    val nullTail = Seq("CAST(NULL AS DOUBLE)", "CAST(NULL AS VARCHAR)") ++
      Seq.fill(7)("CAST(NULL AS DOUBLE)")
    val poisonSelects = poison.map { case (tt, t, c) =>
      s"SELECT '$tt', '$t', '$c', ${nullTail.mkString(", ")}"
    }
    s"""WITH defs AS (${TestGenerator.duckSql()}),
       |all_defs AS (
       |  SELECT * FROM defs
       |  UNION ALL
       |  ${poisonSelects.mkString("\n  UNION ALL\n  ")}
       |),
       |cat AS (SELECT DISTINCT table_name AS cat_table, column_name AS cat_column
       |          FROM information_schema.columns
       |         WHERE table_name IN ($names)),
       |annotated AS (
       |  SELECT a.*,
       |         CASE WHEN tb.cat_table IS NULL
       |                THEN 'Table not found: ' || a.table_name
       |              WHEN a.column_name IS NOT NULL AND c.cat_column IS NULL
       |                THEN 'Column not found: ' || a.table_name || '.' || a.column_name
       |         END AS validation_message
       |    FROM all_defs a
       |    LEFT JOIN (SELECT DISTINCT cat_table FROM cat) tb
       |      ON a.table_name = tb.cat_table
       |    LEFT JOIN cat c
       |      ON a.table_name = c.cat_table AND a.column_name = c.cat_column
       |)
       |SELECT *, validation_message IS NULL AS is_active FROM annotated
       |ORDER BY test_type, table_name, column_name""".stripMargin
  }
}
