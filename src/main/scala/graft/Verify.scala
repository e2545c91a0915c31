package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: names after outDir restrict the dump to those queries
    val only = args.drop(2).toSet
    val spark = graft.core.Sessions.create()
    new java.io.File(outDir).mkdirs()
    var nDumped = 0
    val failed = Seq.newBuilder[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // no retry: an entry that fails once fails the run
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        nDumped += 1
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // One-line dump summary as the LAST stdout line (VERDICT r14 #1):
    // the driver's ~2 KB stdout tail capture needs a parseable record of
    // what this run produced even when per-entry logs scroll past it.
    val failedNames = failed.result()
    println(
      s"""{"metric":"verify_dump","n_queries":${nDumped + failedNames.size},"n_dumped":$nDumped,"n_failed":${failedNames.size},"failed":${failedNames.map(q).mkString("[", ",", "]")},"out":"$outDir"}""")
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
