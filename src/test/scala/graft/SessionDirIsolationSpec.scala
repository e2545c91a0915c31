package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Two data dirs in one session must never share a memoized relation.
  * The second dir is the sf0.001 fixture with lineitem, events and
  * documents cut to about half their rows (key parity), so every entry
  * below yields different rows on it. Interleaving first dir, second
  * dir, first dir again must give the first dir its own rows back: a
  * memo that names its relation per dir, but lands it under a name
  * another dir also uses, serves the second dir's rows on the third
  * call. */
class SessionDirIsolationSpec extends SparkSpec {

  private lazy val halfDir: String = {
    val out = Files.createTempDirectory("graft_half_dir")
    val halved = Map(
      "lineitem" -> "l_orderkey % 2 = 0",
      "events" -> "event_id % 2 = 0",
      "documents" -> "doc_id % 2 = 0")
    graft.core.Tables.names.foreach { t =>
      val src = Paths.get(sfDir, s"$t.parquet")
      halved.get(t) match {
        case None => Files.copy(src, out.resolve(s"$t.parquet"))
        case Some(keep) =>
          // raw read: events.ts is TIMESTAMP(NANOS), which only reads
          // as a long; Tables.load restores the timestamp on either dir
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.parquet(src.toString).where(keep).coalesce(1)
            .write.parquet(out.resolve(s"$t.parquet").toString)
      }
    }
    out.toString
  }

  override def afterAll(): Unit = {
    if (Files.exists(Paths.get(halfDir)))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(halfDir))
    super.afterAll()
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val entries: Seq[(String, String => DataFrame)] = Seq(
    "test prevalence" -> (d => graft.scoring.Scoring.runTestPrevalence(spark, d)),
    "score rollup" -> (d => graft.scoring.Scoring.runScoreRollup(spark, d)),
    "funnel (table view)" -> (d => graft.streaming.EventAnalytics.runFunnel(spark, d)),
    "minhash (checkpoint landing)" -> (d => graft.pipeline.Dedup.runMinhash(spark, d)))

  test("interleaved dirs in one session each read their own memoized relations") {
    val first = entries.map { case (n, f) => n -> rows(f(sfDir)) }
    val second = entries.map { case (n, f) => n -> rows(f(halfDir)) }
    val third = entries.map { case (n, f) => n -> rows(f(sfDir)) }
    for (((n, a), ((_, b), (_, c))) <- first.zip(second.zip(third))) {
      assert(a.nonEmpty, s"$n: empty on the fixture")
      assert(b !== a, s"$n: the halved dir gave the fixture's rows")
      assert(c === a, s"$n: the fixture's third call served another dir's rows")
    }
  }
}
