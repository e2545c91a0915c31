package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of engine relation names, memos and landings.
  *
  * Every relation the engine shares between SQL statements is a session
  * temp view, and this object is the only code that registers one
  * (`Tables.registerAll`'s bare oracle names aside; `scripts/gate.sh`
  * enforces it). The contract:
  *
  *  - [[view]] is the memo. A shared relation is identified by a
  *    namespace and a key (usually the data dir, plus whatever else
  *    changes its rows). The view name is a digest of both, so a
  *    different key always gets a different name, and the session's
  *    catalog is the memo: the body runs once per (session, ns, key) and
  *    every later call returns the same name. Nothing outside the
  *    session holds the relation, so it is collected with the session.
  *  - [[sql]] is for derived frames that are not memoized: it registers
  *    its inputs under fresh names, analyzes the statement, and drops the
  *    names again (PySpark's `spark.sql(query, **kwargs)` does the same).
  *    The analyzed plan no longer needs the names, and a dropped name
  *    pins no checkpoint.
  *  - [[Form]] says how a memoized relation is held: the lazy [[Plan]],
  *    a distributed [[Checkpoint]], or a capped [[Local]] relation.
  *
  * Metadata-sized relations (one row per column / per test / per
  * source) land [[Local]]: every consumer sees a LocalTableScan — zero
  * scan, truncated plan. The "metadata-sized" claim is ENFORCED here,
  * not assumed (guide §5: the driver should do almost no data work): the
  * collect is capped, and a relation that outgrows the cap falls back to
  * a distributed `localCheckpoint` — same reuse semantics for consumers,
  * no unbounded driver collect.
  */
object Materialize {

  /** Default row cap for a driver-side LocalRelation. Every relation
    * landed this way is a few hundred rows at any SF (one row per
    * column / per test type / per source); the cap is ~3 orders of
    * magnitude above that and well inside driver heap for the narrow
    * schemas involved. */
  val DefaultCap = 1000000

  /** How [[view]] holds a memoized relation. */
  sealed trait Form
  /** The lazy plan: every read re-runs it (a table scan, a cheap rewrite). */
  case object Plan extends Form
  /** An eager distributed `localCheckpoint`: read many times, computed once. */
  case object Checkpoint extends Form
  /** A driver LocalRelation when it has at most `cap` rows (with a stderr
    * note — a metadata-sized relation crossing the cap is a modeling
    * surprise worth surfacing, not an error), else a [[Checkpoint]]. */
  final case class Local(cap: Int = DefaultCap) extends Form

  /** The memoized relation `body` under (ns, key), registered once per
    * session in the given form. Returns its view name. `ns` must be an
    * identifier fragment; `key` is any value with a stable `toString`
    * (strings, numbers, tuples of them). */
  def view(spark: SparkSession, ns: String, key: Any, form: Form = Plan)(
      body: => DataFrame): String = {
    val name = s"__graft_${ns}_${digest(canonical(key))}"
    val catalog = sessionCatalog(spark)
    if (catalog.getTempView(name).isEmpty) {
      val lock = locks.computeIfAbsent(name, _ => new Object)
      lock.synchronized {
        // dropped once landed (the view, registered first, is the memo
        // every later caller checks), so the map holds only landings in
        // flight; a waiter still on this lock re-checks the catalog
        try if (catalog.getTempView(name).isEmpty) land(spark, body, form, name)
        finally locks.remove(name, lock)
      }
    }
    name
  }

  /** Whether a landing of view `name` holds a lock right now. */
  private[graft] def lockHeld(name: String): Boolean = locks.containsKey(name)

  /** `render` over fresh names for `dfs`, analyzed, with the names
    * dropped again: a one-off statement over derived frames. */
  def sql(spark: SparkSession, dfs: DataFrame*)(render: Seq[String] => String): DataFrame = {
    val names = dfs.map { df =>
      val n = s"__graft_arg_${fresh.incrementAndGet()}"
      df.createOrReplaceTempView(n)
      n
    }
    // dropped through the session catalog, not spark.catalog, which
    // would also uncache a caller's cached input
    try spark.sql(render(names)) finally names.foreach(sessionCatalog(spark).dropTempView)
  }

  private def land(spark: SparkSession, df: DataFrame, form: Form, name: String): Unit =
    form match {
      case Plan => df.createOrReplaceTempView(name)
      case Checkpoint => df.localCheckpoint(eager = true).createOrReplaceTempView(name)
      case Local(cap) =>
        // one probe action: all rows when under the cap, cap+1 as the
        // tripwire signal otherwise
        val probe = df.limit(cap + 1).collect()
        if (probe.length > cap) {
          System.err.println(
            s"[graft] $name exceeded the $cap-row LocalRelation cap; " +
              "falling back to a distributed localCheckpoint")
          land(spark, df, Checkpoint, name)
        } else {
          spark.createDataFrame(java.util.Arrays.asList(probe: _*), df.schema)
            .createOrReplaceTempView(name)
        }
    }

  private def sessionCatalog(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog

  // One lock per view name in flight, so a relation two threads ask for
  // at once lands once. Nested landings take their dependencies' locks,
  // which form a DAG, so the locks cannot deadlock.
  private val locks = new ConcurrentHashMap[String, Object]()
  private val fresh = new AtomicLong()

  /** Length-prefixed strings, so no two distinct keys render alike. */
  private def canonical(key: Any): String = key match {
    case s: String => s"${s.length}:$s"
    case i: Iterable[_] => i.map(canonical).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(canonical).mkString("(", ",", ")")
    case other => String.valueOf(other)
  }

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
}
