package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Per-SparkSession memo caches of DRIVER values, held WEAKLY by the
  * session itself.
  *
  * Modules memoize small values that reference no session — row
  * counts, elected band geometry, landed parquet paths, MMR picks — per
  * session. Relations and their view names never go here: a DataFrame
  * value pins its session key, so the entry could never be collected;
  * [[Materialize.view]] memoizes relations in the session's own
  * catalog instead. Keying these maps by `identityHashCode(session)`
  * pins the entries for the JVM
  * lifetime and can even alias a NEW session after the old one is
  * collected (identity hashes are reusable). A WeakHashMap keyed by the
  * session object itself makes a session's whole cache collectable the
  * moment the session is, and can never serve another session's state.
  */
object SessionCache {
  private val caches =
    new java.util.WeakHashMap[SparkSession, TrieMap[(String, Any), Any]]()

  private def forSession(spark: SparkSession): TrieMap[(String, Any), Any] =
    caches.synchronized {
      var m = caches.get(spark)
      if (m == null) { m = TrieMap.empty; caches.put(spark, m) }
      m
    }

  /** Memoize `value` under (namespace, key) for this session. Like
    * TrieMap.getOrElseUpdate, `value` may run more than once under a
    * race; exactly one result wins. */
  def getOrElseUpdate[V](spark: SparkSession, ns: String, key: Any)(value: => V): V =
    forSession(spark).getOrElseUpdate((ns, key), value).asInstanceOf[V]
}
