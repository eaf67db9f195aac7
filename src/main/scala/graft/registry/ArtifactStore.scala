package graft
package registry

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Memo for session-scoped artifacts (built index, ANN layouts, pair
  * lists, table lifecycles), keyed by (session, sf dir, artifact name).
  * A `spark.newSession()` is a different key, so it sees a cold store.
  *
  * NOT a WeakHashMap: a cached DataFrame strongly references its own
  * SparkSession, and a WeakHashMap value that refers to its key pins
  * the entry forever (its javadoc's documented trap). Eviction instead
  * drops entries whose SparkContext has stopped, checked on every
  * access.
  */
private[graft] object ArtifactStore {
  private val m = new ConcurrentHashMap[(SparkSession, String, String), Any]()

  def getOrElseUpdate[V](s: SparkSession, dir: String, name: String,
                         build: => V): V = {
    val it = m.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    val k = (s, dir, name)
    val existing = m.get(k)
    if (existing != null) existing.asInstanceOf[V]
    else {
      // build OUTSIDE the map's bin lock: these builds run minutes of
      // Spark jobs, and computeIfAbsent would block every other key
      // hashing to the bin for the duration. A racing duplicate build
      // is possible (same as TrieMap.getOrElseUpdate) and harmless —
      // first writer wins, the loser's artifact is just dropped.
      val v = build
      val prev = m.putIfAbsent(k, v)
      (if (prev != null) prev else v).asInstanceOf[V]
    }
  }
}
