package graft

import org.apache.spark.sql.SparkSession

/** Bounded memo cache for per-(session, dir) derived values.
  *
  * The memoization pattern (`EtlQueries.statsCache`,
  * `Pipeline.labelsCache`) is the production share-the-stats shape —
  * compute imputation stats / cluster labels once per input and let
  * every consumer reuse them — but an unbounded dir-keyed map has two
  * failure modes a long-lived service hits: entries bound to a stopped
  * SparkSession keep persisted RDDs registered forever, and a recreated
  * session reading the same dir would be handed a DataFrame whose plan
  * belongs to the dead session. Keys therefore include the owning
  * session's identity, and the map is a small insertion-order cache:
  * once `maxEntries` is exceeded the oldest entry is dropped and
  * `onEvict` runs (unpersist, for DataFrame values).
  *
  * [[Caches.clearAll]] drops every entry of every registered cache.
  * Bench calls it between reps so reps 2+ time query execution rather
  * than memo hits (within one rep, consumers still share — that is the
  * production once-per-crawl shape being measured).
  */
final class MemoCache[V](maxEntries: Int)(onEvict: V => Unit) {
  Caches.register(this)

  private val map = scala.collection.mutable.LinkedHashMap.empty[(Int, String), V]

  // identityHashCode, not sessionUUID: stable for the session object's
  // lifetime and needs no API beyond java.lang — a stopped session's
  // entries age out of the bounded map instead of pinning it
  private def key(spark: SparkSession, dir: String): (Int, String) =
    (System.identityHashCode(spark), dir)

  def getOrElseUpdate(spark: SparkSession, dir: String)(build: => V): V = {
    val k = key(spark, dir)
    synchronized(map.get(k)) match {
      case Some(v) => v
      case None =>
        val v = build // outside the lock — build runs Spark jobs
        synchronized {
          map.get(k) match {
            case Some(winner) => // lost a concurrent build race
              safeEvict(v); winner
            case None =>
              map.put(k, v)
              while (map.size > maxEntries) {
                val (ek, ev) = map.head
                map.remove(ek)
                safeEvict(ev)
              }
              v
          }
        }
    }
  }

  def clear(): Unit = synchronized {
    map.valuesIterator.foreach(safeEvict)
    map.clear()
  }

  def size: Int = synchronized(map.size)

  private def safeEvict(v: V): Unit =
    try onEvict(v) catch { case _: Throwable => () }
}

/** Registry of every [[MemoCache]] in the library, so one call can
  * reset memoization globally (Bench between reps; a test fixture
  * between suites). */
object Caches {
  private val all = new java.util.concurrent.CopyOnWriteArrayList[MemoCache[_]]
  private[graft] def register(c: MemoCache[_]): Unit = all.add(c)
  def clearAll(): Unit = all.forEach(_.clear())
}
