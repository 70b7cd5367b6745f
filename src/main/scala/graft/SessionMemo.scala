package graft

import org.apache.spark.sql.SparkSession

/** A memo of values derived within one Spark session: the value for
  * (session, key) is computed once, also when threads ask for it at the
  * same time (a second caller waits for the first one's result instead
  * of computing beside it). Keyed by sessionUUID (globally unique —
  * identityHashCode could collide and alias sessions); entries whose
  * session has stopped are evicted on every access, so the map stays
  * bounded by the number of LIVE sessions. A computation that throws
  * leaves nothing behind, and the next access retries it. */
private[graft] final class SessionMemo[K, V] {
  private final class Once(compute: => V) { lazy val value: V = compute }

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, K), (SparkSession, Once)]

  def apply(s: SparkSession, key: K)(compute: => V): V = {
    entries.filterInPlace((_, v) => !v._1.sparkContext.isStopped)
    // getOrElseUpdate may build a losing Once in a racing thread, but
    // every caller gets the one that was inserted; its lazy val runs
    // the computation at most once.
    entries.getOrElseUpdate(
      (org.apache.spark.sql.GraftBridge.sessionUUID(s), key),
      (s, new Once(compute)))._2.value
  }
}
