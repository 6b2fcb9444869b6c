package graft

import org.apache.spark.sql.SparkSession

/** Per-session memo for fixture / shared-ETL DataFrames.
  *
  * A bare `ConcurrentHashMap[SparkSession, V]` retains every stopped
  * session (and whatever the value pins — persisted fixture DFs, their
  * cached blocks' metadata) for the life of the JVM; across many
  * short-lived sessions that is an unbounded leak shape even when each
  * value is small. This wrapper sweeps entries whose session's
  * SparkContext is stopped on EVERY access, so at most the live
  * sessions' values are retained.
  *
  * Sweep-then-compute keeps the hot path cheap: the sweep is O(live +
  * stopped) over a map that in practice holds 1–2 entries, and
  * `computeIfAbsent` keeps the one-initialization-per-session guarantee
  * (the per-key lock semantics of ConcurrentHashMap).
  */
final class SessionCache[V] {
  private val m = new java.util.concurrent.ConcurrentHashMap[SparkSession, V]()

  def get(s: SparkSession, f: SparkSession => V): V = {
    val it = m.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    m.computeIfAbsent(s, (s2: SparkSession) => f(s2))
  }
}
