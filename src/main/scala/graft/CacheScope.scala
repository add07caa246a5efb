package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset

/** Ownership of query-internal DataFrame caches.
  *
  * Why this exists: `Dataset.unpersist()` is the only public API that evicts
  * BOTH the storage blocks and the session CacheManager entry. The
  * RDD-level sweep (`sc.getPersistentRDDs.values.foreach(_.unpersist)`)
  * Bench/Verify used through round 4 drops blocks but leaves the
  * CacheManager's logical-plan → InMemoryRelation mapping registered, and
  * that stale entry silently rewrites the NEXT query whose plan contains an
  * identical fragment to read the old cache. Measured consequence: d6's
  * bench steady state read 0.32-0.44 s instead of its honest ~1.9 s because
  * every rep inherited the previous rep's cached `bands` frame — which is
  * exactly how BASELINE.md acquired the structurally impossible d6 < d3 row
  * the round-3/4 verdicts flagged (d6 runs d3 as its first stage; it cannot
  * honestly be cheaper). The round-5 plausibility gate in
  * tools/record_baseline.py caught it on the first re-record.
  *
  * Usage: queries call [[persisted]] instead of bare `.persist()`. Outside
  * any scope it is exactly `.persist()` (the engine's mains own their
  * session and sweep it with [[GraftSession.sweep]]); inside [[scoped]] (the
  * `GraftQuery.runManaged` path) every tracked frame is properly
  * unpersisted when the scope closes, so a library caller's long-lived
  * session keeps ITS caches while query-internal ones are fully evicted —
  * entry and blocks both.
  */
object CacheScope {
  private val active = new ThreadLocal[ArrayBuffer[Dataset[_]]]

  /** `df.persist()`, tracked by the innermost open scope on this thread. */
  def persisted[T](df: Dataset[T]): Dataset[T] = {
    df.persist()
    val buf = active.get()
    if (buf != null) buf += df
    df
  }

  /** Run `body`; unpersist (blocks + CacheManager entry) every frame it
    * registered via [[persisted]], even on failure. Nestable — an inner
    * scope hides the outer one for its duration, so each scope owns exactly
    * its own frames.
    */
  def scoped[T](body: => T): T = {
    val outer = active.get()
    val buf = ArrayBuffer.empty[Dataset[_]]
    active.set(buf)
    try body
    finally {
      if (outer == null) active.remove() else active.set(outer)
      buf.foreach(_.unpersist(false))
    }
  }
}
