package graft

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** A per-session memo table for expensive-once artifacts (trained
  * centroids, corpus BM25 frames, converged dedup labels, …) that every
  * operator-level cache in the engine shares.
  *
  * The reason this exists instead of a bare `TrieMap` keyed by session:
  * a strong session key makes entries for STOPPED sessions unreachable
  * for lookup but not for the GC, so a long-lived JVM that cycles
  * sessions (test suites, notebook servers) would grow without bound.
  * Every access therefore purges entries whose owning session's
  * `SparkContext` has stopped — the cache's footprint is bounded by the
  * live sessions plus at most the dead entries accumulated since the
  * last access, with no reliance on callers knowing to invalidate.
  *
  * Same immutable-corpus-dir assumption as every consumer: a caller that
  * rewrites a fixture dir in place mid-session must call
  * [[SessionCache.clearAll]] (spec-pinned recompute-equality lives with
  * each consumer's spec).
  */
final class SessionCache[K, V] {
  private val m = TrieMap.empty[(SparkSession, K), V]
  SessionCache.instances.add(this)

  /** Memoized lookup; `build` may run more than once under a race (the
    * plain `TrieMap.getOrElseUpdate` contract) — consumers cache
    * deterministic frames, so duplicate builds are wasted work, never
    * wrong answers.
    */
  def getOrElseUpdate(spark: SparkSession, key: K)(build: => V): V = {
    purgeStopped()
    m.getOrElseUpdate((spark, key), build)
  }

  /** Drop entries whose owning session's context has stopped. O(live +
    * dead) over a map whose population is a handful of fixture dirs —
    * noise next to the Spark jobs the hits avoid.
    */
  private def purgeStopped(): Unit =
    m.keysIterator.foreach { k =>
      if (k._1.sparkContext.isStopped) m.remove(k)
    }

  private def clear(): Unit = m.clear()
}

object SessionCache {
  /** Every memo the engine made. The memos are fields of singleton
    * objects, so this holds a fixed handful for the life of the JVM.
    */
  private val instances = new java.util.concurrent.ConcurrentLinkedQueue[SessionCache[_, _]]()

  /** Drop every memoized entry of every memo, for all sessions — the one
    * escape hatch from the immutable-corpus-dir assumption. Memos depend
    * on each other (the PQ codebook frame and its collected rows, the
    * catalog's exact and approx passes), so clearing one alone can pair a
    * fresh entry with a stale one.
    */
  def clearAll(): Unit = instances.forEach(_.clear())
}
