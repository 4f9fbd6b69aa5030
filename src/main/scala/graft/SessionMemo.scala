package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped memo for expensive shared plans (the coarse k-means
  * quantizer, the dedup-cluster CC run): a concurrent map keyed by
  * (SparkSession, caller key) whose entries are EVICTED when the owning
  * session's context ends — without eviction a stopped session's entries
  * would pin the SparkSession, its DataFrame plans, and their
  * localCheckpoint blocks for the JVM lifetime.
  *
  * Concurrency: the compute runs OUTSIDE the map's bin locks. Entries are
  * `putIfAbsent`-published lazy holders, so `f` (which runs Spark jobs —
  * k-means fits, checkpoint materialization) synchronizes only on its own
  * holder: two threads racing the SAME key block on one compute, threads
  * on different keys never serialize, and a compute that recursively
  * memoizes a DIFFERENT key just nests (same-key recursion would
  * self-deadlock — don't). The old `computeIfAbsent` form held a
  * ConcurrentHashMap bin lock across whole Spark jobs, serializing
  * unrelated keys that hashed to the same bin and throwing
  * IllegalStateException on any recursive use.
  *
  * Lifecycle: `SparkContext` stop evicts every session sharing it (one
  * ApplicationEnd listener per context). Sessions created via `newSession`/
  * `cloneSession` share one context and have no end-of-life event of
  * their own, so a long-lived context that churns through child sessions
  * should call [[evict]] on each child when done with it — entries hold
  * DataFrames that reference their session, so GC alone cannot reclaim
  * them while the memo is reachable.
  *
  * Callers must pass the [[Tables]]-memoized DataFrame (or another
  * object-identity-stable key component): the memo keys on identity, so a
  * re-created logical plan misses and recomputes. */
class SessionMemo[K, V] {
  private final class Holder(f: () => V) { lazy val value: V = f() }
  private val m = new java.util.concurrent.ConcurrentHashMap[(SparkSession, K), Holder]
  // One stop listener per context, holding the context only: a listener
  // per session would stay registered on the bus after [[evict]] and pin
  // the session it captured until the context stops.
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkContext]()

  def getOrCompute(spark: SparkSession, key: K)(f: => V): V = {
    val sc = spark.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          m.keySet.removeIf(_._1.sparkContext eq sc)
          hooked.remove(sc)
        }
      })
    val fresh = new Holder(() => f)
    val holder = m.putIfAbsent((spark, key), fresh) match {
      case null => fresh
      case prev => prev
    }
    holder.value
  }

  /** Drop ONE (session, key) entry — for callers that must invalidate a
    * cached value when what it describes is rewritten out from under it
    * (e.g. [[graft.operators.AnnIndex]] caches lazy parquet plans per
    * index dir; a rewrite/append of that dir makes the cached file
    * listing stale — FileNotFoundException or pre-overwrite rows). */
  def remove(spark: SparkSession, key: K): Unit =
    m.remove((spark, key))

  /** Drop every entry owned by `spark`. Runs automatically at context
    * stop; call directly when discarding a `newSession` child sharing a
    * still-live context. */
  def evict(spark: SparkSession): Unit =
    m.keySet.removeIf(_._1 eq spark)

  /** Visible for tests: live entry count for one session. */
  def sizeFor(spark: SparkSession): Int = {
    val it = m.keySet.iterator
    var n = 0
    while (it.hasNext) if (it.next()._1 eq spark) n += 1
    n
  }
}
