package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Bounded keyed result cache with release-on-evict — the one policy
  * behind every per-(session, dir) artifact memo in the engine (built
  * indexes, landed-artifact latches, persisted scan intermediates,
  * parsed fixtures, footer stats): a miss at capacity evicts the OLDEST
  * entry (insertion order — never the requested key) and invokes the
  * eviction callback so pinned executor storage is released.
  *
  * Synchronized as a whole: concurrent misses cannot double-evict past
  * the bound or race containsKey/size checks, and concurrent first
  * consumers serialize on the build (nobody reads a half-built or
  * half-written artifact). The build runs under the lock — acceptable
  * here because builders are either lazy plan construction or bounded
  * build-once actions, and the contract surfaces (Verify/Bench) run
  * queries sequentially. A build that throws leaves the key absent, so
  * the next `get` retries instead of serving a failed artifact.
  *
  * Every instance registers itself; [[BoundedCache.clearAll]] releases
  * all of them (the harness calls it after each query, so no artifact
  * outlives the query that built it and per-query numbers do not depend
  * on suite order). Each instance counts its hits and misses. */
final class BoundedCache[V](max: Int, onEvict: V => Unit) {
  private val entries = new java.util.LinkedHashMap[String, V]()
  private var hits = 0L
  private var misses = 0L
  BoundedCache.registry.add(this)

  /** (hits, misses) since this instance was created. */
  def counts: (Long, Long) = synchronized((hits, misses))

  /** Evict everything now (callback per entry). */
  def clear(): Unit = synchronized {
    entries.values().forEach(v => onEvict(v))
    entries.clear()
  }

  def get(key: String)(build: => V): V = synchronized {
    val hit = entries.get(key)
    if (hit != null) { hits += 1; hit }
    else {
      misses += 1
      if (entries.size >= max) {
        val it = entries.entrySet().iterator()
        if (it.hasNext) {
          val victim = it.next()
          onEvict(victim.getValue)
          it.remove()
        }
      }
      val v = build
      entries.put(key, v)
      v
    }
  }
}

object BoundedCache {
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[BoundedCache[_]]()

  /** The one cache key: the application plus the caller's parts (dir,
    * tag, budget, ...). NUL-separated — no dir, tag or JSON text
    * contains one — so distinct part lists never collide. */
  def key(spark: SparkSession, parts: Any*): String =
    (spark.sparkContext.applicationId +: parts).mkString("\u0000")

  /** Evict every entry of every registered instance (callback per
    * entry). Each instance clears under its own lock, one at a time. */
  def clearAll(): Unit = registry.forEach(_.clear())

  /** Process-wide (hits, misses) over every registered instance. */
  def totals: (Long, Long) = {
    val cs = registry.asScala.toSeq.map(_.counts)
    (cs.map(_._1).sum, cs.map(_._2).sum)
  }

  /** Free the blocks behind a `localCheckpoint()`ed DataFrame. The
    * checkpointed data lives in the RDD wrapped by the plan's LogicalRDD
    * leaf (not the CacheManager), so `Dataset.unpersist` can't reach it.
    *
    * INVARIANT (caller-enforced): the freed DataFrame, and anything
    * derived from it, must never be executed again — localCheckpoint
    * truncated its lineage, so once the blocks are dropped it is NOT
    * recomputable. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
