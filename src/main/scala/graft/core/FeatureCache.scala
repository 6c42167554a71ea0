package graft.core

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache of computed feature tables — the engine-side
  * analogue of the reference's Redis cache-aside tier (cache.py:85-196):
  * feature tables are computed once per (session, corpus) and served from
  * Spark block storage until invalidated. Downstream consumers (the wide
  * view, lookups, validation jobs) share the cached plan instead of
  * recomputing the aggregation chain per query.
  *
  * Dependents drop with their inputs. Every `cached` call made on the
  * building thread while a key's `build` runs (hit or build) records that
  * artifact as an input of the key. When an entry is replaced — by
  * `invalidate` or by a TTL rebuild — every entry built on it, transitively,
  * is unpersisted and forgotten too, dependents first. An entry is memoized
  * only if each input it read is still the live entry when it publishes;
  * otherwise its caller gets the frame uncached (the same rule as
  * FeatureStoreService's group generation). The limit: only `cached` reads
  * inside the block become edges. A build that reads a frame obtained
  * before its block, or a table outside FeatureCache, records no edge for
  * it and is not dropped when that input changes.
  */
object FeatureCache {

  // Sessions are identified by a generated UUID held in a weak map — an
  // identity hash could be reused after GC of a stopped session and alias a
  // stale entry; the weak key also lets dead sessions' ids (and with the
  // sweep below, their cached frames) be reclaimed.
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  private def idOf(spark: SparkSession): String =
    sessionIds.synchronized {
      Option(sessionIds.get(spark)).getOrElse {
        val id = java.util.UUID.randomUUID().toString
        sessionIds.put(spark, id)
        id
      }
    }

  private type Key = (String, String, String)

  // `df` is what consumers compose on: the persisted frame re-anchored on
  // its InMemoryRelation (o.a.s.sql.graft.CachedAnchor), so every consumer
  // query's analysis walks a one-node leaf instead of the full build
  // lineage (measured 0.3-0.7 s/run of driver time on the incremental
  // ladders). `handle` keeps the ORIGINAL persisted frame — unpersist must
  // go through the plan the CacheManager registered, not the anchor.
  // `inputs` lists every (artifact, entry) read the build made; entries
  // compare by identity.
  private final class Entry(val df: DataFrame, val handle: DataFrame,
                            val bornAtNanos: Long, val inputs: Seq[(Key, Entry)])

  private val memo = TrieMap.empty[Key, Entry]

  // The input lists of the builds running on this thread, innermost first.
  private val reads =
    ThreadLocal.withInitial[List[mutable.Buffer[(Key, Entry)]]](() => Nil)

  /** TTL mirroring the reference's Redis expiry (settings.py:64, 3600 s):
    * entries older than this are rebuilt on next access. The clock is
    * injectable so tests stay deterministic; query semantics never read it. */
  @volatile var ttlNanos: Long = 3600L * 1000 * 1000 * 1000
  @volatile private[graft] var clock: () => Long = () => System.nanoTime()

  // Per-key build locks: most builds only MARK a lazy plan, but some
  // artifacts (the cluster keeper maps) run an eager multi-job fixpoint in
  // `build` — holding the memo-wide lock across that would block every
  // other cache lookup in the session for the build's full duration. The
  // global lock therefore guards only map ops (cheap); `build` runs under
  // its key's own lock, which still closes the duplicate-builder race
  // where two concurrent persists leak one handle-less marked plan.
  private val buildLocks = TrieMap.empty[Key, Object]

  def cached(spark: SparkSession, dir: String, name: String)
            (build: => DataFrame): DataFrame = {
    val key = (idOf(spark), dir, name)
    def fresh(): Option[Entry] = memo.synchronized {
      sweepLocked()
      memo.get(key).filter(e => clock() - e.bornAtNanos < ttlNanos)
    }
    val entry = fresh().getOrElse {
      buildLocks.getOrElseUpdate(key, new Object).synchronized {
        // double-check: another thread may have published while we waited
        fresh().getOrElse {
          // an expired entry goes, with its dependents, before the rebuild:
          // persisting a plan the CacheManager still holds is a no-op, and
          // the new entry would anchor on the blocks about to be dropped
          memo.synchronized(dropLocked(key))
          val inputs = mutable.Buffer.empty[(Key, Entry)]
          reads.set(inputs :: reads.get)
          val built = try build finally reads.set(reads.get.tail)
          val handle = built.persist(StorageLevel.MEMORY_AND_DISK)
          val e = new Entry(org.apache.spark.sql.graft.CachedAnchor.anchor(handle),
            handle, clock(), inputs.toSeq)
          val published = memo.synchronized {
            val live = e.inputs.forall { case (k, in) => memo.get(k).exists(_ eq in) }
            if (live) memo.put(key, e)
            live
          }
          if (published) e
          else {
            // an input was replaced while this build ran: serve the frame
            // uncached, so nothing is memoized over the superseded input
            handle.unpersist()
            new Entry(handle, handle, e.bornAtNanos, e.inputs)
          }
        }
      }
    }
    reads.get.headOption.foreach(_ += key -> entry)
    entry.df
  }

  /** Invalidate (explicit expiry / upstream change): unpersist + forget the
    * entry and every entry built on it. */
  def invalidate(spark: SparkSession, dir: String, name: String): Unit =
    memo.synchronized(dropLocked((idOf(spark), dir, name)))

  /** Unpersist and forget `key`'s entry and its transitive dependents,
    * dependents first. Called under the memo lock. */
  private def dropLocked(key: Key): Unit = {
    memo.collect { case (k, e) if e.inputs.exists(_._1 == key) => k }.foreach(dropLocked)
    memo.remove(key).foreach(e => scala.util.Try(e.handle.unpersist()))
  }

  /** Forget entries whose session has been garbage collected (their blocks
    * died with the session's block manager; unpersist would throw). */
  private def sweepLocked(): Unit = {
    val live = sessionIds.synchronized {
      import scala.jdk.CollectionConverters._
      sessionIds.values.asScala.toSet
    }
    memo.keys.filterNot(k => live(k._1)).foreach(k => memo.remove(k))
    // prune the per-key build locks with the memo, or each dead session
    // leaves one Object per cached artifact behind forever
    buildLocks.keys.filterNot(k => live(k._1)).foreach(buildLocks.remove)
  }
}
