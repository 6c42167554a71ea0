package graft.serving

import java.time.Instant

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.jobs.{RiskFeaturesJob, TransactionFeaturesJob, UserFeaturesJob}

/** Point/batch feature serving with the reference's lookup semantics
  * (src/feature_store/store.py:43-141):
  *
  *   - requested feature types are deduplicated, order-preserving
  *     (models.py:71-77); unknown types are rejected (models.py:65-77);
  *   - a cache HIT requires ALL requested groups present for the user
  *     (store.py:49,174-175);
  *   - data_freshness_minutes is the age of the OLDEST group
  *     (store.py:189-201);
  *   - batch requests are capped at 100 (models.py:84-89) and served by ONE
  *     probe execution — one filtered scan of the group tier, which holds
  *     every group's row for a user on one row — not the reference's
  *     100-per-chunk sequential loop (database.py:120-134) nor one Spark
  *     job per group.
  *
  * TWO cache tiers, mirroring the reference's Redis-over-Postgres split:
  *
  *   1. the GROUP tier — ONE table keyed by user_id: the three feature
  *     tables full-outer-joined on user_id, each group's row packed into
  *     its own struct column (null where the group has no row for the
  *     user), locally checkpointed to disk with no in-memory copy (the
  *     "database" a probe computes from), refreshed by `invalidate`. The
  *     checkpoint cuts the build lineage: a probe plans over a one-node RDD
  *     scan instead of the feature builds' parquet scans and exchanges, and
  *     one scan serves every requested group;
  *   2. the per-user ROW tier — a driver-side (user, group) → row memo,
  *     the actual Redis analogue (cache.py:85-165: per-user keys, TTL,
  *     per-user DELETE). A request whose users are all memoized costs no
  *     Spark job at all — this is what makes point reads meet the
  *     reference's latency SLA (p95 < 40 ms, test_performance.py:72) —
  *     and `invalidateUser` evicts at the reference's granularity
  *     (cache.py:167-196) without touching anyone else's entries.
  *
  * Lookups stay declarative (one `array_contains` filter on the tier scan,
  * its ids a single array literal that generated code references rather
  * than inlines, so every miss reuses the same compiled classes);
  * collection happens only at the API boundary, per looked-up id — never a
  * full-table collect. Negative results memoize too (an absent user probes
  * once, not per request); the row tier shares FeatureCache's TTL/clock so
  * one knob governs both tiers' expiry.
  */
class FeatureStoreService(spark: SparkSession, dir: String) {

  val featureGroups: Seq[String] = Seq("user", "transaction", "risk")

  /** One group's rows as (user_id, g): each row packed into a struct. */
  private def groupColumn(g: String): DataFrame = (g match {
    case "user"        => UserFeaturesJob(spark, dir)
    case "transaction" => TransactionFeaturesJob(spark, dir)
    case "risk"        => RiskFeaturesJob(spark, dir)
  }).select(col("user_id"), struct(col("*")).as(g))

  /** The group tier from one (user_id, g) frame per group: full-outer-joined
    * on user_id and checkpointed to local disk (the eager join runs here,
    * not in a probe) — ext/Dedup's `localCheckpoint` idiom for cutting
    * lineage, without a `.cache()` over it. */
  private def buildTier(columns: Seq[DataFrame]): DataFrame =
    columns.reduce(_.join(_, Seq("user_id"), "full_outer"))
      .select(col("user_id") +: featureGroups.map(col): _*)
      .localCheckpoint(true, StorageLevel.DISK_ONLY)

  @volatile private var tier: DataFrame = buildTier(featureGroups.map(groupColumn))

  /** Row tier: (userId, group) → (row-if-present, bornAtNanos). Bounded by
    * `rowTierMaxEntries` (evict expired first, then oldest — the Redis
    * maxmemory-LRU posture at driver scale). */
  private val rowMemo = TrieMap.empty[(Long, String), (Option[Row], Long)]

  /** Group-tier generation, bumped by `invalidate` under the service lock
    * together with the swap of the group tier. A probe snapshots it with
    * the tier and memoizes ONLY if it is unchanged (checked under the same
    * lock): with concurrent dispatch, a probe that raced an invalidation may
    * have read the PRE-invalidation tier, and inserting those rows after
    * the row tier was cleared would serve stale features until TTL — the
    * probe's own response still carries the old rows (indistinguishable
    * from a request that completed just before the invalidation), but
    * nothing stale outlives it. The lock is never held across a Spark job. */
  @volatile private var groupGeneration: Long = 0L

  /** Cap on row-tier entries — a driver holds the hot working set, never
    * the corpus (100k entries ≈ a few hundred MB worst case). */
  @volatile var rowTierMaxEntries: Int = 100000

  private def tierNow(): Long = graft.core.FeatureCache.clock()
  private def tierFresh(bornAt: Long): Boolean =
    tierNow() - bornAt < graft.core.FeatureCache.ttlNanos

  /** models.py:71-77 — dedup, preserve order, validate; at least one type
    * is required (an empty request would score as a vacuous cache hit and
    * inflate the hit-ratio envelope). */
  def normalizeTypes(types: Seq[String]): Seq[String] = {
    require(types.nonEmpty, "at least one feature type is required (models.py:65-77)")
    val bad = types.filterNot(featureGroups.contains)
    require(bad.isEmpty, s"invalid feature types: ${bad.mkString(",")}")
    types.distinct
  }

  case class FeatureResult(
    userId: Long,
    features: Map[String, Row],
    cacheHit: Boolean,
    freshnessMinutes: Option[Long])

  /** Single-user lookup (store.py:43-78). */
  def getFeatures(userId: Long, types: Seq[String], now: Instant): FeatureResult =
    getBatch(Seq(userId), types, now).head

  /** Batch lookup (store.py:80-141). Row-tier hits are served straight from
    * the memo; only ids with a missing/stale (user, group) entry go to the
    * ONE probe: the tier scan keeps the rows whose user_id is in the
    * miss-id array literal and projects the requested groups' struct
    * columns — one collect, no join, no exchange, however many groups were
    * requested — and the rows are assembled by (id, group). */
  def getBatch(userIds: Seq[Long], types: Seq[String], now: Instant): Seq[FeatureResult] = {
    require(userIds.size <= 100, "batch size cap is 100 (models.py:84-89)")
    val wanted = normalizeTypes(types)
    val distinctIds = userIds.distinct
    // ONE read per (id, group): the fresh entries are snapshotted at miss
    // detection, so a concurrent invalidate between here and assembly can't
    // make a previously-fresh user come back empty without a re-probe
    // (assembly re-reading the memo was exactly that race)
    val snap = scala.collection.mutable.Map.empty[(Long, String), Option[Row]]
    for (id <- distinctIds; g <- wanted)
      rowMemo.get((id, g)).foreach { case (v, born) =>
        if (tierFresh(born)) snap((id, g)) = v
      }
    val missIds = distinctIds.filter(id =>
      wanted.exists(g => !snap.contains((id, g))))
    val probed = scala.collection.mutable.Map.empty[(Long, String), Option[Row]]
    if (missIds.nonEmpty) {
      val (gen0, current) = synchronized((groupGeneration, tier))
      val probe = current.filter(array_contains(typedLit(missIds.toArray), col("user_id")))
        .select(col("user_id") +: wanted.map(col): _*)
      val born = tierNow()
      for (id <- missIds; g <- wanted) probed((id, g)) = None
      probe.collect().foreach { r =>
        wanted.indices.filterNot(i => r.isNullAt(i + 1)).foreach(i =>
          probed((r.getLong(0), wanted(i))) = Some(r.getStruct(i + 1)))
      }
      // memoize under the service lock so the generation check and the
      // puts are atomic w.r.t. invalidate's swap-bump-clear
      synchronized {
        if (groupGeneration == gen0) {
          probed.foreach { case (k, v) => rowMemo.put(k, (v, born)) }
        }
      }
      pruneRowTier()
    }
    userIds.map { id =>
      val found = wanted.flatMap(g =>
        probed.get((id, g)).orElse(snap.get((id, g)))
          .flatten.map(g -> _)).toMap
      val hit = found.size == wanted.size // all-types hit rule (store.py:174-175)
      val freshness = Option(found.values.map(r =>
        r.getAs[java.sql.Timestamp]("updated_at").getTime).toSeq)
        .filter(_.nonEmpty)
        .map(ts => (now.toEpochMilli - ts.min) / 60000L) // oldest group (store.py:195-198)
      FeatureResult(id, found, hit, freshness)
    }
  }

  /** Keep the row tier bounded: expired entries first; if still over the
    * cap, the oldest entries go (an O(n log n) sweep — n is the cap, the
    * sweep runs only on overflow, and this is a driver-side map). */
  private def pruneRowTier(): Unit = {
    if (rowMemo.size > rowTierMaxEntries) {
      rowMemo.filterInPlace { case (_, (_, born)) => tierFresh(born) }
      val over = rowMemo.size - rowTierMaxEntries
      if (over > 0)
        rowMemo.toSeq.sortBy(_._2._2).take(over).foreach { case (k, _) => rowMemo.remove(k) }
    }
  }

  /** Liveness of the underlying engine session — the health probe's
    * "can this service still compute" check (a memoized count alone would
    * keep reporting healthy after the session died). */
  def alive: Boolean = !spark.sparkContext.isStopped

  /** Per-group row counts of the group tier — the stats/health probe's
    * view of the cache tier (api.py:190-210's get_feature_store_stats
    * analogue), one `count(group)` aggregate over the tier. MEMOIZED: a
    * load balancer polls health every few seconds, and a job per poll would
    * serialize behind real lookups; the first call pays, later calls are
    * free until `invalidate` clears the memo with the tier. */
  def groupCounts: Map[String, Long] = {
    countsMemo.getOrElse {
      val r = tier.select(featureGroups.map(g => count(col(g))): _*).head()
      val c = featureGroups.zipWithIndex.map { case (g, i) => g -> r.getLong(i) }.toMap
      countsMemo = Some(c)
      c
    }
  }

  @volatile private var countsMemo: Option[Map[String, Long]] = None

  /** Batch response envelope stats — the reference's cache_hit_ratio
    * (store.py:112-141, models.py:109-116). */
  def batchSummary(results: Seq[FeatureResult]): (Int, Int, Double) = {
    val hits = results.count(_.cacheHit)
    (hits, results.size,
      if (results.isEmpty) 0.0 else hits.toDouble / results.size)
  }

  /** Per-user invalidation at the REFERENCE's granularity (cache.py:
    * 167-196: DELETE removes the user's Redis keys; the database is
    * untouched and the next read re-fetches). Here: drop the user's row-
    * tier entries; the group tier stays, so an unrelated user's next read
    * pays nothing. */
  def invalidateUser(userId: Long): Unit =
    featureGroups.foreach(g => rowMemo.remove((userId, g)))

  /** Serializes `invalidate`s; never taken by a read. */
  private val invalidation = new Object

  /** Group-tier invalidation (the streaming pipeline's ST3 target): rebuild
    * the tier from the named groups recomputed from their sources —
    * FeatureCache's persisted tables are dropped first, or the rebuild would
    * re-read the old snapshot — and the other groups' columns of the old
    * tier, so those keep their snapshot: the Spark analogue of a table-wide
    * refresh after an upstream batch lands. The rebuild runs outside the
    * service lock, so probes keep serving the old tier meanwhile; the swap,
    * the generation bump and the eviction of the row-tier entries derived
    * from the named groups happen together under it. The superseded tier's
    * checkpoint blocks are left to the ContextCleaner, so a probe still
    * running over it reads them. */
  def invalidate(groups: Seq[String] = featureGroups): Unit = invalidation.synchronized {
    val named = normalizeTypes(groups)
    named.foreach(g => graft.core.FeatureCache.invalidate(spark, dir, s"${g}_features"))
    val old = tier
    val rebuilt = buildTier(featureGroups.map(g =>
      if (named.contains(g)) groupColumn(g)
      else old.filter(col(g).isNotNull).select(col("user_id"), col(g))))
    synchronized {
      groupGeneration += 1 // with the clear: see the generation scaladoc
      tier = rebuilt
      rowMemo.filterInPlace { case ((_, g), _) => !named.contains(g) }
      countsMemo = None
    }
  }
}
