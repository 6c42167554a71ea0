package graft

import java.time.Instant

import org.apache.spark.sql.functions._

import graft.serving.FeatureStoreService

/** Serving semantics of store.py:43-141 — all-types hit rule, oldest-group
  * freshness, type normalization, batch cap. */
class ServingSpec extends SparkSpec {

  private lazy val svc = new FeatureStoreService(spark, sf0001)
  private val now = Instant.parse("2001-08-02T02:30:00Z") // 150 min past asOf stamp

  test("type normalization dedups order-preserving and rejects unknowns (models.py:71-77)") {
    assert(svc.normalizeTypes(Seq("risk", "user", "risk")) == Seq("risk", "user"))
    intercept[IllegalArgumentException](svc.normalizeTypes(Seq("user", "bogus")))
  }

  test("all-types hit rule: BUILDING user present in all groups hits; absent user misses") {
    import spark.implicits._
    val building = graft.core.Roles.users(spark, sf0001)
      .filter($"recently_updated").select("user_id").as[Long].head()
    val hit = svc.getFeatures(building, Seq("user", "transaction", "risk"), now)
    assert(hit.cacheHit && hit.features.size == 3)
    val miss = svc.getFeatures(999999L, Seq("user"), now)
    assert(!miss.cacheHit && miss.features.isEmpty && miss.freshnessMinutes.isEmpty)
  }

  test("partial presence is a MISS (store.py:174-175): tx-active non-BUILDING user") {
    import spark.implicits._
    val txOnly = jobs.TransactionFeaturesJob(spark, sf0001).select("user_id")
      .except(jobs.UserFeaturesJob(spark, sf0001).select("user_id"))
      .as[Long].collect().headOption
    assume(txOnly.nonEmpty, "corpus has a recent transactor outside BUILDING")
    val res = svc.getFeatures(txOnly.get, Seq("user", "transaction"), now)
    assert(!res.cacheHit && res.features.keySet == Set("transaction"))
  }

  test("freshness is the oldest group's age in minutes (store.py:189-201)") {
    import spark.implicits._
    val building = graft.core.Roles.users(spark, sf0001)
      .filter($"recently_updated").select("user_id").as[Long].head()
    val res = svc.getFeatures(building, Seq("user", "transaction"), now)
    // user/transaction features are stamped at AsOf.orders = 2001-08-02 00:00
    assert(res.freshnessMinutes.contains(150L))
  }

  test("feature cache TTL: an expired entry is rebuilt on next access (settings.py:64)") {
    var fakeNow = 0L
    val origClock = graft.core.FeatureCache.clock
    try {
      graft.core.FeatureCache.clock = () => fakeNow
      var builds = 0
      var depBuilds = 0
      def get() = graft.core.FeatureCache.cached(spark, sf0001, "ttl-probe") {
        builds += 1
        graft.core.Tables.nation(spark, sf0001)
      }
      def dependent() = graft.core.FeatureCache.cached(spark, sf0001, "ttl-dependent") {
        depBuilds += 1
        get().select("n_nationkey")
      }
      get(); get()
      assert(builds == 1, "fresh entry served from cache")
      // built half a TTL later, so it is still fresh when its input expires
      fakeNow = graft.core.FeatureCache.ttlNanos / 2
      dependent(); dependent()
      assert(builds == 1 && depBuilds == 1, "dependent built once over the cached input")
      fakeNow = graft.core.FeatureCache.ttlNanos + 1
      def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      val before = stored
      get().count()
      assert(builds == 2, "expired entry rebuilt")
      dependent()
      assert(depBuilds == 2, "the rebuilt input left its dependent cached")
      // the rebuild is its own cache entry: invalidating it frees its blocks
      val added = stored -- before
      graft.core.FeatureCache.invalidate(spark, sf0001, "ttl-probe")
      assert(added.nonEmpty && (added -- stored) == added,
        s"the rebuilt entry's blocks outlived its invalidate: ${added.intersect(stored)}")
    } finally {
      graft.core.FeatureCache.clock = origClock
      Seq("ttl-dependent", "ttl-probe").foreach(
        graft.core.FeatureCache.invalidate(spark, sf0001, _))
    }
  }

  test("cache: invalidating a root drops every level built on it, and nothing else") {
    var builds = Map.empty[String, Int].withDefaultValue(0)
    def level(name: String)(body: => org.apache.spark.sql.DataFrame) =
      graft.core.FeatureCache.cached(spark, sf0001, name) {
        builds += name -> (builds(name) + 1)
        body
      }
    def root() = level("chain-root")(graft.core.Tables.nation(spark, sf0001))
    def mid() = level("chain-mid")(root().select("n_nationkey", "n_regionkey"))
    def top() = level("chain-top")(mid().groupBy("n_regionkey").count())
    def other() = level("chain-other")(graft.core.Tables.region(spark, sf0001))
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    try {
      val before = stored
      top().count(); other().count()
      val added = stored -- before
      assert(added.size == 4, s"expected one stored copy per level, saw $added")
      graft.core.FeatureCache.invalidate(spark, sf0001, "chain-root")
      assert((added -- stored).size == 3, "the chain's three copies must be unpersisted")
      top(); other()
      assert(builds == Map("chain-root" -> 2, "chain-mid" -> 2, "chain-top" -> 2,
        "chain-other" -> 1), s"builds: $builds")
    } finally Seq("chain-top", "chain-mid", "chain-root", "chain-other").foreach(
      graft.core.FeatureCache.invalidate(spark, sf0001, _))
  }

  test("cache: a dependent whose input is invalidated mid-build is not memoized") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val readInput = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    var depBuilds = 0
    def input() = graft.core.FeatureCache.cached(spark, sf0001, "race-input") {
      graft.core.Tables.nation(spark, sf0001)
    }
    def dependent(hold: Boolean) =
      graft.core.FeatureCache.cached(spark, sf0001, "race-dependent") {
        depBuilds += 1
        val in = input()
        if (hold) {
          readInput.countDown()
          assert(release.await(30, TimeUnit.SECONDS))
        }
        in.select("n_nationkey")
      }
    val t = new Thread(() => dependent(hold = true): Unit)
    t.start()
    try {
      assert(readInput.await(30, TimeUnit.SECONDS))
      // the input is replaced after the build read it, before it publishes
      graft.core.FeatureCache.invalidate(spark, sf0001, "race-input")
      release.countDown()
      t.join(30000)
      assert(depBuilds == 1)
      dependent(hold = false)
      assert(depBuilds == 2, "a dependent built over an invalidated input was memoized")
      dependent(hold = false)
      assert(depBuilds == 2, "the rebuilt dependent was not memoized")
    } finally {
      release.countDown()
      Seq("race-dependent", "race-input").foreach(
        graft.core.FeatureCache.invalidate(spark, sf0001, _))
    }
  }

  test("batch cap of 100 is enforced (models.py:84-89)") {
    intercept[IllegalArgumentException](
      svc.getBatch((1L to 101L), Seq("user"), now))
  }

  test("cache: a slow eager build must not block other keys; same key builds once") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val enteredSlow = new CountDownLatch(1)
    val releaseSlow = new CountDownLatch(1)
    val slowDone = new CountDownLatch(1)
    val t1 = new Thread(() => {
      graft.core.FeatureCache.cached(spark, sf0001, "slow-probe") {
        enteredSlow.countDown()
        // an eager artifact build (cluster fixpoint analogue) in progress
        assert(releaseSlow.await(30, TimeUnit.SECONDS))
        graft.core.Tables.nation(spark, sf0001)
      }
      slowDone.countDown()
    })
    t1.start()
    try {
      assert(enteredSlow.await(30, TimeUnit.SECONDS))
      // while key A builds, key B must be servable (the memo-wide lock no
      // longer spans build) — this would deadlock-timeout under the old lock
      val otherDone = new CountDownLatch(1)
      val t2 = new Thread(() => {
        graft.core.FeatureCache.cached(spark, sf0001, "other-probe") {
          graft.core.Tables.region(spark, sf0001)
        }
        otherDone.countDown()
      })
      t2.start()
      assert(otherDone.await(30, TimeUnit.SECONDS),
        "a concurrent lookup for another key blocked behind the slow build")
      // duplicate-builder race stays closed: a second request for the SLOW
      // key waits for the in-flight build and reuses it (one build total)
      var builds = 0
      val t3 = new Thread(() => {
        graft.core.FeatureCache.cached(spark, sf0001, "slow-probe") {
          builds += 1
          graft.core.Tables.nation(spark, sf0001)
        }: Unit
      })
      t3.start()
      releaseSlow.countDown()
      assert(slowDone.await(30, TimeUnit.SECONDS))
      t3.join(30000); t1.join(30000); t2.join(30000)
      assert(builds == 0, "second requester re-built instead of reusing the in-flight build")
    } finally {
      releaseSlow.countDown()
      Seq("slow-probe", "other-probe").foreach(
        graft.core.FeatureCache.invalidate(spark, sf0001, _))
    }
  }

  test("row tier never serves stale rows: group invalidation evicts derived entries") {
    val svc2 = new FeatureStoreService(spark, sf0001)
    import spark.implicits._
    val building = graft.core.Roles.users(spark, sf0001)
      .filter($"recently_updated").select("user_id").as[Long].head()
    val first = svc2.getFeatures(building, Seq("user"), now)
    assert(first.cacheHit)
    // a group-tier refresh (the ST3 target — upstream data changed) must
    // not leave row-tier entries computed from the OLD table: the next
    // read re-probes rather than serving the memoized stale row
    svc2.invalidate(Seq("user"))
    val execs = sqlExecutionsDuring {
      val again = svc2.getFeatures(building, Seq("user"), now)
      assert(again.features.contains("user"))
    }
    assert(execs >= 1,
      "post-invalidation read must re-probe, not serve the stale row-tier entry")
  }

  test("row tier honors the shared TTL: expired entries re-probe") {
    var fakeNow = 0L
    val origClock = graft.core.FeatureCache.clock
    try {
      graft.core.FeatureCache.clock = () => fakeNow
      val svc2 = new FeatureStoreService(spark, sf0001)
      import spark.implicits._
      val building = graft.core.Roles.users(spark, sf0001)
        .filter($"recently_updated").select("user_id").as[Long].head()
      svc2.getFeatures(building, Seq("user"), now)
      fakeNow = graft.core.FeatureCache.ttlNanos + 1
      // expired → the probe path must RUN (an SQL execution), not trust
      // the stale memo entry; without the execution count this test would
      // pass even if the tier ignored TTL entirely
      val execs = sqlExecutionsDuring {
        val res = svc2.getFeatures(building, Seq("user"), now)
        assert(res.cacheHit && res.features.contains("user"))
      }
      assert(execs >= 1, "expired row-tier entry must re-probe")
    } finally graft.core.FeatureCache.clock = origClock
  }

  test("getBatch never returns empty features for an existing user under concurrent invalidation") {
    // regression pin for the snapshot-at-miss-detection fix: with assembly
    // re-reading the memo, an invalidateUser between the freshness check
    // and assembly made a warm user come back featureless without a
    // re-probe. Hammer reads against a per-user invalidator; every read
    // must either serve the snapshot or re-probe — never return empty.
    val svc2 = new FeatureStoreService(spark, sf0001)
    import spark.implicits._
    val ids = graft.core.Roles.users(spark, sf0001).filter($"recently_updated")
      .select("user_id").as[Long].head(4).toSeq
    assert(svc2.getBatch(ids, Seq("user"), now).forall(_.features.contains("user")))
    @volatile var stop = false
    val bad = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (1 to 3).map { _ =>
      new Thread(() => {
        while (!stop) {
          try svc2.getBatch(ids, Seq("user"), now).foreach { r =>
            if (!r.features.contains("user")) bad.incrementAndGet(): Unit
          } catch { case _: Throwable => errs.incrementAndGet(): Unit }
        }
      })
    }
    val invalidator = new Thread(() => {
      while (!stop) { ids.foreach(svc2.invalidateUser); Thread.sleep(1) }
    })
    (readers :+ invalidator).foreach(_.start())
    Thread.sleep(2000)
    stop = true
    (readers :+ invalidator).foreach(_.join())
    assert(errs.get() == 0, s"${errs.get()} reads threw")
    assert(bad.get() == 0,
      s"${bad.get()} reads returned no user features for an existing user")
  }

  test("getBatch fuses the probe: one SQL execution for a 3-group batch") {
    // a first probe, so the measured one is the steady-state path
    svc.getBatch(Seq(1L), Seq("user", "transaction", "risk"), now)
    val execs = sqlExecutionsDuring {
      val res = svc.getBatch(Seq(4L, 5L, 9L), Seq("user", "transaction", "risk"), now)
      assert(res.size == 3)
    }
    // AQE's stage materializations share the root execution, so a fused
    // probe is exactly one SQLExecutionStart; the old per-group loop was 3
    assert(execs == 1, s"expected one fused probe execution, saw $execs")
  }

  test("a warm miss plans one scan of the checkpointed tier: no union, no exchange") {
    val svc2 = new FeatureStoreService(spark, sf0001)
    svc2.getBatch(Seq(1L), svc2.featureGroups, now) // the first probe of the tier
    val starts = sqlExecutionStartsDuring {
      svc2.getBatch(Seq(2L, 3L, 4L), svc2.featureGroups, now): Unit
    }
    assert(starts.size == 1, s"expected one probe execution, saw ${starts.size}")
    def nodes(p: org.apache.spark.sql.execution.SparkPlanInfo): Seq[String] =
      p.nodeName +: p.children.flatMap(nodes)
    def leaves(p: org.apache.spark.sql.execution.SparkPlanInfo): Seq[String] =
      if (p.children.isEmpty) Seq(p.nodeName) else p.children.flatMap(leaves)
    val names = nodes(starts.head.sparkPlanInfo)
    // the plan info would walk into a cached relation's own plan: over a
    // `.cache()` of the build, that is the whole feature-build lineage
    assert(!names.exists(_.startsWith("Scan parquet")),
      s"the miss carries the build's parquet scans: ${names.mkString(", ")}")
    assert(!names.exists(_.contains("Exchange")),
      s"the miss plans an exchange: ${names.mkString(", ")}")
    // one user-keyed table: every group rides one scan, not a per-group union
    assert(!names.exists(_.contains("Union")),
      s"the miss unions per-group scans: ${names.mkString(", ")}")
    val scans = leaves(starts.head.sparkPlanInfo)
    assert(scans.size == 1 && scans.head.startsWith("Scan"),
      s"expected one scan leaf, saw ${scans.mkString(", ")}")
  }

  test("warm misses on fresh ids compile no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val svc2 = new FeatureStoreService(spark, sf0001)
    svc2.getBatch(Seq(1L), svc2.featureGroups, now) // materialize the group tier
    svc2.getBatch(Seq(2L, 3L, 4L), svc2.featureGroups, now)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    svc2.getBatch(Seq(5L, 6L, 7L), svc2.featureGroups, now)
    // ids inlined into generated code (isin) cost a compile per miss set
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "a miss on new ids compiled new classes")
  }

  test("a plan repeated after 150 other plans compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // each distinct literal is a distinct generated class; Spark's default
    // 100-entry codegen cache would have evicted the first plan's classes
    def plan(i: Int): Unit = spark.range(1).selectExpr(s"id + $i").collect(): Unit
    plan(0)
    (1 to 150).foreach(plan)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    plan(0)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the repeated plan recompiled its classes")
  }

  test("invalidate(groups) recomputes from the sources, not FeatureCache's snapshot") {
    import java.nio.file.{Files, Path}
    import spark.implicits._
    val copy = Files.createTempDirectory("serving-refresh")
    Files.list(java.nio.file.Paths.get(sf0001))
      .forEach(f => Files.copy(f, copy.resolve(f.getFileName)): Unit)
    val dir = copy.toString
    try {
      val svc2 = new FeatureStoreService(spark, dir)
      val uid = jobs.UserFeaturesJob(spark, dir).filter($"total_orders" > 0)
        .select("user_id").as[Long].head()
      def totalOrders(): Long =
        svc2.getFeatures(uid, Seq("user"), now).features("user").getAs[Long]("total_orders")
      // the wide view, cached over user_features
      def viewOrders(): Long = serving.Lookups.pointLookup(spark, dir, Seq(uid))
        .select("total_orders").as[Long].head()
      assert(totalOrders() > 0)
      assert(viewOrders() == totalOrders())
      // an upstream batch lands: the user's orders are gone from the source
      val orders = copy.resolve("orders.parquet")
      val staged = copy.resolve("orders.staged")
      spark.read.parquet(orders.toString).filter($"o_custkey" =!= uid)
        .write.parquet(staged.toString)
      Files.delete(orders)
      Files.move(staged, orders)
      svc2.invalidate(Seq("user"))
      assert(totalOrders() == 0L, "invalidate served the pre-refresh rows")
      assert(viewOrders() == 0L, "feature_view outlived the user_features it was built on")
    } finally {
      (Seq("user", "transaction", "risk").map(g => s"${g}_features") :+ "feature_view")
        .foreach(graft.core.FeatureCache.invalidate(spark, dir, _))
      Files.walk(copy).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    }
  }

  test("the group tier adds no in-memory RDD: construct, probe, invalidate(user)") {
    // FeatureCache's own group tables are in memory by design; build them
    // first, so what the service adds is measured apart from them
    Seq(jobs.UserFeaturesJob(spark, sf0001), jobs.TransactionFeaturesJob(spark, sf0001),
      jobs.RiskFeaturesJob(spark, sf0001)).foreach(_.count(): Unit)
    def inMemory = spark.sparkContext.getRDDStorageInfo.filter(_.memSize > 0).map(_.id).toSet
    val before = inMemory
    val svc2 = new FeatureStoreService(spark, sf0001)
    svc2.getBatch(Seq(1L), svc2.featureGroups, now)
    svc2.invalidate(Seq("user"))
    svc2.getBatch(Seq(1L), svc2.featureGroups, now)
    val added = inMemory -- before
    // the one expected addition is FeatureCache's rebuilt user_features,
    // which the invalidate recomputed from the sources: dropping it must
    // leave nothing the service put in memory
    graft.core.FeatureCache.invalidate(spark, sf0001, "user_features")
    val left = added.intersect(inMemory)
    assert(left.isEmpty, s"the service holds in-memory copies: RDDs $left")
  }

  test("invalidate(user) refreshes user; transaction and risk keep their snapshot") {
    import java.nio.file.{Files, Path}
    import spark.implicits._
    val copy = Files.createTempDirectory("serving-snapshot")
    Files.list(java.nio.file.Paths.get(sf0001))
      .forEach(f => Files.copy(f, copy.resolve(f.getFileName)): Unit)
    val dir = copy.toString
    val groups = Seq("user", "transaction", "risk")
    try {
      val svc2 = new FeatureStoreService(spark, dir)
      // a user with orders and a row in every group
      val uid = jobs.UserFeaturesJob(spark, dir).filter($"total_orders" > 0).select("user_id")
        .intersect(jobs.TransactionFeaturesJob(spark, dir).select("user_id"))
        .intersect(jobs.RiskFeaturesJob(spark, dir).select("user_id"))
        .as[Long].head()
      val before = svc2.getFeatures(uid, groups, now).features
      assert(before.keySet == groups.toSet)
      assert(before("user").getAs[Long]("total_orders") > 0)
      // an upstream batch lands: the user's orders are gone from the source
      val orders = copy.resolve("orders.parquet")
      val staged = copy.resolve("orders.staged")
      spark.read.parquet(orders.toString).filter($"o_custkey" =!= uid)
        .write.parquet(staged.toString)
      Files.delete(orders)
      Files.move(staged, orders)
      svc2.invalidate(Seq("user"))
      val after = svc2.getFeatures(uid, groups, now).features
      assert(after("user").getAs[Long]("total_orders") == 0L,
        "invalidate(user) served the pre-refresh user row")
      assert(after("transaction") == before("transaction"),
        "the transaction group left its snapshot")
      assert(after("risk") == before("risk"), "the risk group left its snapshot")
    } finally {
      groups.map(g => s"${g}_features").foreach(graft.core.FeatureCache.invalidate(spark, dir, _))
      Files.walk(copy).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    }
  }

  test("cache anchors consumers on the InMemoryRelation leaf; invalidate still frees the blocks") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import spark.implicits._
    val build = graft.core.Tables.nation(spark, sf0001)
      .groupBy($"n_regionkey").count()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val cached = graft.core.FeatureCache.cached(spark, sf0001, "anchor-probe")(build)
    try {
      // the r16 analysis-cost contract: consumers compose on a ONE-NODE
      // leaf, not the build lineage — every downstream Dataset's analyzer
      // walk (join dedup, cache-lookup canonicalization) is O(consumer)
      assert(cached.queryExecution.logical.isInstanceOf[InMemoryRelation],
        s"cached frame should be IMR-anchored, got: ${cached.queryExecution.logical.nodeName}")
      // same rows as the un-cached build
      assert(cached.collect().toSet == build.collect().toSet)
      // blocks exist once materialized...
      cached.count()
      val added = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet -- before
      assert(added.nonEmpty, "materialized cache entry registered no storage RDD")
      // ...and invalidate (which must unpersist through the ORIGINAL
      // handle — the anchored plan is unknown to the CacheManager) frees them
      graft.core.FeatureCache.invalidate(spark, sf0001, "anchor-probe")
      val after = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      assert((added -- after).sizeIs == added.size,
        s"invalidate left cache blocks registered: ${added.intersect(after)}")
    } finally graft.core.FeatureCache.invalidate(spark, sf0001, "anchor-probe")
  }
}
