package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.DataGen
import graft.ops.ModeAggregator
import graft.sinks.MergeByKey

/** The remaining SURVEY §2 surface: typed mode Aggregator (§2.10), seeded
  * data generation (S13/F15/F16), partitioned warehouse writes + retention
  * (S10/S11), dynamic join assembly (J8). */
class CoverageGapsSpec extends SparkSpec {
  import spark.implicits._

  test("ModeAggregator (typed, single-pass) agrees with the two-aggregate idiom") {
    val df = Seq((1L, "b"), (1L, "a"), (1L, "a"), (1L, "b"), (2L, "z"), (2L, "z"))
      .toDF("k", "v")
    val viaAgg = df.groupBy("k").agg(ModeAggregator.column(col("v")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaIdiom = graft.ops.Ops.deterministicMode(df, "k", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaAgg == viaIdiom && viaAgg == Map(1L -> "a", 2L -> "z"))
  }

  test("DataGen: seeded, deterministic, weighted segments, uuid per row (S13/F15/F16)") {
    val u1 = DataGen.users(spark, 1000)
    val u2 = DataGen.users(spark, 1000)
    val seg1 = u1.groupBy("segment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val seg2 = u2.groupBy("segment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seg1 == seg2, "same seed → same distribution")
    assert(seg1("regular") > seg1("premium"), "weights applied")
    assert(u1.select("registration_token").distinct().count() == 1000L, "uuid unique")
    val o = DataGen.orders(spark, 100, 5)
    assert(o.count() == 500)
    assert(o.agg(min("amount")).collect()(0).getDouble(0) > 0.0)
  }

  test("partitioned warehouse write + dynamic overwrite + retention (S10/S11)") {
    val base = Files.createTempDirectory("graft-warehouse").toString
    val day1 = Seq((1L, 10.0, "2024-01-01"), (2L, 20.0, "2024-01-02"))
      .toDF("user_id", "v", "partition_date")
    MergeByKey.overwritePartitions(day1, base, "partition_date")
    // dynamic overwrite: replace only 2024-01-02, keep 2024-01-01
    val day2 = Seq((2L, 99.0, "2024-01-02")).toDF("user_id", "v", "partition_date")
    MergeByKey.overwritePartitions(day2, base, "partition_date")
    val after = spark.read.parquet(base)
    assert(after.count() == 2)
    assert(after.filter($"partition_date" === "2024-01-02").select("v")
      .collect()(0).getDouble(0) == 99.0)
    // retention (730-day expiry analog, bigquery_schema.sql:24-26): expire
    // partitions older than the cutoff IN PLACE — a directory delete per
    // partition, no data rewrite; anchor is caller-supplied, never now()
    val expired = MergeByKey.expirePartitions(spark, base, "partition_date",
      java.time.LocalDate.parse("2024-01-04"), retentionDays = 2)
    assert(expired == Seq("2024-01-01"), s"expired: $expired")
    val kept = spark.read.parquet(base)
    assert(kept.count() == 1)
    // partition values are date-inferred on read-back; compare as strings
    assert(kept.select($"partition_date".cast("string")).collect()(0).getString(0)
      == "2024-01-02")
    // idempotent: nothing left to expire
    assert(MergeByKey.expirePartitions(spark, base, "partition_date",
      java.time.LocalDate.parse("2024-01-04"), 2).isEmpty)
  }

  test("as-of join is point-in-time correct (no future leakage)") {
    val facts = Seq(
      (1L, "2024-01-01 10:00:00", 0.2, 1L),
      (1L, "2024-01-05 10:00:00", 0.8, 2L), // future relative to the probe
      (2L, "2024-01-02 00:00:00", 0.5, 3L))
      .toDF("user_id", "computed_at", "risk_score", "score_id")
      .withColumn("computed_at", to_timestamp($"computed_at"))
    val probes = Seq((10L, 1L, "2024-01-03 00:00:00"), (11L, 2L, "2024-01-01 00:00:00"))
      .toDF("probe_id", "user_id", "probe_ts")
      .withColumn("probe_ts", to_timestamp($"probe_ts"))
    val out = graft.ops.AsOfJoin
      .asOf(facts, probes, "user_id", "computed_at", "probe_ts", "score_id", probeId = "probe_id")
      .select($"probe_id", $"risk_score").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(10L).contains(0.2), "future score 0.8 must NOT leak into the 01-03 probe")
    assert(out(11L).isEmpty, "no score existed before user 2's probe")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // When one key owns the fact table, AQE's OptimizeSkewedJoin must split that partition into
    // parallel sub-joins at runtime. Thresholds are lowered so local-scale
    // data trips the same code path a 100 TB hot key would.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> util.Try(spark.conf.get(k)).toOption.flatMap(Option(_))).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      val facts = spark.range(0, 60000).select(
        when($"id" % 100 === 0, concat(lit("k"), ($"id" % 7).cast("string")))
          .otherwise(lit("hot")).as("k"),
        $"id".as("v"))
      val dims = (Seq("hot") ++ (0 until 7).map(i => s"k$i")).toDF("k")
        .withColumn("w", length($"k").cast("long"))
      // no aggregate AFTER the join: a downstream distribution requirement
      // makes OptimizeSkewedJoin decline (splitting the partition would
      // force a re-shuffle), which is itself part of the semantics pinned
      // keep v (distinct longs) in the output: the shuffled partition must
      // be incompressible enough to cross the lowered byte threshold —
      // a pruned all-"hot" column compresses to almost nothing
      val joined = facts.join(dims, "k").select($"k", $"v")
      val rows = joined.collect()
      assert(rows.count(_.getString(0) == "hot") == 59400, "join result wrong")
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("skew=true"),
        s"AQE skew-join must engage on the hot key:\n${plan.take(1200)}")
    } finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("observe() counters ride the job's own pass") {
    val (df, obs) = jobs.DataQualityJob.withObservedCounts(
      graft.core.Roles.transactions(spark, sf0001))
    val n = df.count()
    assert(obs.get("rows_seen") == n && obs.get("null_keys") == 0L)
  }

  test("daily batch runner: volume gates, upsert store, partitioned view export") {
    val out = java.nio.file.Files.createTempDirectory("graft-daily").toString
    val res = jobs.DailyBatchRunner.run(spark, sf0001, out,
      jobs.DailyBatchRunner.Thresholds(user = 10, transaction = 10, risk = 10))
    assert(res.userRows >= 10 && res.riskRows >= 10)
    // group stores are versioned behind a CURRENT pointer
    assert(jobs.MigrationRunner.current(spark, s"$out/user_features").count() == res.userRows)
    assert(spark.read.parquet(s"$out/feature_view")
      .select("partition_date").distinct().count() == 1)
    // second run is an idempotent upsert (same keys → same row count)
    val res2 = jobs.DailyBatchRunner.run(spark, sf0001, out,
      jobs.DailyBatchRunner.Thresholds(10, 10, 10))
    assert(jobs.MigrationRunner.current(spark, s"$out/user_features").count() == res2.userRows)
    // the validation gate aborts before writing when floors aren't met
    intercept[IllegalArgumentException] {
      jobs.DailyBatchRunner.run(spark, sf0001, out + "-gated",
        jobs.DailyBatchRunner.Thresholds(user = 1000000, transaction = 1, risk = 1))
    }
    assert(!new java.io.File(out + "-gated/user_features").exists(),
      "failed validation must not write")
  }

  test("migration runner: validate → copy → reconcile → switchover pointer") {
    val root = java.nio.file.Files.createTempDirectory("graft-mig").toString
    val source = graft.core.Roles.users(spark, sf0001)
    val report = jobs.MigrationRunner.migrate(spark, source, root, "v2", "user_id")
    assert(report.countsMatch && report.sampleMismatches == 0 && report.switched)
    assert(jobs.MigrationRunner.current(spark, root).count() == report.sourceRows)
    // a source with duplicate keys is refused before any copy
    intercept[IllegalArgumentException] {
      jobs.MigrationRunner.migrate(spark, source.unionAll(source.limit(1)),
        root, "v3", "user_id")
    }
    assert(!new java.io.File(s"$root/v3").exists(), "refused migration must not copy")
    // migrating onto the LIVE store name is refused before any write
    intercept[IllegalArgumentException] {
      jobs.MigrationRunner.migrate(spark, source.limit(5), root, "v2", "user_id")
    }
    assert(jobs.MigrationRunner.current(spark, root).count() == report.sourceRows,
      "live store untouched after refused overwrite")
  }

  test("JSONL ingest quarantines malformed lines; good rows arrive typed (S12)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
    java.nio.file.Files.writeString(dir.resolve("events.jsonl"),
      """{"event_id": 1, "user_id": 10, "event_type": "click"}
        |{"event_id": 2, "user_id": 20, "event_type": "purchase"}
        |{not json at all
        |{"event_id": "NaN-ish", "user_id": 30, "event_type": "view"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val ingest = graft.core.Tables.readJsonl(spark, dir.toString, schema)
    assert(ingest.valid.count() == 2)
    assert(ingest.valid.schema("event_id").dataType.typeName == "long")
    val q = ingest.quarantine.collect().map(_.getString(0))
    assert(q.length == 2, s"quarantined: ${q.mkString("|")}")
    assert(q.exists(_.startsWith("{not json")))
    assert(q.exists(_.contains("NaN-ish")), "type-mismatched rows are quarantined, not nulled")
    // the ingest cache is scoped to the call: release() must drop it so
    // repeated ingests don't accumulate blocks for the session lifetime
    ingest.release()
    assert(spark.sparkContext.getPersistentRDDs.size == persistedBefore,
      "release() must unpersist the ingest cache")
  }

  test("migration rollback re-points CURRENT to the previous version") {
    val root = java.nio.file.Files.createTempDirectory("graft-rb").toString
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("user_id", "v")
    val v2 = Seq((1L, "a2"), (2L, "b2"), (3L, "c2")).toDF("user_id", "v")
    assert(jobs.MigrationRunner.migrate(spark, v1, root, "v1", "user_id").switched)
    assert(jobs.MigrationRunner.migrate(spark, v2, root, "v2", "user_id").switched)
    assert(jobs.MigrationRunner.current(spark, root).count() == 3)
    // rollback: pointer move only — v2's data stays on disk, readers resolve v1
    val target = jobs.MigrationRunner.rollback(spark, root)
    assert(target == "v1")
    assert(jobs.MigrationRunner.current(spark, root).count() == 2,
      "readers must see the previous version after rollback")
    assert(new java.io.File(s"$root/v2").exists(), "rollback never deletes versions")
    // guards: can't roll back onto the live version or a missing one
    intercept[IllegalArgumentException] {
      jobs.MigrationRunner.rollback(spark, root, Some("v1"))
    }
    intercept[IllegalArgumentException] {
      jobs.MigrationRunner.rollback(spark, root, Some("no-such-version"))
    }
  }

  test("repeated rollbacks walk version history backward, never ping-pong") {
    val root = java.nio.file.Files.createTempDirectory("graft-rb2").toString
    def ver(n: Int) = Seq((1L, s"v$n")).toDF("user_id", "v")
    (1 to 3).foreach(n =>
      assert(jobs.MigrationRunner.migrate(spark, ver(n), root, s"v$n", "user_id").switched))
    // v3 is live; two rollbacks must land on v2 then v1 — a newest-by-mtime
    // default would bounce v3 → v2 → v3 forever
    assert(jobs.MigrationRunner.rollback(spark, root) == "v2")
    assert(jobs.MigrationRunner.rollback(spark, root) == "v1")
    // v1 is the oldest surviving version: walking further back must refuse
    intercept[IllegalArgumentException] {
      jobs.MigrationRunner.rollback(spark, root)
    }
    // a fresh migration extends the lineage; rollback returns to the
    // version created before it in the log
    assert(jobs.MigrationRunner.migrate(spark, ver(4), root, "v4", "user_id").switched)
    assert(jobs.MigrationRunner.rollback(spark, root) == "v3")
  }

  test("batch serving summary reports the cache_hit_ratio envelope") {
    val svc = new graft.serving.FeatureStoreService(spark, sf0001)
    val building = graft.core.Roles.users(spark, sf0001)
      .filter(col("recently_updated")).select("user_id")
      .as[Long].collect().take(3)
    val results = svc.getBatch(building :+ 999999L, Seq("user"),
      java.time.Instant.parse("2001-08-02T01:00:00Z"))
    val (hits, total, ratio) = svc.batchSummary(results)
    assert(total == 4 && hits == 3 && ratio == 0.75)
  }

  test("J8: dynamic join assembly only joins requested groups") {
    val userOnly = jobs.FeatureViewJob.assemble(spark, sf0001, Set("user"))
    assert(userOnly.columns.contains("age") && !userOnly.columns.contains("risk_score"))
    val two = jobs.FeatureViewJob.assemble(spark, sf0001, Set("user", "risk"))
    assert(two.columns.contains("risk_score") && !two.columns.contains("total_amount_30d"))
    assert(two.count() == userOnly.count(), "left joins keep the user base")
    intercept[IllegalArgumentException](
      jobs.FeatureViewJob.assemble(spark, sf0001, Set("bogus")))
  }

  test("seeded randomSample: per-seed deterministic, different seeds widen coverage") {
    def draw(seed: Long): Seq[Long] =
      serving.Lookups.randomSample(spark, sf0001, 20, seed)
        .select("c_custkey").as[Long].collect().toSeq
    // each seed is bit-stable across invocations (the audit re-run property)
    assert(draw(0L) == draw(0L))
    assert(draw(7L) == draw(7L))
    // distinct seeds draw distinct subsets — repeated audits cover more
    // than the one fixed sample (the ADVICE coverage concern)
    assert(draw(0L) != draw(7L))
    assert(draw(7L) != draw(8L))
    assert(draw(7L).size == 20)
    // the seeded oracle SQL mirrors the fold (seed 0 keeps the r7 text)
    assert(oracle.OracleSql.randomSample(20, 7L).contains("xor(c_custkey, 7)"))
    assert(!oracle.OracleSql.randomSample(20).contains("xor"))
  }
}
