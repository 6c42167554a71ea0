package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every runnable main shares (Verify,
  * RunnerVerify, GenScaled, Explain, FeatureApiMain, GrpcServerMain, the
  * perfbench Main) and the test session (SparkSpec) — the settings are
  * load-bearing, so they live in exactly one place:
  *
  *   - GraftExtensions registers the native codegen expressions;
  *   - shuffle.partitions = cores (not the 200 default) sizes local runs;
  *   - UTC pins every timestamp rendering the oracles compare;
  *   - nanosAsLong is REQUIRED to read events.parquet (TIMESTAMP(NANOS),
  *     which the vanilla reader rejects — Tables.events converts back);
  *   - each generated class compiles once per JVM (below);
  *   - no UI: headless harness runs.
  *
  * `spark.sql.codegen.cache.maxEntries` bounds Spark's one JVM-wide LRU of
  * Janino-compiled classes, keyed by the generated source. The engine's
  * working set cycles through the default of 100 with almost no hits: the
  * 28 FeatureCache builds add about 520 entries and all 109 board queries
  * about 1,020 more. So at 100 every repeated plan (a nightly re-run, an
  * analyst board, a long-lived serving session) recompiled all of its
  * classes: ~600 on the perfbench board's second pass, as many as on its
  * first. 4,096 holds the set with room for the serving and streaming
  * plans. Metaspace used after both board passes stays at about 185 MB,
  * and a hit cannot change a result, since the key is the whole source.
  * The conf is static, read once when the cache is created, so it is set
  * here, before anything compiles.
  *
  * `spark.sql.codegen.useIdInClassName=false` keeps the whole-stage
  * codegen stage id out of the generated class name; it stays in a source
  * comment, which the cache key leaves out. AQE assigns the ids while it
  * re-plans a running query, and the same pipeline got a different id on
  * the next run of the same plan (6→7, 8→9, 9→6 in one run of
  * risk_features_incremental), so each run recompiled it. Those were all
  * of the second-pass compiles left once the cache held the working set.
  */
object Sessions {

  /** Build (or reuse) the local session. `logLevel` defaults to the
    * harness-friendly WARN. */
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // DisableUnnecessaryBucketedScan treats only join/agg distributions
      // as "interesting" — a bare key-equality FILTER on a bucketed table
      // gets its bucketed read (and with it, bucket PRUNING) planned away,
      // which is exactly backwards for the cold point-lookup layout
      // (sinks/BucketedLayout): pruning 15/16 buckets dwarfs the lost
      // split flexibility. Only the engine's own clustered tables are
      // bucketed, and every read of them wants the bucket spec honored.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // Let AQE coalesce the FINAL stage of cached-plan materialization
      // (off by default): every FeatureCache table is otherwise persisted
      // at the build plan's raw shuffle partitioning (= cores), so each
      // warm InMemoryTableScan launches `cores` near-empty tasks per
      // consumer at small inputs. With this on, the cached partitioning is
      // derived from the data's BYTES (AQE advisory size) — few partitions
      // at sf0.1, hundreds at 100 TB — instead of a core-count constant.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Let the planner choose shuffled-hash join where its size conditions
      // fit instead of always preferring sort-merge (guide §3.1/§9): the
      // full-outer key-reconciliation joins (migration_checks,
      // snapshot_diff) and the pit/asof probes pay two wide sorts under
      // SMJ that SHJ skips. Measured interleaved (conf toggled per
      // iteration in one JVM; OPTIMIZATION_r17.md §7) on the join-heavy
      // board members: ~8% at sf0.1 (2.91→2.66), ~5% at x10 (6.02→5.70),
      // ~11% at x100 (36.8→32.8). NOT a local[32] tune: the decision stays per-join and
      // size-gated by the planner (a build side that can't fit a local map
      // still gets SMJ), and AQE skew-split handles SHJ like SMJ.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
