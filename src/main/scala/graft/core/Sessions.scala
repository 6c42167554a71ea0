package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every runnable main shares (Verify,
  * RunnerVerify, GenScaled, Explain, ScalingBench, StreamBench, RecallBench,
  * FeatureApiMain, GrpcServerMain) — the
  * settings are load-bearing, so they live in exactly one place:
  *
  *   - GraftExtensions registers the native codegen expressions;
  *   - shuffle.partitions = cores (not the 200 default) sizes local runs;
  *   - UTC pins every timestamp rendering the oracles compare;
  *   - nanosAsLong is REQUIRED to read events.parquet (TIMESTAMP(NANOS),
  *     which the vanilla reader rejects — Tables.events converts back);
  *   - no UI: headless harness runs.
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
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
