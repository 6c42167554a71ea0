package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.jobs._
import graft.oracle.OracleSql

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a matching DuckDB oracle in `oracleSql`
  * unless the operator is not SQL-expressible (then the driver records a
  * rows-only check). Column names are aligned between both sides; timestamp
  * outputs are canonicalized to 'yyyy-MM-dd HH:mm:ss' strings so the compare
  * never trips on parquet-vs-DuckDB timezone encodings.
  */
object SparkEntry {

  /** Render every timestamp column as a UTC string (oracle canonicalization;
    * the underlying jobs keep real timestamp columns). Matches BOTH
    * TimestampType and TimestampNTZType: source parquet written with naive
    * (isAdjustedToUTC=false) timestamps surfaces as NTZ under Spark's
    * parquet NTZ inference, and an unmatched NTZ column would reach the
    * driver's compare as a raw microsecond timestamp while the DuckDB
    * oracle emits a formatted string — rows/schema green, hash red. */
  private[graft] def canon(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType =>
          date_format(col(f.name), "yyyy-MM-dd HH:mm:ss").as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TransactionFeaturesJob(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "transaction_features" -> ((s, dir) => canon(TransactionFeaturesJob(s, dir))),
    "user_features"        -> ((s, dir) => canon(UserFeaturesJob(s, dir))),
    "risk_features"        -> ((s, dir) => canon(RiskFeaturesJob(s, dir))),
    // day-bucket incremental maintenance: 3-day delta ladder, oracle'd
    // against the SAME full-recompute SQL as transaction_features
    "transaction_features_incremental" -> ((s, dir) =>
      canon(IncrementalTransactionFeatures.ladder(s, dir))),
    // the additive-fold family (running totals + in-grain MODE), same idea
    "user_features_incremental" -> ((s, dir) =>
      canon(IncrementalUserFeatures.ladder(s, dir))),
    // the 5-way fan: per-CTE day-grained states + the unchanged fan-in
    "risk_features_incremental" -> ((s, dir) =>
      canon(IncrementalRiskFeatures.ladder(s, dir))),
    // the whole daily pipeline composes: the wide serving view built from
    // the THREE incremental ladders, against the full-recompute view SQL
    "feature_view_incremental" -> ((s, dir) =>
      canon(FeatureViewJob.compute(
        IncrementalUserFeatures.ladder(s, dir),
        IncrementalTransactionFeatures.ladder(s, dir),
        IncrementalRiskFeatures.ladder(s, dir)))),
    "feature_view"         -> ((s, dir) => canon(FeatureViewJob(s, dir))),
    "migration_checks"     -> ((s, dir) => MigrationValidationJob.checks(s, dir)),
    "count_reconciliation" -> ((s, dir) => MigrationValidationJob.countReconciliation(s, dir)),
    "sample_compare"       -> ((s, dir) => MigrationValidationJob.sampleCompare(s, dir)),
    "dq_completeness"      -> ((s, dir) => DataQualityJob.completeness(s, dir)),
    "dq_feature_completeness" -> ((s, dir) => DataQualityJob.featureCompleteness(s, dir)),
    "dq_freshness"         -> ((s, dir) => DataQualityJob.freshness(s, dir)),
    "dq_profile"           -> ((s, dir) => DataQualityJob.profile(s, dir)),
    "dq_outliers"          -> ((s, dir) => DataQualityJob.outliers(s, dir)),
    "dq_row_validation"    -> ((s, dir) => DataQualityJob.rowValidation(s, dir)),
    "dq_alerts"            -> ((s, dir) => DataQualityJob.alerts(s, dir)),
    "point_lookup"         -> ((s, dir) => canon(serving.Lookups.pointLookup(s, dir, LookupIds.point))),
    "batch_lookup"         -> ((s, dir) => canon(serving.Lookups.batchLookup(s, dir, LookupIds.batch))),
    // the COLD serving path: same rows as point_lookup, served from the
    // bucketed CLUSTER BY user_id layout (S2 at 100 TB without the cache)
    "point_lookup_clustered" -> ((s, dir) =>
      canon(sinks.BucketedLayout.pointLookupClustered(s, dir, LookupIds.point))),
    // the POINTERED day-partitioned warehouse (r14: compaction with no
    // absent window): read path resolves per-partition CURRENT pointers
    // post-compaction. r15: the day predicate prunes at the LISTING level
    // (readPointeredWhere) — the plan is built over just the matching
    // store, instead of analyzing every branch and letting constant-
    // folding discard the cold ones (CompactionSpec pins the records; the
    // plan-level filter stays as the semantic statement of the slice)
    "warehouse_pointered_day" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{count, lit}
      canon(sinks.Compaction.readPointeredWhere(s,
          sinks.Compaction.pointeredEventsWarehouse(s, dir), "p_day", "date")(
          _ == "2024-01-10")
        .filter(col("p_day") === lit(java.sql.Date.valueOf("2024-01-10")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          graft.ops.Ops.orZeroD(
            graft.ops.Ops.sumMoney(lit(true), col("value"))).as("total_value")))
    }),
    "ordered_export"       -> ((s, dir) => serving.Lookups.orderedExport(s, dir)),
    "percentiles"          -> ((s, dir) => serving.Lookups.percentiles(s, dir)),
    "equi_depth_histogram" -> ((s, dir) => DataQualityJob.equiDepthHistogram(s, dir)),
    "dq_robust_outliers"   -> ((s, dir) => DataQualityJob.robustOutliers(s, dir)),
    "dq_drift"             -> ((s, dir) => DataQualityJob.distributionDrift(s, dir)),
    "percentiles_approx"   -> ((s, dir) => serving.Lookups.percentilesApprox(s, dir)),
    "dedup_exact"          -> ((s, dir) => ext.Dedup.exact(core.Tables.documents(s, dir))),
    "dedup_jaccard"        -> ((s, dir) => ext.Dedup.jaccardPairs(
      ext.Dedup.shingleTable(s, dir), ext.Dedup.candidatePairTable(s, dir), 0.5)),
    "dedup_minhash_pairs"  -> ((s, dir) => ext.Dedup.candidatePairTable(s, dir)),
    "dedup_simhash"        -> ((s, dir) => ext.Dedup.simhash(core.Tables.documents(s, dir))),
    "dedup_simhash_pairs"  -> ((s, dir) => ext.Dedup.simhashPairTable(s, dir, 3)),
    "dedup_clusters"       -> ((s, dir) => ext.Dedup.clusterTable(s, dir, 0.5)),
    "dedup_cluster_keepers" -> ((s, dir) => ext.Dedup.clusterKeepers(
      ext.Dedup.clusterTable(s, dir, 0.5), core.Tables.documents(s, dir), "n_chars")),
    "similarity_topk"      -> ((s, dir) => ext.Similarity.bruteTopK(core.Tables.embeddings(s, dir), 5, 10)),
    "ann_buckets"          -> ((s, dir) => ext.Similarity.lshBucketsCached(s, dir)),
    "dedup_embedding"      -> ((s, dir) => ext.Similarity.cosineNearDupsCached(s, dir, 20)),
    "text_stats"           -> ((s, dir) => ext.TextAnalysis.textStatsTable(s, dir)),
    "lang_id"              -> ((s, dir) => ext.TextAnalysis.langId(core.Tables.documents(s, dir))),
    "doc_fingerprints"     -> ((s, dir) => ext.TextAnalysis.fingerprints(core.Tables.documents(s, dir))),
    "media_stats"          -> ((s, dir) => ext.Multimodal.mediaStats(core.Tables.documents(s, dir))),
    "event_parse_stats"    -> ((s, dir) => StreamAnalogJobs.eventParseStats(s, dir)),
    "velocity_windows"     -> ((s, dir) => StreamAnalogJobs.velocityWindows(s, dir)),
    "merge_upsert"         -> ((s, dir) => canon(StreamAnalogJobs.mergeUpsert(s, dir))),
    "approx_distinct"      -> ((s, dir) => StreamAnalogJobs.approxDistinct(s, dir)),
    "keyset_page"          -> ((s, dir) => serving.Lookups.keysetPage(s, dir, 5000L, 100)),
    "feature_bundles"      -> ((s, dir) => serving.Lookups.featureBundles(s, dir)),
    "random_sample"        -> ((s, dir) => serving.Lookups.randomSample(s, dir, 100)),
    "asof_risk"            -> ((s, dir) => StreamAnalogJobs.asOfRisk(s, dir)),
    "pit_training_set"     -> ((s, dir) => TrainingSetJob.pitTrainingSet(s, dir)),
    "pit_training_matrix_wide" -> ((s, dir) => TrainingSetJob.pitTrainingMatrixWide(s, dir)),
    "training_serving_skew" -> ((s, dir) => SkewMonitorJob.trainingServingSkew(s, dir)),
    "tumbling_counts"      -> ((s, dir) => StreamAnalogJobs.tumblingCounts(s, dir)),
    "transaction_features_compat" -> ((s, dir) =>
      canon(TransactionFeaturesJob(s, dir, compatNight = true))),
    "event_sessions"       -> ((s, dir) => StreamAnalogJobs.eventSessions(s, dir)),
    "word_counts"          -> ((s, dir) => StreamAnalogJobs.wordCounts(s, dir, 50)),
    "token_counts"         -> ((s, dir) => ext.TextAnalysis.tokenCounts(core.Tables.documents(s, dir))),
    "frame_sample"         -> ((s, dir) => ext.Multimodal.frameSample(
      ext.Multimodal.asMediaTable(core.Tables.documents(s, dir)), 32, 2)),
    "repetition_stats"     -> ((s, dir) => ext.TextAnalysis.repetitionTable(s, dir)),
    "stratified_sample"    -> ((s, dir) => ext.Corpus.stratifiedSample(
      core.Tables.documents(s, dir), SampleRates.bySource, SampleRates.default)),
    "corpus_funnel"        -> ((s, dir) => ext.Corpus.cleaningFunnel(
      core.Tables.documents(s, dir), ext.TextAnalysis.textStatsTable(s, dir))),
    "contamination"        -> ((s, dir) => {
      val docs = core.Tables.documents(s, dir)
      ext.Corpus.contamination(docs, docs.filter(col("doc_id") < 100), 3, 0.1)
    }),
    "pack_sequences"       -> ((s, dir) => ext.Corpus.packSequences(
      core.Tables.documents(s, dir), 2048)),
    "mixture_sample"       -> ((s, dir) => ext.Corpus.mixtureSample(
      core.Tables.documents(s, dir), MixBudgets.bySource, MixBudgets.default)),
    "span_dedup"           -> ((s, dir) => ext.Dedup.spanDedup(core.Tables.documents(s, dir), 16)),
    "substring_dedup"      -> ((s, dir) => ext.Dedup.substringDedup(
      ext.Dedup.substringWindowTable(s, dir, 12), 12)),
    "substring_clean"      -> ((s, dir) => ext.Dedup.substringClean(
      core.Tables.documents(s, dir), ext.Dedup.substringWindowTable(s, dir, 12), 12)),
    "pii_scan"             -> ((s, dir) => ext.TextAnalysis.piiScan(core.Tables.documents(s, dir))),
    "interval_agg"         -> ((s, dir) => StreamAnalogJobs.intervalAgg(s, dir)),
    "incremental_user_stats" -> ((s, dir) =>
      canon(StreamAnalogJobs.incrementalUserStats(s, dir))),
    "tfidf_terms"          -> ((s, dir) => ext.TextAnalysis.tfidfTopTerms(
      core.Tables.documents(s, dir), 3)),
    "length_histogram"     -> ((s, dir) => ext.TextAnalysis.lengthHistogram(
      core.Tables.documents(s, dir), 50)),
    "cube_accounting"      -> ((s, dir) => ext.Corpus.sourceCube(
      core.Tables.documents(s, dir))),
    "rollup_accounting"    -> ((s, dir) => ext.Corpus.sourceRollup(
      core.Tables.documents(s, dir))),
    "event_pivot"          -> ((s, dir) => StreamAnalogJobs.eventTypePivot(s, dir)),
    "moving_daily_totals"  -> ((s, dir) => StreamAnalogJobs.movingDailyTotals(s, dir)),
    "daily_anomalies"      -> ((s, dir) => StreamAnalogJobs.dailyAnomalies(s, dir)),
    "event_funnel"         -> ((s, dir) => StreamAnalogJobs.eventFunnel(s, dir)),
    "ab_metric"            -> ((s, dir) => StreamAnalogJobs.abMetric(s, dir)),
    "weighted_sample"      -> ((s, dir) => ext.Corpus.weightedSample(
      core.Tables.documents(s, dir), 100)),
    "vocab_growth"         -> ((s, dir) => ext.Corpus.vocabGrowth(
      core.Tables.documents(s, dir))),
    "quantile_normalize"   -> ((s, dir) => ext.Corpus.quantileNormalize(
      core.Tables.documents(s, dir))),
    "top_terms_per_source" -> ((s, dir) => ext.TextAnalysis.topTermsPerSource(
      core.Tables.documents(s, dir), 5)),
    "train_split"          -> ((s, dir) => ext.Corpus.splitAssign(
      core.Tables.documents(s, dir), 0.8, 0.1)),
    "quality_filter"       -> ((s, dir) => ext.TextAnalysis.qualityFilter(
      ext.TextAnalysis.scoreTable(s, dir))),
    "snapshot_diff"        -> ((s, dir) => jobs.MigrationValidationJob.snapshotDiff(
      s, dir, "1999-01-01", "2000-01-01")),
    "oov_rate"             -> ((s, dir) => ext.TextAnalysis.oovTable(s, dir, 1000)),
    "embedding_outliers"   -> ((s, dir) => ext.Similarity.embeddingOutliers(
      core.Tables.embeddings(s, dir), 5)),
    "semantic_clusters"    -> ((s, dir) => ext.Similarity.semanticClusterTable(s, dir, 0.2)),
    "semantic_leakage"     -> ((s, dir) => ext.Similarity.semanticSplitLeakage(s, dir, 0.2)),
    "split_leakage"        -> ((s, dir) => ext.Corpus.splitLeakage(
      ext.Dedup.verifiedPairTable(s, dir, 0.5),
      ext.Corpus.splitAssign(core.Tables.documents(s, dir), 0.8, 0.1))),
    "shard_manifest"       -> ((s, dir) => ext.Corpus.shardManifest(
      core.Tables.documents(s, dir), 16)),
    "lm_familiarity"       -> ((s, dir) => ext.TextAnalysis.bigramFamiliarity(
      ext.TextAnalysis.docBigramTable(s, dir), ext.TextAnalysis.bigramDfTable(s, dir))),
    "quality_tiers"        -> ((s, dir) => ext.TextAnalysis.qualityTiers(
      ext.TextAnalysis.textStatsTable(s, dir), 10)),
    "dedup_incremental"    -> ((s, dir) => ext.Dedup.incrementalPairTable(s, dir, 0.1)),
    "mixture_weights"      -> ((s, dir) => ext.Corpus.mixtureWeights(
      core.Tables.documents(s, dir))),
    // target domain = English docs (DSIR's "formal text" stand-in here);
    // the cached weights table feeds both the listing and the resampler
    "dsir_weights"         -> ((s, dir) => ext.Corpus.dsirWeightsCached(s, dir)),
    "dsir_resample"        -> ((s, dir) => ext.Corpus.dsirResample(
      ext.Corpus.dsirWeightsCached(s, dir), 100)),
    "chunk_windows"        -> ((s, dir) => ext.Corpus.chunkWindows(
      core.Tables.documents(s, dir), 64, 48)),
    "curation_gate"        -> ((s, dir) => ext.TextAnalysis.curationGate(
      ext.TextAnalysis.textStatsTable(s, dir), ext.TextAnalysis.repetitionTable(s, dir),
      ext.TextAnalysis.oovTable(s, dir, 20))),
    "source_quota"         -> ((s, dir) => ext.Corpus.sourceQuota(
      core.Tables.documents(s, dir), QuotaCaps.bySource, QuotaCaps.default)),
    "bpe_merge_pairs"      -> ((s, dir) => ext.Vocab.charPairStats(
      core.Tables.documents(s, dir), 30)),
    "quality_model"        -> ((s, dir) => ext.TextAnalysis.modelQualityScore(
      core.Tables.documents(s, dir))),
    "heavy_hitters"        -> ((s, dir) => jobs.StreamAnalogJobs.hotKeys(s, dir, 16)),
    "rolling_distinct"     -> ((s, dir) => jobs.StreamAnalogJobs.rollingDistinctUsers(s, dir)),
    "cohort_retention"     -> ((s, dir) => jobs.StreamAnalogJobs.cohortRetention(s, dir)),
    "click_attribution"    -> ((s, dir) => canon(jobs.StreamAnalogJobs.clickAttribution(s, dir))),
    "group_sample"         -> ((s, dir) => ext.Corpus.groupSample(
      core.Tables.documents(s, dir), 10)),
  )

  /** Fixed source-mix rates for the stratified-sample query (a training-mix
    * weighting: upweight one source, downweight the tail). */
  private object SampleRates {
    val bySource: Map[String, Double] =
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.3)
    val default: Double = 0.15
  }

  /** Per-source token budgets for the mixture-sample query (a LLaMA/Pile-
    * style training mix specified in tokens: upweight two sources, default
    * the tail). */
  private object MixBudgets {
    // Sized so the budget genuinely bites at every testdata sf (per-source
    // totals are ~1.4k tokens at sf0.01, ~13.5k at sf0.1): src0 keeps
    // everything at small sf but truncates at sf0.1, src1 truncates hard
    // everywhere, the default tail truncates moderately.
    val bySource: Map[String, Long] = Map("src0" -> 2000L, "src1" -> 400L)
    val default: Long = 800L
  }

  /** Per-source document caps for the quota query (anti-domination: src0
    * generous — keeps everything at sf0.01 but truncates at sf0.1 — src1
    * tight, the default tail moderate; per-source counts are 25 at sf0.01,
    * 250 at sf0.1, so every branch genuinely bites somewhere). */
  private object QuotaCaps {
    val bySource: Map[String, Long] = Map("src0" -> 40L, "src1" -> 10L)
    val default: Long = 15L
  }

  /** Deterministic probe-id sets for the lookup queries (S2/S3): a handful
    * of points, and a 100-id batch at the reference's API cap. */
  private object LookupIds {
    val point: Seq[Long] = Seq(4L, 5L, 9L, 14L, 27L)
    val batch: Seq[Long] = (0L until 1500L by 15).take(100)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "transaction_features" -> OracleSql.transactionFeatures(),
    // incremental ≡ full recompute IS the claim: same oracle SQL
    "transaction_features_incremental" -> OracleSql.transactionFeatures(),
    "user_features_incremental" -> OracleSql.userFeatures(),
    "risk_features_incremental" -> OracleSql.riskFeatures(),
    "feature_view_incremental" -> OracleSql.featureView(),
    "user_features"        -> OracleSql.userFeatures(),
    "risk_features"        -> OracleSql.riskFeatures(),
    "feature_view"         -> OracleSql.featureView(),
    "migration_checks"     -> OracleSql.migrationChecks,
    "count_reconciliation" -> OracleSql.countReconciliation,
    "sample_compare"       -> OracleSql.sampleCompare(),
    "dq_completeness"      -> OracleSql.dqCompleteness,
    "dq_feature_completeness" -> OracleSql.dqFeatureCompleteness,
    "dq_freshness"         -> OracleSql.dqFreshness(),
    "dq_profile"           -> OracleSql.dqProfile,
    "dq_outliers"          -> OracleSql.dqOutliers,
    "dq_row_validation"    -> OracleSql.dqRowValidation(),
    "dq_alerts"            -> OracleSql.dqAlerts(),
    "point_lookup"         -> OracleSql.pointLookup(LookupIds.point),
    "batch_lookup"         -> OracleSql.pointLookup(LookupIds.batch),
    // the clustered layout must serve byte-identical rows to the flat path
    "point_lookup_clustered" -> OracleSql.pointLookup(LookupIds.point),
    "warehouse_pointered_day" -> OracleSql.warehousePointeredDay,
    "ordered_export"       -> OracleSql.orderedExport,
    "percentiles"          -> OracleSql.percentiles,
    "equi_depth_histogram" -> OracleSql.equiDepthHistogram(),
    "dq_robust_outliers"   -> OracleSql.robustOutliers(),
    "dq_drift"             -> OracleSql.distributionDrift(),
    "dedup_exact"          -> OracleSql.dedupExact,
    "dedup_jaccard"        -> OracleSql.dedupJaccard(0.5),
    "dedup_minhash_pairs"  -> OracleSql.dedupMinhashPairs,
    "dedup_simhash"        -> OracleSql.dedupSimhash,
    "dedup_simhash_pairs"  -> OracleSql.dedupSimhashPairs(3),
    "dedup_clusters"       -> OracleSql.dedupClusters(0.5),
    "dedup_cluster_keepers" -> OracleSql.dedupClusterKeepers(0.5),
    "similarity_topk"      -> OracleSql.similarityTopK(5, 10),
    "ann_buckets"          -> OracleSql.annBuckets,
    "dedup_embedding"      -> OracleSql.cosineNearDups(20),
    "text_stats"           -> OracleSql.textStats,
    "lang_id"              -> OracleSql.langId,
    "doc_fingerprints"     -> OracleSql.docFingerprints,
    "media_stats"          -> OracleSql.mediaStats,
    "event_parse_stats"    -> OracleSql.eventParseStats,
    "velocity_windows"     -> OracleSql.velocityWindows(),
    "merge_upsert"         -> OracleSql.mergeUpsert(),
    "keyset_page"          -> OracleSql.keysetPage(5000L, 100),
    "feature_bundles"      -> OracleSql.featureBundles(),
    // approx_distinct / percentiles_approx carry ERROR-ENVELOPE oracles:
    // the sketch values are engine-specific, so Spark emits a boolean
    // "within the sketch's documented bound of the exact witness" and the
    // oracle asserts TRUE — a semantic check instead of rows-only (A16).
    "random_sample"        -> OracleSql.randomSample(100),
    "approx_distinct"      -> OracleSql.approxDistinct,
    "percentiles_approx"   -> OracleSql.percentilesApprox,
    "asof_risk"            -> OracleSql.asOfRisk,
    "pit_training_set"     -> OracleSql.pitTrainingSet,
    "pit_training_matrix_wide" -> OracleSql.pitTrainingMatrixWide,
    "training_serving_skew" -> OracleSql.trainingServingSkew,
    "tumbling_counts"      -> OracleSql.tumblingCounts,
    "transaction_features_compat" -> OracleSql.transactionFeaturesCompat(),
    "event_sessions"       -> OracleSql.eventSessions,
    "word_counts"          -> OracleSql.wordCounts(50),
    "token_counts"         -> OracleSql.tokenCounts,
    "frame_sample"         -> OracleSql.frameSample(32, 2),
    "repetition_stats"     -> OracleSql.repetitionStats,
    "stratified_sample"    -> OracleSql.stratifiedSample(
      SampleRates.bySource.toSeq.sortBy(_._1), SampleRates.default),
    "corpus_funnel"        -> OracleSql.corpusFunnel(0.5, 10, 1000),
    "contamination"        -> OracleSql.contamination(100, 3, 0.1),
    "pack_sequences"       -> OracleSql.packSequences(2048),
    "mixture_sample"       -> OracleSql.mixtureSample(
      MixBudgets.bySource.toSeq.sortBy(_._1), MixBudgets.default),
    "span_dedup"           -> OracleSql.spanDedup(16),
    "substring_dedup"      -> OracleSql.substringDedup(12),
    "substring_clean"      -> OracleSql.substringClean(12),
    "pii_scan"             -> OracleSql.piiScan,
    "interval_agg"         -> OracleSql.intervalAgg,
    "incremental_user_stats" -> OracleSql.incrementalUserStats,
    "tfidf_terms"          -> OracleSql.tfidfTopTerms(3),
    "length_histogram"     -> OracleSql.lengthHistogram(50),
    "cube_accounting"      -> OracleSql.sourceCube,
    "rollup_accounting"    -> OracleSql.sourceRollup,
    "daily_anomalies"      -> OracleSql.dailyAnomalies(),
    "event_funnel"         -> OracleSql.eventFunnel(),
    "ab_metric"            -> OracleSql.abMetric(),
    "weighted_sample"      -> OracleSql.weightedSample(100),
    "vocab_growth"         -> OracleSql.vocabGrowth(),
    "quantile_normalize"   -> OracleSql.quantileNormalize(),
    "event_pivot"          -> OracleSql.eventPivot,
    "moving_daily_totals"  -> OracleSql.movingDailyTotals,
    "top_terms_per_source" -> OracleSql.topTermsPerSource(5),
    "semantic_clusters"    -> OracleSql.semanticClusters(0.2),
    "semantic_leakage"     -> OracleSql.semanticSplitLeakage(0.2, 0.8, 0.1),
    "train_split"          -> OracleSql.splitAssign(0.8, 0.1),
    "quality_filter"       -> OracleSql.qualityFilter,
    "snapshot_diff"        -> OracleSql.snapshotDiff("1999-01-01", "2000-01-01"),
    "oov_rate"             -> OracleSql.oovRate(1000),
    "embedding_outliers"   -> OracleSql.embeddingOutliers(5),
    "split_leakage"        -> OracleSql.splitLeakage(0.5, 0.8, 0.1),
    "shard_manifest"       -> OracleSql.shardManifest(16),
    "lm_familiarity"       -> OracleSql.bigramFamiliarity,
    "quality_tiers"        -> OracleSql.qualityTiers(10),
    "dedup_incremental"    -> OracleSql.incrementalPairs(0.1),
    "mixture_weights"      -> OracleSql.mixtureWeights,
    "dsir_weights"         -> OracleSql.dsirWeights("lang = 'en'"),
    "dsir_resample"        -> OracleSql.dsirResample("lang = 'en'", 100),
    "chunk_windows"        -> OracleSql.chunkWindows(64, 48),
    "curation_gate"        -> OracleSql.curationGate(10, 1000, 0.5, 0.2, 20, 0.2),
    "source_quota"         -> OracleSql.sourceQuota(
      QuotaCaps.bySource.toSeq.sortBy(_._1), QuotaCaps.default),
    "bpe_merge_pairs"      -> OracleSql.bpeMergePairs(30),
    "quality_model"        -> OracleSql.qualityModel,
    "heavy_hitters"        -> OracleSql.heavyHitters(16),
    "rolling_distinct"     -> OracleSql.rollingDistinct,
    "cohort_retention"     -> OracleSql.cohortRetention,
    "click_attribution"    -> OracleSql.clickAttribution,
    "group_sample"         -> OracleSql.groupSample(10),
  )
}
