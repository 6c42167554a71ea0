package graft

import org.apache.spark.sql.DataFrame

/** Runtime scan-economy audit — task-metric inputRecords pins for every
  * query whose scale story claims a scan budget.
  *
  * Why this spec exists (round-10 lesson): plan-STRING pins are provably
  * insufficient. The executed plan of the round-9 percentile family showed
  * `ReusedExchange` — one FileScan node — while task metrics showed the
  * source scanned TWICE: AQE displayed the logical reuse but materialized
  * the "shared" subtree once per consumer in several topologies (a bare
  * ENSURE_REQUIREMENTS exchange consumer; a totals-aggregate broadcast
  * join-back; any consumer chain re-aggregating the shared frame). The fix
  * (ops/BoundedPercentile.countByValue's explicit group repartition +
  * exactFromCounts' window-frame totals) is pinned HERE at the level that
  * cannot lie: rows actually read from the source per execution.
  *
  * Expectations are exact row counts of the sf0.001 tables, asserted
  * against a fresh measurement of each query (warmed once for codegen;
  * record counts are execution-invariant). A regression to double-scan
  * shows up as an exact 2x, not noise — these numbers are deterministic
  * (verified x5 stable while diagnosing round 10).
  */
class ScanAuditSpec extends SparkSpec {

  private lazy val sm = core.StageMetrics.attach(spark)
  private lazy val ordersRows = spark.read.parquet(s"$sf0001/orders.parquet").count()
  private lazy val docsRows = spark.read.parquet(s"$sf0001/documents.parquet").count()
  private lazy val eventsRows = spark.read.parquet(s"$sf0001/events.parquet").count()

  private def recordsOf(f: => DataFrame): Long = {
    f.count() // warm: plan + codegen; record accounting is unaffected
    sm.measure { f.count(): Unit }.inputRecords
  }

  private def scansReadingText(df: DataFrame): Int = {
    df.count()
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0).split("\n")
      .count(l => l.contains("FileScan") && l.contains("ReadSchema") &&
        l.contains("text:string"))
  }

  test("percentile family: exactly ONE physical orders scan at runtime") {
    assert(recordsOf(serving.Lookups.percentiles(spark, sf0001)) == ordersRows)
    assert(recordsOf(serving.Lookups.percentilesApprox(spark, sf0001)) == ordersRows)
    assert(recordsOf(jobs.DataQualityJob.equiDepthHistogram(spark, sf0001)) == ordersRows)
    assert(recordsOf(jobs.DataQualityJob.robustOutliers(spark, sf0001)) == ordersRows)
  }

  test("daily_anomalies: one orders scan at runtime") {
    assert(recordsOf(jobs.StreamAnalogJobs.dailyAnomalies(spark, sf0001)) == ordersRows)
  }

  test("dq_drift: two orders scans by design, never more") {
    val r = recordsOf(jobs.DataQualityJob.distributionDrift(spark, sf0001))
    // range, not equality: the ref scan's date predicate is PUSHED, so a
    // future testdata layout with date-clustered row groups would
    // legitimately decode fewer rows — the pin must catch a 2->3 scan
    // regression without breaking on better pruning
    assert(r > ordersRows && r <= 2 * ordersRows,
      s"drift read $r records, budget (${ordersRows}, ${2 * ordersRows}]")
  }

  test("cold point lookup on the clustered layout reads ~1/16th of the view " +
      "(bucket pruning, no cache tier in front)") {
    val view = sinks.BucketedLayout.featureViewClustered(spark, sf0001)
    val total = view.count()
    // a PRESENT key: an absent key's bucket can row-group-prune to zero
    // records and the pin would measure nothing
    val id = view.agg(org.apache.spark.sql.functions.min(
      org.apache.spark.sql.functions.col("user_id"))).head.getLong(0)
    val recs = recordsOf(
      sinks.BucketedLayout.pointLookupClustered(spark, sf0001, Seq(id)))
    assert(recs > 0 && recs <= total / 4,
      s"cold clustered point lookup read $recs of $total rows — " +
        "bucket pruning lost (a flat cold S2 lookup reads the whole view)")
  }

  test("incremental ladders: the cached state is never re-scanned — a warm " +
      "run reads at most the users dimension") {
    val custRows = spark.read.parquet(s"$sf0001/customer.parquet").count()
    val nationRows = spark.read.parquet(s"$sf0001/nation.parquet").count()
    for (f <- Seq(
        () => jobs.IncrementalTransactionFeatures.ladder(spark, sf0001),
        () => jobs.IncrementalUserFeatures.ladder(spark, sf0001),
        () => jobs.IncrementalRiskFeatures.ladder(spark, sf0001))) {
      val r = recordsOf(f())
      // the state rides FeatureCache (the stored-table posture): a warm
      // feature read must never re-decode the transaction log (measured
      // 13,675 records — 9 slice-tree re-scans — before the cache).
      // r17: the users dim is ALSO cached (Roles.usersCached), so a fully
      // warm run reads zero file records; the bound keeps admitting the
      // first, dim-building run of a session.
      assert(r >= 0 && r <= custRows + nationRows + 16 && r < ordersRows,
        s"warm ladder read $r records; budget users-dim at most " +
          s"(~${custRows + nationRows}), orders=$ordersRows must not re-scan")
    }
  }

  test("incremental ladder slices carry PUSHED date-range predicates " +
      "(partition-prunable at a date-partitioned log)") {
    val plan = jobs.IncrementalTransactionFeatures
      .ladder(spark, sf0001, days = 4) // un-warmed cache key: fresh plan
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate") ||
      plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"slice predicates must reach the scan:\n${plan.take(1000)}")
  }

  test("quantile_normalize: collapse scan + value-keyed join-back scan (2x rows)") {
    val r = recordsOf(ext.Corpus.quantileNormalize(core.Tables.documents(spark, sf0001)))
    assert(r == 2 * docsRows, s"read $r, budget ${2 * docsRows}")
  }

  test("weighted_sample: two corpus scans — the measured AQE floor (was three)") {
    // round-10 fix took this from 3 scans to 2: the grand total folded
    // into the offsets pass (no 1-row crossJoin) and the spine rides the
    // chunk repartition. The residual 2nd scan is AQE re-executing the
    // repartitioned subtree for the offsets branch (it carries an internal
    // cumsum exchange); every sharing topology probed floors at 2 — this
    // pin surfaces both a regression to 3 and an upstream Spark fix to 1.
    val r = recordsOf(ext.Corpus.weightedSample(core.Tables.documents(spark, sf0001), 100))
    assert(r == 2 * docsRows, s"read $r, budget ${2 * docsRows}")
  }

  test("vocab_growth: 3 row-scans but text decoded exactly once (column pruning)") {
    // the two prefix-count passes prune to doc_id; only the token-explode
    // pass reads text — rows 3x, heavy-column bytes 1x
    val r = recordsOf(ext.Corpus.vocabGrowth(core.Tables.documents(spark, sf0001)))
    assert(r == 3 * docsRows, s"read $r, budget ${3 * docsRows}")
    assert(scansReadingText(
      ext.Corpus.vocabGrowth(core.Tables.documents(spark, sf0001))) == 1)
  }

  test("pit_training_set: the whole matrix costs one events scan at runtime") {
    assert(recordsOf(jobs.TrainingSetJob.pitTrainingSet(spark, sf0001)) == eventsRows)
  }

  test("pit_training_matrix_wide: 9 record columns under 3 bands still cost one events scan") {
    assert(recordsOf(jobs.TrainingSetJob.pitTrainingMatrixWide(spark, sf0001)) == eventsRows)
  }

  test("heavy_hitters: two events scans by design (exact witness + the sketch pass)") {
    // the total now rides the entity-count frame; the residual second
    // scan is the POINT of the query — a one-pass sketch audited against
    // its exact witness is necessarily two passes (was three)
    assert(recordsOf(jobs.StreamAnalogJobs.hotKeys(spark, sf0001, 16)) == 2 * eventsRows)
  }

  test("cohort_retention: one events scan (cohort sizes read off the rollup's offset-0 row)") {
    assert(recordsOf(jobs.StreamAnalogJobs.cohortRetention(spark, sf0001)) == eventsRows)
  }

  test("event_funnel: the whole strict chain costs one events scan") {
    // the r9 join-chain re-executed every earlier stage's scan subtree
    // per stage count — 5 full decodes of events for the 3-step funnel
    assert(recordsOf(jobs.StreamAnalogJobs.eventFunnel(spark, sf0001)) == eventsRows)
  }

  test("training_serving_skew: both comparison sides ride one events scan") {
    // offline and online picks are conditional aggregates over the one
    // windowed frame — a two-frame join would re-execute the spine
    assert(recordsOf(jobs.SkewMonitorJob.trainingServingSkew(spark, sf0001)) == eventsRows)
  }

  test("by-design multi-scan budgets hold exactly (and never grow)") {
    val docs = core.Tables.documents(spark, sf0001)
    // the chunked two-phase prefix family shares weighted_sample's
    // measured 2-scan floor (offsets branch carries an internal cumsum
    // exchange); chunk_windows is per-doc-local — one scan
    assert(recordsOf(ext.Corpus.packSequences(docs, 512)) == 2 * docsRows)
    assert(recordsOf(ext.Corpus.mixtureSample(docs, Map("src0" -> 50L), 100L)) == 2 * docsRows)
    assert(recordsOf(ext.Dedup.spanDedup(docs, 3)) == 2 * docsRows)
    // substring dedup: the window frame feeds the dup-hash election AND
    // the join-back probe, but the broadcast-left form lets the election's
    // exchange be reused — ONE physical corpus scan (measured, not 2)
    assert(recordsOf(ext.Dedup.substringDedup(ext.Dedup.substringWindows(docs, 3), 3)) == docsRows)
    // clean: spans spine + corpus join branch still measure ONE physical
    // scan (the scan subtree is reused across both branches)
    assert(recordsOf(
      ext.Dedup.substringClean(docs, ext.Dedup.substringWindows(docs, 3), 3)) == docsRows)
    // dsir: the (doc, bucket) feature frame feeds the global bucket
    // estimate AND the scoring join — the same two-phase 2-scan budget
    assert(recordsOf(ext.Corpus.dsirWeights(docs,
      org.apache.spark.sql.functions.col("lang") === "en")) == 2 * docsRows)
    assert(recordsOf(ext.Corpus.sourceQuota(docs, Map("src0" -> 50L), 100L)) == 2 * docsRows)
    assert(recordsOf(ext.Corpus.shardManifest(docs, 100)) == 2 * docsRows)
    assert(recordsOf(ext.Corpus.chunkWindows(docs, 128, 32)) == docsRows)
    // two-frame-by-contract queries: the generic as-of witness (probe +
    // fact frames), the sketch-vs-exact-witness rollup, and the
    // documented two-pass broadcast outlier rule
    val ar = recordsOf(jobs.StreamAnalogJobs.asOfRisk(spark, sf0001))
    // range: both frames' type predicates are pushed (see dq_drift note)
    assert(ar > 0 && ar <= 2 * eventsRows, s"asof_risk read $ar")
    assert(recordsOf(jobs.StreamAnalogJobs.rollingDistinctUsers(spark, sf0001)) == 2 * eventsRows)
    assert(recordsOf(jobs.DataQualityJob.outliers(spark, sf0001)) == 2 * ordersRows)
  }

  test("serving fused probe: a warm batch miss reads only cached group rows, " +
      "never the source tables") {
    // the one query path with no records pin until r11 (VERDICT item 7):
    // getBatch's probe is one filtered scan of the service's group tier,
    // the three feature tables joined on user_id and checkpointed to disk
    // — a regression that recomputes a group job per probe (checkpoint
    // lost, or a plan that bypasses the checkpointed scan) would re-scan
    // orders/customer/events on EVERY batch miss, invisible at test sizes,
    // fatal under serving load at 100 TB
    val svc = new serving.FeatureStoreService(spark, sf0001)
    val now = java.time.Instant.parse("2001-08-02T02:30:00Z")
    val groups = Seq("user", "transaction", "risk")
    svc.getBatch(Seq(1L, 2L, 3L), groups, now): Unit
    // the tier has one row per user present in any group
    val tierRows = Seq(jobs.UserFeaturesJob(spark, sf0001),
      jobs.TransactionFeaturesJob(spark, sf0001), jobs.RiskFeaturesJob(spark, sf0001))
      .map(_.select("user_id")).reduce(_ union _).distinct().count()
    // warm miss on FRESH ids (row tier can't serve them): the probe must
    // read at most one pass over the tier's rows — checkpointed-block reads
    // DO count in inputMetrics.recordsRead, so 0 would mean the
    // measurement lost the job, not that the probe was free. A regression
    // to per-probe group recomputation would read the SOURCE tables
    // (orders/customer/events — an order of magnitude more records than
    // the tier rows at any sf) and blow the budget, and so would a scan
    // per requested group.
    val warm = sm.measure {
      svc.getBatch(Seq(11L, 12L, 13L, 14L), groups, now): Unit
    }.inputRecords
    assert(warm > 0 && warm <= tierRows,
      s"warm probe read $warm records, budget ($tierRows group-tier rows)")
  }

  test("text-analysis family scan budgets") {
    val docs = core.Tables.documents(spark, sf0001)
    // oov_rate's two token consumers (vocab build + probe) genuinely
    // share: ONE tokenize pass
    assert(recordsOf(ext.TextAnalysis.oovRate(docs)) == docsRows)
    // bpe pair stats: one pass over the distinct-word frame's source
    assert(recordsOf(ext.Vocab.charPairStats(docs, 30)) == docsRows)
    // tfidf: tokenize pass + the documented metadata-only n_docs count
    assert(recordsOf(ext.TextAnalysis.tfidfTopTerms(docs, 3)) == 2 * docsRows)
    // quality_model: r9 ran the "shared" tf exchange three times (3 full
    // tokenizes); the doc_id repartition brings it to the 2-scan floor
    // (the df probe-side term join still re-executes — measured minimum)
    assert(recordsOf(ext.TextAnalysis.modelQualityScore(docs)) == 2 * docsRows)
  }
}
