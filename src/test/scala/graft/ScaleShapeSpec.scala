package graft

import org.apache.spark.sql.functions._

/** Scale-shape evidence: the plans that matter at 100 TB, asserted at
  * sf0.001 — bucketed co-partitioned joins (exchange elision) and the
  * sliding-window streaming variant. */
class ScaleShapeSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed feature tables join with no shuffle exchange (co-partitioning)") {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      jobs.UserFeaturesJob(spark, sf0001)
        .write.mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("uf_bucketed")
      jobs.TransactionFeaturesJob(spark, sf0001)
        .write.mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("tf_bucketed")
      val joined = spark.table("uf_bucketed")
        .join(spark.table("tf_bucketed"), Seq("user_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle; plan was:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.sql("DROP TABLE IF EXISTS uf_bucketed")
      spark.sql("DROP TABLE IF EXISTS tf_bucketed")
    }
  }

  test("date-partitioned layout prunes partitions at the scan") {
    val base = java.nio.file.Files.createTempDirectory("graft-part").toString
    core.Tables.events(spark, sf0001)
      .withColumn("event_date", to_date($"ts"))
      .write.partitionBy("event_date").mode("overwrite").parquet(base)
    val pruned = spark.read.parquet(base).filter($"event_date" === "2024-01-05")
    val scan = pruned.queryExecution.executedPlan.toString
    // the filter must be INSIDE the PartitionFilters bracket — the label
    // itself (and the column name in the scan output) print even when
    // nothing is pushed, so a contains() check would be vacuous
    assert("PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(scan).isDefined,
      s"partition filter must prune at the scan:\n${scan.take(600)}")
    assert(pruned.count() > 0)
  }

  test("IVF index probe prunes to the probed list partitions") {
    val emb = core.Tables.embeddings(spark, sf0001)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    ext.Similarity.buildIvfIndex(emb, idx, nLists = 16)
    val probe = ext.Similarity.ivfProbe(spark, idx,
      emb.filter($"vec_id" < 3), k = 5, nprobe = 4)
    assert(probe.collect().length == 15)
    // the list scan must carry a static list_id partition filter — the probe
    // reads nprobe/nLists of the corpus from disk, not everything
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list_id".r.findFirstIn(plan).isDefined,
      s"probe scan must prune list partitions:\n${plan.take(800)}")
  }

  test("contamination streams the corpus through a broadcast of the probe grams") {
    val docs = core.Tables.documents(spark, sf0001)
    val q = ext.Corpus.contamination(docs, docs.filter($"doc_id" < 10), n = 3, minFrac = 0.1)
    val plan = q.queryExecution.executedPlan.toString
    // the gram join must be a broadcast hash join (probe side small by
    // construction); the corpus must never appear on both sides of a
    // shuffled or cartesian join
    assert(plan.contains("BroadcastHashJoin"), s"expected BHJ:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct"), "contamination must not go all-pairs")
  }

  test("round-6 ops keep their scale shapes: broadcasts where intended, no cartesians") {
    val docs = core.Tables.documents(spark, sf0001)
    val emb = core.Tables.embeddings(spark, sf0001)
    // quality_filter: the sources-sized median frame broadcasts back
    val qf = ext.TextAnalysis.qualityFilter(ext.TextAnalysis.scoreTable(spark, sf0001))
      .queryExecution.executedPlan.toString
    assert(qf.contains("BroadcastHashJoin"), s"median join must broadcast:\n${qf.take(800)}")
    // oov_rate: the bounded vocab broadcasts; the token table streams once
    val oov = ext.TextAnalysis.oovRate(docs, 1000).queryExecution.executedPlan.toString
    assert(oov.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n${oov.take(800)}")
    assert(oov.contains("TakeOrderedAndProject"),
      "vocab cut must be a bounded top-N, not a global sort")
    // embedding_outliers: the labels x dim centroid frame broadcasts
    val eo = ext.Similarity.embeddingOutliers(emb, 5).queryExecution.executedPlan.toString
    assert(eo.contains("BroadcastHashJoin"), s"centroid join must broadcast:\n${eo.take(800)}")
    // r16: the bottom-k election must keep its partial rank limit BELOW
    // the exchange (the scale guarantee that replaced the salted
    // two-phase: the shuffle carries ≤ k rows per label per map task)
    assert(eo.contains("WindowGroupLimit"),
      s"bottom-k election lost its partial rank-limit pushdown:\n${eo.take(800)}")
    // train_split: one narrow projection — no shuffle at all
    val ts = ext.Corpus.splitAssign(docs).queryExecution.executedPlan.toString
    assert(!ts.contains("Exchange"), s"splitAssign must not shuffle:\n${ts.take(800)}")
    for (p <- Seq(qf, oov, eo, ts))
      assert(!p.contains("CartesianProduct"))
  }

  test("late round-6 ops keep their scale shapes: broadcasts, no corpus-wide global window") {
    val docs = core.Tables.documents(spark, sf0001)
    // split_leakage: the pair side broadcasts through both endpoint joins
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val sl = ext.Corpus.splitLeakage(pairs, ext.Corpus.splitAssign(docs))
      .queryExecution.executedPlan.toString
    assert(sl.contains("BroadcastHashJoin"), s"pair joins must broadcast:\n${sl.take(800)}")
    assert(!sl.contains("SortMergeJoin"),
      s"corpus must not shuffle for the pair joins:\n${sl.take(800)}")
    // shard_manifest: one combinable groupBy; grand total rides a broadcast
    val sm = ext.Corpus.shardManifest(docs, 16).queryExecution.executedPlan.toString
    assert(sm.contains("BroadcastNestedLoopJoin") || sm.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n${sm.take(800)}")
    // quality_tiers: every window over full corpus rows must be partitioned
    // (by score); the only unpartitioned window runs over the tiny per-score
    // count table. Full-row windows are the ones ordered by doc_id.
    val qt = ext.TextAnalysis.qualityTiers(ext.TextAnalysis.textStatsTable(spark, sf0001), 10)
    val qtPlan = qt.queryExecution.executedPlan.toString
    val docWindows = qtPlan.split("\n")
      .filter(l => l.contains("Window [") && l.contains("doc_id"))
    assert(docWindows.nonEmpty, s"expected the local-rank window:\n${qtPlan.take(800)}")
    assert(docWindows.forall(_.contains("windowspecdefinition(q#")),
      s"full-row window must be score-partitioned:\n${docWindows.mkString("\n")}")
    // lm_familiarity: no cartesian anywhere; df join is an equi-join
    val lf = ext.TextAnalysis.bigramFamiliarity(ext.TextAnalysis.docBigramTable(spark, sf0001),
      ext.TextAnalysis.bigramDfTable(spark, sf0001)).queryExecution.executedPlan.toString
    for (p <- Seq(sl, sm, qtPlan, lf)) assert(!p.contains("CartesianProduct"))
  }

  /** Scan count for `table` in the EXECUTED (final adaptive) plan — the
    * plan string repeats the pre-reuse shape under "== Initial Plan ==",
    * so counting the whole string would miss exchange reuse. */
  private def finalScansOf(df: org.apache.spark.sql.DataFrame, table: String): Int =
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
      .split("\n")
      .count(l => (l.contains("FileScan") || l.contains("Scan parquet"))
        && l.contains(table))

  test("percentiles_approx rides one orders scan: count-by-value subtree reused, not recomputed") {
    val q = serving.Lookups.percentilesApprox(spark, sf0001)
    assert(q.collect().length == 3) // orders has 3 status groups
    // after execution the adaptive plan is final: the sketch, totals and
    // cumulative-window branches must all read the ONE count-by-value
    // exchange (ReusedExchange), never re-running the orders scan per
    // consumer — the r7 shape scanned orders three times
    assert(finalScansOf(q, "orders") == 1,
      s"expected exactly one orders scan:\n${q.queryExecution.executedPlan}")
  }

  test("tfidf tokenizes the corpus once: one documents scan, tf exchange reused") {
    val q = ext.TextAnalysis.tfidfTopTerms(
      graft.core.Tables.documents(spark, sf0001), 3)
    assert(q.collect().nonEmpty)
    // doc_len derives from the aggregated tf table (Σ tf per doc), and
    // dfreq likewise — all three consumers must read the ONE tf exchange;
    // a second TEXT-reading scan means a branch re-ran the corpus
    // tokenize. (n_docs legitimately adds a metadata-only count scan —
    // ReadSchema struct<>, served from parquet footers — excluded here.)
    val textScans = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0).split("\n")
      .count(l => (l.contains("FileScan") || l.contains("Scan parquet"))
        && l.contains("documents") && l.contains("text"))
    assert(textScans == 1,
      s"expected one text-reading documents scan:\n${q.queryExecution.executedPlan}")
  }

  test("dq_alerts scans orders exactly twice (fused completeness + two-pass outliers)") {
    val q = jobs.DataQualityJob.alerts(spark, sf0001)
    assert(q.collect().length == 3)
    assert(finalScansOf(q, "orders") == 2,
      s"expected the two-pass minimum over orders:\n${q.queryExecution.executedPlan}")
    assert(finalScansOf(q, "events") == 1,
      s"expected one events scan:\n${q.queryExecution.executedPlan}")
  }

  test("migration_checks scans each fact table minimally (shared key-grouped frames)") {
    val q = jobs.MigrationValidationJob.checks(spark, sf0001)
    assert(q.collect().length == 6)
    // lineitem: multi-line + orphan checks share one grouped frame → ONE
    // scan of the biggest table; orders: two distinct grouping keys
    // (o_orderkey for dup+orphan-probe, o_custkey for orphan+null) → two;
    // customer: one grouped frame serves dup + the orphan probe
    assert(finalScansOf(q, "lineitem") == 1,
      s"lineitem must scan once:\n${q.queryExecution.executedPlan}")
    assert(finalScansOf(q, "orders") == 2,
      s"orders must scan once per grouping key:\n${q.queryExecution.executedPlan}")
    assert(finalScansOf(q, "customer") == 1,
      s"customer must scan once:\n${q.queryExecution.executedPlan}")
  }

  test("asOfRisk joins time-banded: the as-of condition carries a lower bound") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = jobs.StreamAnalogJobs.asOfRisk(spark, sf0001)
      .queryExecution.optimizedPlan
    val conds = plan.collect { case j: Join => j.condition.map(_.toString).getOrElse("") }
    // without the maxLookback band every probe matches its key's entire
    // fact history before the top-1 — unbounded per-probe state at deep
    // histories; the band shows up as a >= bound on the fact timestamp
    assert(conds.exists(c => c.contains("computed_at") && c.contains(">=")),
      s"as-of join must carry the banded lower bound:\n${conds.mkString("\n")}")
  }

  test("pack_sequences prefix sum is chunk-parallel, not one task per source") {
    val docs = core.Tables.documents(spark, sf0001)
    val q = ext.Corpus.packSequences(docs, 2048)
    val plan = q.queryExecution.executedPlan.toString
    // every full-row window (ordered by doc_id) must partition by
    // (source, chunk) — a source-only partition spec would serialize the
    // whole source onto one core; the only source-only window allowed is
    // the one over the tiny per-chunk subtotal table (ordered by __chunk)
    val docIdWindows = plan.split("\n")
      .filter(l => l.contains("Window [") && l.contains("doc_id"))
    assert(docIdWindows.nonEmpty, s"expected a doc_id-ordered window:\n${plan.take(800)}")
    assert(docIdWindows.forall(_.contains("__chunk")),
      s"full-row window must be chunk-partitioned:\n${docIdWindows.mkString("\n")}")
    // the two-phase scan must be byte-identical to the single-window form
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    val reference = docs.select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("prior_tokens",
        coalesce(sum($"n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"doc_id", $"source", $"n_tokens",
        floor($"prior_tokens" / 2048).cast("long").as("bin"),
        ($"prior_tokens" % 2048).cast("long").as("bin_offset"))
    assert(q.exceptAll(reference).isEmpty && reference.exceptAll(q).isEmpty,
      "two-phase prefix sum diverged from the sequential-window reference")
  }

  test("round-8 ops keep their scale shapes: chunked quota rank, top-k without global sort") {
    val docs = core.Tables.documents(spark, sf0001)
    // source_quota: same two-phase prefix discipline as pack_sequences —
    // every full-row window (the ones ordering by doc_id) must partition by
    // (source, chunk), never source alone, or the hot crawl serializes
    val sq = ext.Corpus.sourceQuota(docs, Map("src0" -> 40L), 15L)
    val sqPlan = sq.queryExecution.executedPlan.toString
    val docIdWindows = sqPlan.split("\n")
      .filter(l => l.contains("Window [") && l.contains("doc_id"))
    assert(docIdWindows.nonEmpty, s"expected the chunk-local rank window:\n${sqPlan.take(800)}")
    assert(docIdWindows.forall(_.contains("__chunk")),
      s"full-row window must be chunk-partitioned:\n${docIdWindows.mkString("\n")}")
    // bpe_merge_pairs: top-k must be TakeOrderedAndProject (O(k) per
    // partition), not a global Sort; the aggregate must partial (map-side
    // combine) before the exchange
    val bp = ext.Vocab.charPairStats(docs, 30)
    val bpPlan = bp.queryExecution.executedPlan.toString
    assert(bpPlan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n${bpPlan.take(800)}")
    assert(bpPlan.contains("partial_sum") || bpPlan.contains("partial sum"),
      s"pair counts must combine map-side:\n${bpPlan.take(800)}")
    for (p <- Seq(sqPlan, bpPlan)) assert(!p.contains("CartesianProduct"))
  }

  test("round-9 ops keep their scale shapes: one-scan histograms, one-shuffle cube, broadcast leakage joins") {
    // equi_depth_histogram: the cum-window and totals branches must share
    // the ONE count-by-value exchange — a second orders scan means a
    // branch recomputed it (percentiles_approx's r7 bug class)
    val eh = jobs.DataQualityJob.equiDepthHistogram(spark, sf0001)
    assert(eh.collect().nonEmpty)
    assert(finalScansOf(eh, "orders") == 1,
      s"expected one orders scan:\n${eh.queryExecution.executedPlan}")
    // cube_accounting: CUBE expands rows into grouping sets BEFORE the
    // exchange (Expand under a partial aggregate), so the whole lattice
    // costs one shuffle
    val cb = ext.Corpus.sourceCube(core.Tables.documents(spark, sf0001))
    val cbPlan = cb.queryExecution.executedPlan.toString
    assert(cbPlan.contains("Expand"), s"cube must Expand:\n${cbPlan.take(800)}")
    assert(cbPlan.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"cube lattice must cost one shuffle:\n${cbPlan.take(1200)}")
    // daily_anomalies: the corpus-sized work is the combinable daily
    // aggregate; one orders scan feeds the (tiny) daily window
    val da = jobs.StreamAnalogJobs.dailyAnomalies(spark, sf0001)
    assert(da.collect().nonEmpty)
    assert(finalScansOf(da, "orders") == 1,
      s"expected one orders scan:\n${da.queryExecution.executedPlan}")
    // dq_drift (round-10 shape): TWO scans by design — the reference
    // histogram reads a date-filter-PUSHED scan (partition-prunable at
    // scale), the bucket masses a second full scan. The round-9 "one
    // scan" form physically scanned twice anyway (AQE never dedupes its
    // topology — ScanAuditSpec) while also paying the re-agg exchange.
    val dd = jobs.DataQualityJob.distributionDrift(spark, sf0001)
    assert(dd.collect().nonEmpty)
    assert(finalScansOf(dd, "orders") == 2,
      s"expected two orders scans:\n${dd.queryExecution.executedPlan}")
    val ddPlan = dd.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(ddPlan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"reference scan must push the date predicate:\n${ddPlan.take(1500)}")
    // dq_robust_outliers: the median pick, deviation distribution and
    // outlier counting all derive from the ONE count-by-value collapse —
    // a second orders scan means a branch re-read the corpus
    val ro = jobs.DataQualityJob.robustOutliers(spark, sf0001)
    assert(ro.collect().length == 3)
    assert(finalScansOf(ro, "orders") == 1,
      s"expected one orders scan:\n${ro.queryExecution.executedPlan}")
    // semantic_leakage: the bounded pair table must broadcast through both
    // endpoint joins — a sort-merge join would shuffle the embeddings
    // corpus for a pair set orders of magnitude smaller
    val sl = ext.Similarity.semanticSplitLeakage(spark, sf0001, 0.2)
    sl.collect()
    val slPlan = sl.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!slPlan.contains("SortMergeJoin"),
      s"leakage joins must broadcast:\n${slPlan.take(1200)}")
  }

  test("pit_training_set: one events scan, one user-hashed shuffle for the whole matrix") {
    // the PIT matrix carries ALL THREE feature roles through a single
    // forward-fill timeline: exactly ONE events scan (conditional
    // projections, not a union of per-role re-scans) and exactly ONE
    // hash exchange (the user partitioning the window sorts within) — the
    // generic 3×-as-of-join form would pay ~3 probe shuffles + 3 fact
    // shuffles + 3 top-1 windows
    val ts = jobs.TrainingSetJob.pitTrainingSet(spark, sf0001)
    assert(ts.collect().nonEmpty)
    assert(finalScansOf(ts, "events") == 1,
      s"expected one events scan:\n${ts.queryExecution.executedPlan}")
    val plan = ts.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"PIT fill must cost one shuffle:\n${plan.take(1500)}")
    assert(plan.split("\n").count(_.contains("Window")) == 1,
      s"all fills must share one WindowExec:\n${plan.take(1500)}")
  }

  test("pit_training_matrix_wide: three struct fills under three bands share " +
      "one events scan, one exchange, one WindowExec") {
    // the record-level generalization must not cost more plan than the
    // scalar matrix: per-fact bands are per-COLUMN frame expressions, not
    // per-band window specs
    val m = jobs.TrainingSetJob.pitTrainingMatrixWide(spark, sf0001)
    assert(m.collect().nonEmpty)
    assert(finalScansOf(m, "events") == 1,
      s"expected one events scan:\n${m.queryExecution.executedPlan}")
    val plan = m.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.split("\n").count(_.contains("Exchange hashpartitioning")) == 1,
      s"wide PIT fill must cost one shuffle:\n${plan.take(1500)}")
    assert(plan.split("\n").count(_.contains("Window")) == 1,
      s"all struct fills must share one WindowExec:\n${plan.take(1500)}")
  }

  test("ranged PIT fill: the carry joins back as a BROADCAST — never a " +
      "shuffled join that would re-exchange the timeline") {
    // the null-safe (<=>) join keys rewrite to coalesce/isnull pairs,
    // which the timeline's window partitioning cannot satisfy; without
    // the explicit broadcast a large-enough carry frame flips to
    // SortMergeJoin and EnsureRequirements re-exchanges (and re-sorts)
    // the ENTIRE timeline — doubling the operator's dominant cost
    val m = jobs.TrainingSetJob.pitTrainingMatrixWideGeneric(
      spark, sf0001, rangeSecs = 2L * 86400L)
    m.collect()
    val plan = m.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"carry join-back must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge carry join re-exchanges the timeline:\n${plan.take(1500)}")
  }

  test("round-12 ops keep their scale shapes: one interval-union window, broadcast dsir estimates") {
    val docs = core.Tables.documents(spark, sf0001)
    // substring_dedup: exactly ONE Window operator (the streaming interval
    // union) — a second would mean the running-max expression was planned
    // twice; and no cartesian anywhere
    val sd = ext.Dedup.substringDedup(ext.Dedup.substringWindowTable(spark, sf0001, 12), 12)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(sd.split("\n").count(_.contains("Window [")) == 1,
      s"interval union must be one window:\n${sd.take(1200)}")
    // dsir: the ≤256-row bucket table must BROADCAST into the scoring
    // join — an SMJ would shuffle the corpus-sized feature frame on bucket
    val dw = ext.Corpus.dsirWeights(docs,
      org.apache.spark.sql.functions.col("lang") === "en")
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(dw.contains("BroadcastHashJoin"),
      s"bucket estimates must broadcast:\n${dw.take(1200)}")
    assert(!dw.contains("SortMergeJoin"),
      s"the feature frame must not shuffle on bucket:\n${dw.take(1200)}")
    for (p <- Seq(sd, dw)) assert(!p.contains("CartesianProduct"))
  }

  test("group_sample runs as a map-side per-group top-k, not a full group sort") {
    val docs = core.Tables.documents(spark, sf0001)
    val gs = ext.Corpus.groupSample(docs, 10)
    val plan = gs.queryExecution.executedPlan.toString
    // InferWindowGroupLimit must fire: a Partial WindowGroupLimit BEFORE
    // the exchange caps every input partition at k rows per group — the
    // distributed-reservoir shape; without it a hot source's entire
    // population sorts through one task's window
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected a map-side WindowGroupLimit:\n${plan.take(1200)}")
    assert(gs.groupBy("source").count().collect().forall(_.getLong(1) <= 10))
  }

  test("quality_model tokenizes the corpus once: labels, dfs and scoring share the tf exchange") {
    val q = ext.TextAnalysis.modelQualityScore(core.Tables.documents(spark, sf0001))
    assert(q.collect().length == 500) // one row per document; collect()
    // (not count()) so THIS query's adaptive plan is the one that finalizes
    assert(finalScansOf(q, "documents") == 1,
      s"expected exactly one documents scan:\n${q.queryExecution.executedPlan}")
  }

  test("streaming keeps serving fresh: event → point update → invalidated cache serves it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // store: versioned dirs + atomic CURRENT pointer (a delete-then-move
    // swap would leave a no-store window and lose data on a crash between
    // the two steps) — readers resolve through MigrationRunner.current
    val store = java.nio.file.Files.createTempDirectory("graft-serve").toString
    val seed = Seq((0L, 0.1111, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("user_id", "risk_score", "computed_at")
    val r0 = jobs.MigrationRunner.migrate(spark, seed, store, "risk-v0", "user_id")
    assert(r0.switched)
    val input = MemoryStream[String](spark)
    input.addData(
      """{"event_id":9,"ts":"2024-01-20T12:00:00Z","user_id":0,"event_type":"purchase","value":450.0,"props":"{}"}""")
    val q = streaming.EventPipeline.run(input.toDF(),
      java.nio.file.Files.createTempDirectory("graft-serve-ckpt").toString) { (batch, id) =>
      val current = jobs.MigrationRunner.current(spark, store)
      val updated = streaming.EventPipeline.applyPointUpdates(current, batch)
      jobs.MigrationRunner.migrate(spark, updated, store, s"risk-v${id + 1}", "user_id")
    }
    q.awaitTermination(60000)
    val served = jobs.MigrationRunner.current(spark, store)
      .filter($"user_id" === 0L).collect()(0)
    assert(served.getAs[Double]("risk_score") == 0.9) // 450/500, update won
  }

  test("S8/ST9: checkpointed file sink delivers a micro-batch exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[String](spark)
    input.addData(
      """{"event_id":1,"ts":"2024-01-01T10:00:00Z","user_id":5,"event_type":"purchase","value":1.0,"props":"{}"}""",
      """{"event_id":2,"ts":"2024-01-01T10:01:00Z","user_id":6,"event_type":"view","value":2.0,"props":"{}"}""")
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    def runOnce(): Unit = {
      val q = streaming.EventPipeline.parse(input.toDF())
        .writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runOnce()
    runOnce() // restart against the same checkpoint: no duplicates
    assert(spark.read.parquet(s"$out/data").count() == 2)
  }

  test("ST6(a): sliding window() aggregation in a real stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    val input = MemoryStream[(Long, Timestamp, Double)](spark)
    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:02:00"), 10.0),
      (1L, Timestamp.valueOf("2024-01-01 10:07:00"), 20.0),
      (1L, Timestamp.valueOf("2024-01-01 10:12:00"), 30.0))
    val q = input.toDF().toDF("user_id", "ts", "amount")
      .withWatermark("ts", "1 minute")
      .groupBy($"user_id", window($"ts", "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"), sum($"amount").as("total"))
      .writeStream.format("memory").queryName("sliding")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sliding")
      .select(date_format($"window.start", "HH:mm").as("s"), $"n", $"total")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // 10:02 lands in [09:55,10:05) and [10:00,10:10); 10:07 in [10:00,10:10)
    // and [10:05,10:15); 10:12 in [10:05,10:15) and [10:10,10:20)
    assert(rows("09:55") == (1L, 10.0))
    assert(rows("10:00") == (2L, 30.0))
    assert(rows("10:05") == (2L, 50.0))
    assert(rows("10:10") == (1L, 30.0))
  }

  test("equi-depth/quantile group totals ride the cumsum window — the " +
    "totals-aggregate + broadcast-join-back scaffold stays deleted (r17)") {
    // equi_depth_histogram has NO join at all any more: count-by-value →
    // one sorted window pass (two frames) → bucket re-aggregation
    val eh = jobs.DataQualityJob.equiDepthHistogram(spark, sf0001)
    eh.collect()
    val ehPlan = eh.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!ehPlan.contains("Join"),
      s"equi_depth must have no join branch:\n${ehPlan.take(1200)}")
    // quantile_normalize keeps exactly ONE join — the value-keyed map back
    // to the corpus; a second one means the totals branch crept back
    val qn = ext.Corpus.quantileNormalize(core.Tables.documents(spark, sf0001))
    qn.collect()
    val qnPlan = qn.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(qnPlan.split("\n").count(l => l.contains("Join")) == 1,
      s"quantile_normalize must join exactly once:\n${qnPlan.take(1500)}")
  }
}
