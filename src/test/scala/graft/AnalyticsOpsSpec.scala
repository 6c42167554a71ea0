package graft

import org.apache.spark.sql.functions._

/** Round-6 analytics operators: TF-IDF, histogram, rollup, pivot, moving
  * windows, CSV ingest. Correctness of values is pinned by the DuckDB oracle
  * (tools/check.py); these tests pin the structural invariants and the
  * plan/lifecycle properties the oracle can't see.
  */
class AnalyticsOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = core.Tables.documents(spark, sf0001)

  test("tfidf: <= k terms per doc, ranks dense from 1, df within [1, N]") {
    val out = ext.TextAnalysis.tfidfTopTerms(docs, 3).cache()
    val n = docs.count()
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("k"), min("rank").as("lo"), max("rank").as("hi"))
    assert(perDoc.filter($"k" > 3 || $"lo" =!= 1 || $"hi" =!= $"k").count() == 0,
      "every doc gets 1..min(k, vocab) densely ranked terms")
    assert(out.filter($"df" < 1 || $"df" > n).count() == 0)
    // the idf is monotone-decreasing in df: for one doc, equal tf ⇒ the
    // rarer term never scores lower
    assert(out.filter($"tfidf" <= 0.0).count() == 0)
    out.unpersist()
  }

  test("length histogram: shares sum to ~1 per source, buckets aligned") {
    val h = ext.TextAnalysis.lengthHistogram(docs, 50).cache()
    assert(h.filter(pmod($"bucket_lo", lit(50)) =!= 0).count() == 0)
    val bySource = h.groupBy("source").agg(sum("share").as("s")).collect()
    assert(bySource.nonEmpty)
    bySource.foreach(r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 0.01,
        s"${r.getString(0)} shares sum to ${r.getDouble(1)}"))
    h.unpersist()
  }

  test("rollup: grand total equals the sum of leaf rows") {
    val r = ext.Corpus.sourceRollup(docs).cache()
    val leaf = r.filter($"source" =!= "ALL" && $"lang" =!= "ALL")
      .agg(sum("n_docs"), sum("total_tokens")).head()
    val total = r.filter($"source" === "ALL" && $"lang" === "ALL").head()
    assert(total.getLong(2) == leaf.getLong(0), "doc counts roll up")
    assert(total.getLong(3) == leaf.getLong(1), "token sums roll up")
    // per-source subtotal rows exist for every source
    val sources = docs.select("source").distinct().count()
    assert(r.filter($"source" =!= "ALL" && $"lang" === "ALL").count() == sources)
    r.unpersist()
  }

  test("pivot: per-type columns reconcile with the event log; no second scan") {
    val p = jobs.StreamAnalogJobs.eventTypePivot(spark, sf0001).cache()
    val evs = core.Tables.events(spark, sf0001)
    val total = p.select(
      (col("n_click") + col("n_error") + col("n_purchase")
        + col("n_signup") + col("n_view")).as("t"))
      .agg(sum("t")).head().getLong(0)
    assert(total == evs.count(), "pivot cells partition the event log")
    assert(p.filter($"n_click" < 0).count() == 0)
    // pinned value list ⇒ single aggregate, no pivot-values discovery job
    val plan = p.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("collectlimit"), "no value-discovery pass")
    p.unpersist()
  }

  test("moving windows: 7-row average matches a direct recompute; cum monotone") {
    val m = jobs.StreamAnalogJobs.movingDailyTotals(spark, sf0001)
      .orderBy("order_date").collect()
    assert(m.length > 10)
    // first row: avg == daily total (frame has one row)
    assert(math.abs(m(0).getDouble(3) - math.floor(m(0).getDouble(2) * 1e4 + 0.5) / 1e4) < 1e-9)
    // cumulative total is strictly increasing (totals are positive)
    m.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(4) > a.getDouble(4), "cum_total monotone")
    }
    // window avg over a mid-stream row equals the mean of its 7 dailies
    val i = 10
    // avg_7d is HALF_UP-rounded to 4 digits, so compare at that granule
    val mean = (i - 6 to i).map(m(_).getDouble(2)).sum / 7.0
    assert(math.abs(m(i).getDouble(3) - mean) < 5.1e-5)
  }

  test("top terms per source: dense ranks 1..k within every source") {
    val t = ext.TextAnalysis.topTermsPerSource(docs, 5).cache()
    val bad = t.groupBy("source")
      .agg(count(lit(1)).as("k"), min("rank").as("lo"), max("rank").as("hi"))
      .filter($"k" > 5 || $"lo" =!= 1 || $"hi" =!= $"k")
    assert(bad.count() == 0)
    // counts never increase with rank inside a source
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("rank")
    assert(t.withColumn("prev", lag($"n", 1).over(w))
      .filter($"prev".isNotNull && $"n" > $"prev").count() == 0)
    t.unpersist()
  }

  test("semantic clusters: keeper is the cluster min and sizes reconcile") {
    val c = ext.Similarity.semanticClusterTable(spark, sf0001, 0.2)
    assert(c.count() > 0, "the 0.2 threshold must bite on the test corpus")
    assert(c.filter($"keeper_vec_id" > $"vec_id").count() == 0,
      "keeper = min member, so no member precedes it")
    val sizes = c.groupBy("keeper_vec_id").agg(count(lit(1)).as("actual"))
    assert(c.join(sizes, Seq("keeper_vec_id"))
      .filter($"cluster_size" =!= $"actual").count() == 0,
      "cluster_size equals the member count")
    // edges connect only within a cluster: every thresholded pair shares a keeper
    val pairs = ext.Similarity.scoredPairsCached(spark, sf0001).filter($"cosine" >= 0.2)
    val lab = c.select($"vec_id", $"keeper_vec_id")
    val crossing = pairs
      .join(lab.withColumnRenamed("vec_id", "vec_a")
        .withColumnRenamed("keeper_vec_id", "ka"), Seq("vec_a"))
      .join(lab.withColumnRenamed("vec_id", "vec_b")
        .withColumnRenamed("keeper_vec_id", "kb"), Seq("vec_b"))
      .filter($"ka" =!= $"kb")
    assert(crossing.count() == 0, "no edge crosses cluster boundaries")
  }

  test("train split: total partition, stable under corpus growth, ~80/10/10") {
    val s = ext.Corpus.splitAssign(docs, 0.8, 0.1).cache()
    val n = docs.count()
    assert(s.count() == n, "every doc gets exactly one split")
    val frac = s.groupBy("split").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble / n).toMap
    assert(math.abs(frac("train") - 0.8) < 0.06, s"train frac ${frac("train")}")
    assert(math.abs(frac("val") - 0.1) < 0.05, s"val frac ${frac("val")}")
    assert(math.abs(frac("test") - 0.1) < 0.05, s"test frac ${frac("test")}")
    // the holdout contract: membership of a doc never changes when OTHER
    // docs appear/disappear — assign over a half-corpus, compare
    val half = ext.Corpus.splitAssign(docs.filter($"doc_id" % 2 === 0), 0.8, 0.1)
    assert(half.as("h").join(s.as("f"), Seq("doc_id"))
      .filter($"h.split" =!= $"f.split").count() == 0,
      "split assignment is independent of the rest of the corpus")
    s.unpersist()
  }

  test("quality filter: keeps exactly the >=-median half of every source") {
    val kept = ext.TextAnalysis.qualityFilter(ext.TextAnalysis.scoreTable(spark, sf0001)).cache()
    assert(kept.filter($"quality_score" < $"source_median").count() == 0)
    // each source keeps at least half its docs (>= median can't drop more)
    val perSource = docs.groupBy("source").agg(count(lit(1)).as("total"))
    val keptCounts = kept.groupBy("source").agg(count(lit(1)).as("kept"))
    val under = perSource.join(keptCounts, Seq("source"), "left")
      .filter(coalesce($"kept", lit(0L)) * 2 < $"total")
    assert(under.count() == 0, "a >=-median gate keeps at least half per source")
    kept.unpersist()
  }

  test("snapshot diff: added users have no old orders; growth is monotone") {
    val d = jobs.MigrationValidationJob
      .snapshotDiff(spark, sf0001, "1999-01-01", "2000-01-01").cache()
    assert(d.count() > 0)
    assert(d.filter($"status" === "unchanged").count() == 0)
    assert(d.filter($"status" === "added" && $"old_orders" =!= 0).count() == 0)
    // orders are append-only: nothing is removed and counts never shrink
    assert(d.filter($"status" === "removed").count() == 0)
    assert(d.filter($"new_orders" < $"old_orders").count() == 0)
    // witness for 'added': users whose FIRST order lands between cutoffs
    val orders = core.Tables.orders(spark, sf0001)
    val firstOrder = orders.groupBy("o_custkey").agg(min("o_orderdate").as("first_at"))
    val expectedAdded = firstOrder
      .filter($"first_at" >= to_timestamp(lit("1999-01-01"))
        && $"first_at" < to_timestamp(lit("2000-01-01"))).count()
    assert(d.filter($"status" === "added").count() == expectedAdded)
    d.unpersist()
  }

  test("oov rate: one row per doc, rate in [0,1], consistent with counts") {
    val r = ext.TextAnalysis.oovRate(docs, 1000).cache()
    assert(r.count() == docs.count())
    assert(r.filter($"oov_count" > $"token_count" || $"oov_count" < 0).count() == 0)
    assert(r.filter($"oov_rate" < 0.0 || $"oov_rate" > 1.0).count() == 0)
    // a full-corpus vocabulary means zero OOV everywhere
    val full = ext.TextAnalysis.oovRate(docs, Int.MaxValue)
    assert(full.filter($"oov_count" =!= 0).count() == 0,
      "with the whole vocab admitted nothing is out-of-vocabulary")
    r.unpersist()
  }

  test("embedding outliers: bottom-k per label, dense ranks, true minima") {
    val emb = core.Tables.embeddings(spark, sf0001)
    val out = ext.Similarity.embeddingOutliers(emb, 5).cache()
    val perLabel = out.groupBy("label")
      .agg(count(lit(1)).as("k"), min("outlier_rank").as("lo"), max("outlier_rank").as("hi"))
    assert(perLabel.filter($"k" > 5 || $"lo" =!= 1 || $"hi" =!= $"k").count() == 0)
    assert(out.filter($"cos_to_centroid" < -1.000001 || $"cos_to_centroid" > 1.000001)
      .count() == 0)
    // the flagged vecs really are the label's cosine minima: no unflagged
    // vec scores strictly below a flagged one
    val all = ext.Similarity.embeddingOutliers(emb, Int.MaxValue)
    val worstKept = out.groupBy("label").agg(max("cos_to_centroid").as("worst_flagged"))
    val unflagged = all.join(out.select($"vec_id", lit(true).as("__f")), Seq("vec_id"), "left")
      .filter($"__f".isNull)
    assert(unflagged.join(worstKept, Seq("label"))
      .filter($"cos_to_centroid" < $"worst_flagged").count() == 0)
    // the single-window bottom-k (r16: WindowGroupLimit makes the salted
    // two-phase redundant — the partial group limit bounds what reaches
    // the exchange natively) is byte-identical to the r12 salted election
    // it replaced: recompute the two-phase form and compare rows, ranks
    // included
    val w = org.apache.spark.sql.expressions.Window
    val plain = all
      .withColumn("__salt", pmod(hash($"vec_id"), lit(32)))
      .withColumn("__r1", row_number().over(
        w.partitionBy("label", "__salt")
          .orderBy($"cos_to_centroid".asc, $"vec_id".asc)))
      .filter($"__r1" <= 5)
      .withColumn("plain_rank", row_number().over(
        w.partitionBy("label")
          .orderBy($"cos_to_centroid".asc, $"vec_id".asc)))
      .filter($"plain_rank" <= 5)
      .select($"vec_id".as("p_vec"), $"plain_rank".as("p_rank"),
        $"cos_to_centroid".as("p_cos"))
    val salted = out.select($"vec_id".as("s_vec"),
      $"outlier_rank".as("s_rank"), $"cos_to_centroid".as("s_cos"))
    assert(salted.join(plain,
      $"s_vec" === $"p_vec" && $"s_rank" === $"p_rank" && $"s_cos" === $"p_cos",
      "full_outer")
      .filter($"s_vec".isNull || $"p_vec".isNull).count() == 0,
      "single-window bottom-k must equal the salted two-phase election")
    out.unpersist()
  }

  test("CSV ingest quarantines malformed rows; good rows arrive typed (S12)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    java.nio.file.Files.writeString(dir.resolve("events.csv"),
      """1,10,click
        |2,20,purchase
        |oops,30,view
        |3,forty,signup
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING")
    val before = spark.sparkContext.getPersistentRDDs.size
    val ingest = core.Tables.readCsv(spark, dir.toString, schema)
    assert(ingest.valid.count() == 2)
    assert(ingest.valid.schema("event_id").dataType.typeName == "long")
    val q = ingest.quarantine.collect().map(_.getString(0))
    assert(q.length == 2, s"quarantined: ${q.mkString("|")}")
    assert(q.exists(_.startsWith("oops")))
    assert(q.exists(_.contains("forty")), "type-mismatched cells quarantine the row")
    ingest.release()
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "release() must unpersist the ingest cache")
  }

  test("split leakage: accounts for every pair; leaky iff splits differ") {
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val splits = Seq(
      1L -> "train", 2L -> "train", 3L -> "train", 4L -> "test",
      5L -> "val", 6L -> "train", 7L -> "test", 8L -> "test")
      .toDF("doc_id", "split")
    val out = ext.Corpus.splitLeakage(pairs, splits).cache()
    assert(out.agg(sum("pair_count")).head().getLong(0) == 4,
      "every pair lands in exactly one split-pair cell")
    assert(out.filter($"leaky" =!= ($"split_lo" =!= $"split_hi")).count() == 0)
    val cells = out.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells(("test", "train")) == 1L)   // (3,4)
    assert(cells(("train", "val")) == 1L)    // (5,6)
    assert(cells(("train", "train")) == 1L)  // (1,2) stays clean
    assert(cells(("test", "test")) == 1L)    // (7,8) stays clean
    // split_lo <= split_hi: the cell key is order-canonical
    assert(out.filter($"split_lo" > $"split_hi").count() == 0)
    out.unpersist()
  }

  test("shard manifest: shards partition the corpus, load factors center on 1") {
    val out = ext.Corpus.shardManifest(docs, 16).cache()
    assert(out.filter($"shard" < 0 || $"shard" >= 16).count() == 0)
    assert(out.agg(sum("n_docs")).head().getLong(0) == docs.count(),
      "shard doc counts partition the corpus")
    val chars = docs.agg(sum("n_chars")).head().getLong(0)
    assert(out.agg(sum("total_chars")).head().getLong(0) == chars)
    // mean load factor is 1 by construction (sum n_docs*16/total == 16)
    val lfSum = out.agg(sum("load_factor")).head().getDouble(0)
    assert(math.abs(lfSum - out.count().toDouble) < 0.05)
    // determinism: same assignment on a repartitioned input
    val again = ext.Corpus.shardManifest(docs.repartition(7), 16)
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    out.unpersist()
  }

  test("bigram familiarity: duplicated docs score common, singletons rare") {
    val tiny = Seq(
      (1L, "a b c d"), (2L, "a b c d"),          // identical: every bigram df>=2
      (3L, "x y z w"),                           // unique phrasing: all df=1
      (4L, "a b q r")                            // mixed: shares "a b" only
    ).toDF("doc_id", "text")
    def familiarity(docs: org.apache.spark.sql.DataFrame) = {
      val bigrams = ext.TextAnalysis.docBigrams(docs)
      ext.TextAnalysis.bigramFamiliarity(bigrams, ext.TextAnalysis.bigramDf(bigrams))
    }
    val out = familiarity(tiny).cache()
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Double]("rare_ratio") == 0.0)
    assert(byId(2L).getAs[Double]("rare_ratio") == 0.0)
    assert(byId(3L).getAs[Double]("rare_ratio") == 1.0)
    // doc 4: bigrams {a b, b q, q r}; only "a b" is shared -> 2/3 rare
    assert(byId(4L).getAs[Double]("rare_ratio") == 0.6667)
    assert(byId(1L).getAs[Double]("avg_df") > byId(3L).getAs[Double]("avg_df"))
    // short-doc degrade: a 1-token doc contributes its whole text
    val short = familiarity(Seq((1L, "solo"), (2L, "solo")).toDF("doc_id", "text"))
    assert(short.filter($"rare_ratio" === 0.0).count() == 2)
    out.unpersist()
  }

  test("quality tiers: two-phase rank matches the single-window construction") {
    import org.apache.spark.sql.expressions.Window
    val out = ext.TextAnalysis.qualityTiers(ext.TextAnalysis.textStatsTable(spark, sf0001), 10)
      .cache()
    assert(out.agg(sum("n_docs")).head().getLong(0) == docs.count())
    assert(out.filter($"tier" < 1 || $"tier" > 10).count() == 0)
    // tiers are ordered by quality: tier t's max never exceeds tier t+1's min
    val rows = out.orderBy("tier").collect()
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Double]("max_quality") <= hi.getAs[Double]("min_quality"),
          s"tier ${lo.getInt(0)} overlaps tier ${hi.getInt(0)}")
      case _ => ()
    }
    // equivalence with the naive global-window rank (OK at test scale)
    val stats = ext.TextAnalysis.textStats(docs)
      .select($"doc_id", $"quality_score".as("q"), $"token_count")
    val naive = stats
      .withColumn("rank", row_number().over(Window.orderBy($"q", $"doc_id")))
      .crossJoin(stats.agg(count(lit(1)).as("n")))
      .withColumn("tier", (floor(($"rank" - 1) * 10 / $"n") + 1).cast("int"))
      .groupBy("tier").agg(count(lit(1)).as("n_docs"))
    val mine = out.select($"tier", $"n_docs")
    assert(mine.except(naive).isEmpty && naive.except(mine).isEmpty)
    out.unpersist()
  }

  test("incremental pairs: endpoints respect batch membership; subset of full candidates") {
    val sig = ext.Dedup.signatureTable(spark, sf0001)
    val out = ext.Dedup.incrementalPairs(sig, 0.1).cache()
    val isNew = ext.Corpus.unitHash(col("doc_id")) >= 0.9
    val newIds = docs.filter(isNew).select($"doc_id").collect().map(_.getLong(0)).toSet
    out.collect().foreach { r =>
      val (a, b, kind) = (r.getLong(0), r.getLong(1), r.getString(2))
      assert(a < b, "pairs are canonicalized")
      val newEnds = Seq(a, b).count(newIds)
      if (kind == "cross") assert(newEnds == 1, s"cross pair ($a,$b) has $newEnds new ends")
      else assert(newEnds == 2, s"intra pair ($a,$b) has $newEnds new ends")
    }
    // every incremental candidate involving a new doc is found by the full
    // self-join too: the increment misses nothing the batch could collide
    // on. The exact-equality claim runs UNCAPPED on both sides — the two
    // implementations cap differently (combined bucket vs per-side), so a
    // bucket near MaxBucket makes the capped sets legitimately diverge;
    // with caps disabled the accounting rules provably coincide.
    val fullUncapped = ext.Dedup.minhashPairsPre(sig, maxBucket = Int.MaxValue)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = out.select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr.subsetOf(fullUncapped),
      s"incremental emitted pairs the full join lacks: ${(incr -- fullUncapped).take(5)}")
    val incrUncapped = ext.Dedup.incrementalPairs(sig, 0.1, maxBucket = Int.MaxValue)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullUncapped.filter { case (a, b) => newIds(a) || newIds(b) } == incrUncapped,
      "uncapped increment finds exactly the full join's new-endpoint pairs")
    out.unpersist()
  }

  test("mixture weights: shares sum to 1, sqrt-smoothing boosts the tail source") {
    val out = ext.Corpus.mixtureWeights(docs).cache()
    assert(math.abs(out.agg(sum("natural_share")).head().getDouble(0) - 1.0) < 1e-4)
    assert(math.abs(out.agg(sum("smoothed_share")).head().getDouble(0) - 1.0) < 1e-4)
    val rows = out.orderBy($"total_tokens".desc).collect()
    assert(rows.length >= 2, "need at least two sources to compare")
    // α=1/2 compresses the range: the biggest source is damped, the
    // smallest boosted
    assert(rows.head.getAs[Double]("boost") < 1.0, "head source must damp")
    assert(rows.last.getAs[Double]("boost") > 1.0, "tail source must boost")
    assert(out.agg(sum("total_tokens")).head().getLong(0) ==
      docs.select(sum(size(split($"text", " ")))).head().getLong(0))
    out.unpersist()
  }

  test("chunk windows: stride-aligned starts, full coverage, exact overlap") {
    val out = ext.Corpus.chunkWindows(docs, 64, 48).cache()
    assert(out.filter(pmod($"chunk_start", lit(48)) =!= 0).count() == 0)
    assert(out.filter($"n_tokens" < 1 || $"n_tokens" > 64).count() == 0)
    // chunk count per doc = floor((n-1)/stride)+1; idx dense from 0
    val lens = docs.select($"doc_id", size(split($"text", " ")).as("n"))
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("k"), min("chunk_idx").as("lo"), max("chunk_idx").as("hi"))
      .join(lens, "doc_id")
    assert(perDoc.filter($"lo" =!= 0 || $"hi" =!= $"k" - 1).count() == 0)
    assert(perDoc.filter($"k" =!= floor(($"n" - 1) / 48) + 1).count() == 0)
    // every token is covered: the last chunk reaches the doc end
    assert(perDoc.join(
      out.groupBy("doc_id").agg(max($"chunk_start" + $"n_tokens").as("end")), "doc_id")
      .filter($"end" =!= $"n").count() == 0)
    // a doc with exactly one full window: known fingerprint equivalence
    val one = ext.Corpus.chunkWindows(
      Seq((7L, "a b c")).toDF("doc_id", "text"), 2, 1).orderBy("chunk_idx").collect()
    assert(one.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 0L, 2L), (1L, 1L, 2L), (2L, 2L, 1L)))
    out.unpersist()
  }

  test("curation gate: reasons match recomputed signals; keep is their conjunction") {
    val out = ext.TextAnalysis.curationGate(ext.TextAnalysis.textStatsTable(spark, sf0001),
      ext.TextAnalysis.repetitionTable(spark, sf0001),
      ext.TextAnalysis.oovTable(spark, sf0001, 20)).cache()
    assert(out.count() == docs.count(), "one verdict per doc")
    assert(out.filter($"keep" === ($"too_short" || $"too_long" || $"low_quality"
      || $"repetitive" || $"high_oov")).count() == 0,
      "keep must be the negated disjunction of the reasons")
    // cross-check two reasons against the standalone signal queries
    val stats = ext.TextAnalysis.textStats(docs).select($"doc_id", $"token_count", $"quality_score")
    val joined = out.join(stats, "doc_id")
    assert(joined.filter($"too_short" =!= ($"token_count" < 10)).count() == 0)
    assert(joined.filter($"low_quality" =!= ($"quality_score" < 0.5)).count() == 0)
    // hand-built edge docs: a 1-token doc (no bigrams → not repetitive,
    // but too short), and a degenerate repeat (repetitive)
    val tinyDocs = Seq(
      (1L, "solo", "en"),
      (2L, ("spam " * 40).trim + " "
        + ("the quick brown fox jumps over lazy dogs again now " * 3).trim, "en")
    ).toDF("doc_id", "text", "lang")
    val tiny = ext.TextAnalysis.curationGate(ext.TextAnalysis.textStats(tinyDocs),
      ext.TextAnalysis.repetitionStats(tinyDocs), ext.TextAnalysis.oovRate(tinyDocs, 20))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(tiny(1L).getAs[Boolean]("too_short") && !tiny(1L).getAs[Boolean]("repetitive"))
    assert(tiny(2L).getAs[Boolean]("repetitive"), "40x repeated bigram must trip the ceiling")
    out.unpersist()
  }

  test("cluster tables are session-cached: second call reuses blocks") {
    val a = ext.Dedup.clusterTable(spark, sf0001, 0.5)
    val n1 = a.count()
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val b = ext.Dedup.clusterTable(spark, sf0001, 0.5)
    assert(b.count() == n1)
    assert(spark.sparkContext.getPersistentRDDs.size == rdds,
      "second call must not re-run the CC fixpoint or grow block storage")
  }
}
