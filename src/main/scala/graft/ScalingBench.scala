package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Corpus, Similarity, TextAnalysis}

/** Empirical scaling harness: measures the five heaviest corpus queries at
  * ×1 / ×2 / ×5 data and reports measured growth against the near-linear
  * prediction — the evidence (vs. assertion) that the plan shapes pinned in
  * ScaleShapeSpec actually hold as data grows. Published in PERF.md.
  *
  * The corpora are SELF-SIMILAR synthetic tables (deterministic md5-derived
  * text with shared vocabulary across docs, DataGen.clusteredVectors
  * embeddings with fixed cluster size), so every scale point draws from the
  * identical distribution and the ratio t(×s)/t(×1) isolates data growth
  * from distribution shift. Sub-linear measured growth is expected where a
  * fixed-size side exists (contamination's probe set, capped LSH buckets);
  * super-linear growth beyond ~1.3× the scale factor would flag a
  * quadratic/buffer hazard.
  *
  * Prints ONE JSON line:
  * {"metric":"scaling","base_docs":N,"scales":{"x1":{q:sec..},..},
  *  "growth_x5":{q:ratio..}}
  */
object ScalingBench {

  /** Deterministic documents table: ~20-100 tokens per doc, every 5th token
    * a stopword, word identity keyed on (doc_id % 1000, position) so
    * documents share n-grams across the corpus (contamination and quality
    * signals have realistic structure at every scale). */
  private def genDocs(spark: SparkSession, n: Long): DataFrame = {
    val len = (lit(20) + pmod(col("id"), lit(80))).cast("int")
    val words = transform(sequence(lit(0), len - 1), k =>
      when(pmod(k, lit(5)) === 0, lit("the"))
        .otherwise(substring(md5(concat(
          pmod(col("id"), lit(1000)).cast("string"), lit("|"),
          k.cast("string"))), 1, 6)))
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", words).as("text"),
      lit("en").as("lang"),
      concat(lit("src"), pmod(col("id"), lit(5)).cast("string")).as("source"),
      length(concat_ws(" ", words)).cast("long").as("n_chars"))
  }

  private def genEmb(spark: SparkSession, n: Long): DataFrame =
    core.DataGen.clusteredVectors(spark, n, clusterSize = 5, dim = 64)
      .withColumn("label", pmod(col("vec_id"), lit(8)).cast("int"))

  /** md5 hex → uniform [0, 1) keyed on (tag, id) — the shared
    * deterministic-randomness primitive of every generator here (one
    * definition, so the "identical distribution at every scale point"
    * claim can never silently diverge between tables). */
  private def u(tag: String): Column =
    conv(substring(md5(concat(lit(tag + "|"), col("id").cast("string"))),
      1, 8), 16, 10).cast("double") / 4.294967296e9

  /** Deterministic TPC-H-shaped orders for the dq-monitor ladder (the dq
    * monitors and the percentile family read `orders`, not `documents`):
    * near-unique 2-dp lognormal totals (the hard case for the
    * count-by-value decomposition — the distinct-value frame grows ≈ rows,
    * exactly like real o_totalprice), TPC-H status weights, uniform dates
    * over 1995-1998 so the drift monitor's default 1998-07-01 split yields
    * ~87% reference / ~13% current mass. md5-keyed (no rand()) so every
    * scale point draws from the identical distribution. Base 150k = the
    * sf0.1 orders row count, so ×10 is the sf1-equivalent rung.
    *
    * `card` > 0 quantizes totals to ~card distinct price points — the
    * COLLAPSE regime for the count-by-value decomposition (fee/price-point
    * data), vs the default near-unique continuum where the distinct-value
    * frame grows ≈ rows (real o_totalprice's shape, the decomposition's
    * hard case). The one-scan-vs-two-scan A/B runs in both regimes. */
  private def genOrders(spark: SparkSession, n: Long, card: Int): DataFrame = {
    // Box-Muller normal from two independent uniforms (libm is fine here:
    // bench-only data, never oracle-compared)
    val z = sqrt(lit(-2.0) * log(greatest(u("a"), lit(1e-9)))) *
      cos(lit(2.0 * math.Pi) * u("b"))
    spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(col("id"), lit(math.max(n / 10, 1L))).as("o_custkey"),
      when(u("s") < 0.49, "F").when(u("s") < 0.98, "O").otherwise("P")
        .as("o_orderstatus"),
      round(exp(
        if (card > 0)
          // quantize in log-space: ~card/8 grid points per unit over the
          // ±4σ ≈ 8-unit log-price range → ≈ card distinct price points,
          // same lognormal mass profile
          round((z * 0.8 + 10.0) * lit(card / 8.0), 0) / lit(card / 8.0)
        else z * 0.8 + 10.0), 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), (u("d") * 1460).cast("int"))
        .cast("timestamp").as("o_orderdate"))
  }

  /** Deterministic events table for the PIT/skew/funnel/cohort ladder —
    * the testdata shape (event_id, ts, user_id, event_type, value) with
    * realistic type weights and second-resolution timestamps over one
    * month. Users scale with the corpus (n/50 — ~50 events per user at
    * every rung, so per-user window work stays fixed while the user-hash
    * exchange and scan scale linearly: exactly the PIT shape's scaling
    * contract). Base 100k = sf0.1's events row count. */
  private def genEvents(spark: SparkSession, n: Long): DataFrame = {
    val et = u("t")
    spark.range(n).select(
      col("id").as("event_id"),
      // 1704067200 = 2024-01-01T00:00:00Z; spread over 30 days
      timestamp_seconds(lit(1704067200L) +
        (u("s") * 2592000.0).cast("long")).as("ts"),
      pmod(col("id"), lit(math.max(n / 50, 1L))).as("user_id"),
      when(et < 0.40, "view").when(et < 0.65, "click")
        .when(et < 0.80, "purchase").when(et < 0.90, "error")
        .otherwise("login").as("event_type"),
      round(u("v") * 500.0, 2).as("value"),
      lit("{}").as("props"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val baseDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "20000").toLong
    val baseVecs = sys.env.getOrElse("SPARK_GRAFT_SCALE_VECS", "8000").toLong
    val root = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scaling")
    val spark = core.Sessions.local(cpus)

    // scale points are a knob (e.g. "1,10" extends the ladder a rung
    // without re-timing the middle); growth is reported for the largest
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALE_POINTS", "1,2,5")
      .split(",").map(_.trim.toInt).toSeq.sorted
    require(scales.headOption.contains(1), "the ×1 base point is required")
    // dir name encodes the size params (a rerun with different env vars
    // regenerates instead of silently benchmarking stale tables), and
    // documents — the existence marker — is written LAST, so a run killed
    // mid-generation leaves no dir that passes the check
    def scaleDir(s: Int) = s"$root/d$baseDocs-v$baseVecs/x$s"
    scales.foreach { s =>
      val dir = scaleDir(s)
      if (!new java.io.File(s"$dir/documents.parquet").exists()) {
        genEmb(spark, baseVecs * s).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
        genDocs(spark, baseDocs * s).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
      }
    }
    // orders ladder dirs live in their own size-keyed tree (round 10): the
    // dq monitors read `orders`, which the doc dirs never carried, and a
    // separate o$base tree means changing SPARK_GRAFT_SCALE_ORDERS can
    // never silently benchmark stale tables. _SUCCESS is the completion
    // marker (a run killed mid-write leaves no passing dir).
    val baseOrders = sys.env.getOrElse("SPARK_GRAFT_SCALE_ORDERS", "150000").toLong
    val priceCard = sys.env.getOrElse("SPARK_GRAFT_ORDER_PRICE_CARD", "0").toInt
    def orderDir(s: Int) = s"$root/o$baseOrders-c$priceCard/x$s"
    scales.foreach { s =>
      val dir = orderDir(s)
      if (!new java.io.File(s"$dir/orders.parquet/_SUCCESS").exists())
        genOrders(spark, baseOrders * s, priceCard).write.mode("overwrite")
          .parquet(s"$dir/orders.parquet")
    }
    val baseEvents = sys.env.getOrElse("SPARK_GRAFT_SCALE_EVENTS", "100000").toLong
    def eventDir(s: Int) = s"$root/e$baseEvents/x$s"
    scales.foreach { s =>
      val dir = eventDir(s)
      if (!new java.io.File(s"$dir/events.parquet/_SUCCESS").exists())
        genEvents(spark, baseEvents * s).write.mode("overwrite")
          .parquet(s"$dir/events.parquet")
    }

    lazy val learnedMerges = ext.Vocab.bpeLearn(
      Tables.documents(spark, scaleDir(1)), 10)
    val docQueries: Seq[(String, String => DataFrame)] = Seq(
      "quality_filter" -> (d => TextAnalysis.qualityFilter(Tables.documents(spark, d))),
      "quality_tiers" -> (d => TextAnalysis.qualityTiers(Tables.documents(spark, d), 10)),
      "contamination" -> { d =>
        val docs = Tables.documents(spark, d)
        Corpus.contamination(docs, docs.filter(col("doc_id") < 100), 3, 0.1)
      },
      "embedding_outliers" -> (d => Similarity.embeddingOutliers(Tables.embeddings(spark, d), 5)),
      "dedup_embedding" -> (d => Similarity.cosineNearDups(Tables.embeddings(spark, d), 20)),
      // round-8 additions: the quota rank touches every row of the hot
      // source (caps sized so all five synthetic sources overflow at ×1),
      // and the pair counts run over the vocab-sized distinct-word frame
      "source_quota" -> (d => Corpus.sourceQuota(
        Tables.documents(spark, d), Map("src0" -> 500L), 1000L)),
      "bpe_merge_pairs" -> (d => ext.Vocab.charPairStats(Tables.documents(spark, d), 30)),
      // the encode hot path: merges learned ONCE on the ×1 corpus (the
      // realistic pipeline — train small, encode everything), applied via
      // the native bpe_encode expression at every scale point
      "bpe_fertility" -> { d =>
        ext.Vocab.fertility(Tables.documents(spark, d), learnedMerges)
      },
      // round-9 additions: the three data-bound new operators — the
      // systematic sampler and histogram ride prefix-sum/count-by-value
      // exchanges (≈linear expected), vocab_growth one token explode +
      // min-aggregate over the shared-vocabulary frame (sub-linear: the
      // distinct-token table grows slower than the corpus)
      "weighted_sample" -> (d => Corpus.weightedSample(Tables.documents(spark, d), 100)),
      "vocab_growth" -> (d => Corpus.vocabGrowth(Tables.documents(spark, d))),
      "equi_depth_histogram" -> (d => graft.jobs.DataQualityJob.equiDepthOf(
        Tables.documents(spark, d), "n_chars", 10)))

    // round-10 additions: the dq monitors + percentile family over the
    // orders ladder, each shipped ONE-SCAN form next to an otherwise-
    // identical TWO-SCAN variant — the A/B that turns PERF's "one shared
    // count-by-value exchange is a strict I/O win at scale" from an
    // argument into a measurement. The variants differ ONLY in scan
    // economy: same bucket lambda, same count-by-value collapse, same
    // percentile/envelope arithmetic.
    val cut = to_timestamp(lit("1998-07-01 00:00:00"))
    def driftTwoScan(d: String): DataFrame = {
      val orders = Tables.orders(spark, d).filter(col("o_totalprice").isNotNull)
      // scan 1: reference histogram over the date-filtered period (the
      // pushed-filter plan the shipped form deliberately gives up)
      val bnds = graft.jobs.DataQualityJob
        .equiDepthOf(orders.filter(col("o_orderdate") < cut), "o_totalprice", 10)
        .agg(array_sort(collect_list(struct(col("bucket"), col("hi_value")))).as("a"))
        .select(expr(
          "slice(transform(a, x -> x.hi_value), 1, greatest(size(a) - 1, 0))")
          .as("bnds"))
      // scan 2: (period, value) collapse + bucket masses over the full table
      orders.groupBy(
          when(col("o_orderdate") < cut, lit(1L)).otherwise(lit(0L)).as("__is_ref"),
          col("o_totalprice").cast("double").as("__v"))
        .agg(count(lit(1)).as("__c"))
        .crossJoin(broadcast(bnds))
        .select(expr("CAST(size(filter(bnds, x -> __v > x)) AS INT)").as("bucket"),
          col("__is_ref"), col("__c"))
        .groupBy("bucket")
        .agg(sum(when(col("__is_ref") === 1, col("__c")).otherwise(lit(0L))).as("n_ref"),
          sum(when(col("__is_ref") === 0, col("__c")).otherwise(lit(0L))).as("n_cur"))
    }
    def pctxTwoScan(d: String): DataFrame = {
      import graft.ops.BoundedPercentile
      val o = Tables.orders(spark, d).select("o_orderstatus", "o_totalprice")
      // scan 1: the sketch straight off the source (the plan a naive
      // percentile_approx call produces); scan 2: the count-by-value
      // collapse feeding the exact witness + envelope ranks
      val sk = o.groupBy("o_orderstatus").agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("__p50a"),
        percentile_approx(col("o_totalprice"), lit(0.95), lit(1000)).as("__p95a"))
      val cnt = BoundedPercentile.countByValue(o, "o_orderstatus", "o_totalprice")
      def rank(cmp: Column): Column = coalesce(max(when(cmp, col("__hi"))), lit(0L))
      BoundedPercentile.exactFromCounts(
        cnt, "o_orderstatus",
        Seq(0.5 -> "p50_exact", 0.95 -> "p95_exact"), 2,
        joined = Seq(sk),
        extraAggs = Seq(
          rank(col("__v") < col("__p50a")).as("__lt50"),
          rank(col("__v") <= col("__p50a")).as("__le50"),
          rank(col("__v") < col("__p95a")).as("__lt95"),
          rank(col("__v") <= col("__p95a")).as("__le95")),
        extraOut = Seq(
          (col("__lt50") <= lit(0.52) * col("__n") &&
            col("__le50") >= lit(0.48) * col("__n")).as("p50_in_envelope"),
          (col("__lt95") <= lit(0.97) * col("__n") &&
            col("__le95") >= lit(0.93) * col("__n")).as("p95_in_envelope")))
    }
    val orderQueries: Seq[(String, String => DataFrame)] = Seq(
      "dq_robust_outliers" -> (d => graft.jobs.DataQualityJob.robustOutliers(spark, d)),
      "dq_drift" -> (d => graft.jobs.DataQualityJob.distributionDrift(spark, d)),
      "dq_drift_twoscan" -> (d => driftTwoScan(d)),
      "percentiles_approx" -> (d => graft.serving.Lookups.percentilesApprox(spark, d)),
      "percentiles_approx_twoscan" -> (d => pctxTwoScan(d)))

    // round-10 additions: the events-based operator family — the PIT
    // matrix and skew audit (one scan + one user-hash exchange + one
    // WindowExec each), the one-scan funnel and cohort rollup. Expected
    // near-linear: per-user work is fixed (users scale with events), the
    // data-bound terms are the scan and the user exchange.
    val eventQueries: Seq[(String, String => DataFrame)] = Seq(
      "pit_training_set" -> (d => graft.jobs.TrainingSetJob.pitTrainingSet(spark, d)),
      // round-11: the wide matrix must ride the ladder at the same cost
      // as the scalar one (same single WindowExec, 3 struct fills)
      "pit_training_matrix_wide" -> (d =>
        graft.jobs.TrainingSetJob.pitTrainingMatrixWide(spark, d)),
      "training_serving_skew" -> (d =>
        graft.jobs.SkewMonitorJob.trainingServingSkew(spark, d)),
      "event_funnel" -> (d => graft.jobs.StreamAnalogJobs.eventFunnel(spark, d)),
      "cohort_retention" -> (d => graft.jobs.StreamAnalogJobs.cohortRetention(spark, d)))

    val allQueries: Seq[(String, Int => DataFrame)] =
      docQueries.map { case (n, f) => n -> ((s: Int) => f(scaleDir(s))) } ++
        orderQueries.map { case (n, f) => n -> ((s: Int) => f(orderDir(s))) } ++
        eventQueries.map { case (n, f) => n -> ((s: Int) => f(eventDir(s))) }
    // query filter knob: refresh one query's ladder after a plan change
    // without re-timing the expensive rungs of the others
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES") match {
      case Some(names) =>
        val want = names.split(",").map(_.trim).toSet
        val unknown = want -- allQueries.map(_._1).toSet
        require(unknown.isEmpty, s"unknown scale queries: ${unknown.mkString(", ")}")
        allQueries.filter(q => want(q._1))
      case None => allQueries
    }

    // warm: footers + codegen once per scale dir
    scales.foreach { s =>
      Tables.documents(spark, scaleDir(s)).count()
      Tables.embeddings(spark, scaleDir(s)).count()
      Tables.orders(spark, orderDir(s)).count()
      Tables.events(spark, eventDir(s)).count()
    }
    queries.foreach { case (_, fn) => fn(1).count() }

    // input RECORDS ride along with the timings: local wall-clock can't
    // see scan economy (page-cached parquet makes a second scan nearly
    // free), but records-read is exactly the quantity a 100 TB cold
    // cluster pays for — the one-scan-vs-two-scan A/B is adjudicated on
    // this, not on local latency. (Records, not bytes: the vectorized
    // parquet reader bypasses the Hadoop byte statistics — see
    // StageMetrics' trust-boundary note.)
    val sm = core.StageMetrics.attach(spark)
    val Runs = 3
    val timed: Map[Int, Seq[(String, (Double, Long))]] = scales.map { s =>
      s -> queries.map { case (name, fn) =>
        val times = (1 to Runs).map { _ =>
          val t0 = System.nanoTime()
          fn(s).count()
          (System.nanoTime() - t0) / 1e9
        }
        val rec = sm.measure { fn(s).count(): Unit }.inputRecords
        name -> ((times.sorted.apply(Runs / 2), rec))
      }
    }.toMap

    def fmt(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + math.round(v * 1000) / 1000.0 }
        .mkString("{", ",", "}")
    def fmtL(xs: Seq[(String, Long)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val x1 = timed(1).map { case (k, (t, _)) => k -> t }.toMap
    val top = scales.max
    val growth = timed(top).map { case (k, (t, _)) =>
      k -> math.round(t / x1(k) * 100) / 100.0 }
    val sc = scales.map(s =>
      "\"x" + s + "\":" + fmt(timed(s).map { case (k, (t, _)) => k -> t }))
      .mkString("{", ",", "}")
    val rec = scales.map(s =>
      "\"x" + s + "\":" + fmtL(timed(s).map { case (k, (_, r)) => k -> r }))
      .mkString("{", ",", "}")
    println(s"""{"metric":"scaling","base_docs":$baseDocs,"base_vecs":$baseVecs,""" +
      s""""scales":$sc,"growth_x$top":${fmt(growth)},"input_records":$rec}""")
    spark.stop()
  }
}
