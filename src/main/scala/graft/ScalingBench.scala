package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Corpus, Similarity, TextAnalysis}

/** Empirical scaling harness: measures the five heaviest corpus queries at
  * ×1 / ×2 / ×5 data and reports measured growth against the near-linear
  * prediction — the evidence (vs. assertion) that the plan shapes pinned in
  * ScaleShapeSpec actually hold as data grows. Published in PERF.md.
  *
  * The corpora are SELF-SIMILAR synthetic tables (DataGen.scalingDocs,
  * scalingOrders and scalingEvents, all md5-derived, and
  * DataGen.clusteredVectors embeddings with fixed cluster size), so every
  * scale point draws from the
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

  private def genEmb(spark: SparkSession, n: Long): DataFrame =
    core.DataGen.clusteredVectors(spark, n, clusterSize = 5, dim = 64)
      .withColumn("label", pmod(col("vec_id"), lit(8)).cast("int"))

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
        core.DataGen.scalingDocs(spark, baseDocs * s).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
      }
    }
    // orders ladder dirs live in their own size-keyed tree (round 10): the
    // dq monitors read `orders`, which the doc dirs never carried, and a
    // separate o$base tree means changing SPARK_GRAFT_SCALE_ORDERS can
    // never silently benchmark stale tables. _SUCCESS is the completion
    // marker (a run killed mid-write leaves no passing dir).
    val baseOrders = sys.env.getOrElse("SPARK_GRAFT_SCALE_ORDERS", "150000").toLong
    def orderDir(s: Int) = s"$root/o$baseOrders/x$s"
    scales.foreach { s =>
      val dir = orderDir(s)
      if (!new java.io.File(s"$dir/orders.parquet/_SUCCESS").exists())
        core.DataGen.scalingOrders(spark, baseOrders * s).write.mode("overwrite")
          .parquet(s"$dir/orders.parquet")
    }
    val baseEvents = sys.env.getOrElse("SPARK_GRAFT_SCALE_EVENTS", "100000").toLong
    def eventDir(s: Int) = s"$root/e$baseEvents/x$s"
    scales.foreach { s =>
      val dir = eventDir(s)
      if (!new java.io.File(s"$dir/events.parquet/_SUCCESS").exists())
        core.DataGen.scalingEvents(spark, baseEvents * s).write.mode("overwrite")
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
    // orders ladder
    val orderQueries: Seq[(String, String => DataFrame)] = Seq(
      "dq_robust_outliers" -> (d => graft.jobs.DataQualityJob.robustOutliers(spark, d)),
      "dq_drift" -> (d => graft.jobs.DataQualityJob.distributionDrift(spark, d)),
      "percentiles_approx" -> (d => graft.serving.Lookups.percentilesApprox(spark, d)))

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
