package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

import graft.core.{Roles, Tables}
import graft.ext.{Corpus, Dedup, Similarity, TextAnalysis}
import graft.jobs._

/** The analyst board: every session artifact the queries read, built and
  * timed one by one as set-up, then two timed passes over the pinned slice
  * (`Timed`) of `SparkEntry.queries` in name order, each query's full
  * output materialized through the `noop` sink.
  * (Building the artifacts concurrently was tried: it made the query pass
  * twice as slow, so the build order stays sequential.) */
object Board {

  /** The session artifacts (FeatureCache entries) the board's queries
    * read, with the arguments the queries use. */
  val builders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dim_users" -> Roles.usersCached,
    "txn_features" -> ((s, d) => TransactionFeaturesJob(s, d)),
    "user_features" -> ((s, d) => UserFeaturesJob(s, d)),
    "risk_features" -> ((s, d) => RiskFeaturesJob(s, d)),
    "feature_view" -> ((s, d) => FeatureViewJob(s, d)),
    "incr_txn_ladder" -> ((s, d) => IncrementalTransactionFeatures.ladder(s, d)),
    "incr_user_ladder" -> ((s, d) => IncrementalUserFeatures.ladder(s, d)),
    "incr_risk_ladder" -> ((s, d) => IncrementalRiskFeatures.ladder(s, d)),
    "shingles" -> Dedup.shingleTable,
    "signatures" -> Dedup.signatureTable,
    "candidate_pairs" -> Dedup.candidatePairTable,
    "verified_pairs" -> ((s, d) => Dedup.verifiedPairTable(s, d, 0.5)),
    "clusters" -> ((s, d) => Dedup.clusterTable(s, d, 0.5)),
    "incremental_pairs" -> ((s, d) => Dedup.incrementalPairTable(s, d, 0.1)),
    "simhash64" -> Dedup.simhash64Table,
    "simhash_pairs" -> ((s, d) => Dedup.simhashPairTable(s, d, 3)),
    "text_stats" -> TextAnalysis.textStatsTable,
    "scores" -> TextAnalysis.scoreTable,
    "repetition" -> TextAnalysis.repetitionTable,
    "oov_1000" -> ((s, d) => TextAnalysis.oovTable(s, d, 1000)),
    "oov_20" -> ((s, d) => TextAnalysis.oovTable(s, d, 20)),
    "doc_bigrams" -> TextAnalysis.docBigramTable,
    "bigram_df" -> TextAnalysis.bigramDfTable,
    "lsh_buckets" -> Similarity.lshBucketsCached,
    "cosine_near_dups" -> ((s, d) => Similarity.cosineNearDupsCached(s, d, 20)),
    "semantic_clusters" -> ((s, d) => Similarity.semanticClusterTable(s, d, 0.2)),
    "substring_windows" -> ((s, d) => Dedup.substringWindowTable(s, d, 12)),
    "dsir_weights" -> Corpus.dsirWeightsCached)

  val Scale = "sf0.001"
  val GoldenFile = s"golden/board-$Scale.tsv"
  /** Queries whose output is digested and checked per run: a seeded
    * sample, so every query is checked across a set of seeds while a run
    * stays short. */
  val CheckedPerRun = 6

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1)

  /** The queries a run times, each with its family (the module of the
    * function its `SparkEntry.queries` entry calls first): every third
    * query of each family in name order when the benchmark was defined,
    * 41 of 109, every family present. Pinned, so an engine change that adds
    * or renames queries does not change the workload; a name missing from
    * `SparkEntry.queries` counts as a failed query. (A whole board pass does
    * not fit the benchmark's time budget next to its set-up and builders.) */
  val Timed: Seq[(String, String)] = Seq(
    "ab_metric" -> "jobs.stream_analog",
    "ann_buckets" -> "ext.similarity",
    "batch_lookup" -> "serving.lookups",
    "bpe_merge_pairs" -> "ext.vocab",
    "chunk_windows" -> "ext.corpus",
    "click_attribution" -> "jobs.stream_analog",
    "count_reconciliation" -> "jobs.migration",
    "cube_accounting" -> "ext.corpus",
    "curation_gate" -> "ext.text",
    "dedup_cluster_keepers" -> "ext.dedup",
    "dedup_incremental" -> "ext.dedup",
    "dedup_simhash" -> "ext.dedup",
    "dq_alerts" -> "jobs.dq",
    "dq_feature_completeness" -> "jobs.dq",
    "dq_profile" -> "jobs.dq",
    "equi_depth_histogram" -> "jobs.dq",
    "event_funnel" -> "jobs.stream_analog",
    "event_sessions" -> "jobs.stream_analog",
    "feature_view" -> "jobs.features",
    "frame_sample" -> "ext.multimodal",
    "group_sample" -> "ext.corpus",
    "interval_agg" -> "jobs.stream_analog",
    "length_histogram" -> "ext.text",
    "ordered_export" -> "serving.lookups",
    "pack_sequences" -> "ext.corpus",
    "pii_scan" -> "ext.text",
    "pit_training_matrix_wide" -> "jobs.training",
    "point_lookup" -> "serving.lookups",
    "point_lookup_clustered" -> "sinks",
    "quality_tiers" -> "ext.text",
    "risk_features_incremental" -> "jobs.features",
    "rolling_distinct" -> "jobs.stream_analog",
    "semantic_clusters" -> "ext.similarity",
    "shard_manifest" -> "ext.corpus",
    "snapshot_diff" -> "jobs.migration",
    "stratified_sample" -> "ext.corpus",
    "substring_clean" -> "ext.dedup",
    "tfidf_terms" -> "ext.text",
    "transaction_features_incremental" -> "jobs.features",
    "weighted_sample" -> "ext.corpus",
    "word_counts" -> "jobs.stream_analog"
  )

  val families: Seq[String] = Timed.map(_._2).distinct.sorted

  def readGolden(path: String): Map[String, Digest.Result] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).toArray.toSeq
      .map(_.toString.split('\t')).collect {
        case Array(n, rows, d) => n -> Digest.Result(rows.toLong, d)
      }.toMap

  /** Record the golden digests from the current code (run only from code
    * whose outputs pass the DuckDB oracle at this scale). */
  def recordGolden(spark: SparkSession, benchDir: String): Unit = {
    val dir = s"$benchDir/data/$Scale"
    builders.foreach { case (_, f) => f(spark, dir).count() }
    val lines = queries.map { case (n, fn) =>
      val d = Digest.of(fn(spark, dir))
      s"$n\t${d.rows}\t${d.digest}"
    }
    Files.write(Paths.get(s"$benchDir/$GoldenFile"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  def run(spark: SparkSession, run: Run, benchDir: String): Unit = {
    val dir = s"$benchDir/data/$Scale"
    val golden = readGolden(s"$benchDir/$GoldenFile")
    // set-up: open every table (schema inference, first parquet reads)
    Tables.all.foreach(t => Tables.load(spark, dir, t).count())
    run.phase("tables")
    val listeners = if (run.traced) Some(new Listeners(spark)) else None
    def timed(trace: String, name: String)(f: => Unit): Option[Double] = {
      val t = System.nanoTime()
      Try(run.span(trace, name)(f)) match {
        case Success(_) =>
          run.op(ok = true, "")
          Some((System.nanoTime() - t) / 1e6)
        case Failure(e) =>
          run.op(ok = false, s"$trace $name: $e")
          None
      }
    }

    // the artifacts are the board's set-up: their cold cost lands in setup_s
    val buildWall0 = System.currentTimeMillis()
    val buildMs = builders.flatMap { case (n, f) =>
      listeners.foreach(_.tag = s"build:$n")
      timed("build", n)(f(spark, dir).count()).map(n -> _)
    }
    val buildWall1 = System.currentTimeMillis()
    run.phase("builders")
    run.metric("cache_mb", Run.cacheMb(spark), "MB")
    run.metric("setup_s", run.sinceJvmStartS(), "s")

    val entries = graft.SparkEntry.queries
    val board = Timed.flatMap { case (n, _) => entries.get(n).map(n -> _) }
    Timed.filterNot(q => entries.contains(q._1)).foreach { case (n, _) =>
      run.op(ok = false, s"query $n is no longer in SparkEntry.queries")
    }
    val family = Timed.toMap
    val gc0 = Run.gcMillis()
    val cpu0 = Run.cpuSeconds()
    // two passes; the first is each plan's first execution in the JVM
    def pass(tagPrefix: String): (Seq[(String, Double)], Double) = {
      val t = System.nanoTime()
      val ms = board.flatMap { case (n, fn) =>
        listeners.foreach(_.tag = tagPrefix + n)
        timed("query", n)(fn(spark, dir).write.format("noop").mode("overwrite").save())
          .map(n -> _)
      }
      (ms, (System.nanoTime() - t) / 1e9)
    }
    val passWall0 = System.currentTimeMillis()
    val (queryMs, firstS) = pass("")
    val passWall1 = System.currentTimeMillis()
    val (secondMs, secondS) = pass("pass2:")
    run.phase("timed")
    val gcMs = Run.gcMillis() - gc0
    val cpuS = Run.cpuSeconds() - cpu0
    // what the analyst waits for: the mean materialized wall time of a
    // query on the warm (second) and the cold (first) pass, over the whole
    // pinned set, so a slower query moves it however few others do; and
    // the CPU the passes cost, so a change cannot trade one for the other
    // unseen (CPU time alone is blind to idle cores)
    run.op(queryMs.nonEmpty && secondMs.nonEmpty, "no query completed: no mean")
    run.metric("warm_ms", if (secondMs.isEmpty) 0.0 else Stats.mean(secondMs.map(_._2)), "ms")
    run.metric("cold_ms", if (queryMs.isEmpty) 0.0 else Stats.mean(queryMs.map(_._2)), "ms")
    run.metric("cpu_s", cpuS, "s")

    val qs = queryMs.map(_._2)
    val bs = buildMs.map(_._2)

    // correctness: row count and canonical digest against the golden
    val rng = new java.util.Random(run.seed)
    val checked = scala.util.Random.javaRandomToRandom(rng).shuffle(board).take(CheckedPerRun)
    checked.foreach { case (n, fn) =>
      val got = Try(Digest.of(fn(spark, dir)))
      run.op(got.toOption.exists(g => golden.get(n).contains(g)),
        s"query $n: output ${got.map(g => s"${g.rows} rows ${g.digest.take(12)}")
          .getOrElse(got.failed.get.toString)} != golden ${golden.get(n)}")
    }

    run.detail("board.scale") = JString(Scale)
    run.detail("board.query_ms") = JObject(queryMs.map { case (n, v) => n -> JDouble(v) }.toList)
    run.detail("board.query2_ms") = JObject(secondMs.map { case (n, v) => n -> JDouble(v) }.toList)
    run.detail("board.build_ms") = JObject(buildMs.map { case (n, v) => n -> JDouble(v) }.toList)
    run.detail("board.slice") = JArray(board.map(q => JString(q._1)).toList)
    run.detail("board.checked") = JArray(checked.map(q => JString(q._1)).toList)

    listeners.foreach { l =>
      Run.sparkLayer(run, l, gcMs, cpuS)
      val byQuery = l.phases.toArray.toSeq.map(_.asInstanceOf[(String, Map[String, Long], Long)])
        .filter(p => queryMs.exists(_._1 == p._1))
      def phaseS(k: String) = byQuery.map(_._2.getOrElse(k, 0L)).sum / 1000.0
      val (an, op, pl) = (phaseS("analysis"), phaseS("optimization"), phaseS("planning"))
      run.metric("board.queries_s", qs.sum / 1000.0, "s")
      run.metric("board.first_pass_s", firstS, "s")
      run.metric("board.second_pass_s", secondS, "s")
      run.metric("board.builds_s", (buildWall1 - buildWall0) / 1000.0, "s")
      run.metric("board.query_ms.p50", Stats.orZero(qs, 50), "ms")
      run.metric("board.query_ms.p99", Stats.orZero(qs, 99), "ms")
      run.metric("board.build_ms.p50", Stats.orZero(bs, 50), "ms")
      run.metric("board.analysis_s", an, "s")
      run.metric("board.optimization_s", op, "s")
      run.metric("board.planning_s", pl, "s")
      run.metric("board.exec_s", qs.sum / 1000.0 - an - op - pl, "s")
      families.foreach { f =>
        run.metric(s"board.${f}_s",
          queryMs.filter(q => family.get(q._1).contains(f)).map(_._2).sum / 1000.0, "s")
      }
      buildMs.foreach { case (n, v) => run.metric(s"build.${n}_s", v / 1000.0, "s") }
      val (byModule, gap) = l.moduleSecondsAndGap(passWall0, passWall1)
      run.metric("spark.driver_gap_s", gap, "s")
      run.metric("spark.engine_job_s", byModule.filter(_._1 != "bench").values.sum, "s")
      run.detail("board.phases_ms") = JArray(byQuery.map { case (q, ph, d) =>
        JObject(("query" -> JString(q)) :: ("duration_ms" -> JLong(d)) ::
          ph.toList.map { case (k, v) => k -> (JLong(v): JValue) })
      }.toList)
      l.stop()
    }
  }
}
