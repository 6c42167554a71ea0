package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.Tag

import graft.core.{DataGen, StageMetrics, Tables}
import graft.ext.{Corpus, Dedup, LshReference}
import graft.jobs.{DataQualityJob, SkewMonitorJob, TrainingSetJob}

/** Marker for the heavier empirical-invariant tests (still run in CI; the
  * tag lets a quick loop exclude them with `-l graft.SlowTest`). */
object SlowTest extends Tag("graft.SlowTest")

/** Empirical scale evidence for the dedup/ANN candidate stage: the design
  * claim is "collisions, not n², drive shuffle volume" — banded bucket
  * equi-joins plus a bucket-size cap keep candidate-pair counts LINEAR in
  * corpus size when duplicate-cluster size is fixed. This spec measures
  * that instead of asserting it rhetorically: 1×/2×/4× corpora with
  * constant cluster size 5, so the planted-pair count is exactly 2n
  * (10 pairs per 5-doc cluster) and any quadratic residue would show as
  * pair ratios tracking 4×/16× instead of 2×/4×.
  *
  * The same evidence for the heavier laddered queries, on the self-similar
  * DataGen.scaling* tables: task-metric records per query at ×1 and ×4,
  * never wall time.
  */
class ScalingInvariantSpec extends SparkSpec {

  private val base = 400L
  private val scales = Seq(1L, 2L, 4L)

  private def ratios(counts: Seq[Long]): (Double, Double) =
    (counts(1).toDouble / counts(0), counts(2).toDouble / counts(0))

  test("minhash LSH candidate pairs grow linearly with corpus size", SlowTest) {
    val counts = scales.map { s =>
      LshReference.minhashPairs(DataGen.nearDupCorpus(spark, base * s)).count()
    }
    // every corpus plants 10 true pairs per 5-doc cluster = 2n; banded LSH
    // at jaccard ~0.54 recalls most but not all (measured ~88%)
    assert(counts(0) >= 2 * base * 3 / 4,
      s"candidate recall collapsed at 1×: ${counts(0)} of ${2 * base}")
    val (r2, r4) = ratios(counts)
    assert(r2 > 1.5 && r2 < 3.0, s"2× corpus → ${r2}× pairs (want ~2, quadratic would be 4)")
    assert(r4 > 3.0 && r4 < 6.0, s"4× corpus → ${r4}× pairs (want ~4, quadratic would be 16)")
  }

  test("embedding LSH candidate pairs grow linearly with corpus size", SlowTest) {
    val counts = scales.map { s =>
      LshReference.lshCandidates(DataGen.clusteredVectors(spark, base * s)).count()
    }
    assert(counts(0) >= 2 * base * 8 / 10,
      s"candidate recall collapsed at 1×: ${counts(0)} of ${2 * base}")
    val (r2, r4) = ratios(counts)
    assert(r2 > 1.5 && r2 < 3.0, s"2× corpus → ${r2}× pairs (want ~2, quadratic would be 4)")
    assert(r4 > 3.0 && r4 < 6.0, s"4× corpus → ${r4}× pairs (want ~4, quadratic would be 16)")
  }

  test("bucket cap holds candidate growth linear even under a degenerate flood", SlowTest) {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial mix: a clustered corpus PLUS s×300 copies of one
    // boilerplate doc (300 > MaxBucket at every scale). Uncapped, the flood
    // alone contributes C(300s, 2) pairs — quadratic in s (~45k at 1×,
    // ~719k at 4×, dwarfing the planted 2n); with the cap the degenerate
    // bucket is dropped and totals stay ~linear in the corpus size.
    val boiler = "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11"
    val counts = scales.map { s =>
      val flood = spark.range(300 * s)
        .select(($"id" + 1000000L).as("doc_id"), lit(boiler).as("text"))
      val docs = DataGen.nearDupCorpus(spark, base * s).unionByName(flood)
      LshReference.minhashPairs(docs).count()
    }
    assert(counts(0) < 4 * base,
      s"flood pairs leaked through the cap at 1×: ${counts(0)}")
    val (r2, r4) = ratios(counts)
    assert(r2 < 3.0, s"2× flood → ${r2}× pairs; cap failed to hold growth linear")
    assert(r4 < 6.0, s"4× flood → ${r4}× pairs; cap failed to hold growth linear")
    // and the dropped mass is observable: the overflow view reports the
    // boilerplate bucket in every band
    val sh = Dedup.withShingles(
      DataGen.nearDupCorpus(spark, base).unionByName(
        spark.range(300).select(($"id" + 1000000L).as("doc_id"), lit(boiler).as("text"))))
      .select("doc_id", "sh")
    val over = LshReference.minhashOverflowBuckets(Dedup.minhashSignaturesPre(sh)).collect()
    assert(over.length == 4, s"expected the flood bucket in all 4 bands, got ${over.length}")
    assert(over.forall(_.getAs[Long]("n_docs") == 300L))
  }

  test("laddered queries' shuffle-write and input records grow at most 1.3x the data factor", SlowTest) {
    // one docs, orders and events table per rung; records, not time, so
    // the pin is deterministic. 1.3x the factor is the quadratic-hazard
    // line: a quadratic shuffle at x4 writes ~16x, a linear one ~4x.
    val factor = 4L
    val root = java.nio.file.Files.createTempDirectory("graft-growth").toString
    def rung(s: Long) = s"$root/x$s"
    for (s <- Seq(1L, factor)) {
      DataGen.scalingDocs(spark, 2000 * s).write.parquet(s"${rung(s)}/documents.parquet")
      DataGen.scalingOrders(spark, 5000 * s).write.parquet(s"${rung(s)}/orders.parquet")
      DataGen.scalingEvents(spark, 5000 * s).write.parquet(s"${rung(s)}/events.parquet")
    }
    // a fixed probe set outside the corpus: each probe's text recurs once
    // per 1,000 docs, so its overlaps grow with the corpus, not faster
    val probes = DataGen.scalingDocs(spark, 100).withColumn("doc_id", -col("doc_id") - 1)
    val queries: Seq[(String, String => DataFrame)] = Seq(
      "contamination" -> (d => Corpus.contamination(Tables.documents(spark, d), probes, 3, 0.1)),
      "vocab_growth" -> (d => Corpus.vocabGrowth(Tables.documents(spark, d))),
      "dq_drift" -> (d => DataQualityJob.distributionDrift(spark, d)),
      "dq_robust_outliers" -> (d => DataQualityJob.robustOutliers(spark, d)),
      "pit_training_set" -> (d => TrainingSetJob.pitTrainingSet(spark, d)),
      "training_serving_skew" -> (d => SkewMonitorJob.trainingServingSkew(spark, d)))
    val sm = StageMetrics.attach(spark)
    try {
      def records(q: String => DataFrame, s: Long): Seq[Long] = {
        val d = sm.measure { q(rung(s)).write.format("noop").mode("overwrite").save() }
        Seq(d.shuffleWriteRecords, d.inputRecords)
      }
      val bound = 1.3 * factor
      for ((name, q) <- queries) {
        val (x1, x4) = (records(q, 1L), records(q, factor))
        Seq("shuffle-write", "input").zip(x1.zip(x4)).foreach { case (what, (a, b)) =>
          info(f"$name $what records: $a -> $b (${b.toDouble / a}%.2fx)")
          assert(a > 0, s"$name: no $what records at x1")
          assert(b <= bound * a,
            s"$name: $what records grew ${b.toDouble / a}x ($a -> $b) on ${factor}x data")
        }
      }
    } finally sm.close()
  }
}
