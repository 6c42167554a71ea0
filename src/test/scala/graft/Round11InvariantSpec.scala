package graft

import org.apache.spark.sql.functions._

/** Semantic invariants of the round-11 wide-PIT work — properties the
  * row/hash oracle compare cannot express. */
class Round11InvariantSpec extends SparkSpec {
  import spark.implicits._

  test("pit_training_matrix_wide: one-scan specialization equals the generic " +
      "PitJoin.trainingMatrixWide") {
    // the driver query builds struct-valued roles from ONE events scan;
    // the generic operator unions the four wide role frames (4 scans).
    // This pins that the conditional struct projections mirror
    // Roles.{riskScoresWide, creditReportsWide, velocityAlertsWide} term
    // for term
    val fast = jobs.TrainingSetJob.pitTrainingMatrixWide(spark, sf0001)
    val generic = jobs.TrainingSetJob.pitTrainingMatrixWideGeneric(spark, sf0001)
    assert(fast.columns.toSeq == generic.columns.toSeq)
    assert(fast.count() > 0)
    assert(fast.exceptAll(generic).isEmpty && generic.exceptAll(fast).isEmpty,
      "one-scan and generic wide PIT matrices must be row-identical")
  }

  test("pit_training_matrix_wide: ranged (segmented-scan) generic ≡ plain on real data") {
    // 2-day ranges over the 30-day events window: every carry/boundary
    // path runs on the real distribution
    val plain = jobs.TrainingSetJob.pitTrainingMatrixWideGeneric(spark, sf0001)
    val ranged = jobs.TrainingSetJob.pitTrainingMatrixWideGeneric(
      spark, sf0001, rangeSecs = 2L * 86400L)
    assert(plain.exceptAll(ranged).isEmpty && ranged.exceptAll(plain).isEmpty,
      "the time-range segmentation is a pure task-layout change")
  }

  test("pit_training_matrix_wide: risk column agrees with pit_training_set " +
      "(same band, same tiebreak, record vs scalar fill)") {
    // the risk group's risk_score has no null fields, so record-level and
    // scalar fill coincide on it — the narrow matrix's coalesced output is
    // exactly coalesce(wide.risk_score, 0.0)
    val wide = jobs.TrainingSetJob.pitTrainingMatrixWide(spark, sf0001)
      .select($"probe_id", coalesce($"risk_score", lit(0.0)).as("r"))
    val narrow = jobs.TrainingSetJob.pitTrainingSet(spark, sf0001)
      .select($"probe_id", $"risk_score_asof".as("r"))
    assert(wide.exceptAll(narrow).isEmpty && narrow.exceptAll(wide).isEmpty,
      "wide and narrow matrices must agree on the shared fact table")
  }

  test("per-group bands genuinely bite: alert band (2d) nulls more probes " +
      "than credit (7d), which nulls more than risk (90d)") {
    val m = jobs.TrainingSetJob.pitTrainingMatrixWide(spark, sf0001)
      .agg(count(lit(1)).as("n"), count($"risk_score").as("nr"),
        count($"credit_utilization").as("nc"), count($"alert_type").as("na"))
      .as[(Long, Long, Long, Long)].head()
    val (n, nr, nc, na) = m
    assert(nr > nc && nc > na && na > 0,
      s"bands must order fill counts: n=$n risk=$nr credit=$nc alert=$na")
  }
}
