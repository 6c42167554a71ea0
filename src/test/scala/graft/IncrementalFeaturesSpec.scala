package graft

import org.apache.spark.sql.functions._

import graft.core.{AsOf, Roles}
import graft.jobs.{DayLadder, IncrementalTransactionFeatures => Inc,
  TransactionFeaturesJob}
import graft.sinks.MergeByKey

/** Pins for day-bucket incremental feature maintenance: the incremental
  * path must be CELL-EXACT against the full recompute (the merge algebra's
  * whole claim), replays must be idempotent, and the midnight-anchor
  * precondition must fail loud. */
class IncrementalFeaturesSpec extends SparkSpec {

  /** The one-day slice [d, d+1). */
  private def day(d: java.time.LocalDate) =
    DayLadder.Slice(Some(d), Some(d.plusDays(1)))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .toSeq.sortBy(_.mkString("|"))
  }

  test("3-day ladder == full recompute, cell-exact (sf0.001)") {
    val full = TransactionFeaturesJob.compute(
      Roles.transactions(spark, sf0001), Roles.users(spark, sf0001), AsOf.orders)
    assert(rows(Inc.ladder(spark, sf0001)) == rows(full))
  }

  test("a 7-day ladder reaches the identical state (slice count is free)") {
    assert(rows(Inc.ladder(spark, sf0001, days = 7)) ==
      rows(Inc.ladder(spark, sf0001, days = 3)))
  }

  test("replaying a day's delta is idempotent (at-least-once delivery)") {
    val tx = Roles.transactions(spark, sf0001)
    val d = AsOf.date(AsOf.orders).minusDays(2)
    val base = Inc.summarize(
      tx.filter(col("created_at") < lit(java.sql.Date.valueOf(d))))
    val delta = Inc.summarize(day(d).of(tx, "created_at"))
    val once = MergeByKey.merge(base, delta, Inc.grain)
    val twice = MergeByKey.merge(once, delta, Inc.grain)
    assert(rows(twice) == rows(once),
      "replaying the same day must leave the state unchanged")
  }

  // ---- the additive-fold family (UserFeaturesJob) ----

  test("user-features 3-day ladder == full recompute, cell-exact (sf0.001)") {
    val full = jobs.UserFeaturesJob.compute(
      Roles.transactions(spark, sf0001), Roles.users(spark, sf0001), AsOf.orders)
    assert(rows(jobs.IncrementalUserFeatures.ladder(spark, sf0001)) == rows(full))
  }

  test("user-features 7-day ladder reaches the identical state") {
    assert(rows(jobs.IncrementalUserFeatures.ladder(spark, sf0001, days = 7)) ==
      rows(jobs.IncrementalUserFeatures.ladder(spark, sf0001, days = 3)))
  }

  test("the additive fold is NOT idempotent — replaying a delta double-" +
      "counts (the documented contract difference from the day-bucket family)") {
    val tx = Roles.transactions(spark, sf0001)
    // the latest day that actually has completed transactions — a fixed
    // offset guessed empty at sf0.001
    val d = tx.filter(col("status").isin("O", "P"))
      .agg(max(to_date(col("created_at")))).head.getDate(0).toLocalDate
    val delta = jobs.IncrementalUserFeatures.summarize(
      day(d).of(tx, "created_at"))
    assert(delta.count() > 0)
    val base = jobs.IncrementalUserFeatures.summarize(
      tx.filter(col("created_at") < lit(java.sql.Date.valueOf(d))))
    val once = jobs.IncrementalUserFeatures.applyDelta(base, delta)
    val twice = jobs.IncrementalUserFeatures.applyDelta(once, delta)
    val cnt = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(sum(col("cnt_rows"))).head.getLong(0)
    assert(cnt(twice) == cnt(once) + delta.agg(sum(col("cnt_rows")))
      .head.getLong(0),
      "running totals must ADD on replay — exactly-once application is " +
        "the caller's contract, unlike the day-bucket family's replace")
  }

  // ---- the 5-way fan family (RiskFeaturesJob) ----

  test("risk-features 3-day ladder == full recompute, cell-exact (sf0.001)") {
    val full = jobs.RiskFeaturesJob.compute(
      Roles.payments(spark, sf0001), Roles.userLogins(spark, sf0001),
      Roles.velocityAlerts(spark, sf0001), Roles.creditReports(spark, sf0001),
      Roles.riskScores(spark, sf0001), Roles.users(spark, sf0001),
      AsOf.lineitem, AsOf.events)
    assert(rows(jobs.IncrementalRiskFeatures.ladder(spark, sf0001)) == rows(full))
  }

  test("risk-features 7-day ladder reaches the identical state") {
    assert(rows(jobs.IncrementalRiskFeatures.ladder(spark, sf0001, days = 7)) ==
      rows(jobs.IncrementalRiskFeatures.ladder(spark, sf0001, days = 3)))
  }

  test("risk-features day-bucket states replay idempotently (all five grains)") {
    import jobs.{IncrementalRiskFeatures => R}
    val d = AsOf.date(AsOf.events).minusDays(2)
    val dayLit = lit(java.sql.Date.valueOf(d))
    for ((src, ts, summ, grain) <- Seq(
        (Roles.userLogins(spark, sf0001), "created_at",
          R.summarizeLogins _, R.loginGrain),
        (Roles.velocityAlerts(spark, sf0001), "created_at",
          R.summarizeAlerts _, R.dayGrain),
        (Roles.creditReports(spark, sf0001), "report_date",
          R.summarizeCredit _, R.dayGrain),
        (Roles.riskScores(spark, sf0001), "computed_at",
          R.summarizeScores _, R.dayGrain))) {
      val base = summ(src.filter(col(ts) < dayLit))
      val delta = summ(day(d).of(src, ts))
      val once = MergeByKey.merge(base, delta, grain)
      val twice = MergeByKey.merge(once, delta, grain)
      assert(rows(twice) == rows(once),
        s"replaying a $grain day bucket must leave the state unchanged")
    }
  }

  test("re-running risk_features_incremental compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def run(): Unit = SparkEntry.queries("risk_features_incremental")(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    run() // also builds the ladder the query reads
    run()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    // AQE gives a pipeline a different whole-stage id from run to run; an id
    // in the class name would make its source, and so its cache key, new
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the repeated query recompiled its classes")
  }

  test("the wide view composed from the three ladders == the full-recompute view") {
    val full = jobs.FeatureViewJob.compute(
      jobs.UserFeaturesJob(spark, sf0001),
      jobs.TransactionFeaturesJob(spark, sf0001),
      jobs.RiskFeaturesJob(spark, sf0001))
    val inc = jobs.FeatureViewJob.compute(
      jobs.IncrementalUserFeatures.ladder(spark, sf0001),
      jobs.IncrementalTransactionFeatures.ladder(spark, sf0001),
      jobs.IncrementalRiskFeatures.ladder(spark, sf0001))
    assert(rows(inc) == rows(full),
      "the daily pipeline must compose incrementally end-to-end")
  }

  test("non-midnight anchors are rejected (day-grain exactness precondition)") {
    val t = java.time.Instant.parse("2001-08-02T13:30:00Z")
    for (attempt <- Seq[() => Any](
        () => Inc.featuresFromState(
          Inc.summarize(Roles.transactions(spark, sf0001)),
          Roles.users(spark, sf0001), t),
        () => Inc.ladder(spark, sf0001, asOf = t),
        () => jobs.IncrementalUserFeatures.ladder(spark, sf0001, asOf = t),
        () => jobs.IncrementalRiskFeatures.ladder(spark, sf0001,
          asOfPay = t, asOfEv = t))) {
      val e = intercept[IllegalArgumentException](attempt())
      assert(e.getMessage.contains("midnight"))
    }
  }
}
