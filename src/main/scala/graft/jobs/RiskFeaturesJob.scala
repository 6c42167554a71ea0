package graft.jobs

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AsOf, Roles}
import graft.ops.Ops._

/** Risk features — spec sql/risk_features.sql:1-110, the five-CTE shape.
  *
  * DELIBERATE divergence from the reference's inlined batch query
  * (src/pipelines/batch_pipeline.py:192-199), which left-joins the five raw
  * fact tables BEFORE grouping and silently cross-multiplies counts (SURVEY
  * §7.4.3, the J4 fan-out trap). We implement the CTE form: each source is
  * aggregated to one row per user FIRST, then five left joins fan in (J3).
  * At 100 TB that is also the only viable plan — the pre-aggregation is a
  * map-side-combinable shuffle per source, and the final join is a co-hashed
  * n-way merge on user_id with no row explosion.
  *
  * Operators: A5 conditional counts, A6 filtered distinct counts, P6 compound
  * predicates, W1/W2 DISTINCT ON via row_number, U1 three-source union, J3.
  *
  * Timelines: payments ride the lineitem clock (AsOf.lineitem — shipments
  * trail orders by ~3 months), login/alert/credit/score roles ride the events
  * clock (AsOf.events). Each CTE anchors on its own clock.
  */
object RiskFeaturesJob {

  /** Cache-aside apply — see TransactionFeaturesJob.apply. */
  def apply(spark: SparkSession, dir: String,
            asOfPay: Instant = AsOf.lineitem,
            asOfEv: Instant = AsOf.events): DataFrame = {
    def build = compute(
      Roles.payments(spark, dir), Roles.userLogins(spark, dir),
      Roles.velocityAlerts(spark, dir), Roles.creditReports(spark, dir),
      Roles.riskScores(spark, dir), Roles.users(spark, dir),
      asOfPay, asOfEv)
    if (asOfPay == AsOf.lineitem && asOfEv == AsOf.events)
      graft.core.FeatureCache.cached(spark, dir, "risk_features")(build)
    else build
  }

  def compute(payments: DataFrame, logins: DataFrame, alerts: DataFrame,
              credit: DataFrame, scores: DataFrame, users: DataFrame,
              asOfPay: Instant, asOfEv: Instant): DataFrame = {
    def tsLit(i: Instant, back: Long) = to_timestamp(lit(AsOf.minusDays(i, back)))

    // payment_history (sql/risk_features.sql:4-27)
    val delayed = col("payment_date") > col("due_date")
    val paymentHistory = payments
      .filter(col("created_at") >= tsLit(asOfPay, 91))
      .groupBy("user_id").agg(
        countIf(delayed && col("payment_date") >= tsLit(asOfPay, 30)).as("payment_delays_30d"),
        countIf(delayed && col("payment_date") >= tsLit(asOfPay, 90)).as("payment_delays_90d"),
        countIf(col("status") === "failed" && col("created_at") >= tsLit(asOfPay, 90))
          .as("failed_payments_count"))

    // device_behavior (sql/risk_features.sql:28-44)
    val in30Ev = col("created_at") >= tsLit(asOfEv, 30)
    val deviceBehavior = logins
      .filter(col("created_at") >= tsLit(asOfEv, 31))
      .groupBy("user_id").agg(
        countDistinctIf(in30Ev, col("device_id")).as("device_changes_30d"),
        countDistinctIf(in30Ev, col("ip_address")).as("login_locations_30d"))

    // velocity_patterns (sql/risk_features.sql:45-56)
    val velocityPatterns = alerts
      .filter(col("created_at") >= tsLit(asOfEv, 31))
      .groupBy("user_id").agg(
        countIf(col("alert_type") === "velocity" && in30Ev).as("velocity_alerts_30d"))

    // credit_info — DISTINCT ON latest report (sql/risk_features.sql:57-64)
    val creditInfo = topOnePerKey(
      credit.filter(col("report_date") >= tsLit(asOfEv, 30)),
      Seq(col("user_id")), Seq(col("report_date").desc, col("report_id").desc))
      .select("user_id", "credit_utilization_ratio")

    // latest_risk_scores — 7d horizon (sql/risk_features.sql:65-72)
    val latestScores = topOnePerKey(
      scores.filter(col("computed_at") >= tsLit(asOfEv, 7)),
      Seq(col("user_id")), Seq(col("computed_at").desc, col("score_id").desc))
      .select("user_id", "risk_score")

    // active_risk_users — three-source UNION distinct (sql/risk_features.sql:73-90)
    val active = unionDistinct(
      users.filter(col("recently_updated")).select("user_id"),
      payments.filter(col("created_at") >= tsLit(asOfPay, 1)).select("user_id"),
      alerts.filter(col("created_at") >= tsLit(asOfEv, 1)).select("user_id"))

    assemble(active, Seq(paymentHistory, deviceBehavior, velocityPatterns,
      creditInfo, latestScores), asOfPay)
  }

  /** The output contract, shared with IncrementalRiskFeatures: the active
    * set left-joined to the five per-user CTEs in order, DDL defaults,
    * asOf stamps on the payments clock. */
  private[jobs] def assemble(active: DataFrame, ctes: Seq[DataFrame],
                             asOfPay: Instant): DataFrame = {
    val asOfTs = to_timestamp(lit(AsOf.ts(asOfPay)))
    ctes.foldLeft(active)(_.join(_, Seq("user_id"), "left"))
      .select(
        col("user_id"),
        orZeroD(col("credit_utilization_ratio")).as("credit_utilization_ratio"),
        orZero(col("payment_delays_30d")).as("payment_delays_30d"),
        orZero(col("payment_delays_90d")).as("payment_delays_90d"),
        orZero(col("failed_payments_count")).as("failed_payments_count"),
        orZero(col("device_changes_30d")).as("device_changes_30d"),
        orZero(col("login_locations_30d")).as("login_locations_30d"),
        orZero(col("velocity_alerts_30d")).as("velocity_alerts_30d"),
        orZeroD(col("risk_score")).as("risk_score"),
        asOfTs.as("created_at"),
        asOfTs.as("updated_at"))
  }
}
