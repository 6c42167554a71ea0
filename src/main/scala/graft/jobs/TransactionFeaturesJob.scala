package graft.jobs

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AsOf, Roles}
import graft.ops.Ops._

/** Transaction behavioral features — spec sql/transaction_features.sql:1-65.
  *
  * Shape: 31-day buffered scan (S1) → per-user hash aggregate with nine
  * FILTER-style conditional aggregates (A1-A6, A8) → active-user set as
  * UNION-distinct of recently-updated users and recent transactors (U1/J9)
  * → left join (J2) → COALESCE DDL defaults (F1) → asOf stamping (F8).
  *
  * Scale: one shuffle for the groupBy(user_id), one for the distinct on the
  * active set, and the final left join co-hashes on user_id — AQE coalesces
  * the post-agg sides. The 31d scan filter is pushed to the parquet scan
  * (partition pruning once created_at-partitioned at real scale). No
  * driver-side collection anywhere.
  */
object TransactionFeaturesJob {

  /** Computed once per (session, corpus) and served from the feature cache
    * (the reference's cache-aside tier) — pass through `compute` directly
    * for uncached/what-if runs. */
  def apply(spark: SparkSession, dir: String,
            asOf: Instant = AsOf.orders,
            compatNight: Boolean = false): DataFrame =
    if (asOf == AsOf.orders && !compatNight)
      graft.core.FeatureCache.cached(spark, dir, "transaction_features")(
        compute(Roles.transactions(spark, dir), Roles.users(spark, dir), asOf, compatNight))
    else
      compute(Roles.transactions(spark, dir), Roles.users(spark, dir), asOf, compatNight)

  def compute(tx: DataFrame, users: DataFrame, asOf: Instant,
              compatNight: Boolean = false): DataFrame = {
    val d31  = to_timestamp(lit(AsOf.minusDays(asOf, 31)))
    val d30  = to_timestamp(lit(AsOf.minusDays(asOf, 30)))
    val in30 = col("created_at") >= d30

    // transaction_stats CTE (sql/transaction_features.sql:4-37)
    val scanned = tx.filter(col("created_at") >= d31)
    val stats = scanned.groupBy("user_id").agg(
      countIf(in30).as("total_transactions_30d"),
      sumMoney(in30, col("amount")).as("total_amount_30d"),
      avgMoney(in30, col("amount")).as("avg_transaction_amount"),
      max(when(in30, col("amount"))).as("max_transaction_amount"),
      countIf(in30 && col("status") === "F").as("transactions_declined_30d"),
      countDistinctIf(in30, col("merchant_id")).as("unique_merchants_30d"),
      ratio(countIf(in30 && isWeekend(col("created_at"))), countIf(in30))
        .as("weekend_transaction_ratio"),
      ratio(countIf(in30 && isNight(col("created_at"), compatNight)), countIf(in30))
        .as("night_transaction_ratio"))

    // active_users CTE (sql/transaction_features.sql:38-49)
    val active = unionDistinct(
      users.filter(col("recently_updated")).select("user_id"),
      scanned.filter(in30).select("user_id"))

    assemble(active, stats, asOf)
  }

  /** The output contract, shared with IncrementalTransactionFeatures:
    * the active set left-joined to the per-user stats, DDL defaults for
    * users without transactions, asOf stamps. */
  private[jobs] def assemble(active: DataFrame, stats: DataFrame,
                             asOf: Instant): DataFrame = {
    val asOfTs = to_timestamp(lit(AsOf.ts(asOf)))
    active.join(stats, Seq("user_id"), "left").select(
      col("user_id"),
      orZero(col("total_transactions_30d")).as("total_transactions_30d"),
      orZeroD(col("total_amount_30d")).as("total_amount_30d"),
      orZeroD(col("avg_transaction_amount")).as("avg_transaction_amount"),
      orZeroD(col("max_transaction_amount")).as("max_transaction_amount"),
      orZero(col("transactions_declined_30d")).as("transactions_declined_30d"),
      orZero(col("unique_merchants_30d")).as("unique_merchants_30d"),
      orZeroD(col("weekend_transaction_ratio")).as("weekend_transaction_ratio"),
      orZeroD(col("night_transaction_ratio")).as("night_transaction_ratio"),
      asOfTs.as("created_at"),
      asOfTs.as("updated_at"))
  }
}
