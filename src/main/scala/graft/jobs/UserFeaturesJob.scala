package graft.jobs

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AsOf, Roles}
import graft.ops.Ops._

/** Demographic + behavioral user features — spec sql/user_features.sql:1-47.
  *
  * Shape: completed-order aggregate (A1-A3) + deterministic MODE (A7, the
  * reference's `MODE() WITHIN GROUP`, sql/user_features.sql:11) → recently-
  * updated user base (P3/P4) → left join (J1) → COALESCE defaults (F1),
  * days-since-first-order CASE (F2/F6), asOf stamping (F8).
  *
  * Scale: the stats aggregate and the mode argmax both hash-partition on
  * user_id, so the join chain stays co-partitioned after the first exchange;
  * the user base is filter-pushed at the scan.
  */
object UserFeaturesJob {

  /** Cache-aside apply — see TransactionFeaturesJob.apply. */
  def apply(spark: SparkSession, dir: String,
            asOf: Instant = AsOf.orders): DataFrame =
    if (asOf == AsOf.orders)
      graft.core.FeatureCache.cached(spark, dir, "user_features")(
        compute(Roles.transactions(spark, dir), Roles.users(spark, dir), asOf))
    else compute(Roles.transactions(spark, dir), Roles.users(spark, dir), asOf)

  def compute(tx: DataFrame, users: DataFrame, asOf: Instant): DataFrame = {
    // user_orders_stats CTE (sql/user_features.sql:4-15); 'O'/'P' play
    // completed/fulfilled (Roles scaladoc).
    val completed = tx.filter(col("status").isin("O", "P"))
    val stats = completed.groupBy("user_id").agg(
      count(col("order_id")).as("total_orders"),
      avgMoney(lit(true), col("amount")).as("avg_order_value"),
      min(col("created_at")).as("first_order_date"))

    val mode = deterministicMode(completed, "user_id", "payment_method")
      .withColumnRenamed("payment_method", "preferred_payment_method")

    assemble(users, stats, mode, asOf)
  }

  /** The output contract, shared with IncrementalUserFeatures: the
    * recently-updated user base (user_base_info CTE, sql/user_features.sql:
    * 16-26) left-joined to the order stats and the preferred payment
    * method, DDL defaults, days since first order, asOf stamps. */
  private[jobs] def assemble(users: DataFrame, stats: DataFrame,
                             mode: DataFrame, asOf: Instant): DataFrame = {
    val base = users.filter(col("recently_updated"))
    val asOfTs = to_timestamp(lit(AsOf.ts(asOf)))
    base
      .join(stats, Seq("user_id"), "left")
      .join(mode, Seq("user_id"), "left")
      .filter(col("user_id").isNotNull)
      .select(
        col("user_id"),
        col("age"),
        col("location_country"),
        col("location_city"),
        orZero(col("total_orders")).as("total_orders"),
        orZeroD(col("avg_order_value")).as("avg_order_value"),
        when(col("first_order_date").isNotNull,
          datediff(to_date(asOfTs), to_date(col("first_order_date"))))
          .cast("int").as("days_since_first_order"),
        col("preferred_payment_method"),
        col("account_verified"),
        asOfTs.as("created_at"),
        asOfTs.as("updated_at"))
  }
}
