package graft.jobs

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AsOf, Roles}
import graft.ops.Ops._

/** Incremental maintenance of UserFeaturesJob — the SECOND incremental
  * family, with the OTHER merge shape. TransactionFeaturesJob's window
  * slides, so its state is day-keyed and a day's re-run REPLACES its
  * buckets (idempotent). UserFeaturesJob aggregates ALL history (count,
  * exact-decimal avg, min first-order date, payment-method MODE), so its
  * state is (user_id, payment_method)-grain running totals and a delta
  * FOLDS IN additively:
  *
  *   - total_orders / avg denominator: sums of bucket counts;
  *   - avg numerator: exact DECIMAL sums re-sum (associative, so
  *     fold-then-total ≡ total);
  *   - first_order_date: min of bucket mins;
  *   - MODE() WITHIN GROUP: the state grain IS deterministicMode's count
  *     table — the argmax (highest count, then smallest value, the A7
  *     tie-break) reads straight off the folded state, no re-scan.
  *
  * The additive fold is NOT idempotent (replaying a delta double-counts —
  * the price of running totals). The production discipline is day-sliced
  * deltas applied exactly once (day-partitioned delta paths make applied
  * days auditable); IncrementalFeaturesSpec pins the non-idempotence
  * explicitly so the contract difference from the day-bucket family stays
  * visible. DayLadder owns the day slices and their midnight-anchor check,
  * so grain cells never straddle two deltas.
  *
  * SCALE: the daily job reads one day of transactions plus the state
  * table (≈ users × distinct payment methods — a small multiple of the
  * user count, vs re-scanning ALL completed-order history nightly, which
  * is what the reference's full recompute does and what grows without
  * bound). Every shuffle hashes on user_id first.
  */
object IncrementalUserFeatures {

  val grain: Seq[String] = Seq("user_id", "payment_method")

  /** Running totals for ANY slice of completed transactions. `cnt_rows`
    * and `cnt_orders` are tracked separately: total_orders is
    * count(order_id) (null-skipping) while the avg's denominator is the
    * plain row count — identical on a null-free PK, but the state must
    * not ASSUME that. */
  def summarize(tx: DataFrame): DataFrame =
    tx.filter(col("status").isin("O", "P"))
      .groupBy(col("user_id"), col("payment_method"))
      .agg(
        count(lit(1)).as("cnt_rows"),
        count(col("order_id")).as("cnt_orders"),
        sum(col("amount").cast("decimal(12,2)")).as("amount_sum"),
        min(col("created_at")).as("first_order_date"))

  /** ADDITIVE fold — counts and sums add, mins min. Exactly-once
    * application is the caller's contract (see scaladoc). */
  def applyDelta(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(grain.map(col): _*)
      .agg(
        sum(col("cnt_rows")).as("cnt_rows"),
        sum(col("cnt_orders")).as("cnt_orders"),
        sum(col("amount_sum")).as("amount_sum"),
        min(col("first_order_date")).as("first_order_date"))

  /** Output-identical to UserFeaturesJob.compute at the same anchor. */
  def featuresFromState(state: DataFrame, users: DataFrame,
                        asOf: Instant): DataFrame = {
    val stats = state.groupBy("user_id").agg(
      sum(col("cnt_orders")).as("total_orders"),
      (sum(col("amount_sum")).cast("double") /
        nullif(sum(col("cnt_rows")), lit(0))).as("avg_order_value"),
      min(col("first_order_date")).as("first_order_date"))

    // deterministicMode's count table IS the state grain: same argmax,
    // same (count desc, value asc) tie-break
    val mode = topOnePerKey(
      state.select(col("user_id"), col("payment_method"),
        col("cnt_rows").as("__c")),
      Seq(col("user_id")), Seq(col("__c").desc, col("payment_method").asc))
      .select(col("user_id"),
        col("payment_method").as("preferred_payment_method"))

    UserFeaturesJob.assemble(users, stats, mode, asOf)
  }

  /** The ladder (same driver-contract shape as the transaction family):
    * DayLadder's slices of the transaction log folded additively, then
    * features read off the totals. */
  def ladder(spark: SparkSession, dir: String, days: Int = 3,
             asOf: Instant = AsOf.orders): DataFrame = {
    val state = DayLadder.state(spark, dir, "inc_uf_state", days,
      asOf == AsOf.orders)(DayLadder.fold(Roles.transactions(spark, dir),
        "created_at", asOf, days, summarize, applyDelta))
    featuresFromState(state, Roles.usersCached(spark, dir), asOf)
  }
}
