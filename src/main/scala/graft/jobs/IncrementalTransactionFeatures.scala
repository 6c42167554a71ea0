package graft.jobs

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AsOf, Roles}
import graft.ops.Ops._
import DayLadder.dayLit

/** Incremental maintenance of TransactionFeaturesJob (VERDICT r11 next #4):
  * day-N features from day-(N−1) state + the day's delta, instead of the
  * reference's recompute-the-31-day-window daily batch
  * (src/pipelines/batch_pipeline.py:63-125, which re-reads every
  * transaction of the window each night — at 100 TB that is re-scanning
  * ~31× the daily volume for a result that changed by one day).
  *
  * STATE: a compact summary at (user_id, day, merchant_id) grain — the
  * coarsest grain from which EVERY aggregate of the job recomposes
  * exactly:
  *
  *   - counts / declined / weekend / night counts: sums of bucket counts;
  *   - money: per-bucket exact DECIMAL sums, re-summed (decimal addition
  *     is associative, so delta-then-total ≡ total — the same determinism
  *     rule sumMoney already enforces);
  *   - max: max of bucket maxes;
  *   - COUNT(DISTINCT merchant_id): merchant_id is IN the grain, so the
  *     30-day distinct count is a plain count_distinct over bucket rows —
  *     the one aggregate a (user, day) grain could NOT maintain exactly
  *     (distinct counts don't merge), solved by keying the state on it;
  *   - the 30d window "retract": day buckets simply age OUT of the
  *     filter — no retraction arithmetic, the slide is a predicate.
  *
  * SLICING and EXACTNESS: DayLadder cuts the log into day slices and
  * checks the midnight anchor. IncrementalFeaturesSpec pins ladder ≡ full
  * recompute cell-exact; the transaction_features_incremental oracle entry
  * pins it against DuckDB's full recompute at every driver sf.
  *
  * SCALE shape: the daily job aggregates ONE day of transactions (the
  * delta summary — a day-partition-pruned scan), merges it into the state
  * table by key (MergeByKey; disjoint day partitions make the merge an
  * append, and replays idempotent), and re-aggregates ~31 days of
  * SUMMARY rows (≪ raw transactions: bounded by active users × their
  * distinct merchants/day). All shuffles hash on user_id first.
  */
object IncrementalTransactionFeatures {

  val grain: Seq[String] = Seq("user_id", "day", "merchant_id")

  /** Summarize ANY slice of the transactions table to state grain. The
    * slice boundaries must fall on day boundaries for summaries to union
    * into a valid state (each grain cell lives wholly in one slice). */
  def summarize(tx: DataFrame): DataFrame =
    tx.groupBy(col("user_id"), to_date(col("created_at")).as("day"),
        col("merchant_id"))
      .agg(
        count(lit(1)).as("tx_cnt"),
        sum(col("amount").cast("decimal(12,2)")).as("amount_sum"),
        max(col("amount")).as("amount_max"),
        countIf(col("status") === "F").as("declined_cnt"),
        countIf(isWeekend(col("created_at"))).as("weekend_cnt"),
        countIf(isNight(col("created_at"))).as("night_cnt"))

  /** The full feature frame from state — output-identical to
    * TransactionFeaturesJob.compute at the same anchor. */
  def featuresFromState(state: DataFrame, users: DataFrame,
                        asOf: Instant): DataFrame = {
    val d = DayLadder.midnight(asOf)
    val in31 = col("day") >= dayLit(d.minusDays(31))
    val in30 = col("day") >= dayLit(d.minusDays(30))

    val scanned = state.filter(in31)
    val stats = scanned.groupBy("user_id").agg(
      // countIf over rows becomes a SUM of bucket counts; count() is
      // never null but sum() is — coalesce restores countIf's 0
      coalesce(sum(when(in30, col("tx_cnt"))), lit(0L))
        .as("total_transactions_30d"),
      sum(when(in30, col("amount_sum"))).cast("double").as("total_amount_30d"),
      (sum(when(in30, col("amount_sum"))).cast("double") /
        nullif(coalesce(sum(when(in30, col("tx_cnt"))), lit(0L)), lit(0)))
        .as("avg_transaction_amount"),
      max(when(in30, col("amount_max"))).as("max_transaction_amount"),
      coalesce(sum(when(in30, col("declined_cnt"))), lit(0L))
        .as("transactions_declined_30d"),
      count_distinct(when(in30, col("merchant_id"))).as("unique_merchants_30d"),
      ratio(sum(when(in30, col("weekend_cnt"))),
        coalesce(sum(when(in30, col("tx_cnt"))), lit(0L)))
        .as("weekend_transaction_ratio"),
      ratio(sum(when(in30, col("night_cnt"))),
        coalesce(sum(when(in30, col("tx_cnt"))), lit(0L)))
        .as("night_transaction_ratio"))

    // every state row holds ≥1 transaction, so "users with any in-30d
    // bucket" is exactly the job's recent-transactor set
    val active = unionDistinct(
      users.filter(col("recently_updated")).select("user_id"),
      scanned.filter(in30).select("user_id"))

    TransactionFeaturesJob.assemble(active, stats, asOf)
  }

  /** The ladder the oracle adjudicates (one query name, driver contract):
    * DayLadder's slices of the transaction log folded into state, then
    * features read off it. Equality with the full recompute holds by
    * construction — the slices partition the log on day boundaries. */
  def ladder(spark: SparkSession, dir: String, days: Int = 3,
             asOf: Instant = AsOf.orders): DataFrame =
    featuresFromState(DayLadder.transactions.ladder(spark, dir, asOf, days),
      Roles.usersCached(spark, dir), asOf)
}
