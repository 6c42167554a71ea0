package graft.jobs

import java.time.{Instant, LocalDate}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AsOf, FeatureCache, Roles}
import graft.sinks.MergeByKey

/** The one slicing rule of the incremental features. Each source is cut on
  * its own event-time column into day-aligned slices below its anchor:
  *
  *   slice 0     everything before anchor − days (the backfill);
  *   slice k+1   night k, the day anchor − days + k. The last night is
  *               unbounded above, so it also covers the anchor day and
  *               anything later (the batch jobs' scans have no upper bound).
  *
  * The slices partition the source on day boundaries, so every grain cell
  * lives wholly in one slice and folding the slice summaries reproduces the
  * summary of the whole source: the day-bucket families merge by key (a
  * slice's buckets replace themselves, so a replay is idempotent), the user
  * family adds. The in-session oracle ladders fold every slice at once
  * (`fold`); IncrementalNightlyRunner persists slice 0 at bootstrap and
  * slice k+1 on night k, so after its last night the persisted states equal
  * the ladders' (IncrementalNightlyRunnerSpec pins them row for row).
  *
  * EXACTNESS: every anchor must be midnight UTC, so each job's
  * `ts >= anchor − Nd` timestamp cut falls on a day boundary and the
  * day-grain predicate is the identical predicate — checked, not assumed.
  */
object DayLadder {

  def dayLit(d: LocalDate): Column = lit(java.sql.Date.valueOf(d))

  def midnight(anchor: Instant): LocalDate = {
    require(anchor.truncatedTo(ChronoUnit.DAYS) == anchor,
      s"incremental day-grain state needs a midnight-aligned anchor: $anchor")
    AsOf.date(anchor)
  }

  /** Days [from, until); an absent bound is open. */
  final case class Slice(from: Option[LocalDate], until: Option[LocalDate]) {
    /** The bounds on a date or timestamp column, as a pushable range. */
    def pred(c: Column): Column =
      (from.map(c >= dayLit(_)).toSeq ++ until.map(c < dayLit(_))).reduce(_ && _)

    def of(df: DataFrame, tsCol: String): DataFrame = df.filter(pred(col(tsCol)))
  }

  def slices(anchor: Instant, days: Int): IndexedSeq[Slice] = {
    require(days >= 1, s"a day ladder needs at least one night: $days")
    val cut = midnight(anchor).minusDays(days.toLong)
    Slice(None, Some(cut)) +: (0 until days).map { k =>
      val day = cut.plusDays(k.toLong)
      Slice(Some(day), if (k == days - 1) None else Some(day.plusDays(1)))
    }
  }

  /** The in-session ladder: every slice summarized, folded in slice order. */
  def fold(src: DataFrame, tsCol: String, anchor: Instant, days: Int,
           summarize: DataFrame => DataFrame,
           merge: (DataFrame, DataFrame) => DataFrame): DataFrame =
    slices(anchor, days).map(s => summarize(s.of(src, tsCol))).reduceLeft(merge)

  /** A ladder state. At the default anchor it rides FeatureCache — the
    * stored-table posture; featuresFromState reads its states more than
    * once, and the cache shares one evaluation of the slice tree
    * (ScanAuditSpec pins the budget). The key carries `days` but not the
    * anchor, so other anchors build uncached. */
  def state(spark: SparkSession, dir: String, key: String, days: Int,
            atDefault: Boolean)(build: => DataFrame): DataFrame =
    if (atDefault) FeatureCache.cached(spark, dir, s"${key}_d$days")(build)
    else build

  /** One day-grain state family: its source (a role of a table directory,
    * or the same role out of the runner's injected Sources), the column
    * carrying its clock, its summarizer and merge grain, the persisted
    * state's partition column, and its default anchor. */
  final case class Family(
    name: String, load: (SparkSession, String) => DataFrame,
    pick: IncrementalNightlyRunner.Sources => DataFrame, tsCol: String,
    summarize: DataFrame => DataFrame, grain: Seq[String], partCol: String,
    anchor: Instant) {

    def fold(src: DataFrame, asOf: Instant, days: Int): DataFrame =
      DayLadder.fold(src, tsCol, asOf, days, summarize,
        MergeByKey.merge(_, _, grain))

    /** The oracle ladder's state of this family over a table directory. */
    def ladder(spark: SparkSession, dir: String, asOf: Instant,
               days: Int): DataFrame =
      state(spark, dir, s"inc_$name", days, asOf == anchor)(
        fold(load(spark, dir), asOf, days))
  }

  import IncrementalRiskFeatures._

  val transactions: Family = Family("tx_state", Roles.transactions,
    _.transactions, "created_at", IncrementalTransactionFeatures.summarize,
    IncrementalTransactionFeatures.grain, "day", AsOf.orders)
  val payments: Family = Family("rf_pay_state", Roles.payments, _.payments,
    "created_at", summarizePayments, paymentGrain, "created_day", AsOf.lineitem)
  val logins: Family = Family("rf_login_state", Roles.userLogins, _.logins,
    "created_at", summarizeLogins, loginGrain, "day", AsOf.events)
  val alerts: Family = Family("rf_alert_state", Roles.velocityAlerts,
    _.alerts, "created_at", summarizeAlerts, dayGrain, "day", AsOf.events)
  val credit: Family = Family("rf_credit_state", Roles.creditReports,
    _.credit, "report_date", summarizeCredit, dayGrain, "day", AsOf.events)
  val scores: Family = Family("rf_score_state", Roles.riskScores, _.scores,
    "computed_at", summarizeScores, dayGrain, "day", AsOf.events)

  /** The six day-state families, in the runner's write order. */
  val families: Seq[Family] =
    Seq(transactions, payments, logins, alerts, credit, scores)
}
