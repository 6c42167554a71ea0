package graft.jobs

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AsOf, Roles}
import graft.sinks.MergeByKey

/** The incremental feature families as the PRODUCT nightly path (VERDICT
  * r12 next #3). The three families exist as oracle-adjudicated ladder
  * queries (jobs/Incremental{Transaction,User,Risk}Features, each pinned
  * ladder ≡ full recompute); this runner turns them into what a deployment
  * actually runs each night, with the states PERSISTED between nights
  * instead of riding the in-session FeatureCache:
  *
  *   - the six day-grain states (transaction summary + the five risk CTE
  *     states) live as DAY-PARTITIONED parquet: the nightly write is ONE
  *     day partition via dynamic partition overwrite — delta-sized, and a
  *     replayed night overwrites its own partition (idempotent by layout,
  *     the same discipline the oracle ladder pins semantically);
  *   - the user-family state (additive running totals, NON-idempotent
  *     fold) is a pointer-swapped versioned store (MigrationRunner) whose
  *     version NAME is the last folded day: the atomic pointer swap
  *     commits the applied-day marker WITH the data, so a replayed night
  *     observes its own day live and SKIPS — at-least-once retries become
  *     the exactly-once application that family's contract requires,
  *     with no separate ledger file to crash out of sync;
  *   - reading features re-aggregates day-pruned SUMMARY rows (bounded by
  *     active users × their in-grain distinct values per day), never the
  *     raw 31/91-day windows — the read-economy that makes a 100 TB
  *     nightly feasible (PERF.md r14, "Nightly read economy, one more
  *     decade (×100)": 48.7× fewer raw records per night).
  *
  * The whole flow is driven by injected `Sources` rather than raw paths so
  * the measurement harness can hand it date-partitioned landings (the
  * reference's layout — its transaction log is date-partitioned, so the
  * nightly delta scan prunes to one day physically, not just logically).
  *
  * Night indexing mirrors the oracle ladders exactly: `bootstrap` folds
  * everything before anchor−days, night k (0-based) folds day cut+k on
  * each family's own clock, and the LAST night also folds the anchor-day
  * tail (the batch jobs' scans have no upper bound), so after `days`
  * nights the persisted states reproduce the full recompute bit-exactly
  * (IncrementalNightlyRunnerSpec pins all three frames cell-equal).
  */
object IncrementalNightlyRunner {

  /** The raw inputs, injectable so tests/benches can swap layouts. */
  final case class Sources(
    transactions: DataFrame, payments: DataFrame, logins: DataFrame,
    alerts: DataFrame, credit: DataFrame, scores: DataFrame, users: DataFrame)

  object Sources {
    def fromDir(spark: SparkSession, dir: String): Sources = Sources(
      transactions = Roles.transactions(spark, dir),
      payments = Roles.payments(spark, dir),
      logins = Roles.userLogins(spark, dir),
      alerts = Roles.velocityAlerts(spark, dir),
      credit = Roles.creditReports(spark, dir),
      scores = Roles.riskScores(spark, dir),
      users = Roles.users(spark, dir))
  }

  /** One day-grain state family: where it lives, which source column
    * carries its clock, how a slice summarizes, and its partition column. */
  private final case class DayFamily(
    name: String, tsCol: String, partCol: String,
    src: Sources => DataFrame, summarize: DataFrame => DataFrame,
    anchor: Instant)

  private def dayLit(d: LocalDate) = lit(java.sql.Date.valueOf(d))

  private def families: Seq[DayFamily] = Seq(
    DayFamily("tx_state", "created_at", "day",
      _.transactions, IncrementalTransactionFeatures.summarize, AsOf.orders),
    DayFamily("rf_pay_state", "created_at", "created_day",
      _.payments, IncrementalRiskFeatures.summarizePayments, AsOf.lineitem),
    DayFamily("rf_login_state", "created_at", "day",
      _.logins, IncrementalRiskFeatures.summarizeLogins, AsOf.events),
    DayFamily("rf_alert_state", "created_at", "day",
      _.alerts, IncrementalRiskFeatures.summarizeAlerts, AsOf.events),
    DayFamily("rf_credit_state", "report_date", "day",
      _.credit, IncrementalRiskFeatures.summarizeCredit, AsOf.events),
    DayFamily("rf_score_state", "computed_at", "day",
      _.scores, IncrementalRiskFeatures.summarizeScores, AsOf.events))

  private def userStateRoot(stateRoot: String) = s"$stateRoot/user_state"

  /** Date-partitioned landings carry this partition column (the bench and
    * any production ingest write it as to_date(tsCol)). */
  val LandingPartCol = "p_day"

  /** THE landing builder — write `df` date-partitioned by the convention
    * (p_day = to_date of its event-time column), range-partitioned on
    * (p_day, user_id) for file hygiene, and read it back. The bench and
    * the specs share this so the landing construction and daySlice's
    * pruning idiom exist exactly once (review finding, r13: three
    * hand-maintained copies had crept in). */
  def landEventDay(df: DataFrame, tsCol: String, path: String): DataFrame = {
    MergeByKey.overwritePartitions(
      df.withColumn(LandingPartCol, to_date(col(tsCol)))
        .repartitionByRange(col(LandingPartCol), col("user_id")),
      path, LandingPartCol)
    df.sparkSession.read.parquet(path)
  }

  /** Slice predicate on the event-time column, with the SAME bounds
    * repeated on the landing's partition column when present — the
    * standard warehouse idiom: the event-time predicate is the semantic
    * truth, the redundant partition-column predicate is what physically
    * prunes directories (timestamp row-group stats don't always support
    * pushdown — e.g. INT96 — and partition pruning is type-independent
    * and happens before any I/O). p_day = to_date(tsCol) by construction,
    * so the added conjunct never changes results. */
  private[graft] def daySlice(df: DataFrame, tsCol: String, from: LocalDate,
                              until: Option[LocalDate],
                              orFrom: Option[LocalDate]): DataFrame =
    daySliceGuarded(df, tsCol, from, until, orFrom)._1

  /** daySlice with the NIGHTLY p_day re-validation rider (VERDICT r13 next
    * #5): bootstrap validates the whole landing once, but a landing whose
    * semantics change AFTERWARDS (re-landed under arrival-day partitioning,
    * say) was previously only caught by re-running bootstrap. The night
    * scans its day's partitions anyway, so the check is free for exactly
    * those rows: filter on the PARTITION column first (that alone prunes
    * directories), observe p_day ≠ to_date(tsCol) violations on the pruned
    * rows, then apply the event-time predicate ABOVE the observation —
    * placing it below would hide precisely the mislabeled rows (p_day in
    * range, ts outside) whose silent loss the rider exists to catch. The
    * ts conjunct no longer reaches the parquet row groups, but within an
    * event-day partition every row matches it anyway (p_day = to_date(ts)
    * when the convention holds), so the records economy is unchanged —
    * IncrementalNightlyRunnerSpec's landed-vs-flat records pin stays the
    * proof. */
  /** The rider's handle: the free observe() counter plus an explicit
    * day-partition-bounded recount. The recount exists because observed
    * metrics can be LOST to AQE's empty-relation propagation: when a
    * night's summary aggregates to zero rows (e.g. every scanned row was
    * mislabeled and the event-time conjunct dropped them all — exactly
    * the corruption case), AQE replaces the executed subtree with an
    * empty relation and the CollectMetrics node's result never reaches
    * the Observation (verified empirically: Observation.get completes
    * with an EMPTY map). verifyPdayGuard falls back to the recount only
    * in that case — one scan bounded by the day's partitions, paid only
    * on empty nights. */
  private[graft] final case class PdayRider(
    obs: org.apache.spark.sql.Observation, recount: () => Long)

  private[graft] def daySliceGuarded(df: DataFrame, tsCol: String,
                                     from: LocalDate, until: Option[LocalDate],
                                     orFrom: Option[LocalDate])
      : (DataFrame, Option[PdayRider]) = {
    def pred(c: org.apache.spark.sql.Column) = {
      val base = until.fold(c >= dayLit(from))(u =>
        c >= dayLit(from) && c < dayLit(u))
      orFrom.fold(base)(t => base || c >= dayLit(t))
    }
    val byTs = pred(col(tsCol))
    if (df.columns.contains(LandingPartCol)) {
      val obs = org.apache.spark.sql.Observation()
      val violations =
        sum(when(col(LandingPartCol) =!= to_date(col(tsCol)), 1L)
          .otherwise(0L)).as("pday_violations")
      val pruned = df.filter(pred(col(LandingPartCol)))
      val recount = () => Option(pruned.agg(violations).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      (pruned.observe(obs, violations).filter(byTs),
        Some(PdayRider(obs, recount)))
    } else (df.filter(byTs), None)
  }

  /** Everything strictly BEFORE `cut` (bootstrap slices). */
  private def beforeSlice(df: DataFrame, tsCol: String,
                          cut: LocalDate): DataFrame =
    if (df.columns.contains(LandingPartCol))
      df.filter(col(LandingPartCol) < dayLit(cut) && col(tsCol) < dayLit(cut))
    else df.filter(col(tsCol) < dayLit(cut))

  /** The p_day convention is BY NAME, so a landing partitioned by some
    * OTHER day (arrival day is the classic) would silently satisfy the
    * column check while daySlice's partition predicates drop late rows
    * forever (review finding, r13). Bootstrap — the one pass that scans
    * all history anyway — piggybacks a violation counter on the backfill
    * via observe() (zero extra scans) and `verify` fails the run loud if
    * any scanned row has p_day ≠ to_date(tsCol). The CollectMetrics node
    * sits BELOW the slice filter, so the check covers the whole landing
    * (and, since filters don't push through it, bootstrap reads the full
    * source — at scale that is ~what the < cut backfill reads anyway, and
    * full coverage is exactly what a one-time validation wants). A
    * day-partition-pruned nightly scan could never see the late rows
    * whose loss this guards against. Residual honesty: a
    * landing whose semantics change AFTER bootstrap is not re-checked
    * nightly; re-run bootstrap (idempotent) to re-validate. */
  private def pdayGuard(df: DataFrame, tsCol: String)
      : (DataFrame, Option[PdayRider]) =
    if (!df.columns.contains(LandingPartCol)) (df, None)
    else {
      val obs = org.apache.spark.sql.Observation()
      val violations =
        sum(when(col(LandingPartCol) =!= to_date(col(tsCol)), 1L)
          .otherwise(0L)).as("pday_violations")
      // fallback recount only fires when the backfill summary was EMPTY
      // (see PdayRider) — the frame it re-scans is ~empty in that case
      val recount = () => Option(df.agg(violations).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      (df.observe(obs, violations), Some(PdayRider(obs, recount)))
    }

  private def verifyPdayGuard(name: String, tsCol: String,
                              rider: Option[PdayRider]): Unit =
    rider.foreach { r =>
      val metrics = r.obs.get
      val bad =
        if (metrics.contains("pday_violations"))
          Option(metrics("pday_violations")).map(_.asInstanceOf[Long])
            .getOrElse(0L)
        else r.recount() // metrics lost to AQE empty-relation propagation
      require(bad == 0L,
        s"$name landing violates the $LandingPartCol convention: $bad rows " +
          s"have $LandingPartCol != to_date($tsCol). The runner's day " +
          "slices prune on p_day assuming EVENT-day partitioning; an " +
          "arrival-day (or other) layout would silently lose late rows. " +
          "Re-land the source partitioned by to_date of its event-time " +
          "column, or drop/rename the p_day column to opt out of pruning.")
    }

  /** Initial backfill: every day-grain family summarized over rows strictly
    * before (its anchor − days); the user family's running totals likewise,
    * committed as version "pre" (no day folded yet). Idempotent — dynamic
    * overwrite replaces the same partitions, and a live "pre" pointer is
    * left alone on re-run. */
  def bootstrap(spark: SparkSession, src: Sources, stateRoot: String,
                days: Int): Unit = {
    families.foreach { f =>
      val cut = AsOf.date(f.anchor).minusDays(days.toLong)
      // the p_day-convention guard rides the backfill scan (see pdayGuard)
      val (guarded, obs) = pdayGuard(f.src(src), f.tsCol)
      // file hygiene for the one-off backfill: it spans EVERY history day,
      // and a grain-hashed summary would write (tasks × days) slivers; a
      // range partitioning on (day, user) keeps files ≈ max(days, tasks)
      // while still letting a heavy day span several tasks (a single-task-
      // per-day repartition would serialize the biggest day at 100 TB).
      // The nightly writes stay grain-hashed — one day, bounded files,
      // and sinks/Compaction owns long-horizon accumulation.
      MergeByKey.overwritePartitions(
        f.summarize(beforeSlice(guarded, f.tsCol, cut))
          .repartitionByRange(col(f.partCol), col("user_id")),
        s"$stateRoot/${f.name}", f.partCol)
      verifyPdayGuard(f.name, f.tsCol, obs)
    }
    val uRoot = userStateRoot(stateRoot)
    // applied-work check against HISTORY, exactly like night(): after the
    // nights run, CURRENT points at v<day>-final, and a current-only check
    // would re-migrate "pre" — swinging the pointer BACK to the baseline
    // while every night fold then skips on its own history marker, i.e.
    // silently publishing pre-ladder user features (review finding, r13)
    val preApplied =
      MigrationRunner.currentVersion(spark, uRoot).contains("pre") ||
        MigrationRunner.versionHistory(spark, uRoot).contains("pre")
    if (!preApplied) {
      val cut = AsOf.date(AsOf.orders).minusDays(days.toLong)
      // persist for migrate's ~4 evaluations — the backfill summarize
      // scans ALL history, the one slice that must not run four times
      val base = IncrementalUserFeatures.summarize(
        beforeSlice(src.transactions, "created_at", cut)).persist()
      try {
        val report = MigrationRunner.migrate(spark, base, uRoot, "pre",
          IncrementalUserFeatures.grain)
        require(report.switched, s"user-state bootstrap failed: $report")
      } finally base.unpersist()
    }
  }

  /** Night k (0-based): fold day cut+k on each family's clock. The last
    * night (k == days−1) additionally folds the anchor-day-and-later tail,
    * closing the ladder. Day families: one dynamic partition overwrite
    * each (replay-idempotent). User family: exactly-once via the version
    * name (see object scaladoc); a replayed night logs and skips.
    *
    * Split into the two delivery-contract halves so the crash-soak specs
    * can construct a night killed between them (VERDICT r13 next #3) —
    * production calls this composed form. */
  def night(spark: SparkSession, src: Sources, stateRoot: String,
            days: Int, k: Int): Unit = {
    nightDayFamilies(spark, src, stateRoot, days, k)
    nightUserFold(spark, src, stateRoot, days, k)
  }

  /** The day-grain half of `night`: one dynamic partition overwrite per
    * family. `limit` bounds how many families run — the crash-soak spec's
    * "killed between partition writes" state; replay-idempotent, so a
    * retry of the full night converges from any prefix. */
  private[graft] def nightDayFamilies(spark: SparkSession, src: Sources,
                                      stateRoot: String, days: Int, k: Int,
                                      limit: Int = Int.MaxValue): Unit = {
    require(k >= 0 && k < days, s"night $k outside ladder of $days")
    val isLast = k == days - 1
    families.take(limit).foreach { f =>
      val day = AsOf.date(f.anchor).minusDays(days.toLong).plusDays(k.toLong)
      // day k — the last night also folds the anchor-day-and-later tail
      // (the batch jobs' scans have no upper bound), as one pushable range
      val (slice, obs) = daySliceGuarded(f.src(src), f.tsCol, day,
        Some(day.plusDays(1)),
        if (isLast) Some(AsOf.date(f.anchor)) else None)
      MergeByKey.overwritePartitions(
        f.summarize(slice), s"$stateRoot/${f.name}", f.partCol)
      // nightly p_day re-validation rider: the write above already scanned
      // the day's partitions; fail the night loud if any scanned row
      // violates the event-day convention (see daySliceGuarded)
      verifyPdayGuard(f.name, f.tsCol, obs)
    }
  }

  /** The user-family half of `night`: the additive fold, committed behind
    * the version-name marker (exactly-once; see object scaladoc). */
  private[graft] def nightUserFold(spark: SparkSession, src: Sources,
                                   stateRoot: String, days: Int,
                                   k: Int): Unit = {
    require(k >= 0 && k < days, s"night $k outside ladder of $days")
    val isLast = k == days - 1
    val uRoot = userStateRoot(stateRoot)
    val day = AsOf.date(AsOf.orders).minusDays(days.toLong).plusDays(k.toLong)
    val marker = s"v$day${if (isLast) "-final" else ""}"
    // applied-day check against the full switchover HISTORY, not just the
    // live pointer: a retry of an EARLIER night after later nights ran
    // would see a newer pointer and re-apply (double-count) if only the
    // current name were checked (r13 self-review finding)
    val applied = MigrationRunner.currentVersion(spark, uRoot).contains(marker) ||
      MigrationRunner.versionHistory(spark, uRoot).contains(marker)
    if (applied) {
      System.err.println(s"[nightly] user-state day $day already applied — skipping (exactly-once)")
    } else {
      // GAP guard (r13 ADVICE): the marker prevents RE-application but a
      // scheduler that skipped a failed night and ran the next would fold
      // day k onto a state missing day k−1 — permanently under-counting,
      // with the eventual "-final" marker making it look complete. Require
      // the PREDECESSOR marker ("pre" for night 0, v<day−1> otherwise) in
      // the pointer-or-history, the same surface the replay check trusts.
      // (Night k−1 is never the last night, so its marker is unsuffixed.)
      val predecessor = if (k == 0) "pre" else s"v${day.minusDays(1L)}"
      val predApplied =
        MigrationRunner.currentVersion(spark, uRoot).contains(predecessor) ||
          MigrationRunner.versionHistory(spark, uRoot).contains(predecessor)
      require(predApplied,
        s"night $day cannot fold: predecessor user-state '$predecessor' " +
          "was never applied (a skipped night would silently under-count " +
          "the additive totals forever). Re-run the missing night first — " +
          "replays are exactly-once, so re-running the whole ladder is safe.")
      val (slice, obs) = daySliceGuarded(src.transactions, "created_at", day,
        Some(day.plusDays(1)),
        if (isLast) Some(AsOf.date(AsOf.orders)) else None)
      // persist the fold for migrate's lifetime: its validation pass,
      // copy, and symmetric reconciliation evaluate the source ~4× —
      // without this each evaluation re-scans the previous state AND the
      // day's delta (state-sized × 4 instead of × 1 + cached reads)
      val folded = IncrementalUserFeatures.applyDelta(
        MigrationRunner.current(spark, uRoot),
        IncrementalUserFeatures.summarize(slice)).persist()
      try {
        val report = MigrationRunner.migrate(spark, folded, uRoot, marker,
          IncrementalUserFeatures.grain)
        require(report.switched, s"user-state night $day failed: $report")
        // nightly p_day rider on the fold's own day slice (free: migrate's
        // validation pass already scanned it). Checked only AFTER the
        // switchover: a violation aborts the run rather than the data —
        // the day families above failed the night first if the landing
        // itself is bad, since they scan the same day earlier.
        verifyPdayGuard("user_state", "created_at", obs)
      } finally folded.unpersist()
    }
  }

  private def readState(spark: SparkSession, stateRoot: String,
                        name: String): DataFrame =
    spark.read.parquet(s"$stateRoot/$name")

  /** The three feature frames off the PERSISTED states — what the nightly
    * publish step hands to the gates/store/export (output-identical to the
    * full jobs once `days` nights have run; spec-pinned). */
  def features(spark: SparkSession, src: Sources, stateRoot: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val uf = IncrementalUserFeatures.featuresFromState(
      MigrationRunner.current(spark, userStateRoot(stateRoot)),
      src.users, AsOf.orders)
    val tf = IncrementalTransactionFeatures.featuresFromState(
      readState(spark, stateRoot, "tx_state"), src.users, AsOf.orders)
    val rf = IncrementalRiskFeatures.featuresFromState(
      IncrementalRiskFeatures.States(
        payments = readState(spark, stateRoot, "rf_pay_state"),
        logins = readState(spark, stateRoot, "rf_login_state"),
        alerts = readState(spark, stateRoot, "rf_alert_state"),
        credit = readState(spark, stateRoot, "rf_credit_state"),
        scores = readState(spark, stateRoot, "rf_score_state")),
      src.users, AsOf.lineitem, AsOf.events)
    (uf, tf, rf)
  }

  /** End-to-end incremental run for a fresh state root: bootstrap, the
    * `days` nights, then the same gate → store-swap → export tail as the
    * full-recompute DailyBatchRunner.run (shared publish). This is what
    * DailyBatchRunner.run(incremental = true) delegates to. */
  def runIncremental(spark: SparkSession, src: Sources, stateRoot: String,
                     outputPath: String, floors: DailyBatchRunner.Thresholds,
                     days: Int = 3,
                     runDate: LocalDate = AsOf.date(AsOf.orders))
      : DailyBatchRunner.RunResult = {
    bootstrap(spark, src, stateRoot, days)
    (0 until days).foreach(k => night(spark, src, stateRoot, days, k))
    val (uf, tf, rf) = features(spark, src, stateRoot)
    DailyBatchRunner.publish(spark, uf, tf, rf, outputPath, floors, runDate)
  }
}
