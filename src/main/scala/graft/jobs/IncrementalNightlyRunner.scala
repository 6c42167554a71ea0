package graft.jobs

import java.time.LocalDate

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
  * Slicing and the family table are DayLadder's, shared with the oracle
  * ladders: `bootstrap` persists slice 0 of every family, night k
  * (0-based) persists slice k+1, so after `days` nights the persisted
  * states equal the in-session folds and the features reproduce the full
  * recompute bit-exactly (IncrementalNightlyRunnerSpec pins both).
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

  private def userStateRoot(stateRoot: String) = s"$stateRoot/user_state"

  /** Date-partitioned landings carry this partition column (the bench and
    * any production ingest write it as to_date(tsCol)). */
  val LandingPartCol = "p_day"

  /** THE landing builder — write `df` date-partitioned by the convention
    * (p_day = to_date of its event-time column), range-partitioned on
    * (p_day, user_id) for file hygiene, and read it back. The bench and
    * the specs share this so the landing construction and the slices'
    * pruning idiom exist exactly once (review finding, r13: three
    * hand-maintained copies had crept in). */
  def landEventDay(df: DataFrame, tsCol: String, path: String): DataFrame = {
    MergeByKey.overwritePartitions(
      df.withColumn(LandingPartCol, to_date(col(tsCol)))
        .repartitionByRange(col(LandingPartCol), col("user_id")),
      path, LandingPartCol)
    df.sparkSession.read.parquet(path)
  }

  /** The p_day rider's handle: the free observe() counter plus an explicit
    * recount over the same scanned rows. The recount exists because
    * observed metrics can be LOST to AQE's empty-relation propagation: when
    * a slice's summary aggregates to zero rows (e.g. every scanned row was
    * mislabeled and the event-time conjunct dropped them all — exactly the
    * corruption case), AQE replaces the executed subtree with an empty
    * relation and the CollectMetrics node's result never reaches the
    * Observation (verified empirically: Observation.get completes with an
    * EMPTY map). verifyPdayGuard falls back to the recount only in that
    * case — one scan of the slice's partitions, paid only on empty slices. */
  private[graft] final case class PdayRider(
    obs: org.apache.spark.sql.Observation, recount: () => Long)

  private val Violations = "pday_violations"

  /** The p_day convention is BY NAME, so a landing partitioned by some
    * OTHER day (arrival day is the classic) would silently satisfy the
    * column check while the slices' partition predicates drop late rows
    * forever (review finding, r13). This rides an observe() counter of
    * rows with p_day ≠ to_date(tsCol) on every row `df` scans (zero extra
    * scans), and verifyPdayGuard fails the run loud on any. */
  private def pdayGuard(df: DataFrame, tsCol: String)
      : (DataFrame, Option[PdayRider]) =
    if (!df.columns.contains(LandingPartCol)) (df, None)
    else {
      val obs = org.apache.spark.sql.Observation()
      val violations =
        sum(when(col(LandingPartCol) =!= to_date(col(tsCol)), 1L)
          .otherwise(0L)).as(Violations)
      val recount = () => Option(df.agg(violations).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      (df.observe(obs, violations), Some(PdayRider(obs, recount)))
    }

  private def verifyPdayGuard(name: String, tsCol: String,
                              rider: Option[PdayRider]): Unit =
    rider.foreach { r =>
      val metrics = r.obs.get
      val bad =
        if (metrics.contains(Violations))
          Option(metrics(Violations)).map(_.asInstanceOf[Long]).getOrElse(0L)
        else r.recount() // metrics lost to AQE empty-relation propagation
      require(bad == 0L,
        s"$name landing violates the $LandingPartCol convention: $bad rows " +
          s"have $LandingPartCol != to_date($tsCol). The runner's day " +
          "slices prune on p_day assuming EVENT-day partitioning; an " +
          "arrival-day (or other) layout would silently lose late rows. " +
          "Re-land the source partitioned by to_date of its event-time " +
          "column, or drop/rename the p_day column to opt out of pruning.")
    }

  /** Slice `s` of a source, with the p_day rider. On a date-partitioned
    * landing the slice's bounds first filter the PARTITION column — the
    * standard warehouse idiom: that alone prunes directories, before any
    * I/O and whatever the timestamp's encoding (INT96 row-group stats
    * don't support pushdown). The rider observes the pruned rows (the
    * nightly re-validation, VERDICT r13 next #5: a landing whose semantics
    * change after bootstrap is caught on the night that scans it), and the
    * event-time predicate — the semantic truth — applies ABOVE the
    * observation: below it would hide precisely the mislabeled rows (p_day
    * in range, ts outside) whose silent loss the rider exists to catch.
    * Within an event-day partition every row matches that predicate
    * anyway, so the records economy is unchanged
    * (IncrementalNightlyRunnerSpec's landed-vs-flat records pin).
    *
    * `wholeLanding` (bootstrap's backfill) observes the whole landing
    * instead: the one pass that scans all history anyway validates all of
    * it, including late rows no day-pruned night scan could see. Filters
    * don't push through the CollectMetrics node, so it reads the full
    * source — at scale ~what the backfill reads anyway. */
  private def guardedSlice(df: DataFrame, tsCol: String, s: DayLadder.Slice,
                           wholeLanding: Boolean = false)
      : (DataFrame, Option[PdayRider]) = {
    val scanned =
      if (wholeLanding || !df.columns.contains(LandingPartCol)) df
      else df.filter(s.pred(col(LandingPartCol)))
    val (observed, rider) = pdayGuard(scanned, tsCol)
    (s.of(observed, tsCol), rider)
  }

  /** Persist slice `i` of a day-grain family: one dynamic partition
    * overwrite of the days the slice covers (replay-idempotent), then the
    * rider's verdict — the write already scanned the slice. */
  private def writeDaySlice(src: Sources, stateRoot: String, days: Int,
                            f: DayLadder.Family, i: Int): Unit = {
    val (slice, rider) = guardedSlice(f.pick(src), f.tsCol,
      DayLadder.slices(f.anchor, days)(i), wholeLanding = i == 0)
    val summary = f.summarize(slice)
    // file hygiene for the one-off backfill: it spans EVERY history day,
    // and a grain-hashed summary would write (tasks × days) slivers; a
    // range partitioning on (day, user) keeps files ≈ max(days, tasks)
    // while still letting a heavy day span several tasks. The nightly
    // writes stay grain-hashed — one day, bounded files, and
    // sinks/Compaction owns long-horizon accumulation.
    MergeByKey.overwritePartitions(
      if (i == 0) summary.repartitionByRange(col(f.partCol), col("user_id"))
      else summary,
      s"$stateRoot/${f.name}", f.partCol)
    verifyPdayGuard(f.name, f.tsCol, rider)
  }

  /** Step `i` of the user family's ladder (DayLadder.slices on the orders
    * clock): step 0 commits the backfill's running totals as version "pre",
    * step k+1 folds night k's slice onto the live totals as version v<day>
    * (v<day>-final on the last night). Exactly-once via the version name
    * (see object scaladoc): a replayed step logs and skips. */
  private def userStep(spark: SparkSession, src: Sources, stateRoot: String,
                       days: Int, i: Int): Unit = {
    val uRoot = userStateRoot(stateRoot)
    val slices = DayLadder.slices(AsOf.orders, days)
    def marker(j: Int) =
      if (j == 0) "pre"
      else s"v${slices(j).from.get}${if (j == days) "-final" else ""}"
    // applied-work check against the full switchover HISTORY, not just the
    // live pointer: a retry of an EARLIER step after later ones ran sees a
    // newer pointer, and a current-only check would re-apply its fold
    // (double-count) or, for a re-run bootstrap, swing the pointer BACK to
    // "pre" while every night then skips on its own marker — silently
    // publishing pre-ladder user features (review findings, r13)
    def applied(m: String) =
      MigrationRunner.currentVersion(spark, uRoot).contains(m) ||
        MigrationRunner.versionHistory(spark, uRoot).contains(m)
    if (applied(marker(i))) {
      System.err.println(s"[nightly] user-state ${marker(i)} already applied — skipping (exactly-once)")
    } else {
      // GAP guard (r13 ADVICE): the marker prevents RE-application but a
      // scheduler that skipped a failed night and ran the next would fold
      // day k onto a state missing day k−1 — permanently under-counting,
      // with the eventual "-final" marker making it look complete. Require
      // the PREDECESSOR marker in the pointer-or-history, the same surface
      // the replay check trusts.
      require(i == 0 || applied(marker(i - 1)),
        s"user-state ${marker(i)} cannot fold: predecessor user-state " +
          s"'${marker(i - 1)}' was never applied (a skipped night would " +
          "silently under-count the additive totals forever). Re-run the " +
          "missing night first — replays are exactly-once, so re-running " +
          "the whole ladder is safe.")
      val (slice, rider) = guardedSlice(src.transactions, "created_at",
        slices(i))
      val delta = IncrementalUserFeatures.summarize(slice)
      // persist for migrate's lifetime: its validation pass, copy, and
      // symmetric reconciliation evaluate the source ~4× — without this
      // each evaluation re-scans the slice (all history, for the backfill)
      // and the previous state
      val next = (if (i == 0) delta
        else IncrementalUserFeatures.applyDelta(
          MigrationRunner.current(spark, uRoot), delta)).persist()
      try {
        val report = MigrationRunner.migrate(spark, next, uRoot, marker(i),
          IncrementalUserFeatures.grain)
        require(report.switched, s"user-state ${marker(i)} failed: $report")
        // the rider on the step's own slice (free: migrate's validation
        // pass already scanned it). Checked only AFTER the switchover: a
        // violation aborts the run rather than the data — the day families
        // failed the night first if the landing itself is bad, since they
        // scan the same day earlier.
        verifyPdayGuard("user_state", "created_at", rider)
      } finally next.unpersist()
    }
  }

  /** Initial backfill: slice 0 of every day-grain family, and the user
    * family's running totals over the same slice committed as version
    * "pre" (no day folded yet). Idempotent — dynamic overwrite replaces the
    * same partitions, and a live "pre" pointer is left alone on re-run. */
  def bootstrap(spark: SparkSession, src: Sources, stateRoot: String,
                days: Int): Unit = {
    DayLadder.families.foreach(writeDaySlice(src, stateRoot, days, _, 0))
    userStep(spark, src, stateRoot, days, 0)
  }

  /** Night k (0-based): slice k+1 of every family. Day families: one
    * dynamic partition overwrite each (replay-idempotent). User family:
    * exactly-once via the version name; a replayed night logs and skips.
    *
    * Split into the two delivery-contract halves so the crash-soak specs
    * can construct a night killed between them (VERDICT r13 next #3) —
    * production calls this composed form. */
  def night(spark: SparkSession, src: Sources, stateRoot: String,
            days: Int, k: Int): Unit = {
    nightDayFamilies(spark, src, stateRoot, days, k)
    nightUserFold(spark, src, stateRoot, days, k)
  }

  /** The day-grain half of `night`. `limit` bounds how many families run —
    * the crash-soak spec's "killed between partition writes" state;
    * replay-idempotent, so a retry of the full night converges from any
    * prefix. */
  private[graft] def nightDayFamilies(spark: SparkSession, src: Sources,
                                      stateRoot: String, days: Int, k: Int,
                                      limit: Int = Int.MaxValue): Unit = {
    require(k >= 0 && k < days, s"night $k outside ladder of $days")
    DayLadder.families.take(limit)
      .foreach(writeDaySlice(src, stateRoot, days, _, k + 1))
  }

  /** The user-family half of `night`: the additive fold, committed behind
    * the version-name marker (exactly-once; see object scaladoc). */
  private[graft] def nightUserFold(spark: SparkSession, src: Sources,
                                   stateRoot: String, days: Int,
                                   k: Int): Unit = {
    require(k >= 0 && k < days, s"night $k outside ladder of $days")
    userStep(spark, src, stateRoot, days, k + 1)
  }

  /** The three feature frames off the PERSISTED states — what the nightly
    * publish step hands to the gates/store/export (output-identical to the
    * full jobs once `days` nights have run; spec-pinned). */
  def features(spark: SparkSession, src: Sources, stateRoot: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def state(f: DayLadder.Family) = spark.read.parquet(s"$stateRoot/${f.name}")
    val uf = IncrementalUserFeatures.featuresFromState(
      MigrationRunner.current(spark, userStateRoot(stateRoot)),
      src.users, AsOf.orders)
    val tf = IncrementalTransactionFeatures.featuresFromState(
      state(DayLadder.transactions), src.users, AsOf.orders)
    val rf = IncrementalRiskFeatures.featuresFromState(
      IncrementalRiskFeatures.States(
        payments = state(DayLadder.payments),
        logins = state(DayLadder.logins),
        alerts = state(DayLadder.alerts),
        credit = state(DayLadder.credit),
        scores = state(DayLadder.scores)),
      src.users, AsOf.lineitem, AsOf.events)
    (uf, tf, rf)
  }

  /** End-to-end incremental run for a fresh state root: bootstrap, the
    * `days` nights, then the same gate → store-swap → export tail as the
    * full-recompute DailyBatchRunner.run (shared publish). Output-identical
    * to the full path by the families' ladder ≡ recompute contracts
    * (spec-pinned); the difference is the NIGHTLY READ BUDGET — day-pruned
    * slice scans plus summary-row re-aggregation instead of 31/91-day (or
    * unbounded, for user features) raw rescans. */
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
