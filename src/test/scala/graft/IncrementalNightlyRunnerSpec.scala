package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.Using

import org.apache.spark.sql.functions._

import graft.core.{AsOf, Roles}
import graft.jobs.{DailyBatchRunner, DayLadder, IncrementalNightlyRunner => Nightly,
  IncrementalUserFeatures, MigrationRunner, RiskFeaturesJob,
  TransactionFeaturesJob, UserFeaturesJob}

/** The incremental families as the persisted nightly path: states
  * round-trip through parquet between nights (not FeatureCache), and the
  * runner's features must STILL be cell-exact against the full recompute —
  * the strongest equivalence oracle, now through the storage layer too.
  * Plus the two per-family delivery contracts at the RUNNER level: day
  * families replay idempotently (dynamic partition overwrite), the user
  * family applies exactly once (version-name marker skip).
  *
  * A bootstrap writes one partition per history day for every family, so
  * it is the slow step here; a night is a few seconds. The ladder states
  * are therefore built once, as two lazy fixtures (`afterNight0`,
  * `laddered`): tests that only read use them as they are, tests that
  * change state work on a file copy. Tests that check bootstrap itself
  * (runIncremental, the bootstrap re-runs, the landed sources) still
  * bootstrap fresh. */
class IncrementalNightlyRunnerSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .toSeq.sortBy(_.mkString("|"))
  }

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val Days = 3
  private lazy val flatSrc = Nightly.Sources.fromDir(spark, sf0001)

  /** A byte-for-byte copy of a state root (pointers, versions, partitions
    * and checksums), so a test can change state a fixture holds. */
  private def copyOf(stateRoot: String, prefix: String): String = {
    val from = Paths.get(stateRoot)
    val to = Files.createTempDirectory(prefix)
    Using.resource(Files.walk(from)) { paths =>
      paths.forEach { (p: Path) =>
        val target = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else Files.copy(p, target)
      }
    }
    to.toString
  }

  /** Bootstrap plus night 0 of the 3-night ladder over the flat sources.
    * Read-only: copy it before running anything on it. */
  private lazy val afterNight0: String = {
    val stateRoot = freshDir("nightly-night0")
    Nightly.bootstrap(spark, flatSrc, stateRoot, Days)
    Nightly.night(spark, flatSrc, stateRoot, Days, 0)
    stateRoot
  }

  /** The whole ladder: bootstrap plus all 3 nights. Read-only, as above. */
  private lazy val laddered: String = {
    val stateRoot = copyOf(afterNight0, "nightly-ladder")
    (1 until Days).foreach(k => Nightly.night(spark, flatSrc, stateRoot, Days, k))
    stateRoot
  }

  test("persisted 3-night ladder == full recompute for ALL THREE families; publish gates+exports") {
    val stateRoot = freshDir("nightly-state")
    val out = freshDir("nightly-out")
    val src = Nightly.Sources.fromDir(spark, sf0001)

    val res = Nightly.runIncremental(spark,
      Nightly.Sources.fromDir(spark, sf0001), stateRoot, out,
      DailyBatchRunner.Thresholds(1, 1, 1))
    assert(res.userRows > 0 && res.transactionRows > 0 && res.riskRows > 0)

    val (uf, tf, rf) = Nightly.features(spark, src, stateRoot)
    assert(rows(tf) == rows(TransactionFeaturesJob.compute(
      Roles.transactions(spark, sf0001), Roles.users(spark, sf0001), AsOf.orders)),
      "transaction features off persisted state diverge from full recompute")
    assert(rows(uf) == rows(UserFeaturesJob.compute(
      Roles.transactions(spark, sf0001), Roles.users(spark, sf0001), AsOf.orders)),
      "user features off persisted state diverge from full recompute")
    assert(rows(rf) == rows(RiskFeaturesJob(spark, sf0001)),
      "risk features off persisted state diverge from full recompute")

    // publish really wrote the per-group stores + the partitioned view
    val fv = spark.read.parquet(s"$out/feature_view")
    assert(fv.count() > 0 && fv.columns.contains("partition_date"))
    assert(MigrationRunner.current(spark, s"$out/user_features").count() == res.userRows)
  }

  test("replaying a night is a no-op: day partitions overwrite themselves, user fold skips") {
    val stateRoot = copyOf(laddered, "nightly-replay")
    val src = flatSrc
    val days = Days
    val before = Nightly.features(spark, src, stateRoot)
    val snap = (rows(before._1), rows(before._2), rows(before._3))
    val marker = MigrationRunner.currentVersion(spark, s"$stateRoot/user_state")

    // the crashed-scheduler retry: the final night runs AGAIN
    Nightly.night(spark, src, stateRoot, days, days - 1)

    val after = Nightly.features(spark, src, stateRoot)
    assert(rows(after._2) == snap._2, "tx day-state must be replay-idempotent")
    assert(rows(after._3) == snap._3, "risk day-states must be replay-idempotent")
    // the additive fold would DOUBLE-count on re-apply; the version-name
    // marker must have skipped it — same pointer, same rows
    assert(MigrationRunner.currentVersion(spark, s"$stateRoot/user_state") == marker,
      "user-state pointer moved on replay — exactly-once marker failed")
    assert(rows(after._1) == snap._1, "user features changed on replay")

    // the harder retry: an EARLIER night replays after later nights ran —
    // its marker is no longer the live pointer, only a HISTORY entry; a
    // current-name-only check would re-apply the fold and double-count
    // (r13 self-review finding)
    Nightly.night(spark, src, stateRoot, days, 0)
    val after2 = Nightly.features(spark, src, stateRoot)
    assert(MigrationRunner.currentVersion(spark, s"$stateRoot/user_state") == marker,
      "user-state pointer moved on an out-of-order replay")
    assert(rows(after2._1) == snap._1,
      "user features changed on an out-of-order replay — the fold re-applied")
    assert(rows(after2._2) == snap._2 && rows(after2._3) == snap._3,
      "day-states must also be invariant under out-of-order replay")

    // the r13 review's critical find: re-running BOOTSTRAP on a laddered
    // stateRoot must not re-migrate "pre" and swing the pointer back to
    // the baseline (current-only check would: live is v<day>-final, not
    // "pre") — the whole runIncremental retry rests on this
    Nightly.bootstrap(spark, src, stateRoot, days)
    assert(MigrationRunner.currentVersion(spark, s"$stateRoot/user_state") == marker,
      "bootstrap re-run reset the user state to the pre-ladder baseline")
    val after3 = Nightly.features(spark, src, stateRoot)
    assert(rows(after3._1) == snap._1 && rows(after3._2) == snap._2 &&
      rows(after3._3) == snap._3,
      "features changed after a bootstrap re-run on a laddered state root")
  }

  test("persisted states after bootstrap + 3 nights == the in-session DayLadder folds, row for row") {
    // features read only the 31/91-day windows; this pins every state row,
    // including the backfill days older than any window
    val stateRoot = laddered
    val src = flatSrc
    val days = Days
    for (f <- DayLadder.families)
      assert(rows(spark.read.parquet(s"$stateRoot/${f.name}")) ==
        rows(f.fold(f.pick(src), f.anchor, days)),
        s"${f.name}: persisted state diverges from the in-session fold")
    assert(rows(MigrationRunner.current(spark, s"$stateRoot/user_state")) ==
      rows(DayLadder.fold(src.transactions, "created_at", AsOf.orders, days,
        IncrementalUserFeatures.summarize, IncrementalUserFeatures.applyDelta)),
      "user_state: persisted totals diverge from the in-session fold")
  }

  test("a night whose PREDECESSOR never applied fails loud (gap guard, r13 ADVICE)") {
    // the marker prevents re-application, not gaps: a scheduler that skips
    // a failed night and runs the next would fold day k onto a state
    // missing day k−1 — permanently under-counting, with "-final" making
    // the state look complete. night() must require the predecessor marker.
    val stateRoot = copyOf(afterNight0, "nightly-gap")
    val src = flatSrc
    val days = Days
    // night 1 "failed" (never ran); the scheduler moves on to night 2
    val e = intercept[IllegalArgumentException] {
      Nightly.night(spark, src, stateRoot, days, 2)
    }
    assert(e.getMessage.contains("predecessor"), e.getMessage)
    // and the gap is RECOVERABLE: run the missing night, then the rest
    Nightly.night(spark, src, stateRoot, days, 1)
    Nightly.night(spark, src, stateRoot, days, 2)
    val (uf, _, _) = Nightly.features(spark, src, stateRoot)
    assert(rows(uf) == rows(UserFeaturesJob.compute(
      Roles.transactions(spark, sf0001), Roles.users(spark, sf0001), AsOf.orders)),
      "user features after gap recovery diverge from full recompute")
  }

  // ---- crash soak (VERDICT r13 next #3): every kill point must converge ----

  private def fullRecompute(): (Seq[Seq[String]], Seq[Seq[String]], Seq[Seq[String]]) = (
    rows(UserFeaturesJob.compute(
      Roles.transactions(spark, sf0001), Roles.users(spark, sf0001), AsOf.orders)),
    rows(TransactionFeaturesJob.compute(
      Roles.transactions(spark, sf0001), Roles.users(spark, sf0001), AsOf.orders)),
    rows(RiskFeaturesJob(spark, sf0001)))

  private def assertConverged(stateRoot: String, src: Nightly.Sources,
                              tag: String): Unit = {
    val (uf, tf, rf) = Nightly.features(spark, src, stateRoot)
    val (eu, et, er) = fullRecompute()
    assert(rows(uf) == eu, s"$tag: user features diverge from full recompute")
    assert(rows(tf) == et, s"$tag: tx features diverge from full recompute")
    assert(rows(rf) == er, s"$tag: risk features diverge from full recompute")
  }

  test("crash soak: a night killed BETWEEN day-family partition writes converges on retry") {
    val stateRoot = copyOf(afterNight0, "nightly-crash-fam")
    val src = flatSrc
    val days = Days
    // night 1 dies after writing only the first two families' day partitions
    Nightly.nightDayFamilies(spark, src, stateRoot, days, 1, limit = 2)
    // the scheduler retries the WHOLE night: the two written partitions
    // overwrite themselves, the remaining four write fresh, the user fold
    // applies once
    Nightly.night(spark, src, stateRoot, days, 1)
    Nightly.night(spark, src, stateRoot, days, 2)
    assertConverged(stateRoot, src, "killed-between-family-writes")
  }

  test("crash soak: a night killed mid-migrate BEFORE the pointer swap does not double-fold") {
    val stateRoot = copyOf(afterNight0, "nightly-crash-migrate")
    val src = flatSrc
    val days = Days
    Nightly.nightDayFamilies(spark, src, stateRoot, days, 1)
    // migrate crashed after writing the target version DIRECTORY but before
    // the pointer swap: the marker-named dir exists (and is garbage — a
    // partial write), CURRENT and HISTORY never saw it
    val day1 = AsOf.date(AsOf.orders).minusDays(days.toLong).plusDays(1L)
    import spark.implicits._
    Seq((0L, "partial")).toDF("user_id", "junk")
      .write.mode("overwrite").parquet(s"$stateRoot/user_state/v$day1")
    assert(!MigrationRunner.versionHistory(spark, s"$stateRoot/user_state")
      .contains(s"v$day1"), "crash sim is wrong: marker reached history")
    // the retry must treat the night as UNAPPLIED (pointer/history are the
    // truth, not directory existence), overwrite the partial dir, fold
    // exactly once, and swap
    Nightly.night(spark, src, stateRoot, days, 1)
    Nightly.night(spark, src, stateRoot, days, 2)
    assertConverged(stateRoot, src, "killed-mid-migrate")
  }

  test("crash soak: bootstrap re-run over a state crashed MID-NIGHT neither resets nor double-folds") {
    val stateRoot = copyOf(afterNight0, "nightly-crash-boot")
    val src = flatSrc
    val days = Days
    // night 1 crashed with day families written but the user fold NOT run
    Nightly.nightDayFamilies(spark, src, stateRoot, days, 1)
    val marker = MigrationRunner.currentVersion(spark, s"$stateRoot/user_state")
    // the operator's recovery move: re-run bootstrap (idempotent), replay
    // the whole ladder from the top
    Nightly.bootstrap(spark, src, stateRoot, days)
    assert(MigrationRunner.currentVersion(spark, s"$stateRoot/user_state") == marker,
      "bootstrap re-run over a crashed-mid-night state reset the user pointer")
    (0 until days).foreach(k => Nightly.night(spark, src, stateRoot, days, k))
    assertConverged(stateRoot, src, "bootstrap-after-mid-night-crash")
  }

  test("nightly p_day rider: a landing corrupted AFTER bootstrap fails its night loud (r13 verdict #5)") {
    // bootstrap validates the whole landing once; this pins the NIGHTLY
    // re-validation — the observe() rider on each night's day slice
    val root = freshDir("nightly-rider")
    val flat = Nightly.Sources.fromDir(spark, sf0001)
    val txPath = s"$root/tx"
    val land = flat.copy(transactions =
      Nightly.landEventDay(flat.transactions, "created_at", txPath))
    val stateRoot = freshDir("nightly-rider-state")
    val days = 3
    Nightly.bootstrap(spark, land, stateRoot, days)
    Nightly.night(spark, land, stateRoot, days, 0)

    // the landing's semantics change after bootstrap: day 1's partition is
    // re-landed with DRIFTED event times (arrival-day relabeling) — p_day
    // no longer equals to_date(created_at) inside that partition
    val day1 = java.sql.Date.valueOf(
      AsOf.date(AsOf.orders).minusDays(days.toLong).plusDays(1L))
    val corrupt = flat.transactions
      .filter(to_date(col("created_at")) === lit(day1))
      .withColumn("created_at", col("created_at") + expr("INTERVAL 5 DAYS"))
      .withColumn(Nightly.LandingPartCol, lit(day1))
    graft.sinks.MergeByKey.overwritePartitions(corrupt, txPath,
      Nightly.LandingPartCol)
    val fresh = land.copy(transactions = spark.read.parquet(txPath))

    val e = intercept[IllegalArgumentException] {
      Nightly.night(spark, fresh, stateRoot, days, 1)
    }
    assert(e.getMessage.contains("violates the p_day convention"), e.getMessage)
  }

  test("bootstrap rejects a landing whose p_day is NOT the event day (arrival-day layout)") {
    // p_day is a BY-NAME convention; an arrival-day-partitioned landing
    // would silently lose late rows to the day slices' partition predicates —
    // bootstrap's observe()-guard must fail it loud instead
    import spark.implicits._
    val stateRoot = freshDir("nightly-badpday")
    val flat = Nightly.Sources.fromDir(spark, sf0001)
    // shift every partition label one day forward: arrival-day semantics
    val badPath = freshDir("nightly-badlanding") + "/tx"
    graft.sinks.MergeByKey.overwritePartitions(
      flat.transactions
        .withColumn("p_day", date_add(to_date(col("created_at")), 1)),
      badPath, "p_day")
    val bad = flat.copy(transactions = spark.read.parquet(badPath))
    val e = intercept[IllegalArgumentException] {
      Nightly.bootstrap(spark, bad, stateRoot, 3)
    }
    assert(e.getMessage.contains("violates the p_day convention"), e.getMessage)
  }

  test("records pin: a night over a date-partitioned landing reads a fraction of a flat-source night") {
    // the scan-budget discipline at the runner level: the day slices'
    // redundant p_day predicates must make the delta scans PHYSICALLY
    // day-pruned — measured as task-metric records, the level that cannot lie
    def landed(name: String, df: org.apache.spark.sql.DataFrame,
               tsCol: String, root: String): org.apache.spark.sql.DataFrame =
      Nightly.landEventDay(df, tsCol, s"$root/$name")
    val root = freshDir("nightly-landing")
    val flat = Nightly.Sources.fromDir(spark, sf0001)
    val land = Nightly.Sources(
      transactions = landed("tx", flat.transactions, "created_at", root),
      payments = landed("pay", flat.payments, "created_at", root),
      logins = landed("log", flat.logins, "created_at", root),
      alerts = landed("al", flat.alerts, "created_at", root),
      credit = landed("cr", flat.credit, "report_date", root),
      scores = landed("sc", flat.scores, "computed_at", root),
      users = flat.users)

    val sm = core.StageMetrics.attach(spark)
    // measure a MIDDLE night (pure one-day deltas, no tail); the landed
    // state bootstraps fresh, the flat one is a copy of the shared
    // bootstrap + night 0 over the same flat sources
    def night1Records(src: Nightly.Sources, stateRoot: String): Long =
      sm.measure { Nightly.night(spark, src, stateRoot, 3, 1) }.inputRecords
    val flatRecs = night1Records(flat, copyOf(afterNight0, "nightly-recs-flat"))
    val landRoot = freshDir("nightly-recs-land")
    Nightly.bootstrap(spark, land, landRoot, 3)
    Nightly.night(spark, land, landRoot, 3, 0)
    val landRecs = night1Records(land, landRoot)
    assert(landRecs < flatRecs / 2,
      s"a landed night read $landRecs records vs $flatRecs flat — the " +
        "p_day partition predicates are not pruning")
  }

  test("records pin: reading features prunes the state to its day windows (not a full state scan)") {
    // the OTHER half of the read economy: the nightly features read must
    // re-aggregate only the 31-day window of SUMMARY rows — `day` IS the
    // state table's partition column, so the in31 filter partition-prunes.
    // ~2400 history days at this corpus: a full-state scan would read
    // ~77x the window.
    val stateRoot = laddered
    val src = flatSrc
    val stateTotal = spark.read.parquet(s"$stateRoot/tx_state").count()
    val usersTotal = src.users.count()
    val sm = core.StageMetrics.attach(spark)
    val tf = graft.jobs.IncrementalTransactionFeatures.featuresFromState(
      spark.read.parquet(s"$stateRoot/tx_state"), src.users,
      graft.core.AsOf.orders)
    tf.count() // warm
    val recs = sm.measure { tf.count(): Unit }.inputRecords
    // budget: the 31d state window (a sliver of stateTotal) + two users
    // reads (stats probe + active set) + slack; a full state scan would
    // blow straight past this
    assert(recs < stateTotal / 3 + 2 * usersTotal + 100,
      s"tx features read $recs records against a $stateTotal-row state " +
        s"($usersTotal users) — the day filter is not partition-pruning")
  }

  test("a fresh JVM-equivalent reader (pure parquet, no session cache) sees the same states") {
    // features() reads ONLY from stateRoot paths + the CURRENT pointer —
    // prove it by reading the state files directly and recomputing one
    // family without any runner involvement
    val stateRoot = laddered
    val src = flatSrc
    val viaRunner = Nightly.features(spark, src, stateRoot)._2
    val coldState = spark.read.parquet(s"$stateRoot/tx_state")
    val viaCold = graft.jobs.IncrementalTransactionFeatures.featuresFromState(
      coldState, src.users, AsOf.orders)
    assert(rows(viaRunner) == rows(viaCold))
  }
}
