package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.PitJoin

/** Unit pins for the PitJoin contract on hand-built frames — the edge
  * semantics the big-table oracle compare can't isolate. */
class PitJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val lookback = expr("INTERVAL 10 DAYS")

  private def facts(rows: (Long, String, Long, java.lang.Double)*) =
    rows.toSeq.map { case (k, t, id, v) => (k, ts(t), id, v) }
      .toDF("user_id", "fact_ts", "fact_id", "score")

  private def probes(rows: (Long, String, Long)*) =
    rows.toSeq.map { case (k, t, id) => (k, ts(t), id) }
      .toDF("user_id", "probe_ts", "probe_id")

  private def matrix(p: org.apache.spark.sql.DataFrame,
                     f: org.apache.spark.sql.DataFrame) =
    PitJoin.trainingMatrix(p, "user_id", "probe_ts", "probe_id",
      Seq(PitJoin.Fact(f, "user_id", "fact_ts", "fact_id", "score")), lookback)
      .select("probe_id", "score").as[(Long, Option[Double])].collect().toMap

  test("as-of semantics: latest fact <= probe wins; future facts never leak") {
    val m = matrix(
      probes((1L, "2020-01-10 00:00:00", 100L)),
      facts(
        (1L, "2020-01-05 00:00:00", 1L, 0.3),
        (1L, "2020-01-08 00:00:00", 2L, 0.7),
        (1L, "2020-01-11 00:00:00", 3L, 0.9))) // future — invisible
    assert(m(100L).contains(0.7))
  }

  test("a fact AT the probe timestamp is visible (<=), and max tiebreak wins ties") {
    val m = matrix(
      probes((1L, "2020-01-10 00:00:00", 100L)),
      facts(
        (1L, "2020-01-10 00:00:00", 5L, 0.4),
        (1L, "2020-01-10 00:00:00", 9L, 0.6))) // same ts: id 9 wins
    assert(m(100L).contains(0.6))
  }

  test("staleness band: a fill older than lookback serves null") {
    val m = matrix(
      probes((1L, "2020-02-01 00:00:00", 100L), (2L, "2020-01-12 00:00:00", 200L)),
      facts(
        (1L, "2020-01-05 00:00:00", 1L, 0.3), // 27d old at probe — stale
        (2L, "2020-01-05 00:00:00", 2L, 0.5))) // 7d old — in band
    assert(m(100L).isEmpty)
    assert(m(200L).contains(0.5))
  }

  test("null fact values are ABSENT: the fill skips them to an older non-null") {
    val m = matrix(
      probes((1L, "2020-01-10 00:00:00", 100L)),
      facts(
        (1L, "2020-01-05 00:00:00", 1L, 0.3),
        (1L, "2020-01-08 00:00:00", 2L, null)))
    assert(m(100L).contains(0.3),
      "a null fact must not mask an older value (documented contract)")
  }

  test("probes with no key match or no facts at all serve null") {
    val m = matrix(
      probes((7L, "2020-01-10 00:00:00", 100L)),
      facts((1L, "2020-01-05 00:00:00", 1L, 0.3)))
    assert(m(100L).isEmpty)
  }

  // ---- wide (record-level) facts ----

  private def wideFacts(rows: (Long, String, Long, java.lang.Double, String)*) =
    rows.toSeq.map { case (k, t, id, v, g) => (k, ts(t), id, v, g) }
      .toDF("user_id", "fact_ts", "fact_id", "score", "grade")

  private def wideMatrix(p: org.apache.spark.sql.DataFrame,
                         f: org.apache.spark.sql.DataFrame) =
    PitJoin.trainingMatrixWide(p, "user_id", "probe_ts", "probe_id",
      Seq(PitJoin.WideFact(f, "user_id", "fact_ts", "fact_id",
        Seq("score", "grade"), lookback)))
      .select("probe_id", "score", "grade")
      .as[(Long, Option[Double], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("wide fill is RECORD-level: the latest fact row wins whole, its null " +
      "field masking an older non-null (the opposite of scalar fill)") {
    val p = probes((1L, "2020-01-10 00:00:00", 100L))
    val f = wideFacts(
      (1L, "2020-01-05 00:00:00", 1L, 0.3, "a"),
      (1L, "2020-01-08 00:00:00", 2L, null, "b")) // latest record: null score
    val wide = wideMatrix(p, f)
    assert(wide(100L) == ((None, Some("b"))),
      "the whole latest record must arrive — a consistent group snapshot")
    // contrast: the SCALAR fill on the same frame skips the null to 0.3
    val scalar = matrix(p, f.drop("grade"))
    assert(scalar(100L).contains(0.3),
      "scalar fill's documented skip-null contract must be unchanged")
  }

  test("per-fact staleness bands null independently (per-group freshness windows)") {
    val p = probes((1L, "2020-01-10 00:00:00", 100L))
    val a = facts((1L, "2020-01-04 00:00:00", 1L, 0.3)) // 6d old at probe
    val b = wideFacts((1L, "2020-01-04 00:00:00", 2L, 0.9, "g"))
    val out = PitJoin.trainingMatrixWide(p, "user_id", "probe_ts", "probe_id",
      Seq(
        PitJoin.WideFact(a, "user_id", "fact_ts", "fact_id",
          Seq("score"), expr("INTERVAL 10 DAYS")),
        PitJoin.WideFact(b.select(col("user_id"), col("fact_ts"),
            col("fact_id"), col("score").as("score2"), col("grade")),
          "user_id", "fact_ts", "fact_id",
          Seq("score2", "grade"), expr("INTERVAL 2 DAYS"))))
      .select("probe_id", "score", "score2", "grade")
      .as[(Long, Option[Double], Option[Double], Option[String])].collect()
    assert(out.toSeq == Seq((100L, Some(0.3), None, None)),
      "the 10d-band fact fills while the 2d-band fact nulls out")
  }

  private def wideMatrixRanged(p: org.apache.spark.sql.DataFrame,
                               f: org.apache.spark.sql.DataFrame,
                               rangeSecs: Long) =
    PitJoin.trainingMatrixWide(p, "user_id", "probe_ts", "probe_id",
      Seq(PitJoin.WideFact(f, "user_id", "fact_ts", "fact_id",
        Seq("score", "grade"), lookback)), rangeSecs = rangeSecs)
      .select("probe_id", "score", "grade")
      .as[(Long, Option[Double], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("ranged (segmented-scan) fill ≡ plain fill: cross-range carry, " +
      "boundary ties, empty ranges, band expiry across ranges") {
    val p = probes(
      (1L, "2020-01-10 00:00:00", 100L), // fact 8d back, 2 ranges earlier
      (1L, "2020-01-02 00:00:01", 101L), // just after the range boundary
      (1L, "2020-01-02 00:00:00", 102L), // exactly AT a fact's ts (tie)
      (2L, "2020-01-25 00:00:00", 200L), // only fact is 20d back — stale
      (3L, "2020-01-05 00:00:00", 300L), // no facts for key 3
      (1L, "2020-01-01 00:00:00", 103L)) // before any fact
    val f = wideFacts(
      (1L, "2020-01-02 00:00:00", 1L, 0.3, "a"),
      (1L, "2020-01-02 00:00:00", 9L, 0.5, "b"), // same-ts tie: id 9 wins
      (2L, "2020-01-05 00:00:00", 3L, 0.7, "c"))
    // 1-day ranges: probes 100/200 read carries across several empty
    // ranges; probes 101/102 exercise the own-range vs carry boundary
    val plain = wideMatrix(p, f)
    for (w <- Seq(86400L, 3600L, 7L * 86400L)) {
      assert(wideMatrixRanged(p, f, w) == plain,
        s"ranged fill (W=${w}s) diverged from the plain fill")
    }
    assert(plain(100L) == ((Some(0.5), Some("b"))))
    assert(plain(102L) == ((Some(0.5), Some("b"))), "tie at probe ts: <= wins")
    assert(plain(200L) == ((None, None)), "stale across ranges serves null")
    assert(plain(103L) == ((None, None)))
  }

  test("cross-table boundary ties: facts from DIFFERENT tables sharing " +
      "(key, ts, tiebreak) at a range end both survive into the carry") {
    // advisor finding (r11): the ranged fill's boundary max_by used to
    // elect ONE tied row for ALL struct columns — the losing table's
    // running fill vanished from the carry and later-range probes saw a
    // stale record for it, while the plain fill (per-column last over
    // every row) was unaffected. The fix elects per COLUMN, keyed on the
    // fill's own source ts. Plausible input: two feature groups keyed off
    // the same upstream event id share (key, ts, tiebreak) exactly.
    val p = probes((1L, "2020-01-05 00:00:00", 100L)) // ranges after the tie
    val a = facts((1L, "2020-01-02 00:00:00", 7L, 0.3))
    val b = wideFacts((1L, "2020-01-02 00:00:00", 7L, 0.9, "g"))
      .select(col("user_id"), col("fact_ts"), col("fact_id"), col("grade"))
    def run(rangeSecs: Long) =
      PitJoin.trainingMatrixWide(p, "user_id", "probe_ts", "probe_id",
        Seq(
          PitJoin.WideFact(a, "user_id", "fact_ts", "fact_id",
            Seq("score"), lookback),
          PitJoin.WideFact(b, "user_id", "fact_ts", "fact_id",
            Seq("grade"), lookback)),
        rangeSecs = rangeSecs)
        .select("probe_id", "score", "grade")
        .as[(Long, Option[Double], Option[String])].collect().toSeq
    val plain = run(0)
    assert(plain == Seq((100L, Some(0.3), Some("g"))),
      s"plain fill must carry both tied tables' records: $plain")
    assert(run(86400L) == plain,
      "ranged fill dropped a tied table's value from the boundary carry")
  }

  test("null keys and null tiebreaks: ranged fill matches plain fill") {
    // Window.partitionBy groups null keys into ONE partition, so the plain
    // fill forward-fills across null-key rows; the ranged fill's carry
    // join-back must be null-safe (a silent divergence — code-review finding)
    val p = Seq[(java.lang.Long, Timestamp, java.lang.Long)](
      (null, ts("2020-01-03 00:00:00"), 100L),
      (1L, ts("2020-01-03 00:00:00"), null))
      .toDF("user_id", "probe_ts", "probe_id")
    val f = Seq[(java.lang.Long, Timestamp, Long, Double, String)](
      (null, ts("2020-01-01 00:00:00"), 1L, 0.3, "a"),
      (1L, ts("2020-01-01 00:00:00"), 2L, 0.7, "b"))
      .toDF("user_id", "fact_ts", "fact_id", "score", "grade")
    def run(rangeSecs: Long = 0) =
      PitJoin.trainingMatrixWide(p, "user_id", "probe_ts", "probe_id",
        Seq(PitJoin.WideFact(f, "user_id", "fact_ts", "fact_id",
          Seq("score", "grade"), lookback)), rangeSecs)
        .select("score", "grade").as[(Option[Double], Option[String])]
        .collect().toSet
    val plain = run()
    assert(plain == Set((Some(0.3), Some("a")), (Some(0.7), Some("b"))),
      s"plain fill must serve both the null-key probe and the null-tb probe: $plain")
    assert(run(rangeSecs = 86400L) == plain,
      "ranged fill dropped the null-key carry (join must be null-safe)")
  }

  test("probe columns pass through; equal-ts probes each keep their row") {
    val p = Seq(
      (1L, ts("2020-01-10 00:00:00"), 100L, "a"),
      (1L, ts("2020-01-10 00:00:00"), 101L, "b"))
      .toDF("user_id", "probe_ts", "probe_id", "tag")
    val out = PitJoin.trainingMatrix(p, "user_id", "probe_ts", "probe_id",
      Seq(PitJoin.Fact(facts((1L, "2020-01-09 00:00:00", 1L, 0.3)),
        "user_id", "fact_ts", "fact_id", "score")), lookback)
    val rows = out.select("probe_id", "tag", "score")
      .as[(Long, String, Option[Double])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((100L, "a", Some(0.3)), (101L, "b", Some(0.3))))
  }
}
