package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.PitJoin

/** Pins for PitJoin.recommendStrategy on the four measured frame
  * shapes (scaled ÷100 with the threshold scaled alongside — the
  * recommendation depends on rows-per-hot-key vs targetRowsPerTask, both
  * scaled linearly, so the decisions are the ones the full-size bench
  * shapes get): hot frames → ranged with a sane range width; uniform
  * controls → plain. Plus: the recommended rangeSecs actually reproduces
  * the plain fill's output (the strategy must never trade correctness). */
class PitStrategySpec extends SparkSpec {

  // the measured frames' deterministic generator, scaled down
  private def u(tag: String) = conv(substring(md5(concat(lit(tag + "|"),
    col("id").cast("string"))), 1, 8), 16, 10).cast("double") / 4.294967296e9

  private def key(hot: Boolean) =
    if (hot) when(u("k") < 0.95, 0L).otherwise(pmod(col("id"), lit(1000L)))
    else pmod(col("id"), lit(1000L))

  private def frame(n: Long, hot: Boolean, tsTag: String) =
    spark.range(n).select(
      key(hot).as("user_id"),
      timestamp_seconds(lit(1704067200L) + (u(tsTag) * 2592000.0).cast("long"))
        .as("ts"), col("id"))

  private def facts(n: Long, hot: Boolean) = frame(n, hot, "ft").select(
    col("user_id"), col("ts").as("fact_ts"), col("id").as("fact_id"),
    (u("v") * 100.0).as("score"))
  private def probes(n: Long, hot: Boolean) = frame(n, hot, "pt").select(
    col("user_id"), col("ts").as("probe_ts"), col("id").as("probe_id"))

  private def recommend(nProbes: Long, nFacts: Long, hot: Boolean) =
    PitJoin.recommendStrategy(probes(nProbes, hot), "user_id", "probe_ts",
      Seq(PitJoin.WideFact(facts(nFacts, hot), "user_id", "fact_ts",
        "fact_id", Seq("score"), expr("INTERVAL 90 DAYS"))),
      targetRowsPerTask = 5000L)

  private val Span = 2592000L // the generator's 30-day ts window

  test("probe-heavy 95%-hot frame -> ranged, range width splits the hot " +
      "key over its span") {
    val s = recommend(nProbes = 100000L, nFacts = 10000L, hot = true)
    assert(s.isRanged, "a 95%-hot probe-heavy frame must get the segmented scan")
    assert(s.rangeSecs > 0 && s.rangeSecs <= Span / 2,
      s"range width ${s.rangeSecs}s must yield multiple ranges over the " +
        s"~${Span}s hot-key span")
  }

  test("fact-heavy 95%-hot frame -> ranged (the shape where salting LOSES)") {
    val s = recommend(nProbes = 50000L, nFacts = 200000L, hot = true)
    assert(s.isRanged && s.rangeSecs <= Span / 2)
  }

  test("uniform controls -> plain (both hot-key forms cost on uniform data)") {
    assert(!recommend(100000L, 10000L, hot = false).isRanged)
    assert(!recommend(50000L, 200000L, hot = false).isRanged)
  }

  test("empty and all-null-ts timelines -> plain (no span to split)") {
    val p = probes(0L, hot = false)
    val f = facts(0L, hot = false)
    assert(!PitJoin.recommendStrategy(p, "user_id", "probe_ts",
      Seq(PitJoin.WideFact(f, "user_id", "fact_ts", "fact_id",
        Seq("score"), expr("INTERVAL 90 DAYS")))).isRanged)
    val nullTs = spark.range(20000).select(lit(0L).as("user_id"),
      lit(null).cast("timestamp").as("probe_ts"), col("id").as("probe_id"))
    assert(!PitJoin.recommendStrategy(nullTs, "user_id", "probe_ts",
      Seq(PitJoin.WideFact(f, "user_id", "fact_ts", "fact_id",
        Seq("score"), expr("INTERVAL 90 DAYS"))), 5000L).isRanged,
      "an all-null-ts hot key has no span — must fall back to plain")
  }

  test("the recommended strategy reproduces the plain fill byte-for-byte") {
    def checksum(rangeSecs: Long): java.math.BigDecimal =
      PitJoin.trainingMatrixWide(probes(20000L, hot = true), "user_id",
        "probe_ts", "probe_id",
        Seq(PitJoin.WideFact(facts(2000L, hot = true), "user_id", "fact_ts",
          "fact_id", Seq("score"), expr("INTERVAL 90 DAYS"))),
        rangeSecs = rangeSecs)
        .select(sum(xxhash64(col("probe_id"), col("user_id"), col("probe_ts"),
          col("score")).cast("decimal(38,0)")).as("c"))
        .head.getDecimal(0)
    val s = PitJoin.recommendStrategy(probes(20000L, hot = true), "user_id",
      "probe_ts", Seq(PitJoin.WideFact(facts(2000L, hot = true), "user_id",
        "fact_ts", "fact_id", Seq("score"), expr("INTERVAL 90 DAYS"))),
      targetRowsPerTask = 1000L)
    assert(s.isRanged)
    assert(checksum(s.rangeSecs) == checksum(0L),
      "recommended ranged fill diverged from the plain fill")
  }

  // ---- auto-consult (r13: recommendStrategy is the DEFAULT, not a knob) ----

  private def autoMatrix(p: DataFrame, f: DataFrame, target: Long) =
    PitJoin.trainingMatrixWide(p, "user_id", "probe_ts", "probe_id",
      Seq(PitJoin.WideFact(f, "user_id", "fact_ts", "fact_id",
        Seq("score"), expr("INTERVAL 90 DAYS"))),
      autoTargetRowsPerTask = target) // note: NO rangeSecs passed

  test("hot frame plans the ranged fill with NO caller rangeSecs; output equals plain") {
    val m = autoMatrix(probes(20000L, hot = true), facts(2000L, hot = true), 1000L)
    def cs(df: DataFrame): java.math.BigDecimal =
      df.select(sum(xxhash64(col("probe_id"), col("user_id"),
        col("probe_ts"), col("score")).cast("decimal(38,0)")).as("c"))
        .head.getDecimal(0)
    val auto = cs(m)
    // the segmented-scan form is identifiable by its range column
    assert(m.queryExecution.executedPlan.toString.contains("__rng"),
      "auto mode on a hot frame must plan fillBandedRanged")
    val plain = cs(PitJoin.trainingMatrixWide(probes(20000L, hot = true),
      "user_id", "probe_ts", "probe_id",
      Seq(PitJoin.WideFact(facts(2000L, hot = true), "user_id", "fact_ts",
        "fact_id", Seq("score"), expr("INTERVAL 90 DAYS"))),
      rangeSecs = 0L)) // explicit opt-out
    assert(auto == plain, "auto-ranged output diverged from the plain fill")
  }

  test("uniform frame auto-plans the plain fill; explicit 0 opts out on a hot frame") {
    val u = autoMatrix(probes(20000L, hot = false), facts(2000L, hot = false), 1000L)
    assert(!u.queryExecution.executedPlan.toString.contains("__rng"),
      "uniform data must not pay the segmented-scan machinery")
    val optOut = PitJoin.trainingMatrixWide(probes(20000L, hot = true),
      "user_id", "probe_ts", "probe_id",
      Seq(PitJoin.WideFact(facts(2000L, hot = true), "user_id", "fact_ts",
        "fact_id", Seq("score"), expr("INTERVAL 90 DAYS"))),
      rangeSecs = 0L, autoTargetRowsPerTask = 1000L)
    assert(!optOut.queryExecution.executedPlan.toString.contains("__rng"),
      "rangeSecs = 0 must force the plain fill even on a hot frame")
  }

  test("the auto consult's histogram aggregate runs ONCE per frame identity (cached)") {
    val p = probes(20000L, hot = true)
    val f = facts(2000L, hot = true)
    autoMatrix(p, f, 777L).count() // prime the cache for this identity
    val n = sqlExecutionsDuring {
      autoMatrix(p, f, 777L).count(): Unit
    }
    assert(n <= 2, // the matrix job itself (+1 AQE re-run at most)
      s"re-building the same matrix ran $n executions — the strategy " +
        "histogram must be cached per (frames, key, ts, target) identity")
  }

  test("a different fact ts column is a DIFFERENT cache identity (r13 ADVICE)") {
    // recommendStrategy consumes each fact's own (key, ts) projection, so
    // two matrices over the same frames with different fact ts columns are
    // different histograms — the memo must consult again, not serve the
    // first build's Strategy
    val p = probes(20000L, hot = true)
    val f = facts(2000L, hot = true)
      .withColumn("fact_ts2", col("fact_ts") + expr("INTERVAL 1 HOUR"))
    def build(ts: String) =
      PitJoin.trainingMatrixWide(p, "user_id", "probe_ts", "probe_id",
        Seq(PitJoin.WideFact(f, "user_id", ts, "fact_id", Seq("score"),
          expr("INTERVAL 90 DAYS"))), autoTargetRowsPerTask = 778L)
    build("fact_ts").count() // prime the (fact_ts) identity
    val firstAlt = sqlExecutionsDuring { build("fact_ts2").count(): Unit }
    val repeatAlt = sqlExecutionsDuring { build("fact_ts2").count(): Unit }
    assert(firstAlt > repeatAlt,
      s"first build with the alternate ts ran $firstAlt executions vs " +
        s"$repeatAlt on its cached repeat — the histogram consult did not " +
        "run, so the alternate ts shared the original's cache identity")
  }
}
