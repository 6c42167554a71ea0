package graft.jobs

import java.time.{Duration, Instant}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AsOf, Roles, Tables}
import graft.ops.Ops._

/** Data-quality suite — spec src/pipelines/data_quality.py:120-324,457-588:
  * per-column completeness ratios (A14), freshness (A15), statistical
  * profiling (A9), the nested-aggregate outlier count rewritten as the legal
  * two-pass form (A10), and rule-based row validation (P7).
  *
  * Scale: completeness/profile/outliers are single-pass aggregates with
  * map-side partial aggregation; the outlier second pass joins a 1-row stats
  * frame (broadcast) against the fact scan — never a driver-side loop.
  */
object DataQualityJob {

  /** Non-null completeness ratios, one row (data_quality.py:213-233). All
    * counts are exact longs, so the ratios are cross-engine deterministic. */
  def completeness(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    def ratio(c: String) = (count(col(c)).cast("double") / count(lit(1))).as(s"${c}_completeness")
    orders.agg(
      ratio("o_custkey"), ratio("o_totalprice"), ratio("o_orderdate"),
      ratio("o_orderstatus"), ratio("o_orderpriority"),
      count(lit(1)).as("row_count"))
  }

  /** Feature columns per computed feature table tracked by the completeness
    * view (audit timestamps excluded — asOf constants by construction).
    * Shared with OracleSql.dqFeatureCompleteness so the two engines always
    * watch the same columns. */
  private[graft] val featureCompletenessColumns: Seq[(String, Seq[String])] = Seq(
    "user_features" -> Seq("age", "location_country", "location_city",
      "total_orders", "avg_order_value", "days_since_first_order",
      "preferred_payment_method", "account_verified"),
    "transaction_features" -> Seq("total_transactions_30d", "total_amount_30d",
      "avg_transaction_amount", "max_transaction_amount",
      "transactions_declined_30d", "unique_merchants_30d",
      "weekend_transaction_ratio", "night_transaction_ratio"),
    "risk_features" -> Seq("credit_utilization_ratio", "payment_delays_30d",
      "payment_delays_90d", "failed_payments_count", "device_changes_30d",
      "login_locations_30d", "velocity_alerts_30d", "risk_score"))

  /** Per-feature-table completeness (the reference's materialized
    * `feature_completeness` views, sql/bigquery_schema.sql:97-133): one row
    * per (feature_table, column) with exact non-null counts and the COUNTIF
    * ratio — the view a quality dashboard watches over the COMPUTED tables,
    * not the raw facts. One fused aggregation pass per table (all COUNTs in
    * a single agg), then an unpivot of that one row — never a scan per
    * column. */
  def featureCompleteness(spark: SparkSession, dir: String): DataFrame = {
    val tables = Map[String, DataFrame](
      "user_features"        -> UserFeaturesJob(spark, dir),
      "transaction_features" -> TransactionFeaturesJob(spark, dir),
      "risk_features"        -> RiskFeaturesJob(spark, dir))
    featureCompletenessColumns.map { case (name, cols) =>
      val aggs = count(lit(1)).as("total_rows") +: cols.map(c => count(col(c)).as(s"nn_$c"))
      tables(name).agg(aggs.head, aggs.tail: _*)
        .select(
          lit(name).as("feature_table"),
          explode(array(cols.map(c => struct(
            lit(c).as("column_name"), col(s"nn_$c").as("nonnull_rows"))): _*)).as("s"),
          col("total_rows"))
        .select(
          col("feature_table"),
          col("s.column_name").as("column_name"),
          col("total_rows"),
          col("s.nonnull_rows").as("nonnull_rows"),
          rnd(col("s.nonnull_rows").cast("double") / col("total_rows").cast("double"), 4)
            .as("completeness_ratio"))
    }.reduce(_ unionByName _)
  }

  /** Freshness: newest event + count within the 2h alert window before the
    * anchor (data_quality.py:140-146; 2h threshold data_quality.py:45). */
  def freshness(spark: SparkSession, dir: String,
                asOf: Instant = AsOf.events): DataFrame = {
    val twoHoursAgo = to_timestamp(lit(AsOf.ts(asOf.minus(Duration.ofHours(2)))))
    Tables.events(spark, dir)
      .filter(col("ts") < to_timestamp(lit(AsOf.ts(asOf)))) // no future events
      .agg(
      date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("latest_event"),
      countIf(col("ts") >= twoHoursAgo).as("fresh_events_2h"),
      count(lit(1)).as("total_events"),
      // F7: EXTRACT(EPOCH FROM t2 - t1) — staleness at the anchor in seconds
      (lit(asOf.getEpochSecond) - unix_timestamp(max(col("ts"))))
        .as("staleness_seconds"))
  }

  /** Sample stddev from exact sums: sqrt((n·Σx² − (Σx)²) / (n(n−1))).
    * stddev_samp's streaming moment-merge depends on partition order and on
    * each engine's merge algorithm — the one aggregate that violates the
    * repo's determinism rules. With Σx and Σx² accumulated exactly (decimal),
    * every remaining op is plain IEEE arithmetic on identical inputs. */
  private def exactStddev(x: org.apache.spark.sql.Column) = {
    val n   = count(lit(1)).cast("double")
    val s   = sum(x.cast("decimal(20,2)")).cast("double")
    val ssq = sum((x * x).cast("decimal(30,10)")).cast("double")
    sqrt((n * ssq - s * s) / (n * (n - lit(1.0))))
  }

  /** Statistical profile by return flag/line status (data_quality.py:273-284
    * mean/σ/min/max shape): quantity sums are integer-valued doubles (exact),
    * money goes through decimal, stddev from exact sums (see exactStddev). */
  def profile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("line_count"),
        sum(col("l_quantity")).as("sum_qty"),
        sumMoney(lit(true), col("l_extendedprice")).as("sum_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (sumMoney(lit(true), col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        rnd(exactStddev(col("l_quantity")), 2).as("stddev_qty"))

  /** Outlier count, two-pass (A10). The reference emits an illegal nested
    * aggregate — COUNT(*) FILTER (WHERE x < AVG(x) - 3σ ...) inside the same
    * SELECT (data_quality.py:280-281); the legal, scale-safe rewrite computes
    * the 1-row stats frame first and broadcasts it against the scan. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val stats = orders.agg(
      (sumMoney(lit(true), col("o_totalprice")) / count(lit(1))).as("mean_amount"),
      exactStddev(col("o_totalprice")).as("sd_amount"))
    orders.crossJoin(broadcast(stats))
      .agg(
        rnd(first(col("mean_amount")), 2).as("mean_amount"),
        rnd(first(col("sd_amount")), 2).as("stddev_amount"),
        countIf(col("o_totalprice") < col("mean_amount") - col("sd_amount") * 3 ||
                col("o_totalprice") > col("mean_amount") + col("sd_amount") * 3)
          .as("outlier_count"),
        count(lit(1)).as("total_count"))
  }

  /** Alert generation (data_quality.py:354-413): quality metrics against
    * their thresholds → one alert row each, stacked. Thresholds mirror the
    * reference: 2h freshness (data_quality.py:45), 95% completeness, 1%
    * outlier share.
    *
    * Orders is scanned exactly TWICE (the two-pass outlier shape's
    * minimum), not once per metric: pass 1 fuses the completeness counts
    * into the same aggregate as the outlier mean/σ moments, pass 2 counts
    * outliers against the broadcast 1-row stats frame, and BOTH orders
    * alert rows unpivot out of that single pass-2 row — a union of selects
    * over the same frame would recompute the pass per branch. Events stays
    * its own (single) pass. The arithmetic is expression-for-expression the
    * standalone completeness()/outliers() queries', so the alert rows match
    * the metrics a dashboard reads from those. */
  def alerts(spark: SparkSession, dir: String,
             asOf: Instant = AsOf.events): DataFrame = {
    val fresh = freshness(spark, dir, asOf).select(
      lit("data_freshness").as("alert_type"),
      lit("critical").as("severity"),
      col("staleness_seconds").cast("double").as("metric_value"),
      lit(7200.0).as("threshold"),
      (col("staleness_seconds") > 7200).as("triggered"))
    val orders = Tables.orders(spark, dir)
    val stats = orders.agg(
      (sumMoney(lit(true), col("o_totalprice")) / count(lit(1))).as("mean_amount"),
      exactStddev(col("o_totalprice")).as("sd_amount"),
      (count(col("o_custkey")).cast("double") / count(lit(1))).as("__custkey_compl"))
    val pass2 = orders.crossJoin(broadcast(stats)).agg(
      first(col("__custkey_compl")).as("__compl"),
      countIf(col("o_totalprice") < col("mean_amount") - col("sd_amount") * 3 ||
              col("o_totalprice") > col("mean_amount") + col("sd_amount") * 3)
        .as("__outliers"),
      count(lit(1)).as("__rows"))
    val outlierShare = col("__outliers").cast("double") / col("__rows")
    val orderAlerts = pass2.select(explode(array(
      struct(
        lit("completeness_custkey").as("alert_type"),
        lit("warning").as("severity"),
        col("__compl").as("metric_value"),
        lit(0.95).as("threshold"),
        (col("__compl") < 0.95).as("triggered")),
      struct(
        lit("amount_outliers").as("alert_type"),
        lit("warning").as("severity"),
        outlierShare.as("metric_value"),
        lit(0.01).as("threshold"),
        (outlierShare > 0.01).as("triggered")))).as("a"))
      .select(col("a.*"))
    fresh.unionByName(orderAlerts)
  }

  /** Equi-depth histogram over order totals — the optimizer-statistics /
    * data-profiling shape (equi-WIDTH histograms mislead on skewed money
    * columns; equi-depth puts ~n/B rows in every bucket so the tails stay
    * resolved). Built on BoundedPercentile's count-by-value decomposition:
    * one combinable scan, one spillable per-group sorted window — never a
    * global sort or a per-group value buffer.
    *
    * Bucket rule: a distinct value belongs WHOLLY to the bucket of its
    * first sorted position (`floor(lo·B / n)`, exact integer arithmetic) —
    * the same whole-value convention optimizer histograms use, so a heavy
    * value never splits across buckets and the construction is
    * deterministic on any engine (row-level NTILE is not: it splits ties
    * by arbitrary row order). Buckets than can be emptied by a heavy
    * predecessor swallowing their positions simply don't appear. */
  def equiDepthHistogram(spark: SparkSession, dir: String,
                         buckets: Int = 10): DataFrame =
    equiDepthOf(Tables.orders(spark, dir), "o_totalprice", buckets)

  /** The generic core over any numeric column (the driver query binds it
    * to order totals). */
  def equiDepthOf(df: DataFrame, valueCol: String, buckets: Int): DataFrame =
    equiDepthFromCounts(graft.ops.BoundedPercentile.countByValue(
      df.select(lit("ALL").as("__g"), col(valueCol)), "__g", valueCol), buckets)

  /** The histogram over a pre-built (__g, __v, __c) count-by-value table —
    * split out so drift derives its reference histogram from a shared
    * tagged frame instead of re-scanning the source. */
  private[jobs] def equiDepthFromCounts(cnt: DataFrame, buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the group total __n rides an UNORDERED frame over the same partition
    // spec as the running sum (r17; the exactFromCounts/robustOutliers r10
    // idiom): one sort, two window frames — the former totals aggregate +
    // broadcast-join-back branch and its two serial stages are deleted.
    // Same long sums, so bucket assignment is bit-identical.
    val cum = graft.ops.BoundedPercentile.cumulated(cnt, "__g")
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy("__g")))
    cum
      .withColumn("bucket", expr(s"CAST((__lo * $buckets) DIV __n AS INT)"))
      .groupBy("bucket")
      .agg(sum(col("__c")).as("n_rows"),
        min(col("__v")).as("lo_value"), max(col("__v")).as("hi_value"))
  }

  /** MAD-based robust outliers — the resistant counterpart of the 3σ rule
    * (outliers() itself): mean/σ are dragged by the very tails they're
    * meant to flag, while median and MAD have a 50% breakdown point, so a
    * monitoring suite runs BOTH and diverging counts localize heavy-tail
    * drift. Modified z = 0.6745·(x − median)/MAD, |z| > 3.5 (the
    * Iglewicz–Hoaglin convention).
    *
    * Determinism: both medians come from the BoundedPercentile
    * decomposition (exact interpolation, rounded at fixed points), the
    * deviation/score arithmetic is one shared double formula — the
    * exactStddev posture. NULL semantics follow countByValue: `n` counts
    * NON-NULL rows and an all-NULL group is absent from the output (the
    * oracle filters identically). Scale: ONE count-by-value pass over
    * orders; the median, the DEVIATION distribution and the outlier
    * counts all derive from the distinct-value frame — no second corpus
    * scan, no per-group value buffer anywhere.
    *
    * Fused form (round 10): the round-9 shape chained two full
    * `exactFromCounts` passes (median, then MAD over a |v − med|
    * re-group), each paying a totals aggregate + broadcast and its own
    * window exchange — ~9 serialized stages of pure orchestration at
    * small scale. Here each median is ONE window pass: the group total
    * rides the same status-partitioned sort as the running sum (an
    * unordered window frame — no totals aggregate, no broadcast join
    * back), the MAD cumulates deviations directly with a rows-frame
    * window (duplicate deviations own adjacent index ranges, so the
    * mirrored-value re-group disappears), and the outlier count is a
    * re-aggregation of that same deviation frame. Values and the
    * interpolation arithmetic are unchanged term for term, so the output
    * is bit-identical to the round-9 form and to the oracle. */
  def robustOutliers(spark: SparkSession, dir: String,
                     zCut: Double = 3.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.BoundedPercentile
    // ONE corpus pass (the same ReuseExchange posture as
    // percentiles_approx; pinned in ScaleShapeSpec): both branches below
    // consume this count-by-value collapse, orders of magnitude smaller
    // than the corpus
    val cnt = BoundedPercentile.countByValue(
      Tables.orders(spark, dir).select("o_orderstatus", "o_totalprice"),
      "o_orderstatus", "o_totalprice")

    // one-pass interpolated median over a rows-cumulated frame: the
    // flanking-value picks are combinable max(when) aggregates on the
    // already-status-partitioned window output (no exchange), and the
    // interpolation is Percentile.getPercentile's formula term for term
    // (exactFromCounts' contract)
    def medianOf(cumDf: DataFrame, v: Column, scale: Int, out: String): DataFrame = {
      val pos = lit(0.5) * (col("__n") - 1).cast("double")
      def at(k: Column) = max(when(col("__lo") <= k && k < col("__hi"), v))
      cumDf.groupBy("o_orderstatus")
        .agg(at(floor(pos)).as("__vlo"), at(ceil(pos)).as("__vhi"),
          max(col("__n")).as("__n"))
        .select(col("o_orderstatus"),
          rnd(when(floor(pos) === ceil(pos), col("__vlo"))
            .otherwise((ceil(pos) - pos) * col("__vlo")
              + (pos - floor(pos)) * col("__vhi")),
            scale).as(out),
          col("__n"))
    }
    // the shared cumulated scaffold plus the group total __n as an
    // unordered frame over the SAME partition spec — one sort, two window
    // frames, zero extra exchanges (the idiom exactFromCounts adopted
    // from here in round 10)
    val cum = graft.ops.BoundedPercentile.cumulated(cnt, "o_orderstatus")
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy("o_orderstatus")))
    val med = medianOf(cum, col("__v"), 2, "med")

    // joins on the group key are NULL-SAFE (<=>), exactly like
    // exactFromCounts' internal joins: a plain equi-join would let
    // Catalyst infer IsNotNull(o_orderstatus) into this branch's scan,
    // making the count-by-value subtree differ from the median branch's
    // and defeating ReuseExchange (two corpus scans instead of one)
    def joinOn(l: DataFrame, r: DataFrame): DataFrame =
      l.as("l").join(broadcast(r).as("r"),
          col("l.o_orderstatus") <=> col("r.o_orderstatus"))
        .drop(col("r.o_orderstatus"))
    // deviation cumulation WITHOUT the mirrored-value re-group: a
    // rows-frame running sum over (|v − med|, v) order gives duplicate
    // deviations adjacent index ranges, so position→value picks are
    // unchanged and one whole exchange (the round-9 re-group) disappears;
    // __n arrives on the broadcast med frame
    val byD = Window.partitionBy("o_orderstatus")
      .orderBy(col("__d"), col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dcum = joinOn(cnt, med)
      .withColumn("__d", abs(col("__v") - col("med")))
      .withColumn("__hi", sum(col("__c")).over(byD))
      .withColumn("__lo", col("__hi") - col("__c"))
    val mad = medianOf(dcum, col("__d"), 4, "mad").drop("__n")

    // ANSI guard: a degenerate group (≥50% of rows at the median) has
    // MAD 0 — its rows would divide by zero; the robust rule abstains
    // there (documented MAD limitation), mirrored by the oracle's CASE.
    // The outlier count re-aggregates the deviation frame (its exchange
    // subtree is shared with the MAD branch), with the shared double
    // formula unchanged from round 9
    joinOn(dcum, mad)
      .groupBy("o_orderstatus")
      .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
        sum(when(col("mad") > 0 &&
            abs(lit(0.6745) * (col("__v") - col("med")) / col("mad")) > zCut,
          col("__c")).otherwise(lit(0L))).as("n_outliers"),
        sum(col("__c")).as("n"))
  }

  /** Distribution drift between two time periods — the feature-drift
    * monitor every serving store wants next to freshness/completeness:
    * bucket the CURRENT period's values into the REFERENCE period's
    * equi-depth deciles and compare the bucket masses. The divergence is
    * chi² (Σ (p_cur − p_ref)²/p_ref) plus per-bucket terms — deliberately
    * NOT the customary PSI: PSI's ln(p/q) runs through libm, whose last-ulp
    * rounding differs across engines, while chi² is rational arithmetic on
    * exact counts (the repo's determinism posture). Reference buckets make
    * p_ref ≈ 1/B by construction, so every chi² denominator is healthy.
    *
    * Bucket rule: boundaries are the reference histogram's per-bucket max
    * values (all but the last); a value's bucket is the count of
    * boundaries strictly below it — identical to the histogram's own
    * whole-value assignment for reference rows, and total (cur values past
    * the reference max land in the top bucket).
    *
    * Scale shape (re-measured and REVERSED in round 10): TWO scans, the
    * reference one date-filter-pushed. The round-9 form computed the
    * reference counts by conditionally re-aggregating a shared
    * (period, value) collapse so the corpus would be scanned once — but
    * task-metric input accounting (ScanAuditSpec; PERF.md round-10 delta)
    * showed AQE never physically dedupes that topology: the "shared"
    * exchange materialized twice, so the query paid TWO full scans AND
    * the extra re-aggregation exchange, strictly worse than the form it
    * was defending against (measured ~25% slower at the sf1-equivalent
    * rung). This form scans the reference period with a PUSHED date
    * predicate — at 100 TB on date-partitioned layouts that scan
    * partition-prunes to the reference window, making it strictly
    * cheaper than any one-scan form could be whenever the reference
    * period is a fraction of the table. Output is bit-identical to the
    * round-9 form (same counts, same arithmetic; the oracle is
    * unchanged). NULL values are excluded from both periods (countByValue
    * semantics, mirrored in the oracle). An EMPTY reference period is a
    * caller error (there is nothing to drift against); the boundary slice
    * degrades to a single bucket rather than failing. */
  def distributionDrift(spark: SparkSession, dir: String,
                        splitDate: String = "1998-07-01",
                        buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cut = to_timestamp(lit(s"$splitDate 00:00:00"))
    // scan 1 — reference period only, date predicate pushed to the source
    // (partition-prunable at scale); the count-by-value collapse bounds
    // everything downstream by the distinct-value frame
    val refCnt = graft.ops.BoundedPercentile.countByValue(
      Tables.orders(spark, dir)
        .filter(col("o_orderdate") < cut)
        .select(lit("ALL").as("__g"), col("o_totalprice")),
      "__g", "o_totalprice")
    // scan 2 — (period, value) collapse for the bucket masses
    val cb = Tables.orders(spark, dir)
      .filter(col("o_totalprice").isNotNull)
      .groupBy(
        when(col("o_orderdate") < cut, lit(1L)).otherwise(lit(0L)).as("__is_ref"),
        col("o_totalprice").cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val bnds = equiDepthFromCounts(refCnt, buckets)
      .agg(array_sort(collect_list(struct(col("bucket"), col("hi_value")))).as("a"))
      .select(expr("slice(transform(a, x -> x.hi_value), 1, greatest(size(a) - 1, 0))")
        .as("bnds"))
    val g = cb.crossJoin(broadcast(bnds))
      .select(expr("CAST(size(filter(bnds, x -> __v > x)) AS INT)").as("bucket"),
        col("__is_ref"), col("__c"))
      .groupBy("bucket")
      .agg(sum(when(col("__is_ref") === 1, col("__c")).otherwise(lit(0L))).as("n_ref"),
        sum(when(col("__is_ref") === 0, col("__c")).otherwise(lit(0L))).as("n_cur"))
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pRef = when(sum(col("n_ref")).over(w) > 0,
      col("n_ref").cast("double") / sum(col("n_ref")).over(w).cast("double"))
    val pCur = when(sum(col("n_cur")).over(w) > 0,
      col("n_cur").cast("double") / sum(col("n_cur")).over(w).cast("double"))
    g.select(col("bucket"), col("n_ref"), col("n_cur"),
        rnd(pRef, 6).as("p_ref"), rnd(pCur, 6).as("p_cur"),
        rnd(when(pRef > 0, (pCur - pRef) * (pCur - pRef) / pRef), 6)
          .as("chi2_term"))
  }

  /** observe()-based inline quality counters — the engine-side stand-in for
    * the reference's Prometheus counters (store.py:23-33, cache.py:19-29;
    * SURVEY §7.3b): metrics ride the job's own pass over the data, no second
    * scan. Returns the instrumented frame and the Observation handle; the
    * caller reads `obs.get` after any action. */
  def withObservedCounts(df: DataFrame, name: String = "quality")
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    (df.observe(obs,
      count(lit(1)).as("rows_seen"),
      countIf(col("user_id").isNull).as("null_keys")), obs)
  }

  /** Rule-based row validation (P7; data_quality.py:457-588 + the CHECK
    * constraints of sql/postgresql_schema.sql): violation counts per rule,
    * one row. Rules mirror the reference's validators: age ∈ [18,100],
    * ratios ∈ [0,1], declined ≤ total, delays_30d ≤ delays_90d, amounts ≥ 0. */
  def rowValidation(spark: SparkSession, dir: String): DataFrame = {
    val users = Roles.users(spark, dir)
      .agg(countIf(col("age") < 18 || col("age") > 100).as("age_out_of_range"))
    val tx = Roles.transactions(spark, dir)
      .agg(countIf(col("amount") < 0).as("negative_amounts"))
    val tf = TransactionFeaturesJob(spark, dir).agg(
      countIf(col("weekend_transaction_ratio") < 0 || col("weekend_transaction_ratio") > 1)
        .as("ratio_out_of_range"),
      countIf(col("transactions_declined_30d") > col("total_transactions_30d"))
        .as("declined_gt_total"))
    val rf = RiskFeaturesJob(spark, dir)
      .agg(countIf(col("payment_delays_30d") > col("payment_delays_90d"))
        .as("delays_30d_gt_90d"))
    users.crossJoin(tx).crossJoin(tf).crossJoin(rf)
  }
}
