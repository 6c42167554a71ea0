package graft

import org.apache.spark.sql.functions._

/** ops/BoundedPercentile: the count-by-value decomposition must be
  * bit-identical to Spark's exact `Percentile` aggregate (same interpolation
  * formula, same null skipping) while never materializing a per-group
  * value→count buffer. */
class BoundedPercentileSpec extends SparkSpec {
  import spark.implicits._

  test("matches the exact Percentile aggregate bit for bit on orders") {
    val orders = core.Tables.orders(spark, sf0001)
      .select("o_orderstatus", "o_totalprice")
    val dec = ops.BoundedPercentile.exact(orders, "o_orderstatus",
      "o_totalprice", Seq(0.25 -> "p25", 0.5 -> "p50", 0.95 -> "p95"), 9)
    val ref = orders.groupBy("o_orderstatus").agg(
      ops.Ops.rnd(expr("percentile(o_totalprice, 0.25)"), 9).as("p25"),
      ops.Ops.rnd(expr("percentile(o_totalprice, 0.5)"), 9).as("p50"),
      ops.Ops.rnd(expr("percentile(o_totalprice, 0.95)"), 9).as("p95"),
      count(lit(1)).as("n"))
    assert(dec.exceptAll(ref).isEmpty && ref.exceptAll(dec).isEmpty,
      "decomposed percentiles diverged from the Percentile aggregate")
  }

  test("skips null values; keeps the null GROUP; duplicates interpolate correctly") {
    val df = Seq[(Option[String], Option[Double])](
      (Some("a"), Some(1.0)), (Some("a"), Some(3.0)), (Some("a"), None),
      (Some("b"), Some(5.0)),
      (Some("c"), Some(2.0)), (Some("c"), Some(2.0)), (Some("c"), Some(2.0)),
      (Some("c"), Some(4.0)),
      (None, Some(7.0)), (None, Some(9.0))) // the Percentile aggregate
      .toDF("g", "v")                       // emits a row for a null group
    val out = ops.BoundedPercentile.exact(df, "g", "v", Seq(0.5 -> "p50"), 6)
      .collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>") ->
        (r.getDouble(1), r.getLong(2))).toMap
    assert(out("a") == (2.0, 2L))       // null value skipped: median of {1,3}
    assert(out("b") == (5.0, 1L))       // single value
    assert(out("c") == (2.0, 4L))       // pos 1.5 falls inside the 2.0 run
    assert(out("<null>") == (8.0, 2L))  // null group survives the totals join
  }

  test("contract pin: a group whose values are ALL null is dropped (delta vs Percentile)") {
    val df = Seq[(Option[String], Option[Double])](
      (Some("a"), Some(1.0)), (Some("a"), Some(3.0)),
      (Some("z"), None), (Some("z"), None)) // z never reaches count-by-value
      .toDF("g", "v")
    val out = ops.BoundedPercentile.exact(df, "g", "v", Seq(0.5 -> "p50"), 6)
      .collect().map(_.getString(0)).toSet
    // Spark's Percentile would emit (z, NULL); the decomposition drops z —
    // the documented contract delta (see the scaladoc). A caller who needs
    // all-null groups to survive left-joins from a distinct-groups frame.
    assert(out == Set("a"), s"all-null group must drop per contract, got $out")
  }

  test("weightExpand reproduces every count exactly across all three chunk levels") {
    // chunk=3 → level boundaries at 3 and 9: counts 1..30 cover sub-chunk,
    // chunk-straddling, and multi-chunk² paths (and 0 must vanish)
    val cnt = ((0L to 30L).map(c => ("g" + (c % 4), c.toDouble, c)))
      .toDF("grp", "__v", "__c")
    val out = graft.ops.BoundedPercentile
      .weightExpand(cnt, Seq("grp"), "__v", "__c", out = "v", chunk = 3)
      .groupBy("grp", "v").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    (1L to 30L).foreach { c =>
      assert(out(("g" + (c % 4), c.toDouble)) == c, s"count $c must expand to $c rows")
    }
    assert(!out.contains(("g0", 0.0)), "zero-count values must not appear")
    // arrays stay bounded: the widest generator output at chunk=3 is 3
    // (pinned implicitly — a 30-element array_repeat would need chunk>=30)
  }

  test("plan carries no per-group value buffer: no exact Percentile aggregate") {
    val pct = serving.Lookups.percentiles(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    val pa = serving.Lookups.percentilesApprox(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    val qf = ext.TextAnalysis.qualityFilter(ext.TextAnalysis.scoreTable(spark, sf0001))
      .queryExecution.optimizedPlan.toString
    // `percentile(` is the exact aggregate; `percentile_approx(` (bounded
    // sketch, fine at scale) does not match the pattern
    for (p <- Seq(pct, pa, qf))
      assert(!p.contains("percentile("),
        s"exact Percentile aggregate must not appear:\n${p.take(800)}")
  }
}
