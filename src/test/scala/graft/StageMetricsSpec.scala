package graft

import graft.core.StageMetrics

/** Pins the task-metric accounting that the 100 TB shuffle-economy
  * audit (PERF.md) is built on: deltas attribute bytes to the
  * measured body only, shuffling queries show write+read bytes, map-only
  * queries show zero, and input ROWS (the counter the audit's growth
  * yardstick trusts — input BYTES are known-unreliable on local parquet,
  * see StageMetrics' trust-boundary note) are exact.
  */
class StageMetricsSpec extends SparkSpec {

  test("a shuffling query reports shuffle write and read bytes; map-only reports none") {
    val sm = StageMetrics.attach(spark)
    try {
      val shuffled = sm.measure {
        spark.range(0, 100000).selectExpr("id % 97 AS k", "id AS v")
          .groupBy("k").count().count(): Unit
      }
      assert(shuffled.shuffleWriteBytes > 0, s"expected shuffle write, got $shuffled")
      assert(shuffled.shuffleReadBytes > 0, s"expected shuffle read, got $shuffled")
      assert(shuffled.spillBytes == 0, s"tiny shuffle must not spill: $shuffled")

      // noop sink, not count(): a global count() shuffles its per-partition
      // partial counts (O(partitions) bytes), so it is not shuffle-free.
      val mapOnly = sm.measure {
        spark.range(0, 100000).selectExpr("id * 2 AS v").filter("v % 3 = 0")
          .write.format("noop").mode("overwrite").save()
      }
      assert(mapOnly.shuffleWriteBytes == 0, s"map-only query wrote shuffle: $mapOnly")
      assert(mapOnly.shuffleReadBytes == 0, s"map-only query read shuffle: $mapOnly")
    } finally sm.close()
  }

  test("deltas isolate the measured body: same query measures the same bytes twice") {
    val sm = StageMetrics.attach(spark)
    try {
      def run(): StageMetrics.Delta = sm.measure {
        spark.range(0, 50000).selectExpr("id % 31 AS k").groupBy("k").count().count(): Unit
      }
      val first = run()
      val second = run()
      // Counters are cumulative; a broken snapshot would bill the second
      // run the first run's bytes too (2x). Identical work → identical
      // deltas (shuffle bytes for a fixed plan at a fixed sf are exact).
      assert(first.shuffleWriteBytes == second.shuffleWriteBytes,
        s"non-reproducible deltas: $first vs $second")
    } finally sm.close()
  }

  test("a parquet scan reports exact input rows") {
    val sm = StageMetrics.attach(spark)
    try {
      val expected = spark.read.parquet(s"$sf0001/orders.parquet").count()
      // Aggregate a real column: a bare count() can satisfy itself from
      // footer metadata without surfacing per-row reads.
      val d = sm.measure {
        spark.read.parquet(s"$sf0001/orders.parquet")
          .selectExpr("sum(o_totalprice)").count(): Unit
      }
      assert(d.inputRecords == expected,
        s"expected $expected input rows, got $d")
    } finally sm.close()
  }
}
