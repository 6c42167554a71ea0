package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ArithmeticSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    // rank = ceil(p/100 * n): of 10 values p99 is the largest, p50 the 5th
    val ten = Seq(10.0, 1, 9, 2, 8, 3, 7, 4, 6, 5)
    assert(Stats.percentile(ten, 99) == 10.0)
    assert(Stats.percentile(ten, 50) == 5.0)
    assert(Stats.percentile(ten, 91) == 10.0)
    assert(Stats.percentile(ten, 90) == 9.0)
    assert(Stats.mean(ten) == 5.5)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 0))
  }

  /** A clock that only moves when told to: sleeping jumps to the wake-up
    * time, and a request's service time advances it. */
  private final class FakeClock extends OpenLoop.Clock {
    @volatile var t = 0L
    def now(): Long = t
    def sleepUntil(x: Long): Unit = if (x > t) t = x
  }

  test("open-loop latency runs from the due time; a stall makes later requests late") {
    val ms = 1000000L
    val clock = new FakeClock
    val dues = IndexedSeq(0L, 10 * ms, 20 * ms, 500 * ms)
    val service = IndexedSeq(100 * ms, 1 * ms, 1 * ms, 1 * ms)
    val out = OpenLoop.run(dues, senders = 1, clock) { i => clock.t += service(i); i }
    val lat = out.map(_._1.latencyNs / ms)
    // #0 stalls 100 ms; #1 and #2 were due during the stall, start when it
    // ends and carry the wait in their latency; #3 is due after it
    assert(lat == IndexedSeq(100L, 91L, 82L, 1L))
    assert(out.map(_._2.get) == IndexedSeq(0, 1, 2, 3))
    // queueing behind the stall is not the generator's lateness
    assert(out.map(_._1.generatorLateNs) == IndexedSeq(Some(0L), None, None, Some(0L)))
  }

  test("open-loop counts a failed send and keeps going") {
    val clock = new FakeClock
    val out = OpenLoop.run(IndexedSeq(0L, 1L, 2L), senders = 1, clock) { i =>
      if (i == 1) throw new RuntimeException("boom") else i
    }
    assert(out.map(_._2.isSuccess) == IndexedSeq(true, false, true))
  }

  test("seeded arrivals are reproducible, sorted, one per slot of the window") {
    val a = OpenLoop.dues(new java.util.Random(7), 1000L, 5000000000L, 300)
    assert(a == OpenLoop.dues(new java.util.Random(7), 1000L, 5000000000L, 300))
    assert(a != OpenLoop.dues(new java.util.Random(8), 1000L, 5000000000L, 300))
    assert(a.size == 300)
    assert(a.zip(a.tail).forall { case (x, y) => y >= x })
    assert(a.zipWithIndex.forall { case (t, i) => ((t - 1000L) / 5e9 * 300).toInt == i })
  }

  test("call site → module: the first graft frame decides") {
    val longForm =
      """org.apache.spark.sql.Dataset.count(Dataset.scala:3615)
        |graft.sinks.MergeByKey$.overwritePartitions(MergeByKey.scala:88)
        |graft.jobs.DailyBatchRunner$.publish(DailyBatchRunner.scala:90)
        |perfbench.Board$.run(Board.scala:10)""".stripMargin
    assert(Modules.ofCallSite(longForm) == "sinks")
    assert(Modules.ofCallSite(
      "org.apache.spark.rdd.RDD.collect(RDD.scala:1)\nperfbench.Board$.$anonfun$run$3(Board.scala:5)") == "bench")
    assert(Modules.ofCallSite("graft.SparkEntry$.entry(SparkEntry.scala:3)") == "graft")
    assert(Modules.ofCallSite("org.apache.spark.sql.Dataset.count(Dataset.scala:1)") == "spark")
    assert(Modules.ofCallSite("") == "spark")
  }

  test("the pinned board slice: distinct SparkEntry queries in name order, every family") {
    val names = Board.Timed.map(_._1)
    assert(names.size == 41 && names.distinct == names && names == names.sorted)
    assert(names.forall(graft.SparkEntry.queries.contains))
    assert(Board.families == Seq("ext.corpus", "ext.dedup", "ext.multimodal", "ext.similarity",
      "ext.text", "ext.vocab", "jobs.dq", "jobs.features", "jobs.migration",
      "jobs.stream_analog", "jobs.training", "serving.lookups", "sinks"))
  }

  test("interval union") {
    assert(Intervals.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25L)
    assert(Intervals.unionMs(Nil) == 0L)
  }

  test("Zipf sampler favours low ranks and stays in range") {
    val z = new Serve.Zipf(100, 1.0)
    val rng = new java.util.Random(1)
    val xs = (0 until 20000).map(_ => z.sample(rng))
    assert(xs.forall(x => x >= 0 && x < 100))
    val top = xs.count(_ == 0).toDouble / xs.size
    // P(rank 1) = 1 / H_100 ≈ 0.193
    assert(math.abs(top - 0.193) < 0.02, s"top share $top")
  }
}
