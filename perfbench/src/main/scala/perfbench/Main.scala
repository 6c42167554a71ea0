package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, pretty, render}

/** Entry point of one benchmark run:
  *
  *   perfbench.Main --workload serve|board --seed N --seconds S --trace 0|1
  *                  --bench-dir perfbench --out DIR
  *                  [--rate R --event-rate E --batch-size B]
  *
  * (the bracketed options override serve's traffic, for a sweep; the
  * benchmark's runs use the defaults of `Serve.Traffic`).
  *
  * Writes DIR/result.json ({correct, attempted, failed, metrics}) and
  * DIR/detail.json (per-operation timings, spans, calib). `--record-golden`
  * instead records the board's golden digests from the current code.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val benchDir = opts.getOrElse("bench-dir", "perfbench")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.core.Sessions.local(cores.toString, "ERROR")
    try {
      if (opts.contains("record-golden")) Board.recordGolden(spark, benchDir)
      else {
        val run = new Run(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
          opts.getOrElse("trace", "0") == "1", s"$benchDir/data", opts("out"))
        run.workload match {
          case "board" => Board.run(spark, run, benchDir)
          case "serve" =>
            val d = Serve.Traffic()
            Serve.run(spark, run, benchDir, Serve.Traffic(
              opts.get("rate").fold(d.rate)(_.toDouble),
              opts.get("event-rate").fold(d.eventRate)(_.toDouble),
              opts.get("batch-size").fold(d.batchSize)(_.toInt)))
          case w       => throw new IllegalArgumentException(s"unknown workload $w")
        }
        val calib = Run.calibSeconds(spark)
        run.detail("bench.calib_s") = JDouble(calib)
        if (run.traced) {
          run.metric("bench.calib_s", calib, "s")
          // traced minus untraced end-to-end figures is the tracing overhead
          Seq("warm_ms", "cold_ms").foreach(m =>
            run.metrics.get(m).foreach(v => run.metric(s"bench.traced_$m", v._1, "ms")))
        }
        write(run)
      }
    } finally spark.stop()
  }

  private def write(run: Run): Unit = {
    val result = JObject(
      "correct" -> JBool(run.failed == 0 && run.attempted > 0),
      "attempted" -> JLong(run.attempted),
      "failed" -> JLong(run.failed),
      "metrics" -> JObject(run.metrics.toList.map { case (k, (v, u)) =>
        k -> JObject("value" -> JDouble(v), "unit" -> JString(u)) }))
    val spans = run.spans.toList.flatMap(_.all).map { s =>
      JObject("id" -> JInt(s.id), "parent" -> JInt(s.parent), "trace" -> JString(s.trace),
        "name" -> JString(s.name), "start_us" -> JLong(s.startNs / 1000),
        "end_us" -> JLong(s.endNs / 1000))
    }
    val detail = JObject(("workload" -> JString(run.workload)) :: ("seed" -> JLong(run.seed)) ::
      ("traced" -> JBool(run.traced)) :: ("failures" -> JArray(run.failures.map(JString(_)).toList)) ::
      ("phases_s" -> JObject(run.phases.toList.map { case (k, v) => k -> (JDouble(v): JValue) })) ::
      ("spans" -> JArray(spans)) :: run.detail.toList)
    Files.createDirectories(Paths.get(run.outDir))
    Files.write(Paths.get(run.outDir, "detail.json"),
      pretty(render(detail)).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(run.outDir, "result.json"),
      compact(render(result)).getBytes(StandardCharsets.UTF_8))
    ()
  }
}
