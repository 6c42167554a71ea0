package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.jobs.{RiskFeaturesJob, TransactionFeaturesJob, UserFeaturesJob}
import graft.serving.{FeatureApi, FeatureStoreService}
import graft.streaming.EventPipeline

/** Online scoring: an open loop of REST reads against `FeatureApi` at a
  * fixed offered rate, with writes arriving beside them as a seeded event
  * stream that goes through `EventPipeline` and invalidates the row tier
  * of every user it touches.
  *
  *   - 70 % of requests are GET /features/user/{id} for all three groups,
  *     30 % are POST /features/batch of `Traffic.batchSize` users;
  *   - keys (and event users) are Zipf over every user present in all
  *     three groups, hottest first in a seeded permutation;
  *   - the row tier is pre-warmed for every key before the timed phase, so
  *     a read misses only after an event invalidated its user; each event's
  *     user is read `ReadLagNs` after the event.
  *
  * The rate is the highest of a sweep at which no request waits for a
  * sender on four cores, which leaves the machine headroom so that a slower
  * spell of a shared machine does not tip the loop into queueing; the batch
  * size is the smallest of the reference's REST benchmark, and
  * the event rate puts the single-read hit ratio in the reference's 93–96 %
  * (perfbench/README.md has the sweep).
  */
object Serve {
  val Scale = "sf0.01"
  val GetShare = 0.7

  /** The offered load. `rate` requests and `eventRate` events per second;
    * `batchSize` users per batch POST. The defaults are the benchmark's;
    * `perfbench.Main` takes `--rate`, `--event-rate` and `--batch-size` to
    * override them for a sweep. */
  final case class Traffic(rate: Double = 15.0, eventRate: Double = 1.0, batchSize: Int = 10)

  /** Generator lateness (an idle sender waking after the due time) above
    * this p99 makes the run invalid: the figures would then measure the
    * load generator, not the service. */
  val MaxGeneratorLateMs = 100.0

  /** How long after its event a user is read: longer than the stream
    * takes to invalidate (freshness p99 measured 0.3–0.8 s). */
  val ReadLagNs = 1000000000L
  /** Warm-up before timing (see `run`): single-event micro-batches,
    * rounds of `senders` concurrent probes, and row-tier hits. */
  val WarmBatches = 4
  val WarmProbeRounds = 10
  val WarmHits = 4000
  /** The API's `cache_hit` is true whenever every requested group is
    * found, probed or not, so a probed read is told by its service time:
    * a row-tier hit takes well under a millisecond, the probe is a job. */
  val ProbeMs = 10.0
  val ZipfExponent = 1.0
  val CheckShare = 0.1     // share of responses compared with the tables
  val Groups = Seq("user", "transaction", "risk")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** Rank → probability sampler over n keys, P(rank k) ∝ 1 / k^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def sample(rng: java.util.Random): Int = at(rng.nextDouble())
    def at(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** n uniforms on [0, 1), one in each of n equal strata, in seeded order:
    * a run's draws then cover the key distribution evenly, so the number
    * of reads and events landing on the hottest keys barely varies by seed
    * (iid draws make the miss count itself the noise). */
  def stratified(rng: java.util.Random, n: Int): IndexedSeq[Double] =
    scala.util.Random.javaRandomToRandom(rng).shuffle((0 until n).toIndexedSeq)
      .map(k => (k + rng.nextDouble()) / n)

  private def rowJson(row: Row): JValue = JObject(
    row.schema.fields.zipWithIndex.toList.map { case (f, i) =>
      f.name -> (if (row.isNullAt(i)) JNull else row.get(i) match {
        case x: Long => JLong(x)
        case x: Int => JInt(BigInt(x))
        case x: Double => JDouble(x)
        case x: java.math.BigDecimal => JDecimal(BigDecimal(x))
        case x: Boolean => JBool(x)
        case x: java.sql.Timestamp => JString(x.toInstant.toString)
        case x => JString(x.toString)
      })
    })

  /** The feature objects a correct response carries for `uid`, rendered
    * and re-parsed the way a client sees them. */
  private def expected(truth: Map[(String, Long), Row], uid: Long): JValue =
    parse(compact(render(JObject(Groups.toList.map(g =>
      s"${g}_features" -> truth.get((g, uid)).map(rowJson).getOrElse(JNull))))))

  private def served(resp: JValue): JValue =
    JObject(Groups.toList.map(g => s"${g}_features" -> (resp \ s"${g}_features")))

  final case class Req(get: Boolean, users: IndexedSeq[Long])
  final case class Resp(status: Int, body: String, startNs: Long)

  def run(spark: SparkSession, run: Run, benchDir: String, traffic: Traffic): Unit = {
    val dir = s"$benchDir/data/$Scale"
    val work = Files.createDirectories(java.nio.file.Paths.get(run.outDir, "stream"))
    val service = new FeatureStoreService(spark, dir)
    service.groupCounts
    run.phase("groups")
    val tables: Map[String, DataFrame] = Map(
      "user" -> UserFeaturesJob(spark, dir),
      "transaction" -> TransactionFeaturesJob(spark, dir),
      "risk" -> RiskFeaturesJob(spark, dir))
    val truth: Map[(String, Long), Row] = tables.toSeq.flatMap { case (g, df) =>
      df.collect().toSeq.map(r => (g, r.getAs[Long]("user_id")) -> r)
    }.toMap
    val keys: IndexedSeq[Long] = {
      val ids = Groups.map(g => truth.keySet.filter(_._1 == g).map(_._2)).reduce(_ intersect _)
      scala.util.Random.javaRandomToRandom(new java.util.Random(run.seed))
        .shuffle(ids.toIndexedSeq.sorted)
    }
    val zipf = new Zipf(keys.size, ZipfExponent)
    def prewarm(ids: Seq[Long]): Unit =
      ids.grouped(100).foreach(b => service.getBatch(b, Groups, Instant.now()))
    prewarm(keys)
    run.phase("prewarm")

    val api = new FeatureApi(service, dispatchThreads = Runtime.getRuntime.availableProcessors)
    val port = api.start(0)
    val senders = Runtime.getRuntime.availableProcessors
    val typesQs = Groups.map(g => s"feature_types=$g").mkString("?", "&", "")
    // a plain blocking keep-alive client: one connection per sender thread
    def send(r: Req): Resp = {
      val body = if (r.get) None else Some(compact(render(JObject("requests" ->
        JArray(r.users.toList.map(u => JObject("user_id" -> JLong(u),
          "feature_types" -> JArray(Groups.toList.map(JString(_)))))))))
        .getBytes(StandardCharsets.UTF_8))
      val url = URI.create(
        if (r.get) s"http://localhost:$port/features/user/${r.users.head}$typesQs"
        else s"http://localhost:$port/features/batch").toURL
      val t = System.nanoTime()
      val c = url.openConnection().asInstanceOf[HttpURLConnection]
      body.foreach { b =>
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(b.length)
        val os = c.getOutputStream
        try os.write(b) finally os.close()
      }
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      Resp(status, text, t)
    }

    // the event stream: parse → invalidationSet on the default trigger
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val fresh = new ConcurrentLinkedQueue[(Long, Double)]()  // (event_id, ms)
    var invalidations = 0L
    val query = EventPipeline.parse(input.toDF()).writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        run.span(s"stream-$id", "EventPipeline.invalidationSet") {
          val events = batch.filter("valid").select("event_id", "ts").collect()
          val users = EventPipeline.invalidationSet(batch).select("user_id").distinct()
            .collect().map(_.getLong(0))
          run.span(s"stream-$id", "FeatureStoreService.invalidateUser") {
            users.foreach(service.invalidateUser)
          }
          invalidations += users.length
          val done = Instant.now()
          val doneUs = done.getEpochSecond * 1000000L + done.getNano / 1000
          events.foreach { r =>
            val ts = r.getTimestamp(1)
            val tsUs = ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
            fresh.add((r.getLong(0), (doneUs - tsUs) / 1000.0))
          }
        }
        ()
      }.start()
    var eventId = 0L
    def event(uid: Long, rng: java.util.Random): String = {
      eventId += 1
      val et = EventTypes(rng.nextInt(EventTypes.size))
      val v = rng.nextInt(50000) / 100.0
      s"""{"event_id":$eventId,"ts":"${Instant.now()}","user_id":$uid,""" +
        s""""event_type":"$et","value":$v,"props":"{}"}"""
    }

    // warm-up (untimed), so that timing starts on compiled code: in a fresh
    // JVM the first few dozen probes run up to twice as long as later ones,
    // and row-tier hits keep getting faster for thousands of requests. First
    // single-event micro-batches, then rounds of concurrent probes (each
    // read's first user invalidated just before), then the HTTP hit path at
    // full concurrency; then the fully warm row tier is restored.
    val warmRng = new java.util.Random(run.seed ^ 0x5eed)
    def warmReq(): Req = {
      val get = warmRng.nextDouble() < GetShare
      Req(get, (0 until (if (get) 1 else traffic.batchSize)).map(_ => keys(zipf.sample(warmRng))))
    }
    def burst(rs: IndexedSeq[Req]): Unit =
      OpenLoop.run(rs.map(_ => System.nanoTime()), senders)(i => send(rs(i)))
    val warmEvents = (0 until WarmBatches).map(_ => keys(zipf.sample(warmRng)))
    warmEvents.foreach { u =>
      input.addData(event(u, warmRng))
      query.processAllAvailable()
    }
    run.phase("stream")
    val warmProbes = (0 until WarmProbeRounds).flatMap { _ =>
      val round = (0 until senders).map(_ => warmReq())
      round.foreach(r => service.invalidateUser(r.users.head))
      burst(round)
      round
    }
    run.phase("probes")
    burst((0 until WarmHits).map(_ => warmReq()))
    prewarm((warmEvents ++ warmProbes.flatMap(_.users)).distinct)
    run.phase("warmup")
    fresh.clear(); invalidations = 0L; eventId = 1000000L
    run.metric("cache_mb", Run.cacheMb(spark), "MB")
    val listeners = if (run.traced) Some(new Listeners(spark)) else None
    run.metric("setup_s", run.sinceJvmStartS(), "s")

    // the timed phase: requests and events from the seed alone
    val rng = new java.util.Random(run.seed)
    val t0 = System.nanoTime() + 50000000L
    val tEnd = t0 + run.seconds * 1000000000L
    val reqDues = OpenLoop.dues(rng, t0, tEnd - t0, (traffic.rate * run.seconds).round.toInt)
    val kinds = {  // exactly GetShare of the requests are GETs, in seeded order
      val gets = (GetShare * reqDues.size).round.toInt
      scala.util.Random.javaRandomToRandom(rng).shuffle(reqDues.indices.map(_ < gets))
    }
    val keyDraws = stratified(rng, kinds.map(g => if (g) 1 else traffic.batchSize).sum).iterator
    val drawn = kinds.map(get =>
      Req(get, (0 until (if (get) 1 else traffic.batchSize)).map(_ => keys(zipf.at(keyDraws.next())))))
    val checked = reqDues.indices.map(_ => rng.nextDouble() < CheckShare)
    // events: users from the same Zipf, stratified, and each event's user is
    // the first user of the first request due `ReadLagNs` after it (the
    // scorer called on a user's fresh activity), so every event turns into
    // a miss probe and the probes' key ranks do not vary with the seed
    val evRng = new java.util.Random(run.seed * 31 + 7)
    val evDues = OpenLoop.dues(evRng, t0, tEnd - t0 - ReadLagNs,
      (traffic.eventRate * run.seconds).round.toInt)
    val evUsers = stratified(evRng, evDues.size).map(u => keys(zipf.at(u)))
    val readOf = evDues.map(e => reqDues.indexWhere(_ >= e + ReadLagNs))
      .map(j => if (j < 0) reqDues.size - 1 else j)
    val reqs = readOf.zip(evUsers).foldLeft(drawn) { case (rs, (j, u)) =>
      rs.updated(j, rs(j).copy(users = rs(j).users.updated(0, u)))
    }
    val gc0 = Run.gcMillis()
    val cpu0 = Run.cpuSeconds()
    val wall0 = System.currentTimeMillis()
    val feeder = new Thread(() => {
      evDues.indices.foreach { i =>
        OpenLoop.SystemClock.sleepUntil(evDues(i))
        input.addData(event(evUsers(i), evRng))
      }
    }, "perfbench-events")
    feeder.start()
    val sent = OpenLoop.run(reqDues, senders) { i =>
      run.span(s"req-$i", if (reqs(i).get) "GET /features/user" else "POST /features/batch")(send(reqs(i)))
    }
    feeder.join()
    val streamOk = Try(query.processAllAvailable()).isSuccess && query.isActive
    val wall1 = System.currentTimeMillis()
    run.phase("timed")
    val gcMs = Run.gcMillis() - gc0
    val cpuS = Run.cpuSeconds() - cpu0
    query.stop()
    api.stop()

    // outcomes: status, body shape and, for a seeded sample, the values
    val getLat, getHit, getMiss, probed, serviceMs, httpMs, batchLat = Seq.newBuilder[Double]
    var hits, gets, probedBatches = 0
    val perRequest = Seq.newBuilder[JValue]
    sent.foreach { case (s, outcome) =>
      val r = reqs(s.index)
      val ok = outcome.toOption.filter(_.status == 200).flatMap(x => Try(parse(x.body)).toOption)
      val sane = ok.exists { j =>
        val items = if (r.get) List(j) else (j \ "responses") match {
          case JArray(xs) => xs
          case _ => Nil
        }
        items.size == r.users.size && (!checked(s.index) ||
          items.zip(r.users).forall { case (it, u) =>
            (it \ "user_id") == JInt(u) && served(it) == expected(truth, u) })
      }
      run.op(sane, s"request ${s.index} (${if (r.get) "GET" else "batch"} " +
        s"${r.users.take(3).mkString(",")}): ${outcome.map(x => s"${x.status} ${x.body.take(200)}")}")
      val ms = s.latencyNs / 1e6
      ok.foreach { j =>
        val JDouble(svc) = j \ (if (r.get) "response_time_ms" else "total_response_time_ms")
        perRequest += JArray(List(JString(if (r.get) "get" else "batch"),
          JDouble((s.dueNs - t0) / 1e6), JDouble(ms), JDouble(svc), JBool(s.idle)))
        if (svc >= ProbeMs) probed += ms
        if (r.get) {
          gets += 1
          getLat += ms
          serviceMs += svc
          httpMs += (s.endNs - s.startNs) / 1e6 - svc
          if (svc < ProbeMs) { hits += 1; getHit += ms } else getMiss += ms
        } else {
          batchLat += ms
          if (svc >= ProbeMs) probedBatches += 1
        }
      }
    }
    val freshMs = fresh.asScala.toSeq
    val seen = freshMs.map(_._1).toSet
    evDues.indices.foreach { i =>
      run.op(streamOk && seen.contains(1000001L + i), s"event ${1000001L + i} never invalidated")
    }
    val (gl, bl, fr) = (getLat.result(), batchLat.result(), freshMs.map(_._2))
    // what a scorer waits for, from the due time: the median single-user
    // GET (at the reference's hit ratio a row-tier hit), and the median
    // request that ran a Spark probe; and the CPU the timed phase cost.
    // Medians, because how many reads of a hot user race the probe its
    // event causes (each runs its own probe) varies with the seed, and those
    // duplicates would set a sum or a mean; they show per layer in
    // serving.get_miss_ms.p99 and spark.jobs_per_miss.
    val (gh, gm, pr) = (getHit.result(), getMiss.result(), probed.result())
    run.op(gl.nonEmpty && pr.nonEmpty, s"${gl.size} GETs, ${pr.size} probes: no median")
    run.metric("warm_ms", Stats.orZero(gl, 50), "ms")
    run.metric("cold_ms", Stats.orZero(pr, 50), "ms")
    run.metric("cpu_s", cpuS, "s")
    val lateMs = sent.flatMap(_._1.generatorLateNs).map(_ / 1e6)
    val lateP99 = Stats.orZero(lateMs, 99)
    run.op(lateP99 <= MaxGeneratorLateMs,
      f"generator lateness p99 $lateP99%.1f ms > $MaxGeneratorLateMs%.0f ms: run invalid")
    // backlog: requests that found their sender still busy at the due time,
    // and the open loop's makespan past the offered window
    val queuedShare = sent.count(!_._1.idle).toDouble / sent.size
    val makespanS = (sent.map(_._1.endNs).max - t0) / 1e9
    val hitRatio = if (gets == 0) 0.0 else hits.toDouble / gets
    run.detail("serve.scale") = JString(Scale)
    run.detail("serve.params") = JObject("request_rate" -> JDouble(traffic.rate),
      "get_share" -> JDouble(GetShare), "batch_size" -> JInt(traffic.batchSize),
      "event_rate" -> JDouble(traffic.eventRate), "zipf_exponent" -> JDouble(ZipfExponent),
      "keys" -> JInt(keys.size), "senders" -> JInt(senders))
    run.detail("serve.requests") = JInt(sent.size)
    run.detail("serve.events") = JInt(evDues.size)
    run.detail("serve.hit_ratio") = JDouble(hitRatio)
    run.detail("serve.queued_share") = JDouble(queuedShare)
    run.detail("serve.makespan_s") = JDouble(makespanS)
    run.detail("serve.fresh_ms") = JArray(fr.map(JDouble(_)).toList)
    run.detail("serve.wall_s") = JDouble((wall1 - wall0) / 1000.0)
    // per request: kind, due (ms after the window opens), latency from the
    // due time, the service's own time, and whether a sender was idle
    run.detail("serve.request_log") = JArray(perRequest.result().toList)

    listeners.foreach { l =>
      Run.sparkLayer(run, l, gcMs, cpuS)
      run.metric("serving.get_ms.p50", Stats.orZero(gl, 50), "ms")
      run.metric("serving.get_ms.p99", Stats.orZero(gl, 99), "ms")
      run.metric("serving.get_ms.mean", if (gl.isEmpty) 0.0 else Stats.mean(gl), "ms")
      run.metric("serving.makespan_s", makespanS, "s")
      run.metric("serving.queued_share", queuedShare, "ratio")
      run.metric("serving.batch_ms.p50", Stats.orZero(bl, 50), "ms")
      run.metric("serving.batch_ms.p99", Stats.orZero(bl, 99), "ms")
      run.metric("serving.get_hit_ms.p50", Stats.orZero(gh, 50), "ms")
      run.metric("serving.get_hit_ms.p99", Stats.orZero(gh, 99), "ms")
      run.metric("serving.get_miss_ms.p50", Stats.orZero(gm, 50), "ms")
      run.metric("serving.get_miss_ms.p99", Stats.orZero(gm, 99), "ms")
      val (sv, ht) = (serviceMs.result(), httpMs.result())
      run.metric("serving.service_ms.p50", Stats.orZero(sv, 50), "ms")
      run.metric("serving.service_ms.p99", Stats.orZero(sv, 99), "ms")
      run.metric("serving.http_ms.p50", Stats.orZero(ht, 50), "ms")
      run.metric("serving.http_ms.p99", Stats.orZero(ht, 99), "ms")
      run.metric("serving.hit_ratio", hitRatio, "ratio")
      run.metric("serving.batch_probe_share",
        if (bl.isEmpty) 0.0 else probedBatches.toDouble / bl.size, "ratio")
      val probeJobs = l.jobSpans.count(j => j._1 >= wall0 && j._3 == "serving")
      run.metric("spark.jobs_per_miss",
        probeJobs.toDouble / math.max(1, gm.size + probedBatches), "ratio")
      val prog = l.progress.asScala.toSeq
      def dur(k: String) = prog.map(_._1.getOrElse(k, 0L).toDouble)
      run.metric("streaming.batch_ms.p50", Stats.orZero(dur("triggerExecution"), 50), "ms")
      run.metric("streaming.batch_ms.p99", Stats.orZero(dur("triggerExecution"), 99), "ms")
      run.metric("streaming.rows_per_batch.p50", Stats.orZero(prog.map(_._2.toDouble), 50), "count")
      run.metric("streaming.query_planning_ms.p50", Stats.orZero(dur("queryPlanning"), 50), "ms")
      run.metric("streaming.add_batch_ms.p50", Stats.orZero(dur("addBatch"), 50), "ms")
      run.metric("streaming.wal_commit_ms.p50", Stats.orZero(dur("walCommit"), 50), "ms")
      run.metric("streaming.invalidations", invalidations.toDouble, "count")
      run.metric("streaming.fresh_ms.p50", Stats.orZero(fr, 50), "ms")
      run.metric("streaming.fresh_ms.p99", Stats.orZero(fr, 99), "ms")
      run.metric("bench.generator_late_ms.p99", lateP99, "ms")
      l.stop()
    }
    run.detail("bench.generator_late_ms.p99") = JDouble(lateP99)
  }
}
