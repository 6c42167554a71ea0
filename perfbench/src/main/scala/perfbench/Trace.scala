package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Which engine module a Spark job belongs to: the package of the first
  * `graft.<module>.` frame of the job's call site (the long form Spark
  * records as the stage details). */
object Modules {
  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(.*$""".r

  def ofCallSite(longForm: String): String =
    longForm.linesIterator.collectFirst {
      case Frame(cls) if cls.startsWith("graft.") || cls.startsWith("perfbench.") =>
        cls.split('.').toList match {
          case "perfbench" :: _        => "bench"
          case "graft" :: m :: _ :: _  => m
          case _                       => "graft"
        }
    }.getOrElse("spark")
}

/** A span around one of the benchmark's calls into the engine's modules:
  * name, start, end, parent span and one trace id shared by the spans of a
  * request or query. Spans are kept in memory and written out when the run
  * ends. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      startNs: Long, endNs: Long)

final class Spans(t0: Long) {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  def apply[A](trace: String, name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = current.get
    current.set(id)
    val s = System.nanoTime()
    try f finally {
      done.add(Span(id, parent, trace, name, s - t0, System.nanoTime() - t0))
      current.set(parent)
    }
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** The traced run's listeners: Spark task/job counters, per-module job
  * time, query-planning phases and streaming progress. */
final class Listeners(spark: SparkSession) {
  val jobs, stages, tasks = new AtomicLong
  val shuffleBytes, spillBytes, inputRecords = new AtomicLong
  private val jobEnds = new AtomicLong

  private val ended = new ConcurrentLinkedQueue[(Long, Long, String, String)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()

  private val execModule = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** (start ms, end ms, module) of every finished job. A job run from a
    * Spark-internal thread (a broadcast, say) has no engine frame; it takes
    * the module of its SQL execution's call site. */
  def jobSpans: Seq[(Long, Long, String)] =
    ended.asScala.toSeq.map { case (s, e, m, x) =>
      (s, e, if (m == "spark") Option(execModule.get(x)).getOrElse(m) else m)
    }

  /** Phase durations (ms) of each finished query execution, tagged with
    * whatever `tag` held when it finished. */
  @volatile var tag: String = ""
  val phases = new ConcurrentLinkedQueue[(String, Map[String, Long], Long)]()

  /** StreamingQueryProgress: (durationMs by phase, input rows). */
  val progress = new ConcurrentLinkedQueue[(Map[String, Long], Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val details = ev.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val exec = Option(ev.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).getOrElse(s"job-${ev.jobId}")
      jobStart.put(ev.jobId, (ev.time, Modules.ofCallSite(details), exec))
      ()
    }
    override def onJobEnd(ev: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(ev.jobId)).foreach { case (s, m, r) => ended.add((s, ev.time, m, r)) }
      jobEnds.incrementAndGet()
      ()
    }
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      Option(ev.stageInfo.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
      case e: SparkListenerSQLExecutionStart =>
        execModule.put(e.executionId.toString, Modules.ofCallSite(e.details)); ()
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      phases.add((tag, ph, durationNs / 1000000L))
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.add((p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
      ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Wait until every started job's end event has been delivered (the bus
    * is asynchronous and ordered), bounded so a lost event cannot hang. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var stable = 0
    var last = -1L
    while (stable < 3 && System.nanoTime() < deadline) {
      val e = jobEnds.get
      if (e == jobs.get && e == last) stable += 1 else { stable = 0; last = e }
      Thread.sleep(20)
    }
  }

  /** Wall seconds of the job intervals, grouped by module, and the wall
    * time inside [fromMs, toMs] covered by no job at all. */
  def moduleSecondsAndGap(fromMs: Long, toMs: Long): (Map[String, Double], Double) = {
    val spans = jobSpans.filter(s => s._2 >= fromMs && s._1 <= toMs)
    val byModule = spans.groupBy(_._3).map { case (m, ss) =>
      m -> Intervals.unionMs(ss.map(s => (s._1, s._2))) / 1000.0 }
    val covered = Intervals.unionMs(spans.map(s => (math.max(s._1, fromMs), math.min(s._2, toMs))))
    (byModule, (toMs - fromMs - covered) / 1000.0)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Intervals {
  /** Total length of the union of [start, end] intervals. */
  def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
