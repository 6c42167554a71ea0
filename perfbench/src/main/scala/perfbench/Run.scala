package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._

/** What one run accumulates: operation counts, named metrics and the
  * detail record written next to the result. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
                val traced: Boolean, val dataDir: String, val outDir: String) {
  val t0: Long = System.nanoTime()
  val spans: Option[Spans] = if (traced) Some(new Spans(t0)) else None
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, JValue]
  val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Count one operation; a failure is logged and kept, never skipped. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      val msg = what
      if (failures.size < 50) failures += msg
      System.err.println(s"[perfbench] FAILED: $msg")
    }
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Wrap a call into an engine module in a span (traced runs only). */
  def span[A](trace: String, name: String)(f: => A): A =
    spans match {
      case Some(s) => s(trace, name)(f)
      case None    => f
    }

  /** Record how far the run has got (seconds since JVM start), so the
    * detail splits set-up time by step. */
  def phase(name: String): Unit = {
    val t = sinceJvmStartS()
    phases(name) = t
    System.err.println(f"[perfbench] $name%s at $t%.2f s")
  }

  /** Seconds from JVM start to now: the set-up time when called at the
    * start of the timed phase. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

object Run {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU seconds the whole process (all threads, JIT and GC included) has
    * used. Unlike wall time it does not grow when other tenants of the
    * machine take the cores. */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Block-manager memory held by persisted RDDs/DataFrames, in MB. */
  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  /** The fixed CPU probe Bench calls `calib` (pure codegen arithmetic over
    * spark.range, no I/O, no shuffle), at a size that costs about a second
    * on four cores. It moves only when the machine does. */
  def calibSeconds(spark: SparkSession): Double = {
    val t = System.nanoTime()
    spark.range(200000000L).selectExpr("sum(id % 1000 * (id % 7))").collect()
    (System.nanoTime() - t) / 1e9
  }

  /** The per-layer metrics every traced run reports. */
  def sparkLayer(run: Run, l: Listeners, gcMs: Long, cpuS: Double): Unit = {
    l.quiesce()
    run.metric("spark.jobs", l.jobs.get.toDouble, "count")
    run.metric("spark.stages", l.stages.get.toDouble, "count")
    run.metric("spark.tasks", l.tasks.get.toDouble, "count")
    run.metric("spark.shuffle_mb", l.shuffleBytes.get / 1048576.0, "MB")
    run.metric("spark.spill_mb", l.spillBytes.get / 1048576.0, "MB")
    run.metric("spark.input_records", l.inputRecords.get.toDouble, "count")
    run.metric("jvm.gc_ms", gcMs.toDouble, "ms")
    run.metric("jvm.cpu_s", cpuS, "s")
    run.detail("spark.jobs_by_module") = JObject(l.jobSpans.groupBy(_._3)
      .map { case (m, js) => m -> (JInt(js.size): JValue) }.toList)
  }
}
