package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Aggregated task-metric counters collected from completed stages — the
  * machine-readable form of "does this query shuffle more than it reads?".
  *
  * Why stage-level listener metrics and not per-operator SQL metrics: SQL
  * metrics sum task-parallel time/rows per OPERATOR (good for locating a hot
  * operator, useless for totals across a query — see PERF.md's measurement
  * gotchas), while stage task metrics give exact totals for shuffle write,
  * shuffle read, and spill — the byte quantities whose GROWTH with data
  * size is what predicts 100 TB behavior.
  *
  * Trust boundary, measured (PERF.md): `shuffle*` and `spill` counters are
  * exact; `inputRecords` is exact (FileScanRDD increments it per row); but
  * `inputBytes` is NOT trustworthy on local-filesystem parquet — the
  * vectorized reader's I/O bypasses the Hadoop FileSystem statistics that
  * feed `inputMetrics.bytesRead`, so a full 150k-row scan reports ~3.5 KB
  * (footer traffic only). Consumers must therefore never ratio shuffle
  * bytes against input BYTES; scale claims compare shuffle bytes across
  * scale factors against input ROW growth instead (PERF.md, "Shuffle-economy
  * audit: bytes moved vs data growth").
  */
final class StageMetrics private (spark: SparkSession) {
  private val inputBytes = new AtomicLong
  private val inputRecords = new AtomicLong
  private val shuffleWriteBytes = new AtomicLong
  private val shuffleWriteRecords = new AtomicLong
  private val shuffleReadBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val jobStarts = new AtomicLong
  private val jobEnds = new AtomicLong

  private val listener = new SparkListener {
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val m = ev.stageInfo.taskMetrics
      if (m != null) {
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        ()
      }
    }
    override def onJobStart(ev: SparkListenerJobStart): Unit = { jobStarts.incrementAndGet(): Unit }
    override def onJobEnd(ev: SparkListenerJobEnd): Unit = { jobEnds.incrementAndGet(): Unit }
  }

  /** Listener events post asynchronously; an action returning does not mean
    * its stage-completed events were processed. The bus delivers in order
    * (stage events precede their job's end), so once every started job's
    * end has been SEEN and the count is stable, all stage metrics for those
    * jobs are in. Bounded wait — never hangs on a lost event. */
  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var lastEnds = -1L
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      val s = jobStarts.get
      val e = jobEnds.get
      if (e == s && e == lastEnds) stable += 1
      else { stable = 0; lastEnds = e }
      Thread.sleep(20)
    }
  }

  /** Run `body`, return the task-metric deltas it caused. Not
    * concurrency-safe across interleaved queries by design — the audit
    * runs queries one at a time on an otherwise-idle session. */
  def measure(body: => Unit): StageMetrics.Delta = {
    quiesce()
    val i0 = inputBytes.get; val ir0 = inputRecords.get
    val w0 = shuffleWriteBytes.get; val wr0 = shuffleWriteRecords.get
    val r0 = shuffleReadBytes.get; val s0 = spillBytes.get
    body
    quiesce()
    StageMetrics.Delta(
      inputBytes = inputBytes.get - i0,
      inputRecords = inputRecords.get - ir0,
      shuffleWriteBytes = shuffleWriteBytes.get - w0,
      shuffleWriteRecords = shuffleWriteRecords.get - wr0,
      shuffleReadBytes = shuffleReadBytes.get - r0,
      spillBytes = spillBytes.get - s0)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object StageMetrics {
  final case class Delta(inputBytes: Long, inputRecords: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         shuffleReadBytes: Long, spillBytes: Long)

  def attach(spark: SparkSession): StageMetrics = {
    val sm = new StageMetrics(spark)
    spark.sparkContext.addSparkListener(sm.listener)
    sm
  }
}
