package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sinks.MergeByKey
import graft.streaming.VelocityFeatures
import graft.streaming.VelocityFeatures.{TxnEvent, VelocityRow}

/** ST9 at the RECOVERY level (VERDICT r13 next #7): this pins what
  * happens when the velocity query DIES mid-batch — the sink already
  * wrote, the checkpoint never committed — and a new query restarts from
  * the same checkpoint, for BOTH state backends. The contracts:
  *
  *   - the failed batch is redelivered with the SAME batch id and the
  *     SAME rows: the state store recovers its PRE-batch version, so the
  *     retry's features are not computed off double-applied state (a
  *     state-leak would double-count the crashed batch's events inside
  *     the retry's window aggregates);
  *   - therefore a batchId-deduping downstream ends exactly equal to a
  *     never-crashed run (exactly-once), and
  *   - even a dedupe-free downstream that merges by key
  *     (EventPipeline.applyPointUpdates' discipline — MergeByKey on the
  *     feature key) converges to the same table, because the duplicate
  *     delivery carries identical rows (at-least-once + idempotent sink).
  */
class StreamRecoverySpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val batchA = Seq(
    TxnEvent(1L, ts("2024-01-01 10:00:00"), 100.0, 1, success = true),
    TxnEvent(1L, ts("2024-01-01 10:03:00"), 50.0, 2, success = false),
    TxnEvent(2L, ts("2024-01-01 10:10:00"), 75.0, 3, success = true))
  private val batchB = Seq(
    TxnEvent(1L, ts("2024-01-01 10:04:00"), 25.0, 1, success = true),
    TxnEvent(2L, ts("2024-01-01 10:12:00"), 10.0, 3, success = true))

  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The never-crashed control: same batches, same cadence. */
  private def cleanRun(provider: Option[String]): Set[VelocityRow] = {
    val s = spark.newSession()
    provider.foreach(p =>
      s.conf.set("spark.sql.streaming.stateStore.providerClass", p))
    import s.implicits._
    val input = MemoryStream[TxnEvent](s)
    val name = s"recov_clean_${System.nanoTime()}"
    val q = VelocityFeatures.stream(input.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    Seq(batchA, batchB).foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    s.table(name).as[VelocityRow].collect().toSet
  }

  private def crashRecoverRun(provider: Option[String]): Unit = {
    val s = spark.newSession()
    provider.foreach(p =>
      s.conf.set("spark.sql.streaming.stateStore.providerClass", p))
    import s.implicits._
    val ckpt = Files.createTempDirectory("graft-recover").toString
    val input = MemoryStream[TxnEvent](s)
    val deliveries =
      scala.collection.mutable.ArrayBuffer[(Long, Set[VelocityRow])]()
    // the crash keys on CONTENT (the batch carrying batchB's sentinel
    // event), not a hard-coded batch id — stateful queries may run
    // no-data batches, so ids are an engine detail
    val sentinel = ts("2024-01-01 10:04:00")
    @volatile var crashArmed = false
    def start() =
      VelocityFeatures.stream(input.toDS()).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (b: Dataset[VelocityRow], id: Long) =>
          val rows = b.collect().toSet
          deliveries.synchronized { deliveries += ((id, rows)) }
          if (crashArmed && rows.exists(_.as_of == sentinel)) {
            crashArmed = false
            throw new RuntimeException(
              "simulated crash AFTER the sink write, BEFORE the checkpoint commit")
          }
        }
        .start()

    // batch A commits clean; batch B's sink writes, then the query dies
    val q1 = start()
    input.addData(batchA: _*)
    q1.processAllAvailable()
    crashArmed = true
    input.addData(batchB: _*)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(e.getMessage.contains("simulated crash"), e.getMessage)

    // restart from the SAME checkpoint: the uncommitted batch must retry
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val byOrder = deliveries.synchronized(deliveries.toList)
    val sentinelDeliveries = byOrder.filter(_._2.exists(_.as_of == sentinel))
    assert(sentinelDeliveries.size == 2,
      s"expected the crashed batch delivered exactly twice (crash + retry); " +
        s"saw ${sentinelDeliveries.size} of ids ${byOrder.map(_._1)}")
    assert(sentinelDeliveries(0)._1 == sentinelDeliveries(1)._1,
      s"the retry must reuse the crashed batch's id; saw " +
        s"${sentinelDeliveries.map(_._1)}")
    val (crashRows, retryRows) = (sentinelDeliveries(0)._2, sentinelDeliveries(1)._2)
    assert(retryRows == crashRows,
      "the retried batch emitted different rows than the crashed attempt — " +
        "the state store did not recover its pre-batch version (features " +
        "computed off double-applied state)")

    // exactly-once downstream: first delivery per batch id
    val dedup = byOrder.groupBy(_._1).map { case (_, ds) => ds.head._2 }
      .reduce(_ ++ _)
    val clean = cleanRun(provider)
    assert(dedup == clean,
      "batchId-deduped downstream diverges from the never-crashed run")

    // at-least-once + key-idempotent merge downstream (the
    // applyPointUpdates discipline): applying EVERY delivery, duplicate
    // included, through MergeByKey converges to the same table
    def toDf(rows: Set[VelocityRow]): DataFrame = rows.toSeq.toDS().toDF()
    val merged = byOrder.map(d => toDf(d._2))
      .foldLeft(toDf(Set.empty[VelocityRow]))(
        (cur, b) => MergeByKey.merge(cur, b, Seq("user_id", "as_of")))
    assert(merged.as[VelocityRow].collect().toSet == clean,
      "key-merged downstream diverges from the never-crashed run after " +
        "the duplicate delivery")
  }

  test("velocity crash-restart is exactly-once downstream (HDFS state backend)") {
    crashRecoverRun(None)
  }

  test("velocity crash-restart is exactly-once downstream (RocksDB state backend)") {
    crashRecoverRun(Some(Rocks))
  }
}
