package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps sbt test
  * fast; suites must not mutate global state). Built by the same recipe as
  * every runnable main, so the specs pin the production settings. */
object SparkSpec {
  lazy val session: SparkSession = graft.core.Sessions.local("4")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** The messages of the failure `sql` raises, with all its causes. */
  def failureOf(sql: String): String =
    Iterator.iterate[Throwable](intercept[Exception](spark.sql(sql).collect()))(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" <- ")

  /** Count SQLExecutionStart events while `body` runs (see
    * `sqlExecutionStartsDuring`). The shared idiom for "this path runs N
    * Spark jobs" pins (fused serving probe, row-tier hits, TTL re-probes). */
  def sqlExecutionsDuring(body: => Unit): Int = sqlExecutionStartsDuring(body).size

  /** The SQLExecutionStart events posted while `body` runs: drains the async
    * listener bus first (prior work's events keep arriving after their
    * actions return), then polls until the count stops moving. */
  def sqlExecutionStartsDuring(body: => Unit)
      : Seq[org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart] = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    Thread.sleep(1000) // let prior events drain off the async bus
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: SparkListenerSQLExecutionStart => starts.add(e): Unit
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && starts.size != last) {
        last = starts.size; Thread.sleep(200)
      }
      import scala.jdk.CollectionConverters._
      starts.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
