package perfbench

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.util.Try

/** Open-loop load generation: request i is due at `dues(i)` whatever
  * happened to earlier requests, and its latency runs from that due time.
  * A sender that is still busy when a request falls due starts it late, and
  * the wait counts in that request's latency (no coordinated omission). A
  * sender that was idle and woke late is the generator's own fault; that
  * lateness is reported apart (`Sent.generatorLateNs`).
  */
object OpenLoop {

  trait Clock {
    def now(): Long
    def sleepUntil(t: Long): Unit
  }

  object SystemClock extends Clock {
    def now(): Long = System.nanoTime()
    def sleepUntil(t: Long): Unit = {
      var left = t - System.nanoTime()
      while (left > 0) {
        LockSupport.parkNanos(left)
        left = t - System.nanoTime()
      }
    }
  }

  /** One request's timeline, all in clock nanoseconds. `idle` says the
    * sender picked the request up before it fell due. */
  final case class Sent(index: Int, dueNs: Long, startNs: Long, endNs: Long,
                        idle: Boolean) {
    def latencyNs: Long = endNs - dueNs
    def generatorLateNs: Option[Long] =
      if (idle) Some(math.max(0L, startNs - dueNs)) else None
  }

  /** Send every request on `senders` threads; requests are taken in due
    * order. Returns one (timeline, outcome) per request, in index order. */
  def run[R](dues: IndexedSeq[Long], senders: Int, clock: Clock = SystemClock)
            (send: Int => R): IndexedSeq[(Sent, Try[R])] = {
    require(senders >= 1, "at least one sender")
    val out = new Array[(Sent, Try[R])](dues.size)
    val next = new AtomicInteger(0)
    val threads = (0 until senders).map { k =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < dues.size) {
          val due = dues(i)
          val idle = clock.now() <= due
          clock.sleepUntil(due)
          val start = clock.now()
          val r = Try(send(i))
          out(i) = (Sent(i, due, start, clock.now(), idle), r)
          i = next.getAndIncrement()
        }
      }, s"perfbench-sender-$k")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    out.toIndexedSeq
  }

  /** Seeded arrivals: `n` due times in [t0, t0 + spanNs), sorted, one at a
    * seeded offset in each of `n` equal slots of the window. Every run of a
    * rate carries the same number of arrivals, and they never bunch more
    * than two to a slot: with Poisson arrivals the bursts of miss probes,
    * and the queueing behind them, differ so much from seed to seed that
    * they, not the code, set the latency figures. */
  def dues(rng: java.util.Random, t0: Long, spanNs: Long, n: Int): IndexedSeq[Long] =
    IndexedSeq.tabulate(n)(i => t0 + ((i + rng.nextDouble()) / n * spanNs).toLong)
}
