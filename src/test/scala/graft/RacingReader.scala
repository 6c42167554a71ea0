package graft

/** A reader thread racing a writer: it loops `read` and records a failure
  * the first time a result differs from `expect` or a read throws.
  *
  * `race` gates every writer step on the reader's progress: before each step,
  * and once after the last, it waits until the reader completes a read. At
  * least one read thus finishes between any two steps, whatever the
  * machine's relative reader and writer speed. A reader that completes no
  * read within `timeoutMs` fails the test loud.
  */
final class RacingReader(read: () => Long, expect: Long,
                         timeoutMs: Long = 120000L) {
  @volatile private var stop = false
  @volatile var failure: Option[String] = None
  private var done = 0 // guarded by this

  private val thread = new Thread(() => {
    try {
      while (!stop) {
        val n = read()
        if (n != expect) {
          failure = Some(s"racing reader saw $n rows, expected $expect")
          stop = true
        }
        synchronized { done += 1; notifyAll() }
      }
    } catch {
      case e: Throwable =>
        failure = Some(s"racing reader threw: ${e.getMessage}")
    } finally {
      stop = true
      synchronized(notifyAll())
    }
  })

  def reads: Int = synchronized(done)

  /** Block until a read completes after this call, or the reader has
    * stopped (its failure is then the test's verdict). */
  private def awaitRead(): Unit = synchronized {
    val since = done
    val deadline = System.currentTimeMillis() + timeoutMs
    while (done <= since && !stop) {
      val left = deadline - System.currentTimeMillis()
      if (left <= 0)
        throw new AssertionError(
          s"racing reader completed no read within $timeoutMs ms " +
            s"(after $done reads)")
      wait(left)
    }
  }

  /** Run `steps` writer steps against the reader, then stop it. */
  def race(steps: Int)(step: Int => Unit): Unit = {
    thread.start()
    try {
      (0 until steps).foreach { i => awaitRead(); step(i) }
      awaitRead()
    } finally {
      stop = true
      thread.join(30000)
    }
  }
}
