package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

/** One finished operation of an open-loop rung. Latency runs from the
  * operation's due time, so a stall also counts against every request
  * queued behind it; `lateMs` is how far behind schedule the generator
  * handed it over; service runs from `startNs`, when a sender took it up. */
final case class Sample(kind: String, dueNs: Long, startNs: Long, endNs: Long, lateMs: Double,
                        ok: Boolean) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
}

final case class Rung(rate: Double, samples: Seq[Sample], backlogMid: Long,
                      backlogEnd: Long, startNs: Long) {
  def latencies: Seq[Double] = samples.map(_.latencyMs)
  def p(q: Double): Double = Stats.pct(latencies, q)
  /** Completions per second with all `threads` senders busy: threads over
    * the mean service time. Unlike completions over the rung's span, it
    * does not hang on which request happens to finish last. */
  def capacity(threads: Int): Double =
    if (samples.isEmpty) 0.0
    else threads / Stats.mean(samples.map(s => (s.endNs - s.startNs) / 1e9))
  /** Backlog grows when more than a quarter second of arrivals, beyond one
    * per sender, is still queued at the end and more than at mid-rung. */
  def backlogGrowing(threads: Int): Boolean =
    backlogEnd > threads + rate / 4 && backlogEnd > backlogMid
}

/** Open-loop sender: operations are due on a fixed schedule at `rate` per
  * second whatever the system's progress, and run on at most `threads`
  * sender threads; an operation whose thread is busy waits in the queue. */
final class OpenLoop(threads: Int) extends AutoCloseable {
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-sender-${n.incrementAndGet()}"); t.setDaemon(true); t
    }
  })

  /** Run `count` operations due at `rate`/s; `op(k)` returns (kind, thunk)
    * and the thunk returns whether the operation succeeded. Waits for all
    * operations to finish (up to `drainTimeoutS`), so no rung leaks load
    * into the next. */
  def rung(rate: Double, count: Int, drainTimeoutS: Double)
          (op: Int => (String, () => Boolean)): Rung = {
    val done = new ConcurrentLinkedQueue[Sample]
    val completed = new AtomicLong
    val intervalNs = 1e9 / rate
    val start = System.nanoTime() + 2000000L
    var backlogMid = 0L
    (0 until count).foreach { k =>
      val due = start + (k * intervalNs).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      if (k == count / 2) backlogMid = k - completed.get()
      val (kind, thunk) = op(k)
      val lateMs = (now - due) / 1e6
      pool.execute(() => {
        val started = System.nanoTime()
        val ok = try thunk() catch { case _: Throwable => false }
        done.add(Sample(kind, due, started, System.nanoTime(), lateMs, ok))
        completed.incrementAndGet()
      })
    }
    val endDue = start + (count * intervalNs).toLong
    var now = System.nanoTime()
    while (now < endDue) { LockSupport.parkNanos(endDue - now); now = System.nanoTime() }
    val backlogEnd = count - completed.get()
    val deadline = System.nanoTime() + (drainTimeoutS * 1e9).toLong
    while (completed.get() < count && System.nanoTime() < deadline) Thread.sleep(2)
    Rung(rate, done.asScala.toSeq, backlogMid, backlogEnd, start)
  }

  def close(): Unit = { pool.shutdownNow(); pool.awaitTermination(30, TimeUnit.SECONDS) }
}
