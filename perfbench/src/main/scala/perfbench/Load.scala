package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import Gen.{Req, Scheduled}

/** One finished operation: when it was due, when a sender picked it up,
  * when it ended, and its response (or the error it raised). */
final case class Done(req: Req, dueNs: Long, startNs: Long, endNs: Long,
    resp: AnyRef, err: Throwable) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def serviceMs: Double = (endNs - startNs) / 1e6
}

/** What a load phase did, plus the generator's own health. `elapsedNs`
  * runs from the phase start to the last completion. */
final case class PhaseResult(done: Vector[Done], sent: Int, notFinished: Int,
    lateNs: Vector[Long], maxInflight: Int, elapsedNs: Long)

object Load {

  /** Open loop: each scheduled operation is handed to a pool of
    * `threads` senders at its due time, whether or not earlier ones
    * have finished; latency counts from the due time, so a stall also
    * charges the operations queued behind it. Waits up to `graceS`
    * after the last due time for stragglers, which then count as
    * not finished. */
  def open(sched: Vector[Scheduled], threads: Int, graceS: Double)
      (exec: Req => AnyRef): PhaseResult = {
    val pool = Executors.newFixedThreadPool(threads)
    val out = new ConcurrentLinkedQueue[Done]()
    val inflight = new AtomicInteger()
    var maxInflight = 0
    val late = Vector.newBuilder[Long]
    val t0 = System.nanoTime() + 20000000L
    try {
      sched.foreach { s =>
        val due = t0 + s.dueNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        late += now - due
        maxInflight = math.max(maxInflight, inflight.incrementAndGet())
        pool.execute { () =>
          val st = System.nanoTime()
          try {
            val r = exec(s.req)
            out.add(Done(s.req, due, st, System.nanoTime(), r, null))
          } catch {
            case e: Throwable => out.add(Done(s.req, due, st, System.nanoTime(), null, e))
          } finally { inflight.decrementAndGet(); () }
        }
      }
      pool.shutdown()
      pool.awaitTermination((graceS * 1000).toLong, TimeUnit.MILLISECONDS)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(30, TimeUnit.SECONDS)
    }
    val done = out.asScala.toVector
    val last = if (done.isEmpty) t0 else done.map(_.endNs).max
    PhaseResult(done, sched.size, sched.size - done.size, late.result(), maxInflight, last - t0)
  }

  /** Closed loop: `clients` callers share one request stream, each
    * taking its next request when the previous one returns, until
    * `seconds` have passed (or, with `seconds` = 0, until the stream
    * ends). Sharing the stream keeps the mix of what completes close to
    * the stream's own mix. */
  def closed(clients: Int, seconds: Double, stream: Iterator[Req])
      (exec: Req => AnyRef): PhaseResult = {
    val out = new ConcurrentLinkedQueue[Done]()
    val sent = new AtomicInteger()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        var req: Req = null
        def take(): Boolean = stream.synchronized {
          req = if (stream.hasNext) stream.next() else null
          req != null
        }
        while ((seconds == 0 || System.nanoTime() < end) && take()) {
          sent.incrementAndGet()
          val st = System.nanoTime()
          try {
            val r = exec(req)
            out.add(Done(req, st, st, System.nanoTime(), r, null))
          } catch {
            case e: Throwable => out.add(Done(req, st, st, System.nanoTime(), null, e))
          }
        }
      }, s"perfbench-closed-$c")
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join(((math.max(seconds, 60) + 60) * 1000).toLong))
    val done = out.asScala.toVector
    val last = if (done.isEmpty) t0 else done.map(_.endNs).max
    PhaseResult(done, sent.get, sent.get - done.size, Vector.empty, clients, last - t0)
  }

  /** Throughput of a closed loop by Little's law: clients / mean time
    * per request, the mean taken per request kind and weighted by the
    * workload's mix (`weights`, by label). Unlike completions per window
    * it loses neither the requests still running when the window closes
    * nor accuracy to which kinds happened to complete. */
  def capacity(p: PhaseResult, weights: Map[String, Double]): Double = {
    val byKind = p.done.filter(_.err == null).groupBy(_.req.label)
      .map { case (k, ds) => k -> mean(ds.map(_.serviceMs / 1e3)) }
    val ws = weights.filter(w => byKind.contains(w._1))
    if (ws.isEmpty) 0.0
    else p.maxInflight / (ws.map { case (k, w) => w * byKind(k) }.sum / ws.values.sum)
  }

  /** Nearest-rank percentile of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** Whether at least ten samples lie beyond the `p` percentile. */
  def tailSupported(n: Int, p: Double): Boolean = n * (1 - p) >= 10 - 1e-9

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
