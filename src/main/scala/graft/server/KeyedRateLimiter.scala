package graft.server

/** Per-key request throttle (the reference's keyed RateLimiter,
  * network/ratelimiter/ratelimiter.go + docs/en/08-rate-limiting.md):
  * identical search queries — same query string, aggregations and
  * interval — share one budget, as does each fetched message ID, so a
  * buggy dashboard looping one pathological query (or a hot-doc fetch
  * hammer) exhausts only its own key while distinct requests pass.
  *
  * Lazy-refill token buckets instead of the reference's background
  * decrement goroutine: each key holds up to `burst` tokens refilled at
  * `ratePerSec`. One coarse lock guards the whole table (the reference
  * uses a single mutex too — admission is nanoseconds of arithmetic,
  * never worth per-bucket locking, and it makes multi-key acquisition
  * trivially atomic). The map self-bounds by dropping refilled-to-full
  * (idle) entries, amortized to at most one sweep per second so a
  * unique-key flood cannot turn admission into an O(keys) scan per
  * request. ratePerSec <= 0 disables the limiter entirely. The servers'
  * global request bucket is one of these used with a single key.
  */
final class KeyedRateLimiter(ratePerSec: Double, burst: Int, maxKeys: Int = 4096) {

  private final class Bucket {
    var micros: Long = burst * 1000000L // tokens scaled 1e6 to stay integral
    var lastNs: Long = System.nanoTime()
  }

  private val buckets = new java.util.HashMap[String, Bucket]()
  // nanoTime has an arbitrary (possibly negative) origin: seed one
  // sweep-interval in the past so the first over-capacity sweep always
  // fires (0L would read as "swept just now" whenever nanoTime < 1e9)
  private var lastEvictNs = System.nanoTime() - 1000000000L

  /** Take one token from `key`'s bucket; false = throttled. */
  def tryAcquire(key: String): Boolean =
    ratePerSec <= 0 || synchronized { spend(Seq(key)).isEmpty }

  /** Take one token from EVERY key's bucket, atomically: either all
    * spend or none do (a batch rejected on its Nth key must not charge
    * keys 1..N-1 — the client retries the whole batch and innocent keys
    * would drain without ever being served). Returns the first
    * over-budget key, or None when the batch was admitted. */
  def tryAcquireAll(keys: Seq[String]): Option[String] =
    if (ratePerSec <= 0) None else synchronized { spend(keys) }

  // under the table lock: refill every requested bucket, then spend
  // all-or-nothing
  private def spend(keys: Seq[String]): Option[String] = {
    maybeEvict()
    val now = System.nanoTime()
    val bs = keys.map { k =>
      var b = buckets.get(k)
      if (b == null) { b = new Bucket; buckets.put(k, b) }
      val refill = ((now - b.lastNs) / 1e9 * ratePerSec * 1000000L).toLong
      if (refill > 0) {
        b.lastNs = now
        b.micros = math.min(burst * 1000000L, b.micros + refill)
      }
      b
    }
    // distinct: a batch fetching the same id twice spends twice from
    // that bucket, so require 1e6 per occurrence
    val need = keys.zip(bs).groupBy(_._1).view.mapValues(_.size.toLong * 1000000L)
    val short = keys.zip(bs).find { case (k, b) => b.micros < need(k) }
    short match {
      case Some((k, _)) => Some(k)
      case None =>
        bs.foreach(b => b.micros -= 1000000L)
        None
    }
  }

  /** Drop refilled-to-full (idle) buckets — they carry no throttle
    * state a fresh bucket wouldn't. Runs at most once per second and
    * only once the table outgrows `maxKeys`, so a unique-key flood
    * costs one amortized sweep, not a scan per request. */
  private def maybeEvict(): Unit = {
    if (buckets.size() <= maxKeys) return
    val now = System.nanoTime()
    if (now - lastEvictNs < 1000000000L) return
    lastEvictNs = now
    val it = buckets.entrySet().iterator()
    while (it.hasNext) {
      val b = it.next().getValue
      if (b.micros + ((now - b.lastNs) / 1e9 * ratePerSec * 1000000L).toLong >=
        burst * 1000000L) it.remove()
    }
  }
}
