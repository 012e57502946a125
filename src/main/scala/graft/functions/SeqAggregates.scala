package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable one-pass stats sketches mirroring the reference's
  * SamplesContainer (seq/qpr.go:316-415): min/max/sum/count/notExists
  * plus a bounded sample (cap 8096) from which discrete quantiles are
  * read at `round(q * (n-1))` of the sorted sample (seq/qpr.go:345-364;
  * q=0 → min, q=1 → max), and a KMV distinct-count sketch.
  *
  * This is the at-scale aggregation path: per-partition partial
  * buffers merge associatively (classic partial+final agg), memory is
  * bounded per group regardless of group size.
  */
object SeqAggregates {

  val ReservoirCap = 8096
  val Seed = 73L

  final case class StatsResult(
      min: Double, max: Double, sum: Double, avg: Double,
      total: Long, notExists: Long, quantiles: Array[Double])

  /** Discrete quantile from a sorted sample: index round(q*(n-1)). */
  def quantileOf(sorted: Array[Double], q: Double): Double = {
    if (sorted.isEmpty) return Double.NaN
    if (q <= 0) return sorted.head
    if (q >= 1) return sorted.last
    val idx = math.round(q * (sorted.length - 1)).toInt
    sorted(math.min(idx, sorted.length - 1))
  }

  // ---------------------------------------------------------------------
  // Deterministic distributed sampling: bottom-k by hash priority.
  //
  // The reference's reservoir sample depends on encounter order, and in
  // a distributed run partial-merge order is scheduler-dependent. This
  // sketch assigns every row a priority = mix64(uid) (uid = any stable
  // per-row identity, e.g. hash(mid, rid)) and keeps the k smallest
  // priorities. Keeping "k smallest of a fixed random permutation" is a
  // uniform sample without replacement AND a commutative, associative,
  // fully deterministic merge: any partitioning, any merge order, same
  // sample. This is the right sketch for a 1000-executor aggregation.
  // ---------------------------------------------------------------------

  /** splitmix64 finalizer — well-mixed 64-bit priority from a uid. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L + Seed
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** `used` is the fill pointer — `prios`/`samples` may have spare
    * capacity beyond it (geometric growth keeps inserts O(1) amortized;
    * a serialized buffer round-trips the spare slots harmlessly). */
  final case class DetBuf(
      var min: Double, var max: Double, var sum: Double,
      var total: Long, var notExists: Long, var used: Int,
      var prios: Array[Long], var samples: Array[Double])

  /** The deterministic bottom-k buffer ops behind the engine's
    * [[DetSamplesAggregate]] — one arithmetic, which the external
    * oracles replay. */
  object DetOps {
    def zero: DetBuf =
      DetBuf(Double.PositiveInfinity, Double.NegativeInfinity, 0.0, 0L, 0L, 0,
        Array.empty[Long], Array.empty[Double])

    /** Keep the ReservoirCap smallest (prio, value) pairs of the used
      * prefix; memory stays bounded by 2x cap between compactions. */
    def compact(b: DetBuf): Unit = {
      if (b.used <= ReservoirCap) return
      val idx = (0 until b.used).toArray
        .sortBy(i => (b.prios(i), b.samples(i)))
        .take(ReservoirCap)
      b.prios = idx.map(b.prios)
      b.samples = idx.map(b.samples)
      b.used = ReservoirCap
    }

    private def ensureRoom(b: DetBuf): Unit = {
      if (b.used < b.prios.length) return
      if (b.used >= 2 * ReservoirCap) compact(b)
      val cap = math.max(64, math.min(2 * ReservoirCap, math.max(b.used * 2, b.used + 1)))
      b.prios = java.util.Arrays.copyOf(b.prios, cap)
      b.samples = java.util.Arrays.copyOf(b.samples, cap)
    }

    def addNull(b: DetBuf): Unit = b.notExists += 1

    def add(b: DetBuf, v: Double, uid: Long): Unit = {
      b.total += 1
      b.sum += v
      if (v < b.min) b.min = v
      if (v > b.max) b.max = v
      ensureRoom(b)
      b.prios(b.used) = mix64(uid)
      b.samples(b.used) = v
      b.used += 1
    }

    def merge(a: DetBuf, c: DetBuf): DetBuf = {
      a.total += c.total
      a.notExists += c.notExists
      a.sum += c.sum
      if (c.min < a.min) a.min = c.min
      if (c.max > a.max) a.max = c.max
      a.prios = a.prios.take(a.used) ++ c.prios.take(c.used)
      a.samples = a.samples.take(a.used) ++ c.samples.take(c.used)
      a.used += c.used
      compact(a)
      a
    }

    def finish(b: DetBuf, quantiles: Seq[Double]): StatsResult = {
      compact(b)
      val sorted = b.samples.take(b.used).sorted
      StatsResult(
        min = if (b.total == 0) Double.NaN else b.min,
        max = if (b.total == 0) Double.NaN else b.max,
        sum = b.sum,
        avg = if (b.total == 0) Double.NaN else b.sum / b.total,
        total = b.total,
        notExists = b.notExists,
        quantiles = quantiles.map(q => quantileOf(sorted, q)).toArray)
    }
  }

  /** KMV (k-minimum-values) distinct-count sketch buffer: the k
    * smallest DISTINCT 63-bit hash priorities seen so far. `used` is
    * the fill pointer; the array may hold duplicates/overflow between
    * compactions (sort + dedup + take-k restores the invariant — an
    * idempotent, order-independent rule, so partials merge
    * associatively and any partitioning reproduces the same sketch).
    */
  final case class KmvBuf(var used: Int, var hs: Array[Long])

  /** Deterministic KMV distinct-count estimator: input rows are 63-bit
    * hash priorities (mix64 of a portable value hash, top bit shifted
    * out); the estimate is EXACT below the cap (the sketch then holds
    * every distinct hash) and `(k-1) * (2^63-1) / h_k` at or above it
    * (h_k = k-th smallest distinct hash; standard KMV, bottom-k over a
    * uniform [0, 2^63) domain). All-integer arithmetic — an external
    * engine replaying the same hashes computes the identical estimate,
    * unlike HLL-family sketches whose registers are implementation
    * internals. Memory per group is O(k) regardless of group size —
    * the at-scale path for UNIQUE cardinality over huge buckets.
    */
  final class KmvAgg(k: Int) extends Aggregator[Long, KmvBuf, Long] {
    require(k >= 2, "KMV needs k >= 2")

    override def zero: KmvBuf = KmvBuf(0, Array.empty[Long])

    private def compact(b: KmvBuf): Unit = {
      if (b.used <= k) return
      val distinct = b.hs.take(b.used).sorted.distinct
      b.hs = distinct.take(k)
      b.used = b.hs.length
    }

    private def ensureRoom(b: KmvBuf): Unit = {
      if (b.used < b.hs.length) return
      if (b.used >= 2 * math.max(k, 64)) compact(b)
      if (b.used >= b.hs.length) {
        val cap = math.max(64, math.max(b.used * 2, b.used + 1))
        b.hs = java.util.Arrays.copyOf(b.hs, cap)
      }
    }

    override def reduce(b: KmvBuf, h: Long): KmvBuf = {
      ensureRoom(b)
      b.hs(b.used) = h
      b.used += 1
      b
    }

    override def merge(a: KmvBuf, c: KmvBuf): KmvBuf = {
      a.hs = a.hs.take(a.used) ++ c.hs.take(c.used)
      a.used = a.hs.length
      compact(a)
      a
    }

    override def finish(b: KmvBuf): Long = {
      val s = b.hs.take(b.used).sorted.distinct
      if (s.length < k) s.length.toLong
      else {
        val kth = s(k - 1)
        if (kth <= 0L) s.length.toLong // degenerate: all mass at hash 0
        else ((BigInt(k - 1) * BigInt(Long.MaxValue)) / BigInt(kth)).toLong
      }
    }

    override def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  def kmvAgg(k: Int): KmvAgg = new KmvAgg(k)
}
