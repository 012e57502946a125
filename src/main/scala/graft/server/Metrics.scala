package graft.server

import java.util.concurrent.atomic.{DoubleAdder, LongAdder}

/** Minimal Prometheus-style instrumentation: named counters and
  * fixed-bucket histograms rendered in the text exposition format
  * (v0.0.4) that any Prometheus scraper ingests. The reference ships
  * a `metric/` package of client_golang counters/histograms with
  * `namespace_subsystem_name` naming and exponential seconds buckets
  * (metric/metric.go:33, metric/ingestor.go:9-60); this is the
  * from-scratch JVM analogue — LongAdder cells, lock-free on the hot
  * path, no dependencies.
  */
final class Metrics(namespace: String) {

  /** A counter the registry either counts itself (`inc`) or, with a
    * `read` hook, samples at render time from a count kept elsewhere. */
  final class Counter private[Metrics] (val name: String, val help: String,
      read: Option[() => Long] = None) {
    private[Metrics] val cell = new LongAdder
    def inc(): Unit = cell.increment()
    def inc(n: Long): Unit = cell.add(n)
    def value: Long = read.fold(cell.sum())(_())
  }

  /** Cumulative-bucket histogram over seconds, Prometheus semantics:
    * `le`-labelled cumulative counts plus `_sum`/`_count`. */
  final class Histogram private[Metrics] (val name: String, val help: String,
      buckets: Array[Double]) {
    private[Metrics] val cells = Array.fill(buckets.length + 1)(new LongAdder)
    private[Metrics] val sum = new DoubleAdder
    def observe(seconds: Double): Unit = {
      var i = 0
      while (i < buckets.length && seconds > buckets(i)) i += 1
      cells(i).increment()
      sum.add(seconds)
    }
    def observeNanos(nanos: Long): Unit = observe(nanos / 1e9)
    private[Metrics] def render(sb: StringBuilder): Unit = {
      sb.append("# TYPE ").append(name).append(" histogram\n")
      var cum = 0L
      var i = 0
      while (i < buckets.length) {
        cum += cells(i).sum()
        sb.append(name).append("_bucket{le=\"").append(buckets(i))
          .append("\"} ").append(cum).append('\n')
        i += 1
      }
      cum += cells(buckets.length).sum()
      sb.append(name).append("_bucket{le=\"+Inf\"} ").append(cum).append('\n')
      sb.append(name).append("_sum ").append(sum.sum()).append('\n')
      sb.append(name).append("_count ").append(cum).append('\n')
    }
  }

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Counter]
  private val histograms = new java.util.concurrent.ConcurrentHashMap[String, Histogram]

  def counter(name: String, help: String = ""): Counter =
    counters.computeIfAbsent(s"${namespace}_$name", new Counter(_, help))

  /** A counter read from `read` at render time (a count another
    * component already keeps, e.g. Spark's codegen compiles). */
  def sampledCounter(name: String, help: String)(read: => Long): Counter =
    counters.computeIfAbsent(s"${namespace}_$name", new Counter(_, help, Some(() => read)))

  def histogram(name: String, help: String = "",
      buckets: Seq[Double] = Metrics.secondsBuckets): Histogram =
    histograms.computeIfAbsent(s"${namespace}_$name",
      new Histogram(_, help, buckets.toArray))

  /** Text exposition format, deterministic name order. */
  def render: String = {
    val sb = new StringBuilder
    counters.values.stream().sorted((a, b) => a.name.compareTo(b.name))
      .forEach { c =>
        if (c.help.nonEmpty)
          sb.append("# HELP ").append(c.name).append(' ').append(c.help).append('\n')
        sb.append("# TYPE ").append(c.name).append(" counter\n")
        sb.append(c.name).append(' ').append(c.value).append('\n')
      }
    histograms.values.stream().sorted((a, b) => a.name.compareTo(b.name))
      .forEach(_.render(sb))
    sb.toString
  }
}

object Metrics {
  /** 1 ms … ~177 s, factor 3 — the reference's SecondsBuckets
    * (metric/metric.go:33 ExponentialBuckets(0.001, 3, 12)). */
  val secondsBuckets: Seq[Double] =
    Iterator.iterate(0.001)(_ * 3).take(12).toSeq
}
