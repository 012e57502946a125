package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession

import graft.server.grpc.SeqProxyProto._

/** Expected answers, computed outside the timed window and without
  * seq-ql or `SeqEngine`: one plain Spark SQL read of the sink's parquet
  * files, then a direct evaluation of each request over those rows. */
final class Oracle(spark: SparkSession, sinkDir: String) {
  import Gen._
  import Oracle.{digest, Row}

  private def tokens(s: String): Set[String] =
    if (s == null) Set.empty
    else "[A-Za-z0-9_]+".r.findAllIn(s).map(_.toLowerCase(java.util.Locale.ROOT)).toSet

  /** Base-corpus rows (bulk docs carry [[Gen.BulkEventType]] and no
    * base-data request selects them). */
  val rows: Array[Row] = spark.sql(
      s"SELECT mid, rid, _raw, event_type, user_id, value, props FROM parquet.`$sinkDir`")
    .collect()
    .map(r => Row(r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
      r.getString(4), r.getString(5), tokens(r.getString(6))))
    .filter(r => EventTypes.contains(r.etype))

  private val descOrder: Ordering[Row] =
    Ordering.by[Row, (Long, Long)](r => (r.mid, r.rid)).reverse
  private val ascOrder: Ordering[Row] = Ordering.by[Row, (Long, Long)](r => (r.mid, r.rid))

  private def digestRows(rs: Seq[Row]): Long = digest(rs.map(r => (r.mid, r.raw.getBytes(UTF_8))))

  private def inWindow(r: Row, from: Long, to: Long) = r.mid >= from && r.mid <= to

  // top Pages*PageSize matches of every paging query, computed once
  private lazy val pagingPrefixes: Vector[Array[Row]] = PagingQueries.map { case (q, asc) =>
    val m = if (q == "*") rows else rows.filter(r => s"event_type:${r.etype}" == q)
    m.sorted(if (asc) ascOrder else descOrder).take(Pages * PageSize)
  }

  private lazy val pageDigests: Vector[Vector[Long]] = pagingPrefixes.map { pre =>
    Vector.tabulate(Pages)(p => digestRows(pre.slice(p * PageSize, (p + 1) * PageSize).toSeq))
  }
  def expectedPage(p: Page): Long = pageDigests(p.q)(p.page)

  def expectedSearch(req: Req): Long = {
    val m = req match {
      case n: Needle => rows.filter(r => r.user == n.user.toString && r.etype == n.etype &&
        inWindow(r, n.from, n.to))
      case t: Text => rows.filter(r => r.tokens.contains(t.k.toString) && inWindow(r, t.from, t.to))
      case other => throw new IllegalArgumentException(s"not a search: $other")
    }
    digestRows(m.sorted(descOrder).take(SearchSize).toSeq)
  }

  /** Count by event_type, ordered (count desc, name asc). */
  def expectedCount(a: AggCount): Seq[(String, Double)] =
    rows.filter(inWindow(_, a.from, a.to)).groupBy(_.etype).toSeq
      .map { case (k, v) => (k, v.length.toDouble) }
      .sortBy { case (k, c) => (-c, k) }

  /** Average `value` by user_id. */
  def expectedAvg(a: AggAvg): Map[String, Double] =
    rows.filter(inWindow(_, a.from, a.to)).groupBy(_.user)
      .map { case (k, v) => k -> v.map(_.value.toDouble).sum / v.length }

  /** Hourly histogram: (bucket start, count) ascending. */
  def expectedHist(h: Hist): Seq[(Long, Long)] =
    rows.filter(inWindow(_, h.from, h.to)).groupBy(r => r.mid - r.mid % 3600000L).toSeq
      .map { case (b, v) => (b, v.length.toLong) }.sortBy(_._1)

  /** Whether a response is the right answer to `req`. */
  def check(req: Req, resp: AnyRef): Boolean = (req, resp) match {
    case (p: Page, d: java.lang.Long) => d.longValue == expectedPage(p)
    case (r @ (_: Needle | _: Text), d: java.lang.Long) => d.longValue == expectedSearch(r)
    case (a: AggCount, g: PGetAggregationResponse) =>
      g.aggs.size == 1 && g.aggs.head.notExists == 0L &&
        g.aggs.head.buckets.map(b => (b.key, b.value)) == expectedCount(a)
    case (a: AggAvg, g: PGetAggregationResponse) =>
      val exp = expectedAvg(a)
      g.aggs.size == 1 && g.aggs.head.notExists == 0L && g.aggs.head.buckets.size == exp.size &&
        g.aggs.head.buckets.forall { b =>
          exp.get(b.key).exists(e => math.abs(e - b.value) <= 1e-9 * math.max(1.0, math.abs(e)))
        }
    case (h: Hist, g: PGetHistogramResponse) =>
      g.hist.buckets.map(b => (b.tsMs, b.docCount)) == expectedHist(h)
    case _ => false
  }
}

object Oracle {
  final case class Row(mid: Long, rid: Long, raw: String, etype: String,
      user: String, value: String, tokens: Set[String])

  /** Digest of a search answer: the ordered (time, document) pairs. */
  def digest(docs: Seq[(Long, Array[Byte])]): Long = {
    var h = 0x5eed1L
    docs.foreach { case (t, b) =>
      h = h * 1000003L ^ t
      h = h * 1000003L ^ MurmurHash3.bytesHash(b).toLong
    }
    h * 31 + docs.size
  }
  def digestOf(resp: PSearchResponse): java.lang.Long =
    digest(resp.docs.map(d => (d.timeMs, d.data)))
}
