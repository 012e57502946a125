package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded inputs of the benchmark: the base corpus, the request
  * schedules and the `/_bulk` payloads. Everything here is a pure
  * function of (seed, workload), so a seed always yields byte-identical
  * inputs; the program under test only ever sees what these produce.
  */
object Gen {

  /** 2024-01-01T00:00:00Z: the corpus spans 30 days from here. */
  val BaseMs = 1704067200000L
  val DayMs = 86400000L
  val SpanDays = 30
  val EndMs = BaseMs + SpanDays * DayMs - 1
  /** "All time" window bounds (wider than any stamped doc). */
  val AllFrom = 0L
  val AllTo = 4102444800000L // 2100-01-01

  val EventTypes: Vector[String] = Vector("click", "view", "purchase", "signup", "error")
  val Users = 15000
  val PropKeys = 100
  val BulkDocs = 2000

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream)

  private def doc(r: SplittableRandom, id: Long, tsMs: Long, user: String,
      etype: String): String = {
    val value = r.nextInt(20000)
    val k = r.nextInt(PropKeys)
    s"""{"timestamp":"${java.time.Instant.ofEpochMilli(tsMs)}","event_id":$id,""" +
      s""""event_type":"$etype","user_id":"$user",""" +
      s""""value":"${value / 100}.${"%02d".format(value % 100)}",""" +
      s""""props":"{\\"k\\": $k}"}"""
  }

  /** Base corpus of `docs` events: the testdata `events` table's columns,
    * rendered to NDJSON the way `graft.Bench` renders them, user ids
    * spread over [[Users]] values, timestamps jittered over 30 days.
    * Returns partition `part` of `parts`, so executors can generate in
    * parallel; the union over parts does not depend on `parts`. */
  def corpusLines(seed: Long, docs: Int, part: Int, parts: Int): Iterator[String] = {
    val per = (docs + parts - 1) / parts
    val lo = part.toLong * per
    val hi = math.min(docs.toLong, lo + per)
    Iterator.range(lo.toInt, hi.toInt).map { i =>
      val r = rng(seed, 1000003L * i + 17)
      val ts = BaseMs + r.nextLong(SpanDays * DayMs)
      val user = r.nextInt(Users).toString
      val et = EventTypes(r.nextInt(EventTypes.size))
      doc(r, i.toLong, ts, user, et)
    }
  }

  /** The marker user id carried by every doc of bulk `i`: a keyword no
    * base doc has and no base-data read query selects. */
  def bulkMarker(seed: Long, i: Int): String = s"bulk${math.abs(seed)}x$i"
  /** Event type of bulk docs: outside [[EventTypes]], so the paging
    * queries of `ingest-live` never match them. */
  val BulkEventType = "ingest"

  /** NDJSON `/_bulk` body of bulk `i` (action line + doc line per doc).
    * The docs carry corpus-span timestamps, which the ingest drift clamp
    * re-stamps with the request time, so the body depends on the seed
    * alone. */
  def bulkPayload(seed: Long, i: Int): String = {
    val r = rng(seed, 0x5EEDL + i)
    val sb = new StringBuilder
    var d = 0
    while (d < BulkDocs) {
      sb.append("{\"index\":{}}\n")
      sb.append(doc(r, 1000000000L + i.toLong * BulkDocs + d, BaseMs + r.nextLong(SpanDays * DayMs),
        bulkMarker(seed, i), BulkEventType)).append('\n')
      d += 1
    }
    sb.toString
  }

  // ---- requests ---------------------------------------------------------

  sealed trait Req { def label: String }
  /** One page of one of the fixed paging queries. */
  final case class Page(q: Int, page: Int) extends Req { def label = "page" }
  final case class Needle(user: Int, etype: String, from: Long, to: Long) extends Req {
    def label = "needle"
    def query = s"user_id:$user and event_type:$etype"
  }
  final case class Text(k: Int, from: Long, to: Long) extends Req {
    def label = "text"
    def query = s"props:$k"
  }
  final case class AggCount(from: Long, to: Long) extends Req { def label = "agg_count" }
  final case class AggAvg(from: Long, to: Long) extends Req { def label = "agg_avg" }
  final case class Hist(from: Long, to: Long) extends Req { def label = "histogram" }
  /** One `/_bulk` write of [[bulkPayload]] `i`. */
  final case class Bulk(i: Int) extends Req { def label = "bulk" }

  /** Fixed paging queries (k6 seq-db-paging shape): the query string
    * and sort direction. 8 prefixes fit the 64-entry prefix cache. */
  val PagingQueries: Vector[(String, Boolean)] =
    Vector(("*", false), ("*", true), ("event_type:error", true)) ++
      EventTypes.map(t => (s"event_type:$t", false))
  val PageSize = 100
  val Pages = 50

  /** Search page size of query-mix searches. */
  val SearchSize = 100

  /** Window lengths in days; 0 is all time. */
  private val WindowDays = Vector(1, 3, 7, 0)

  private def window(r: SplittableRandom, days: Int): (Long, Long) =
    if (days == 0) (AllFrom, AllTo)
    else {
      val len = days * DayMs
      val from = BaseMs + r.nextLong(SpanDays * DayMs - len)
      (from, from + len - 1)
    }

  /** Request kinds of one 20-request query-mix block: needle 40 %,
    * text 20 %, count-by 15 %, avg-by 10 %, histogram 15 %. These
    * shares, like the equal shares of the window lengths, are a design
    * choice with no measured traffic behind them: searches, the cheaper
    * requests, are the majority, and every kind and window occurs in
    * every block. */
  private val MixBlock: Vector[String] =
    Vector.fill(8)("needle") ++ Vector.fill(4)("text") ++ Vector.fill(3)("count") ++
      Vector.fill(2)("avg") ++ Vector.fill(3)("hist")

  /** Query-mix requests: every block of 20 holds the same kinds with
    * windows cycling through [[WindowDays]], in a seeded order with
    * seeded keys, so runs differ in keys and order but not in mix. */
  def mixStream(r: SplittableRandom): Iterator[Req] =
    Iterator.continually {
      val slots = MixBlock.zipWithIndex.map { case (k, i) => (k, WindowDays(i % WindowDays.size)) }
      shuffle(r, slots).map { case (kind, days) =>
        val (from, to) = window(r, days)
        kind match {
          case "needle" => Needle(r.nextInt(Users), EventTypes(r.nextInt(EventTypes.size)), from, to)
          case "text"   => Text(r.nextInt(PropKeys), from, to)
          case "count"  => AggCount(from, to)
          case "avg"    => AggAvg(from, to)
          case _        => Hist(from, to)
        }
      }
    }.flatten

  private def shuffle[T](r: SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  def pageStream(r: SplittableRandom): Iterator[Req] =
    Iterator.continually(Page(r.nextInt(PagingQueries.size), r.nextInt(Pages)))

  /** Base-data paging reads of `ingest-live`: the `event_type:T`
    * queries only, which no bulk doc matches. */
  def liveStream(r: SplittableRandom): Iterator[Req] =
    Iterator.continually(Page(2 + r.nextInt(PagingQueries.size - 2), r.nextInt(Pages)))

  /** `ingest-live` schedule: reads at `rate` plus one bulk every
    * `bulkEveryS` seconds starting at 1 s, merged in due order. */
  def liveSchedule(seed: Long, rate: Double, seconds: Double, bulkEveryS: Double): Vector[Scheduled] = {
    val reads = openLoop(seed, 0x11FEL, rate, seconds, liveStream)
    val bulks = Iterator.iterate(1.0)(_ + bulkEveryS).takeWhile(_ < seconds).zipWithIndex
      .map { case (t, i) => Scheduled((t * 1e9).toLong, Bulk(i)) }.toVector
    (reads ++ bulks).sortBy(_.dueNs)
  }

  /** An operation due at `dueNs` nanoseconds into its phase. */
  final case class Scheduled(dueNs: Long, req: Req)

  /** An open-loop schedule at a constant arrival rate (one request every
    * 1/`rate` s, the k6 constant-arrival-rate shape) over `seconds`, so
    * every run offers the same load; the seed picks the requests. */
  def openLoop(seed: Long, stream: Long, rate: Double, seconds: Double,
      reqs: SplittableRandom => Iterator[Req]): Vector[Scheduled] = {
    val it = reqs(rng(seed, stream))
    val n = math.floor(rate * seconds - 1e-9).toInt + 1
    Vector.tabulate(n)(i => Scheduled((i / rate * 1e9).toLong, it.next()))
  }

  /** Request stream of the closed-loop capacity phase. */
  def closedStream(seed: Long, reqs: SplittableRandom => Iterator[Req]): Iterator[Req] =
    reqs(rng(seed, 0xC105EDL))

  /** Canonical text of a schedule, one request per line. */
  def render(s: Seq[Scheduled]): Array[Byte] =
    s.map(x => s"${x.dueNs} ${x.req}").mkString("\n").getBytes(UTF_8)
}
