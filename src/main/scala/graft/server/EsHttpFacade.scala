package graft.server

import java.io.InputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{AggFunc, AggRequest, ChunkedAsyncSearcher, DocsTable, SearchRequest, SeqEngine}
import graft.ingest.BulkIngest
import graft.model.SeqMapping

/** Request admission limits (docs/en/08-rate-limiting.md,
  * network/ratelimiter.go, storeapi/grpc_search.go:71-77 analogue):
  * `maxInflight` concurrent requests (0 = unlimited) and a
  * `requestsPerSec` token bucket with `burst` capacity (0 = unlimited).
  * Rejections are HTTP 429 with a JSON error — the shipper/client
  * backs off and retries, the engine never sees overload.
  *
  * The keyed limits mirror the reference's per-key throttles (its
  * `query-rate-limit` flag, default 2 qps): `perQueryRps` buckets
  * IDENTICAL search queries — same query string, aggregations and
  * interval, NOT the time range, so a sliding dashboard window still
  * counts as the same query — enforced on the HTTP /search, /aggregate
  * and /histogram handlers (429) and on every gRPC query RPC
  * (RESOURCE_EXHAUSTED). `perFetchIdRps` buckets direct
  * fetch-by-message-ID calls per id (the hot-doc hammer case) on the
  * gRPC Fetch path — the HTTP facade exposes no fetch-by-id endpoint.
  * 0 disables either.
  */
final case class RateLimits(
    maxInflight: Int = 0,
    requestsPerSec: Double = 0.0,
    burst: Int = 1,
    perQueryRps: Double = 0.0,
    perQueryBurst: Int = 1,
    perFetchIdRps: Double = 0.0,
    perFetchIdBurst: Int = 1)

/** ES-compatible HTTP facade (SURVEY.md §2.1 S2): the endpoints the
  * reference's ingestor serves so logstash/filebeat/file.d can ship to
  * it (proxyapi/http_server.go:61-90):
  *
  *   - `POST /_bulk` — NDJSON ingest (gzip supported,
  *     proxyapi/http_bulk.go:112); action lines are stripped, documents
  *     are stamped/projected/tokenized per the mapping and appended to
  *     the parquet sink.
  *   - `/_ilm/policy*`, `/_index_template*`, `/_ingest*`, `/_nodes*` —
  *     `{}` fakes for Filebeat/Logstash setup probes.
  *   - `GET /` — cluster handshake (HEAD = empty logstash ping);
  *     `GET /_license` — basic license blob.
  *   - `POST /search` — where the reference forwards to its gRPC
  *     gateway, the facade exposes the engine's search as JSON
  *     ({query, from, to, size, offset, asc} → rows of (id, mid, rid,
  *     _raw)) so the whole read path is reachable over HTTP too.
  *
  * The facade is deliberately thin: one process-wide handler delegating
  * to [[BulkIngest]] and [[SeqEngine]]; durability and layout come from
  * the parquet sink, not from the server.
  *
  * @param serving serving mode for low-latency point queries: the docs
  *   table + engine are built once per sink generation (not per
  *   request), compiled request plans are memoized so a repeated query
  *   re-executes a ready physical plan instead of re-parsing /
  *   re-analyzing, and the table is pinned in executor memory. Sink
  *   appends are picked up via a directory signature re-checked at
  *   most once per second — bounded staleness matching the near-real-
  *   time visibility contract ingestion already has.
  */
final class EsHttpFacade(
    spark: SparkSession,
    mapping: SeqMapping,
    sinkDir: String,
    esVersion: String = "8.9.0",
    serving: Boolean = false,
    limits: RateLimits = RateLimits(),
    mappingPath: Option[String] = None) {

  /** Live mapping: when `mappingPath` is set the file is re-read (the
    * serving core folds its signature into the generation probe, the
    * per-call path re-reads on each request — both within the 1 s
    * staleness bound); parse failures keep the constructor mapping. */
  private def currentMapping: SeqMapping =
    if (serving) servingCore.currentMapping
    else mappingPath.fold(mapping) { mp =>
      try SeqMapping.loadYaml(mp) catch { case _: Exception => mapping }
    }

  @volatile private var server: HttpServer = _

  def port: Int = server.getAddress.getPort

  def start(requestedPort: Int = 0): Int = {
    // without this the JDK server Nagle-delays the (headers, body)
    // write pair — a flat ~40 ms on every response, dwarfing a cached
    // point query
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", requestedPort), 0)
    server.createContext("/", new RootHandler)
    // serial by default (ingest bulks are already batched); a pool when
    // an inflight cap is configured — shedding only means something if
    // requests can actually overlap. Parquet appends stay serialized
    // via bulkLock regardless (concurrent appends to one sink path
    // would race in the _temporary staging dir).
    if (limits.maxInflight > 0)
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(limits.maxInflight + 2))
    else server.setExecutor(null)
    server.start()
    port
  }

  private val bulkLock = new Object

  def stop(): Unit = {
    if (server != null) server.stop(0)
    // stop in-flight async chunk jobs with the server — otherwise the
    // worker threads keep running Spark jobs into JVM shutdown
    // (already-persisted partials stay fetchable after a restart)
    if (asyncStarted) asyncSearcher.shutdown()
  }

  /** Docs table over everything ingested so far. The default path
    * probes the sink on every call, so a write that finished before the
    * request is visible, and reuses one resolved (unpinned) relation
    * while the sink generation is unchanged: the listing, schema-merge
    * job and relation resolution are paid once per generation, not per
    * request. The mapping is applied per call, so hot-reload still
    * applies. Every query still scans Parquet. */
  def table: DocsTable =
    if (serving) servingCore.engine.table
    else DocsTable(sinkRelation(), currentMapping)

  // (sink signature, its resolved relation): exactly one per facade
  @volatile private var resolved: (Long, org.apache.spark.sql.DataFrame) = _
  private val resolveLock = new Object

  private def sinkRelation(): org.apache.spark.sql.DataFrame = {
    val sig = SinkGeneration.signature(spark, sinkDir)
    val hit = resolved
    if (hit != null && hit._1 == sig) return hit._2
    resolveLock.synchronized {
      val again = resolved
      if (again != null && again._1 == sig) again._2
      else {
        val df = SinkGeneration.open(spark, sinkDir)
        mTableOpens.inc()
        resolved = (sig, df)
        df
      }
    }
  }

  /** Serving-mode machinery (generation-cached engine, memoized plans,
    * response + page-prefix caches) — shared with [[grpc.GrpcSeqApi]]
    * via [[core]] so proto clients of the same sink get the identical
    * warm path. */
  private lazy val servingCore =
    new ServingCore(spark, mapping, sinkDir, mappingPath)

  /** The serving core, for co-hosting a gRPC API on the same pinned
    * table and plan cache (only meaningful with serving=true). */
  def core: ServingCore = servingCore

  /** Engine for a read request: serving mode reuses the cached one;
    * the default path builds one over [[table]]. */
  private def readEngine(): SeqEngine =
    if (serving) servingCore.engine else new SeqEngine(table)

  /** Async-search state: persisted partial chunks under the sink's
    * `_async` prefix (underscore → invisible to the table reader), so
    * results survive facade restarts exactly like the reference's
    * persisted per-fraction QPRs (fracmanager/async_searcher.go). */
  @volatile private var asyncStarted = false
  private lazy val asyncSearcher = {
    asyncStarted = true
    new ChunkedAsyncSearcher(spark, s"$sinkDir/_async")
  }

  private def body(ex: HttpExchange): String = {
    val raw: InputStream =
      if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .exists(_.equalsIgnoreCase("gzip")))
        new GZIPInputStream(ex.getRequestBody)
      else ex.getRequestBody
    new String(raw.readAllBytes(), StandardCharsets.UTF_8)
  }

  private def reply(ex: HttpExchange, status: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** zap-style log-level handler (docs/en/internal/debug-server.md
    * `/log/level`): GET reports the last level set through this
    * endpoint; PUT/POST with `{"level":"warn"}` (or `level=warn`)
    * switches the Spark log level process-wide, so operators can turn
    * debug logging on against a live server — the reference wires the
    * same handler from go.uber.org/zap. */
  @volatile private var logLevel: String = "error"
  private def handleLogLevel(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod == "GET") reply(ex, 200, s"""{"level":"$logLevel"}""")
    else {
      val b = body(ex)
      val lvl = """"level"\s*:\s*"([a-zA-Z]+)"""".r.findFirstMatchIn(b).map(_.group(1))
        .orElse("""level=([a-zA-Z]+)""".r.findFirstMatchIn(b).map(_.group(1)))
        .map(_.toLowerCase)
      lvl match {
        case Some(l) if Set("all", "trace", "debug", "info", "warn", "error", "fatal", "off")(l) =>
          spark.sparkContext.setLogLevel(l.toUpperCase)
          logLevel = l
          reply(ex, 200, s"""{"level":"$l"}""")
        case _ => reply(ex, 400, """{"error":"unrecognized level"}""")
      }
    }
  }

  // ---- metrics (reference metric/ingestor.go analogue; scraped at
  //      GET /metrics in Prometheus text format) ---------------------
  val metrics = new Metrics("seq_db")
  private val mBulkTotal      = metrics.counter("bulk_total", "bulk requests")
  private val mBulkDocs       = metrics.counter("bulk_docs_total", "documents ingested")
  private val mBulkErrors     = metrics.counter("bulk_errors_total", "failed bulk requests")
  private val mSearchTotal    = metrics.counter("search_total", "search/aggregate/histogram requests")
  private val mSearchErrors   = metrics.counter("search_errors_total", "failed read requests")
  private val mRateLimited    = metrics.counter("rate_limited_total", "429-rejected requests")
  private val mBreakerOpen    = metrics.counter("breaker_open_total", "bulk requests shed by the open circuit")
  private val mTableOpens     = metrics.counter("table_opens_total", "default-mode sink resolutions (one per sink generation)")
  private val mBulkSeconds    = metrics.histogram("bulk_duration_seconds")
  private val mSearchSeconds  = metrics.histogram("search_duration_seconds")

  // ---- admission control -------------------------------------------
  private val inflight = new java.util.concurrent.atomic.AtomicInteger(0)
  // global token bucket: one shared key
  private val requestLimiter = new KeyedRateLimiter(limits.requestsPerSec, limits.burst)

  // keyed per-identical-query throttle (same contract as the gRPC
  // path: key = query + aggs + interval, NOT the time range)
  private val queryLimiter =
    new KeyedRateLimiter(limits.perQueryRps, limits.perQueryBurst)

  // ingest-path circuit breaker (the reference arms one per store
  // shard around bulk sends): a persistently failing sink write —
  // disk full, permissions, lost mount — fails fast with 503 instead
  // of running every bulk request into the same multi-second failure,
  // and a half-open probe re-admits traffic once the sink recovers
  private val bulkBreaker = new CircuitBreaker(
    requestVolumeThreshold = 5, errorThresholdPercentage = 50,
    sleepWindowMs = 5000L)

  /** Admit `key` against the per-query buckets or answer 429. Returns
    * whether the request may proceed. */
  private def admitQueryKey(ex: HttpExchange, key: String): Boolean = {
    if (queryLimiter.tryAcquire(key)) true
    else {
      mRateLimited.inc()
      ex.getResponseHeaders.set("Retry-After", "1")
      reply(ex, 429, """{"error":"query rate limit exceeded"}""")
      false
    }
  }

  private final class RootHandler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = try {
      val path = ex.getRequestURI.getPath
      // admission control applies to the data endpoints; handshake
      // stubs always answer (a throttled shipper must still probe)
      val dataPath = path == "/_bulk" || path == "/search" ||
        path == "/aggregate" || path == "/histogram" || path.startsWith("/async_search")
      if (dataPath) {
        if (limits.maxInflight > 0 && inflight.incrementAndGet() > limits.maxInflight) {
          inflight.decrementAndGet()
          mRateLimited.inc()
          reply(ex, 429, """{"error":"too many inflight requests"}""")
          return
        }
        if (!requestLimiter.tryAcquire("")) {
          if (limits.maxInflight > 0) inflight.decrementAndGet()
          mRateLimited.inc()
          ex.getResponseHeaders.set("Retry-After", "1")
          reply(ex, 429, """{"error":"rate limit exceeded"}""")
          return
        }
        try handleData(ex, path)
        finally { if (limits.maxInflight > 0) inflight.decrementAndGet() }
        return
      }
      if (path.startsWith("/_ilm/policy") || path.startsWith("/_index_template") ||
               path.startsWith("/_ingest") || path.startsWith("/_nodes"))
        reply(ex, 200, "{}")
      else if (path == "/") {
        if (ex.getRequestMethod == "HEAD") { ex.sendResponseHeaders(200, -1); ex.close() }
        else reply(ex, 200,
          s"""{"cluster_name": "graft","version": {"number": "$esVersion"}}""")
      }
      else if (path == "/_license")
        reply(ex, 200,
          """{"license":{"mode":"basic","status":"active","type":"basic"}}""")
      // debug-server surface (docs/en/internal/debug-server.md): the
      // reference exposes liveness/readiness probes and a zap-style
      // log-level handler on its debug port next to /metrics
      else if (path == "/live") reply(ex, 200, """{"status":"ok"}""")
      else if (path == "/readiness") {
        val ready =
          if (serving) servingCore.ready
          else try { new java.io.File(sinkDir).exists } catch { case _: Exception => false }
        if (ready) reply(ex, 200, """{"status":"ready"}""")
        else reply(ex, 503, """{"status":"not ready"}""")
      }
      else if (path == "/log/level") handleLogLevel(ex)
      else if (path == "/metrics") {
        val bytes = metrics.render.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
      else reply(ex, 400, """{"error":"unsupported endpoint"}""")
    } catch {
      case e: Throwable =>
        reply(ex, 500, s"""{"error":${quote(e.getMessage)}}""")
    }

    private def handleData(ex: HttpExchange, path: String): Unit = {
      val isBulk = path == "/_bulk"
      if (isBulk) mBulkTotal.inc() else mSearchTotal.inc()
      val t0 = System.nanoTime()
      // trace-context propagation (reference tracing/http.go:11-14):
      // a caller-supplied debug header rides the request thread into
      // the slow-query log
      TraceContext.set(Option(ex.getRequestHeaders.getFirst(TraceContext.HttpHeader)))
      try {
        if (path == "/_bulk") handleBulk(ex)
        else if (path == "/search") handleSearch(ex)
        else if (path == "/aggregate") handleAggregate(ex)
        else if (path == "/histogram") handleHistogram(ex)
        else if (path == "/async_search/start") handleAsyncStart(ex)
        else if (path == "/async_search/fetch") handleAsyncFetch(ex)
        else if (path == "/async_search/cancel") handleAsyncCancel(ex)
        else reply(ex, 400, """{"error":"unsupported endpoint"}""")
        val tookNs = System.nanoTime() - t0
        (if (isBulk) mBulkSeconds else mSearchSeconds).observeNanos(tookNs)
        TraceContext.logIfSlow(s"http$path", "", tookNs / 1000000L)
      } catch {
        case e: Throwable =>
          (if (isBulk) mBulkErrors else mSearchErrors).inc()
          reply(ex, 500, s"""{"error":${quote(e.getMessage)}}""")
      } finally TraceContext.clear()
    }

    private def handleBulk(ex: HttpExchange): Unit = {
      import spark.implicits._
      val t0 = System.nanoTime()
      val lines = body(ex).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      val df = lines.toDF("value")
      // ES contract: one items entry per bulk action (= per document
      // line). Counted from the request itself, NOT from the surviving
      // ingested rows, so a doc line the projection drops still gets
      // its items slot and counts never diverge from what the shipper
      // sent.
      val actionRe = """^\s*\{\s*"(index|create|update|delete)"\s*:""".r
      val nActions = lines.count(l => actionRe.findFirstIn(l).isEmpty)
      try bulkBreaker.run {
        bulkLock.synchronized {
          BulkIngest.project(df, currentMapping, requestTimeMs = System.currentTimeMillis())
            .write.mode("append").parquet(sinkDir)
        }
      } catch {
        case _: bulkBreaker.CircuitOpenException =>
          mBreakerOpen.inc()
          ex.getResponseHeaders.set("Retry-After", "5")
          reply(ex, 503, """{"error":"ingest circuit open"}""")
          return
      }
      mBulkDocs.inc(nActions)
      val tookMs = (System.nanoTime() - t0) / 1000000
      // stream the repeated item template instead of building an O(n)
      // response string on the heap (the request body is already the
      // unavoidable buffered allocation)
      val head = s"""{"took":$tookMs,"errors":false,"items":["""
        .getBytes(StandardCharsets.UTF_8)
      val item = """{"index":{"status":201}}""".getBytes(StandardCharsets.UTF_8)
      val comma = ",".getBytes(StandardCharsets.UTF_8)
      val tailB = "]}".getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, 0) // chunked
      val out = new java.io.BufferedOutputStream(ex.getResponseBody, 64 * 1024)
      out.write(head)
      var i = 0
      while (i < nActions) {
        if (i > 0) out.write(comma)
        out.write(item)
        i += 1
      }
      out.write(tailB)
      out.flush()
      ex.close()
    }

    private def handleSearch(ex: HttpExchange): Unit = {
      val raw = body(ex)
      val req = parseSearch(raw)
      if (!admitQueryKey(ex, s"search|${req.query}")) return
      def render(page: Array[org.apache.spark.sql.Row]): String = {
        val hits = page.map { r =>
          s"""{"id":${quote(r.getString(0))},"mid":${r.getLong(1)},"rid":${r.getLong(2)},"doc":${quote(r.getString(3))}}"""
        }.mkString(",")
        s"""{"total":${page.length},"hits":[$hits]}"""
      }
      val resp =
        if (serving) servingCore.memo("http|" + raw)(render(servingCore.servingPage(req)))
        else {
          val eng = readEngine()
          render(eng.withIdString(eng.search(req))
            .select(col("id"), col("mid"), col("rid"), col("_raw"))
            .collect())
        }
      reply(ex, 200, resp)
    }

    /** GetAggregation analogue (seq_proxy_api.proto:175-183 shape over
      * HTTP): {query, from, to, func, field, group_by, interval,
      * quantiles} → the aggregation rows as JSON objects. */
    private def handleAggregate(ex: HttpExchange): Unit = {
      val raw = body(ex)
      val req = parseSearch(raw)
      val agg = parseAgg(raw)
      if (!admitQueryKey(ex,
        s"agg|${req.query}|${agg.func}|${agg.field}|${agg.groupBy}|${agg.intervalMs}")) return
      val eng = readEngine()
      // strict A3: a value-consuming agg over a non-numeric field fails
      // the whole request (frac/processor/aggregator.go:150-157)
      agg.func match {
        case AggFunc.Count | AggFunc.Unique => ()
        case _ => eng.requireNumericField(req.query, req.fromMs, req.toMs, agg.field)
      }
      val rows = rowsJson(eng.aggregate(req.query, req.fromMs, req.toMs, agg))
      reply(ex, 200, s"""{"buckets":[$rows]}""")
    }

    /** StartAsyncSearch analogue (seq_proxy_api.proto:77-100):
      * {query, from, to, chunk_ms?, id?} → {"id": "..."}; the search
      * runs in the background, chunk by chunk, partials persisted. */
    private def handleAsyncStart(ex: HttpExchange): Unit = {
      val raw = body(ex)
      val req = parseSearch(raw)
      val id = ("\"id\"\\s*:\\s*\"([A-Za-z0-9_\\-]+)\"").r
        .findFirstMatchIn(raw).map(_.group(1))
        .getOrElse(java.util.UUID.randomUUID().toString)
      val chunkMs = ("\"chunk_ms\"\\s*:\\s*(\\d+)").r
        .findFirstMatchIn(raw).map(_.group(1).toLong).getOrElse(86400000L)
      val eng = readEngine()
      // clamp the requested span to the table's actual time range
      // (matches outside it cannot exist) — the open-range request
      // every client sends ([0, Long.MaxValue]) would otherwise
      // enumerate ~10^14 day chunks in the background pool and hang
      // the search in 'running' forever. Same clamp as the gRPC path.
      val st = eng.status()
      val lo = math.max(req.fromMs, st.oldestStorageTimeMs.getOrElse(req.fromMs))
      val hi = math.min(req.toMs, st.newestStorageTimeMs.getOrElse(req.fromMs))
      val (fromMs, toMs) = if (lo <= hi) (lo, hi) else (req.fromMs, req.fromMs)
      asyncSearcher.startAsync(id, eng, req.query, fromMs, toMs, chunkMs)
      reply(ex, 200, s"""{"id":${quote(id)}}""")
    }

    /** FetchAsyncSearchResult analogue: {id, size?} → status +
      * completed-chunk count + the newest `size` hits of everything
      * persisted so far (a partial answer while running/canceled, the
      * full answer when done). */
    private def handleAsyncFetch(ex: HttpExchange): Unit = {
      val raw = body(ex)
      val id = ("\"id\"\\s*:\\s*\"([A-Za-z0-9_\\-]+)\"").r
        .findFirstMatchIn(raw).map(_.group(1))
        .getOrElse(throw new graft.model.SeqQlError("fetch needs an id"))
      val size = ("\"size\"\\s*:\\s*(\\d+)").r
        .findFirstMatchIn(raw).map(_.group(1).toInt).getOrElse(100)
      val status =
        if (asyncSearcher.isCanceled(id)) "canceled"
        else if (asyncSearcher.isComplete(id)) "done"
        else "running"
      val chunks = asyncSearcher.completedChunks(id)
      val hits = asyncSearcher.fetchPartial(id) match {
        case None => ""
        case Some(df) =>
          val eng = readEngine()
          eng.withIdString(df.orderBy(col("mid").desc, col("rid").desc).limit(size))
            .select(col("id"), col("mid"), col("rid"), col("_raw"))
            .collect()
            .map { r =>
              s"""{"id":${quote(r.getString(0))},"mid":${r.getLong(1)},"rid":${r.getLong(2)},"doc":${quote(r.getString(3))}}"""
            }.mkString(",")
      }
      reply(ex, 200,
        s"""{"id":${quote(id)},"status":${quote(status)},"completed_chunks":$chunks,"hits":[$hits]}""")
    }

    /** CancelAsyncSearch analogue: {id} → whether a running search was
      * canceled (false once complete). Persisted partials stay
      * fetchable after cancellation. */
    private def handleAsyncCancel(ex: HttpExchange): Unit = {
      val id = ("\"id\"\\s*:\\s*\"([A-Za-z0-9_\\-]+)\"").r
        .findFirstMatchIn(body(ex)).map(_.group(1))
        .getOrElse(throw new graft.model.SeqQlError("cancel needs an id"))
      val canceled = asyncSearcher.cancel(id, spark)
      reply(ex, 200, s"""{"id":${quote(id)},"canceled":$canceled}""")
    }

    /** GetHistogram analogue: {query, from, to, interval} → buckets. */
    private def handleHistogram(ex: HttpExchange): Unit = {
      val raw = body(ex)
      val req = parseSearch(raw)
      val intervalMs = ("\"interval\"\\s*:\\s*\"([^\"]+)\"").r
        .findFirstMatchIn(raw).map(m => graft.model.Intervals.parseMs(m.group(1)))
        .orElse(("\"interval\"\\s*:\\s*(\\d+)").r
          .findFirstMatchIn(raw).map(_.group(1).toLong))
        .getOrElse(3600000L)
      if (!admitQueryKey(ex, s"hist|${req.query}|$intervalMs")) return
      val eng = readEngine()
      val rows = rowsJson(eng.histogram(req.query, req.fromMs, req.toMs, intervalMs))
      reply(ex, 200, s"""{"buckets":[$rows]}""")
    }
  }

  /** Render a small result DataFrame as JSON objects, schema-driven —
    * aggregation/histogram responses are bucket-sized (A7 caps), never
    * corpus-sized, so a driver-side collect is the intended shape. */
  private def rowsJson(df: org.apache.spark.sql.DataFrame): String = {
    val fields = df.schema.fields
    df.collect().map { r =>
      fields.indices.map { i =>
        val k = quote(fields(i).name)
        val v =
          if (r.isNullAt(i)) "null"
          else r.get(i) match {
            case s: String => quote(s)
            case d: Double =>
              if (d.isNaN || d.isInfinite) quote(d.toString) else d.toString
            case f: Float =>
              if (f.isNaN || f.isInfinite) quote(f.toString) else f.toString
            case other => other.toString
          }
        s"$k:$v"
      }.mkString("{", ",", "}")
    }.mkString(",")
  }

  /** Flat aggregation-request fields, mirroring the proto names. */
  private def parseAgg(json: String): AggRequest = {
    def str(k: String): Option[String] =
      ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
        .findFirstMatchIn(json).map(m => graft.model.Json.unescape(m.group(1)))
    def num(k: String): Option[Long] =
      ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json).map(_.group(1).toLong)
    val quantiles = ("\"quantiles\"\\s*:\\s*\\[([^\\]]*)\\]").r
      .findFirstMatchIn(json)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq)
    val func = str("func").map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case Some("count") | None => AggFunc.Count
      case Some("unique")       => AggFunc.Unique
      case Some("sum")          => AggFunc.Sum
      case Some("min")          => AggFunc.Min
      case Some("max")          => AggFunc.Max
      case Some("avg")          => AggFunc.Avg
      case Some("quantile")     => AggFunc.Quantile(quantiles.getOrElse(Seq(0.5)))
      case Some(other) => throw new graft.model.SeqQlError(s"unknown agg func '$other'")
    }
    // `interval` follows the proto (seq_proxy_api.proto:181: optional
    // string, promql duration like "1m") and also accepts numeric ms;
    // `agg_interval` stays as a legacy numeric alias
    val intervalMs = str("interval").map(graft.model.Intervals.parseMs)
      .orElse(num("interval"))
      .orElse(num("agg_interval"))
      .getOrElse(0L)
    AggRequest(func,
      field = str("field").getOrElse(""),
      groupBy = str("group_by"),
      intervalMs = intervalMs)
  }

  /** Minimal JSON field extraction for the flat search request —
    * avoids a JSON library dependency (none are allowed anyway). */
  private def parseSearch(json: String): SearchRequest = {
    def str(k: String): Option[String] =
      ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
        .findFirstMatchIn(json).map(m => graft.model.Json.unescape(m.group(1)))
    def num(k: String): Option[Long] =
      ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json).map(_.group(1).toLong)
    def bool(k: String): Option[Boolean] =
      ("\"" + k + "\"\\s*:\\s*(true|false)").r.findFirstMatchIn(json).map(_.group(1).toBoolean)
    SearchRequest(
      query = str("query").getOrElse("*"),
      fromMs = num("from").getOrElse(0L),
      toMs = num("to").getOrElse(Long.MaxValue),
      size = num("size").getOrElse(100L).toInt,
      offset = num("offset").getOrElse(0L).toInt,
      asc = bool("asc").getOrElse(false))
  }

  private def quote(s: String): String = graft.model.Json.quote(s)
}
