package graft.server.grpc

import java.io.{ByteArrayInputStream, InputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, MethodDescriptor, Server, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.netty.{NettyChannelBuilder, NettyServerBuilder}
import org.sparkproject.connect.grpc.stub.{ClientCalls, ServerCalls, StreamObserver}
import org.sparkproject.connect.protobuf.CodedInputStream

import graft.engine.{AggFunc, AggRequest, ChunkedAsyncSearcher, DocsTable, SearchRequest, SeqEngine}
import SeqProxyProto._

/** The reference's public gRPC query API
  * (api/seqproxyapi/v1/seq_proxy_api.proto service SeqProxyApi),
  * served over the gRPC runtime Spark itself ships (shaded inside
  * spark-connect as org.sparkproject.connect.grpc + the distribution's
  * netty) — zero added dependencies. The wire format comes from
  * [[SeqProxyProto]]'s hand-rolled codec, so clients generated from
  * the reference's .proto talk to this server unchanged:
  * Search / ComplexSearch / GetAggregation / GetHistogram /
  * Fetch (stream) / Mapping / Status / Export (stream) /
  * StartAsyncSearch / FetchAsyncSearchResult / CancelAsyncSearch.
  *
  * Semantic notes: FetchRequest.fields_filter is applied (top-level
  * fields only, per the proto contract); StartAsyncSearchRequest
  * aggs/hist run over the persisted partial match set at FETCH time
  * (a partial answer while running, the full one when done), and
  * retention bounds the result lifetime — fetches past the expiration
  * drop the persisted partials and report expiry (enforced lazily;
  * default 24 h when unset).
  */
final class GrpcSeqApi(
    spark: SparkSession,
    table: => DocsTable,
    asyncDir: String,
    limits: graft.server.RateLimits = graft.server.RateLimits(),
    serving: Option[graft.server.ServingCore] = None,
    /** Pass the HTTP facade's registry when co-hosting so one scrape
      * covers both servers; defaults to a private registry. */
    metrics: graft.server.Metrics = new graft.server.Metrics("seq_db")) {

  private val Service = "seqproxyapi.v1.SeqProxyApi"

  private val mRpcTotal = metrics.counter("grpc_requests_total", "gRPC calls")
  private val mRpcErrors = metrics.counter("grpc_errors_total", "failed gRPC calls")
  private val mRpcSeconds = metrics.histogram("grpc_request_duration_seconds")

  @volatile private var server: Server = _
  @volatile private var asyncStarted = false
  private lazy val asyncSearcher = {
    asyncStarted = true
    val s = new ChunkedAsyncSearcher(spark, asyncDir)
    // restart durability: a previous process over this asyncDir may
    // have died between StartAsyncSearch and completion. Reload the
    // persisted request metadata (retention/aggs/asc are consulted at
    // fetch time via asyncReqs) and resume the unfinished chunk work —
    // the reference's contract (fracmanager/async_searcher.go:52-260).
    val root = new java.io.File(asyncDir)
    if (root.isDirectory) root.listFiles().filter(_.isDirectory).foreach { d =>
      val meta = new java.io.File(d, ".meta")
      if (meta.isFile && !asyncReqs.containsKey(d.getName))
        try {
          val bytes = java.nio.file.Files.readAllBytes(meta.toPath)
          val startedMs = java.nio.ByteBuffer.wrap(bytes, 0, 8).getLong()
          val req = readStartAsyncRequest(
            CodedInputStream.newInstance(bytes, 8, bytes.length - 8))
          asyncReqs.put(d.getName, (req, startedMs))
        } catch { case _: Throwable => () }
    }
    s.resumeIncomplete(engine)
    s
  }
  // async searches need fixed request params + start time at fetch time
  private val asyncReqs =
    new java.util.concurrent.ConcurrentHashMap[String, (PStartAsyncRequest, Long)]()
  // agg/hist results memoized per (search, chunk progress): repeated
  // fetches at the same generation (status polls of an agg-bearing
  // search) reuse the collected result instead of re-running Spark
  // jobs per poll; a new completed chunk invalidates by key mismatch
  private val asyncAggCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Int, Seq[PAggregation], Option[PHistogram])]()
  // default result retention when the request leaves it unset
  private val DefaultRetentionMs = 24L * 3600 * 1000

  /** Per-call engine over `table`, or the serving core's
    * generation-cached one (memory-pinned table, shared plan cache) when
    * serving is wired — proto clients then get the same ~ms warm path as
    * the HTTP facade. Wired to the facade's by-name `table`, the per-call
    * engine reuses the relation resolved for the current sink generation;
    * each handler evaluates it once and passes it on. */
  private def engine =
    serving.map(_.engine).getOrElse(new SeqEngine(table))

  // ---- keyed throttles (docs/en/08-rate-limiting.md): identical
  // queries (query string + aggs + interval — NOT the time range)
  // share one budget; direct fetches bucket per message ID ----
  private val queryLimiter =
    new graft.server.KeyedRateLimiter(limits.perQueryRps, limits.perQueryBurst)
  private val fetchLimiter =
    new graft.server.KeyedRateLimiter(limits.perFetchIdRps, limits.perFetchIdBurst)

  private final class RateLimitedException(msg: String)
      extends RuntimeException(msg)

  private def aggKey(a: PAggQuery): String =
    s"${a.field}/${a.groupBy}/${a.func}/${a.quantiles.mkString(";")}/${a.interval}"

  private def admitQuery(query: String, aggs: Seq[PAggQuery],
      interval: String): Unit = {
    val key = s"$query|${aggs.map(aggKey).mkString(",")}|$interval"
    if (!queryLimiter.tryAcquire(key))
      throw new RateLimitedException(s"query rate limit exceeded for: $query")
  }

  private def admitFetchIds(ids: Seq[String]): Unit =
    // all-or-nothing: a batch rejected on one id must not charge the
    // others (the client retries the whole batch — partial spends would
    // drain innocent ids' buckets without ever serving them)
    fetchLimiter.tryAcquireAll(ids).foreach(id =>
      throw new RateLimitedException(s"fetch rate limit exceeded for id: $id"))

  // ---- admission (storeapi/grpc_search.go:71-77 inflight guard +
  // network/ratelimiter.go token bucket): rejected calls get
  // RESOURCE_EXHAUSTED, the canonical gRPC back-off signal ----
  private val inflight = new java.util.concurrent.atomic.AtomicInteger(0)
  private val requestLimiter =
    new graft.server.KeyedRateLimiter(limits.requestsPerSec, limits.burst)

  private object AdmissionInterceptor extends org.sparkproject.connect.grpc.ServerInterceptor {
    override def interceptCall[ReqT, RespT](
        call: org.sparkproject.connect.grpc.ServerCall[ReqT, RespT],
        headers: org.sparkproject.connect.grpc.Metadata,
        next: org.sparkproject.connect.grpc.ServerCallHandler[ReqT, RespT])
        : org.sparkproject.connect.grpc.ServerCall.Listener[ReqT] = {
      if (limits.maxInflight > 0 && inflight.incrementAndGet() > limits.maxInflight) {
        inflight.decrementAndGet()
        call.close(Status.RESOURCE_EXHAUSTED.withDescription("too many inflight requests"),
          new org.sparkproject.connect.grpc.Metadata())
        return new org.sparkproject.connect.grpc.ServerCall.Listener[ReqT] {}
      }
      if (!requestLimiter.tryAcquire("")) {
        if (limits.maxInflight > 0) inflight.decrementAndGet()
        call.close(Status.RESOURCE_EXHAUSTED.withDescription("rate limit exceeded"),
          new org.sparkproject.connect.grpc.Metadata())
        return new org.sparkproject.connect.grpc.ServerCall.Listener[ReqT] {}
      }
      val delegate = next.startCall(call, headers)
      if (limits.maxInflight <= 0) delegate
      else new org.sparkproject.connect.grpc.ForwardingServerCallListener
          .SimpleForwardingServerCallListener[ReqT](delegate) {
        private def release(): Unit = inflight.decrementAndGet()
        override def onComplete(): Unit = { release(); super.onComplete() }
        override def onCancel(): Unit = { release(); super.onCancel() }
      }
    }
  }

  /** Trace-context propagation (reference tracing/grpc.go:14-30): a
    * caller-supplied `jaeger-debug-id` metadata entry is pinned to the
    * request thread for the duration of every listener callback, so
    * the handler's explain payload and slow-query log can carry it.
    * Listener-scoped set/clear (not gRPC Context) keeps it independent
    * of the shaded runtime's context executor wiring. */
  private object TraceInterceptor extends org.sparkproject.connect.grpc.ServerInterceptor {
    private val HeaderKey = org.sparkproject.connect.grpc.Metadata.Key.of(
      graft.server.TraceContext.GrpcKey,
      org.sparkproject.connect.grpc.Metadata.ASCII_STRING_MARSHALLER)
    override def interceptCall[ReqT, RespT](
        call: org.sparkproject.connect.grpc.ServerCall[ReqT, RespT],
        headers: org.sparkproject.connect.grpc.Metadata,
        next: org.sparkproject.connect.grpc.ServerCallHandler[ReqT, RespT])
        : org.sparkproject.connect.grpc.ServerCall.Listener[ReqT] = {
      val id = Option(headers.get(HeaderKey)).filter(_.nonEmpty)
      val delegate = next.startCall(call, headers)
      if (id.isEmpty) delegate
      else new org.sparkproject.connect.grpc.ForwardingServerCallListener
          .SimpleForwardingServerCallListener[ReqT](delegate) {
        // super calls stay DIRECT statements (no by-name helper):
        // a lambda-lifted super$… accessor trips IllegalAccessError
        // against the shaded runtime's package-private
        // PartialForwardingServerCallListener
        override def onMessage(m: ReqT): Unit = {
          graft.server.TraceContext.set(id)
          try super.onMessage(m) finally graft.server.TraceContext.clear()
        }
        override def onHalfClose(): Unit = {
          graft.server.TraceContext.set(id)
          try super.onHalfClose() finally graft.server.TraceContext.clear()
        }
        override def onReady(): Unit = {
          graft.server.TraceContext.set(id)
          try super.onReady() finally graft.server.TraceContext.clear()
        }
        override def onComplete(): Unit = {
          graft.server.TraceContext.set(id)
          try super.onComplete() finally graft.server.TraceContext.clear()
        }
        override def onCancel(): Unit = {
          graft.server.TraceContext.set(id)
          try super.onCancel() finally graft.server.TraceContext.clear()
        }
      }
    }
  }

  def start(port: Int = 0): Int = {
    server = NettyServerBuilder.forPort(port)
      .addService(org.sparkproject.connect.grpc.ServerInterceptors.intercept(
        serviceDefinition, TraceInterceptor, AdmissionInterceptor))
      .build().start()
    // resume persisted async progress AT STARTUP when any exists (the
    // searcher is otherwise lazy so unused servers spawn no pool)
    val root = new java.io.File(asyncDir)
    if (root.isDirectory && root.listFiles().exists(d => d.isDirectory &&
        new java.io.File(d, ".request").isFile &&
        !new java.io.File(d, ".complete").isFile &&
        !new java.io.File(d, ".canceled").isFile))
      asyncSearcher
    server.getPort
  }

  def port: Int = server.getPort
  def stop(): Unit = {
    if (server != null) { server.shutdownNow(); () }
    // see EsHttpFacade.stop: async workers must not outlive the server
    if (asyncStarted) asyncSearcher.shutdown()
  }

  // ---- marshalling -------------------------------------------------

  private def marshaller[A](write: A => Array[Byte],
      read: CodedInputStream => A): MethodDescriptor.Marshaller[A] =
    new MethodDescriptor.Marshaller[A] {
      override def stream(value: A): InputStream = new ByteArrayInputStream(write(value))
      override def parse(stream: InputStream): A =
        read(CodedInputStream.newInstance(stream.readAllBytes()))
    }

  private def unaryMd[A, B](name: String, w: A => Array[Byte], r: CodedInputStream => A,
      w2: B => Array[Byte], r2: CodedInputStream => B): MethodDescriptor[A, B] =
    MethodDescriptor.newBuilder[A, B]()
      .setType(MethodDescriptor.MethodType.UNARY)
      .setFullMethodName(MethodDescriptor.generateFullMethodName(Service, name))
      .setRequestMarshaller(marshaller(w, r))
      .setResponseMarshaller(marshaller(w2, r2))
      .build()

  private def streamMd[A, B](name: String, w: A => Array[Byte], r: CodedInputStream => A,
      w2: B => Array[Byte], r2: CodedInputStream => B): MethodDescriptor[A, B] =
    MethodDescriptor.newBuilder[A, B]()
      .setType(MethodDescriptor.MethodType.SERVER_STREAMING)
      .setFullMethodName(MethodDescriptor.generateFullMethodName(Service, name))
      .setRequestMarshaller(marshaller(w, r))
      .setResponseMarshaller(marshaller(w2, r2))
      .build()

  // method descriptors are public so a Scala client (and the spec) can
  // call the server without generated stubs
  val searchMd: MethodDescriptor[PSearchRequest, PSearchResponse] =
    unaryMd("Search", writeSearchRequest, readSearchRequest,
      writeSearchResponse, readSearchResponse)
  val complexSearchMd: MethodDescriptor[PComplexSearchRequest, PComplexSearchResponse] =
    unaryMd("ComplexSearch", writeComplexSearchRequest, readComplexSearchRequest,
      writeComplexSearchResponse, readComplexSearchResponse)
  val getAggregationMd: MethodDescriptor[PGetAggregationRequest, PGetAggregationResponse] =
    unaryMd("GetAggregation", writeGetAggregationRequest, readGetAggregationRequest,
      writeGetAggregationResponse, readGetAggregationResponse)
  val getHistogramMd: MethodDescriptor[PGetHistogramRequest, PGetHistogramResponse] =
    unaryMd("GetHistogram", writeGetHistogramRequest, readGetHistogramRequest,
      writeGetHistogramResponse, readGetHistogramResponse)
  val fetchMd: MethodDescriptor[PFetchRequest, Doc] =
    streamMd("Fetch", writeFetchRequest, readFetchRequest, writeDoc, readDoc)
  val mappingMd: MethodDescriptor[Unit, PMappingResponse] =
    unaryMd("Mapping", writeEmpty, readEmpty, writeMappingResponse, readMappingResponse)
  val statusMd: MethodDescriptor[Unit, PStatusResponse] =
    unaryMd("Status", writeEmpty, readEmpty, writeStatusResponse, readStatusResponse)
  val exportMd: MethodDescriptor[PExportRequest, Doc] =
    streamMd("Export", writeExportRequest, readExportRequest,
      writeExportResponse, readExportResponse)
  val startAsyncMd: MethodDescriptor[PStartAsyncRequest, PStartAsyncResponse] =
    unaryMd("StartAsyncSearch", writeStartAsyncRequest, readStartAsyncRequest,
      writeStartAsyncResponse, readStartAsyncResponse)
  val fetchAsyncMd: MethodDescriptor[PFetchAsyncRequest, PFetchAsyncResponse] =
    unaryMd("FetchAsyncSearchResult", writeFetchAsyncRequest, readFetchAsyncRequest,
      writeFetchAsyncResponse, readFetchAsyncResponse)
  val cancelAsyncMd: MethodDescriptor[PCancelAsyncRequest, Unit] =
    unaryMd("CancelAsyncSearch", writeCancelAsyncRequest, readCancelAsyncRequest,
      writeEmpty, readEmpty)

  // ---- handlers ----------------------------------------------------

  private def statusOf(e: Throwable): Status = e match {
    case _: RateLimitedException => Status.RESOURCE_EXHAUSTED
    case _                       => Status.INTERNAL
  }

  private val calls = new java.util.concurrent.atomic.AtomicLong

  /** Runs one call under its own Spark job tag, `grpc-call-<n>`, so a
    * SparkListener can attribute each job to the call that ran it. */
  private def underCallTag(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"grpc-call-${calls.incrementAndGet()}"
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  private def unary[A, B](f: A => B): org.sparkproject.connect.grpc.ServerCallHandler[A, B] =
    ServerCalls.asyncUnaryCall(new ServerCalls.UnaryMethod[A, B] {
      override def invoke(req: A, obs: StreamObserver[B]): Unit = underCallTag {
        mRpcTotal.inc()
        val t0 = System.nanoTime()
        try { obs.onNext(f(req)); obs.onCompleted()
              mRpcSeconds.observeNanos(System.nanoTime() - t0) }
        catch { case e: Throwable =>
          mRpcErrors.inc()
          obs.onError(statusOf(e).withDescription(
            Option(e.getMessage).getOrElse(e.getClass.getName)).asRuntimeException())
        }
      }
    })

  private def serverStream[A, B](f: (A, StreamObserver[B]) => Unit): org.sparkproject.connect.grpc.ServerCallHandler[A, B] =
    ServerCalls.asyncServerStreamingCall(new ServerCalls.ServerStreamingMethod[A, B] {
      override def invoke(req: A, obs: StreamObserver[B]): Unit = underCallTag {
        mRpcTotal.inc()
        val t0 = System.nanoTime()
        try { f(req, obs); obs.onCompleted()
              mRpcSeconds.observeNanos(System.nanoTime() - t0) }
        catch { case e: Throwable =>
          mRpcErrors.inc()
          obs.onError(statusOf(e).withDescription(
            Option(e.getMessage).getOrElse(e.getClass.getName)).asRuntimeException())
        }
      }
    })

  def serviceDefinition: ServerServiceDefinition =
    ServerServiceDefinition.builder(Service)
      .addMethod(searchMd, unary(handleSearch))
      .addMethod(complexSearchMd, unary(handleComplexSearch))
      .addMethod(getAggregationMd, unary(handleGetAggregation))
      .addMethod(getHistogramMd, unary(handleGetHistogram))
      .addMethod(fetchMd, serverStream(handleFetch))
      .addMethod(mappingMd, unary((_: Unit) =>
        PMappingResponse(engine.mappingJson.getBytes("UTF-8"))))
      .addMethod(statusMd, unary((_: Unit) => {
        val st = engine.status()
        PStatusResponse(st.numberOfStores, st.oldestStorageTimeMs)
      }))
      .addMethod(exportMd, serverStream(handleExport))
      .addMethod(startAsyncMd, unary(handleStartAsync))
      .addMethod(fetchAsyncMd, unary(handleFetchAsync))
      .addMethod(cancelAsyncMd, unary((r: PCancelAsyncRequest) => {
        asyncSearcher.cancel(r.searchId, spark); ()
      }))
      .build()

  // ---- method implementations --------------------------------------

  private def collectDocs(eng: SeqEngine,
      df: org.apache.spark.sql.DataFrame): Seq[Doc] =
    eng.withIdString(df)
      .select(col("id"), col("mid"), col("_raw"))
      .collect()
      .map(r => Doc(r.getString(0),
        Option(r.getString(2)).getOrElse("").getBytes("UTF-8"), r.getLong(1)))
      .toSeq

  private def handleSearch(r: PSearchRequest): PSearchResponse = {
    admitQuery(r.q.query, Nil, "")
    val eng = engine
    val req = SearchRequest(r.q.query, r.q.fromMs, r.q.toMs,
      size = r.size.toInt, offset = r.offset.toInt, asc = r.asc)
    val docs = serving match {
      // serving path: page-prefix cache + incremental day-window scan —
      // a repeated/paging query slices a driver-held prefix instead of
      // running a Spark job (same machinery as the HTTP facade)
      case Some(core) =>
        core.servingPage(req).map(row => Doc(row.getString(0),
          Option(row.getString(3)).getOrElse("").getBytes("UTF-8"),
          row.getLong(1))).toSeq
      case None => collectDocs(eng, eng.search(req))
    }
    val total =
      if (r.withTotal)
        eng.total(r.q.query, r.q.fromMs, r.q.toMs).collect()(0).getLong(0)
      else 0L
    PSearchResponse(total, docs, ErrNo)
  }

  private def toAggRequest(a: PAggQuery): AggRequest = {
    val func = a.func match {
      case 0 => AggFunc.Count
      case 1 => AggFunc.Sum
      case 2 => AggFunc.Min
      case 3 => AggFunc.Max
      case 4 => AggFunc.Avg
      case 5 => AggFunc.Quantile(if (a.quantiles.nonEmpty) a.quantiles else Seq(0.5))
      case 6 => AggFunc.Unique
      case other => throw new graft.model.SeqQlError(s"unknown AggFunc $other")
    }
    AggRequest(func, field = a.field,
      groupBy = if (a.groupBy.nonEmpty) Some(a.groupBy) else None,
      intervalMs = if (a.interval.nonEmpty) graft.model.Intervals.parseMs(a.interval) else 0L)
  }

  /** Engine aggregation rows → proto Aggregation. The `_not_exists`
    * group becomes the message-level not_exists count (the reference
    * counts docs without the field there); time-series rows carry
    * their bucket in `ts`. */
  private def toProtoAgg(rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType, a: PAggQuery): PAggregation = {
    val names = schema.fieldNames
    val hasBucket = names.contains("bucket_ms")
    val hasName = names.contains("name")
    val hasQ = names.contains("q")
    def d(r: org.apache.spark.sql.Row, c: String): Double = {
      val i = r.fieldIndex(c)
      if (r.isNullAt(i)) Double.NaN
      else r.get(i) match {
        case x: Double => x
        case x: Long   => x.toDouble
        case x: Int    => x.toDouble
        case x         => x.toString.toDouble
      }
    }
    if (hasQ) {
      // quantile rows: (bucket_ms?, name?, q, value) → one bucket per
      // (ts, name) with the quantiles vector; value = first quantile
      val grouped = rows.groupBy(r =>
        (if (hasBucket) Some(r.getLong(r.fieldIndex("bucket_ms"))) else None,
         if (hasName) r.getString(r.fieldIndex("name")) else ""))
      val buckets = grouped.toSeq.sortBy(g => (g._1._1.getOrElse(0L), g._1._2))
        .map { case ((ts, name), rs) =>
          val qs = rs.sortBy(r => d(r, "q")).map(r => d(r, "value")).toSeq
          AggBucket(name, if (qs.nonEmpty) qs.head else Double.NaN, 0L, qs, ts)
        }
      PAggregation(buckets, 0L)
    } else {
      var notExists = 0L
      val buckets = rows.flatMap { r =>
        val name = if (hasName) r.getString(r.fieldIndex("name")) else ""
        val ts = if (hasBucket) Some(r.getLong(r.fieldIndex("bucket_ms"))) else None
        val value = if (names.contains("value")) d(r, "value") else 0.0
        if (name == "_not_exists") { notExists += value.toLong; None }
        else Some(AggBucket(name, value, 0L, Nil, ts))
      }.toSeq
      PAggregation(buckets, notExists)
    }
  }

  /** Strict A3 (a non-numeric value fails the request) is checked
    * inside the aggregate; `collectStrict` surfaces it as SeqQlError. */
  private def runAgg(eng: SeqEngine, q: SearchQuery, a: PAggQuery): PAggregation = {
    val df = eng.aggregate(q.query, q.fromMs, q.toMs, toAggRequest(a))
    toProtoAgg(SeqEngine.collectStrict(df), df.schema, a)
  }

  /** Serving-mode response memoization: a repeated identical request
    * (dashboards refreshing the same aggregation) is a map lookup at
    * the current sink generation. Case-class toString is a complete,
    * deterministic rendering of the request — the full cache key,
    * unlike the rate-limit key which deliberately drops the range. */
  private def cachedResp[T <: AnyRef](key: String)(build: => T): T =
    serving match {
      case Some(core) => core.memo(key)(build)
      case None       => build
    }

  private def handleGetAggregation(r: PGetAggregationRequest): PGetAggregationResponse = {
    admitQuery(r.q.query, r.aggs, "")
    cachedResp(s"agg|$r") {
      val eng = engine
      PGetAggregationResponse(0L, r.aggs.map(a => runAgg(eng, r.q, a)), ErrNo)
    }
  }

  private def histogramOf(eng: SeqEngine, q: SearchQuery, interval: String): PHistogram = {
    val rows = eng.histogram(q.query, q.fromMs, q.toMs, interval).collect()
    PHistogram(rows.map(r => HistBucket(r.getLong(1), r.getLong(0))).toSeq)
  }

  private def handleGetHistogram(r: PGetHistogramRequest): PGetHistogramResponse = {
    val iv = if (r.interval.nonEmpty) r.interval else "1h"
    admitQuery(r.q.query, Nil, iv)
    cachedResp(s"hist|$r") {
      PGetHistogramResponse(0L, histogramOf(engine, r.q, iv), ErrNo)
    }
  }

  private def handleComplexSearch(r: PComplexSearchRequest): PComplexSearchResponse = {
    admitQuery(r.q.query, r.aggs, r.histInterval.getOrElse(""))
    tagTrace(cachedResp(s"cs|$r") { handleComplexSearchUncached(r) })
  }

  /** The Catalyst physical plan as the proto's ExplainEntry tracing
    * tree (one node per operator, bounded depth/fan-out so a deep plan
    * cannot balloon the response). Per-node spans come from the plan's
    * own SQLMetric accumulators (populated by the execution that just
    * produced the docs — the same numbers the Spark UI shows), so the
    * proto consumer sees operator timings like the reference's
    * querytracer spans; request wall time lands on the root. AQE
    * wrappers are unwrapped so the tree is the plan that actually ran,
    * not the pre-adaptive skeleton. */
  private def explainTree(df: org.apache.spark.sql.DataFrame,
      durationMs: Long): PExplainEntry = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    def nodeMs(p: SparkPlan): Long =
      p.metrics.values.collect {
        case m if m.metricType == "timing" && m.value > 0   => m.value
        case m if m.metricType == "nsTiming" && m.value > 0 => m.value / 1000000L
      }.maxOption.getOrElse(0L)
    def walk(p: SparkPlan, depth: Int): PExplainEntry =
      PExplainEntry(p.simpleStringWithNodeId(), nodeMs(p),
        if (depth >= 8) Nil else kids(p).take(8).map(walk(_, depth + 1)))
    val root = walk(df.queryExecution.executedPlan, 0)
    root.copy(durationMs = durationMs)
  }

  /** Tags the explain root with the CURRENT caller's trace id. Applied
    * after the response cache, never inside it: the cached body must stay
    * trace-neutral or one caller's jaeger-debug-id would be served to
    * every later caller of the same query (and an untraced first request
    * would pin an untagged entry for later traced calls). */
  private def tagTrace(resp: PComplexSearchResponse): PComplexSearchResponse =
    graft.server.TraceContext.current match {
      case Some(id) =>
        resp.copy(explain = resp.explain.map(e =>
          e.copy(message = s"${e.message} [trace_id=$id]")))
      case None => resp
    }

  private def handleComplexSearchUncached(r: PComplexSearchRequest): PComplexSearchResponse = {
    val eng = engine
    val req = SearchRequest(r.q.query, r.q.fromMs, r.q.toMs,
      size = r.size.toInt, offset = r.offset.toInt, asc = r.asc)
    val t0 = System.nanoTime()
    val searchDf = if (r.size > 0) Some(eng.search(req)) else None
    val docs = searchDf.map(collectDocs(eng, _)).getOrElse(Nil)
    val total =
      if (r.withTotal)
        eng.total(r.q.query, r.q.fromMs, r.q.toMs).collect()(0).getLong(0)
      else 0L
    val aggs = r.aggs.map(a => runAgg(eng, r.q, a))
    val hist = r.histInterval.map(iv => histogramOf(eng, r.q, iv))
    // SearchQuery.explain (proto field 4): the reference returns its
    // per-node tracing tree; the analogue is the executed Catalyst
    // plan of the docs query, request wall time at the root
    val explain =
      if (!r.q.explain) None
      else {
        val ms = (System.nanoTime() - t0) / 1000000L
        searchDf.map(df => explainTree(df, ms)).orElse(
          Some(PExplainEntry(s"complex search (no docs requested)", ms, Nil)))
      }
    graft.server.TraceContext.logIfSlow("grpc.ComplexSearch", r.q.query,
      (System.nanoTime() - t0) / 1000000L)
    PComplexSearchResponse(total, docs, aggs, hist, ErrNo, explain)
  }

  private def handleFetch(r: PFetchRequest, obs: StreamObserver[Doc]): Unit = {
    // the direct fetch-by-message-ID path is the DDOS-shaped one
    // (docs/en/08-rate-limiting.md "Rate limiting document fetching"):
    // every requested id spends from its own bucket
    admitFetchIds(r.ids)
    val eng = engine
    // FieldsFilter (top-level only, per the proto contract): allow_list
    // keeps the listed fields, otherwise they are removed
    val filter: Doc => Doc = r.fieldsFilter match {
      case Some(f) if f.fields.nonEmpty || f.allowList =>
        val set = f.fields.toSet
        d => d.copy(data = graft.model.Json
          .filterTopLevel(new String(d.data, "UTF-8"), set, f.allowList)
          .getBytes("UTF-8"))
      case _ => identity
    }
    collectDocs(eng, eng.fetchByIds(r.ids)).foreach(d => obs.onNext(filter(d)))
  }

  private def handleExport(r: PExportRequest, obs: StreamObserver[Doc]): Unit = {
    val eng = engine
    var df = eng.export(r.q.query, r.q.fromMs, r.q.toMs)
    if (r.offset > 0) df = df.offset(r.offset.toInt)
    if (r.size > 0) df = df.limit(r.size.toInt)
    // toLocalIterator streams partition-by-partition — the export
    // contract: the driver never holds the full result
    val it = eng.withIdString(df).select(col("id"), col("mid"), col("_raw"))
      .toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      obs.onNext(Doc(row.getString(0),
        Option(row.getString(2)).getOrElse("").getBytes("UTF-8"), row.getLong(1)))
    }
  }

  private def handleStartAsync(r: PStartAsyncRequest): PStartAsyncResponse = {
    val id = java.util.UUID.randomUUID().toString
    val startedMs = System.currentTimeMillis()
    asyncReqs.put(id, (r, startedMs))
    // persist what FETCH time needs (retention window, aggs, asc) in
    // the request's own wire format, next to the searcher's chunk
    // progress — a restarted process reloads both and serves this
    // search identically (see the asyncSearcher init)
    try {
      val d = java.nio.file.Paths.get(s"$asyncDir/$id")
      java.nio.file.Files.createDirectories(d)
      val body = writeStartAsyncRequest(r)
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putLong(startedMs).put(body)
      graft.engine.AsyncSearchFiles.writeAtomic(d.resolve(".meta"), bb.array())
    } catch { case _: Throwable => () }
    val eng = engine
    // the proto has no chunk parameter — the server picks the chunk
    // layout over the table's actual time range
    val (from, to) = eng.clampSpan(r.q.fromMs, r.q.toMs)
    asyncSearcher.startAsync(id, eng, r.q.query, from, to)
    PStartAsyncResponse(id)
  }

  private def handleFetchAsync(r: PFetchAsyncRequest): PFetchAsyncResponse = {
    val done = asyncSearcher.isComplete(r.searchId)
    val entry = asyncReqs.get(r.searchId)
    val req = if (entry == null) null else entry._1
    // retention (StartAsyncSearchRequest field 1): past the expiration
    // the persisted partials are dropped and the fetch reports expiry —
    // the reference's result-lifetime contract, enforced lazily
    val expirationMs = Option(entry).map { case (rq, startedMs) =>
      startedMs + (if (rq.retentionMs > 0) rq.retentionMs else DefaultRetentionMs)
    }
    if (expirationMs.exists(_ < System.currentTimeMillis())) {
      // purge (not cancel — cancel is a no-op once complete) actually
      // reclaims the persisted chunks; the asyncReqs entry is KEPT so
      // every later fetch keeps reporting expiry instead of falling
      // through to an unknown-id empty answer
      asyncSearcher.purge(r.searchId, spark)
      asyncAggCache.remove(r.searchId)
      return PFetchAsyncResponse(done = false,
        PComplexSearchResponse(0L, Nil, Nil, None,
          PError(2, "async search result expired")), expirationMs)
    }
    val asc = req != null && req.asc
    val wantsAggs = req != null &&
      (req.aggs.nonEmpty || req.histInterval.exists(_.nonEmpty))
    // one directory-listing/parquet resolution per request — both the
    // docs page and the aggregations read the same partial frame.
    // with_docs gates only the docs page (reference proto semantics): a
    // fetch that requested aggregations gets them even with
    // with_docs=false, while a bare status poll (withDocs=false, no
    // aggs — the completion-wait loop every client runs) stays a
    // marker check, not a pile of Spark jobs per poll.
    // the memo generation is read BEFORE the partial frame is built:
    // done-markers are append-only, so a chunk landing between the two
    // listings makes the cached generation merely conservative (the
    // next fetch recomputes) — the reverse order could cache an
    // aggregation computed over N chunks under generation N+1 and
    // serve it as final forever
    val aggGen =
      if (wantsAggs) asyncSearcher.completedChunks(r.searchId) else 0
    val partial =
      if (r.withDocs || wantsAggs) asyncSearcher.fetchPartial(r.searchId)
      else None
    // one engine for the docs page and the aggregations; a bare status
    // poll never builds it
    lazy val eng = engine
    val docs =
      if (!r.withDocs) Nil
      else partial match {
        case None => Nil
        case Some(df) =>
          val size = if (r.size > 0) r.size else 100
          val ordered =
            if (asc) df.orderBy(col("mid").asc, col("rid").asc)
            else df.orderBy(col("mid").desc, col("rid").desc)
          collectDocs(eng, ordered.offset(r.offset).limit(size))
      }
    // aggs/hist requested at start run over the PERSISTED partials at
    // fetch time (partial answer while running, full when done) — the
    // chunked searcher stores the match set, not pre-aggregated rows.
    val (aggs, hist) =
      if (!wantsAggs) (Nil, None)
      else partial match {
        case None => (Nil, None)
        case Some(df) =>
          val gen = aggGen
          val cached = asyncAggCache.get(r.searchId)
          if (cached != null && cached._1 == gen) (cached._2, cached._3)
          else {
            val as = req.aggs.map { a =>
              val out = eng.aggregateOver(df, toAggRequest(a))
              toProtoAgg(SeqEngine.collectStrict(out), out.schema, a)
            }
            val h = req.histInterval.filter(_.nonEmpty).map { iv =>
              val ms = graft.model.Intervals.parseMs(iv)
              val rows = eng.histogramOver(df, ms).collect()
              PHistogram(rows.map(x => HistBucket(x.getLong(1), x.getLong(0))).toSeq)
            }
            asyncAggCache.put(r.searchId, (gen, as, h))
            (as, h)
          }
      }
    val err =
      if (done || !asyncSearcher.isCanceled(r.searchId)) ErrNo
      else PError(2, "canceled: persisted partial result")
    PFetchAsyncResponse(done,
      PComplexSearchResponse(0L, docs, aggs, hist, err), expirationMs)
  }
}

/** Minimal blocking client over the same descriptors — what a user
  * without generated stubs (and the spec) uses. */
final class GrpcSeqClient(host: String, port: Int, api: GrpcSeqApi) {
  private val channel: ManagedChannel =
    NettyChannelBuilder.forAddress(host, port).usePlaintext().build()

  def search(r: PSearchRequest): PSearchResponse =
    ClientCalls.blockingUnaryCall(channel, api.searchMd, CallOptions.DEFAULT, r)
  def complexSearch(r: PComplexSearchRequest): PComplexSearchResponse =
    ClientCalls.blockingUnaryCall(channel, api.complexSearchMd, CallOptions.DEFAULT, r)
  /** [[complexSearch]] with a caller trace/debug id on the metadata —
    * the reference client's jaeger-debug-id propagation. */
  def complexSearchTraced(r: PComplexSearchRequest, traceId: String): PComplexSearchResponse = {
    val md = new org.sparkproject.connect.grpc.Metadata()
    md.put(org.sparkproject.connect.grpc.Metadata.Key.of(
      graft.server.TraceContext.GrpcKey,
      org.sparkproject.connect.grpc.Metadata.ASCII_STRING_MARSHALLER), traceId)
    val ch = org.sparkproject.connect.grpc.ClientInterceptors.intercept(channel,
      org.sparkproject.connect.grpc.stub.MetadataUtils.newAttachHeadersInterceptor(md))
    ClientCalls.blockingUnaryCall(ch, api.complexSearchMd, CallOptions.DEFAULT, r)
  }
  def getAggregation(r: PGetAggregationRequest): PGetAggregationResponse =
    ClientCalls.blockingUnaryCall(channel, api.getAggregationMd, CallOptions.DEFAULT, r)
  def getHistogram(r: PGetHistogramRequest): PGetHistogramResponse =
    ClientCalls.blockingUnaryCall(channel, api.getHistogramMd, CallOptions.DEFAULT, r)
  def fetch(r: PFetchRequest): Seq[Doc] = {
    val it = ClientCalls.blockingServerStreamingCall(channel, api.fetchMd, CallOptions.DEFAULT, r)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    while (it.hasNext) out += it.next()
    out.toSeq
  }
  def export(r: PExportRequest): Seq[Doc] = {
    val it = ClientCalls.blockingServerStreamingCall(channel, api.exportMd, CallOptions.DEFAULT, r)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    while (it.hasNext) out += it.next()
    out.toSeq
  }
  def mapping(): PMappingResponse =
    ClientCalls.blockingUnaryCall(channel, api.mappingMd, CallOptions.DEFAULT, ())
  def status(): PStatusResponse =
    ClientCalls.blockingUnaryCall(channel, api.statusMd, CallOptions.DEFAULT, ())
  def startAsync(r: PStartAsyncRequest): PStartAsyncResponse =
    ClientCalls.blockingUnaryCall(channel, api.startAsyncMd, CallOptions.DEFAULT, r)
  def fetchAsync(r: PFetchAsyncRequest): PFetchAsyncResponse =
    ClientCalls.blockingUnaryCall(channel, api.fetchAsyncMd, CallOptions.DEFAULT, r)
  def cancelAsync(r: PCancelAsyncRequest): Unit =
    ClientCalls.blockingUnaryCall(channel, api.cancelAsyncMd, CallOptions.DEFAULT, r)

  def close(): Unit = { channel.shutdownNow(); () }
}
