package graft.server

/** Caller-supplied trace/debug-id propagation across the API boundary —
  * the analogue of the reference's tracing plumbing (tracing/grpc.go:14-30
  * parses the debug key off inbound gRPC metadata and re-attaches it to
  * every span; tracing/http.go:11-14 reads it from an HTTP header), minus
  * the OpenCensus export: the id rides the request thread and surfaces in
  * (a) the explain/span payload of the response and (b) the slow-query
  * log line, so a caller can correlate a server-side plan trace with
  * their own trace system.
  *
  * Wire names match the reference so existing clients keep working:
  * gRPC metadata key `jaeger-debug-id` (consts.JaegerDebugKey,
  * consts/consts.go:69), HTTP header `x-o3-sample-trace`
  * (consts.DebugHeader, consts/consts.go:70).
  *
  * Scope is a ThreadLocal set/cleared by the transport layer around each
  * request callback — no ambient global, no cross-request bleed: both
  * servers here (the JDK HttpServer facade and the shaded-gRPC service)
  * run a handler start-to-finish on one thread.
  */
object TraceContext {
  /** Inbound gRPC metadata key carrying the caller's trace/debug id. */
  val GrpcKey = "jaeger-debug-id"
  /** Inbound HTTP header carrying the caller's trace/debug id. */
  val HttpHeader = "x-o3-sample-trace"

  private val tl = new ThreadLocal[String]

  def set(id: Option[String]): Unit = id match {
    case Some(v) if v.nonEmpty => tl.set(v)
    case _                     => tl.remove()
  }
  def clear(): Unit = tl.remove()
  def current: Option[String] = Option(tl.get())

  /** Slow-query threshold in ms (env GRAFT_SLOW_QUERY_MS, default 1s). */
  @volatile var slowQueryMs: Long =
    sys.env.get("GRAFT_SLOW_QUERY_MS").flatMap(_.toLongOption).getOrElse(1000L)

  /** Escapes a string for safe interpolation inside a JSON string literal:
    * backslash, quote, and control characters (a caller-supplied header
    * value must not be able to break the line or forge log fields). */
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '\\'          => "\\\\"
      case '"'           => "\\\""
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  /** One structured stderr line when a request exceeds the threshold,
    * carrying the caller's trace id when present — the reference logs
    * the same correlation from its always-sampled debug spans. */
  def logIfSlow(kind: String, query: String, tookMs: Long): Unit =
    if (tookMs >= slowQueryMs) {
      val q = jsonEscape(query).take(512)
      val tid =
        current.map(t => s""","trace_id":"${jsonEscape(t.take(128))}"""").getOrElse("")
      System.err.println(
        s"""{"level":"warn","msg":"slow query","kind":"$kind","took_ms":$tookMs$tid,"query":"$q"}""")
    }
}
