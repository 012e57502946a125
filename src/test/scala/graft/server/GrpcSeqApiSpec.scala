package graft.server

import org.apache.spark.sql.functions.{col, timestamp_millis, to_date}

import graft.SparkSpec
import graft.engine.DocsTable
import graft.ingest.BulkIngest
import graft.model.{IndexType, SeqMapping}
import graft.server.grpc._
import graft.server.grpc.SeqProxyProto._

/** The SeqProxyApi gRPC surface end-to-end over a real TCP channel:
  * hand-rolled proto marshalling (field numbers matching the
  * reference's seq_proxy_api.proto) through the shaded grpc-netty
  * runtime, against a live engine.
  */
class GrpcSeqApiSpec extends SparkSpec {
  import spark.implicits._

  private val mapping = SeqMapping.of(
    "level"   -> IndexType.Keyword,
    "message" -> IndexType.Text,
  ).copy(caseSensitive = false)

  private val reqTime = 1710072000000L // 2024-03-10T12:00Z
  private val lines = Seq(
    """{"timestamp":"2024-03-10 09:00:00","level":"error","message":"disk full"}""",
    """{"timestamp":"2024-03-10 10:00:00","level":"info","message":"disk ok"}""",
    """{"timestamp":"2024-03-10 11:00:00","level":"error","message":"net down"}""",
  )

  private lazy val tableDir = {
    val dir = java.nio.file.Files.createTempDirectory("grpc_docs").toString
    BulkIngest.writePartitioned(
      BulkIngest.project(lines.toDF("value"), mapping, reqTime), dir)
    dir
  }

  test("Search / GetAggregation / GetHistogram / Fetch / Export / Status / Mapping / async over gRPC") {
    val asyncDir = java.nio.file.Files.createTempDirectory("grpc_async").toString
    val api = new GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(tableDir), mapping), asyncDir)
    val port = api.start()
    val client = new GrpcSeqClient("127.0.0.1", port, api)
    try {
      val q = SearchQuery("level:error", 0L, Long.MaxValue)

      // Search: 2 error docs, desc order, with_total
      val sr = client.search(PSearchRequest(q, size = 10, offset = 0,
        withTotal = true, asc = false))
      assert(sr.total == 2)
      assert(sr.docs.size == 2)
      val texts = sr.docs.map(d => new String(d.data, "UTF-8"))
      assert(texts.exists(_.contains("net down")) && texts.exists(_.contains("disk full")))
      assert(sr.docs.head.timeMs > sr.docs.last.timeMs) // desc by mid
      assert(sr.error.code == 1) // ERROR_CODE_NO

      // GetAggregation: count by level over everything
      val ar = client.getAggregation(PGetAggregationRequest(
        SearchQuery("*", 0L, Long.MaxValue),
        Seq(PAggQuery("", "level", func = 0, Nil, ""))))
      val buckets = ar.aggs.head.buckets.map(b => b.key -> b.value).toMap
      assert(buckets == Map("error" -> 2.0, "info" -> 1.0))

      // GetHistogram: three docs across three 1h buckets
      val hr = client.getHistogram(PGetHistogramRequest(
        SearchQuery("*", 0L, Long.MaxValue), "1h"))
      assert(hr.hist.buckets.map(_.docCount).sum == 3)
      assert(hr.hist.buckets.size == 3)

      // Fetch: round-trip the ids Search returned, order preserved
      val ids = sr.docs.map(_.id)
      val fd = client.fetch(PFetchRequest(ids))
      assert(fd.map(_.id) == ids)

      // Fetch with fields_filter: allow-list keeps only the listed
      // top-level fields, deny-list removes them
      val fAllow = client.fetch(PFetchRequest(ids,
        Some(PFieldsFilter(Seq("level"), allowList = true))))
      fAllow.map(d => new String(d.data, "UTF-8")).foreach { s =>
        assert(s.contains("\"level\"") && !s.contains("\"message\"") &&
          !s.contains("\"timestamp\""), s)
      }
      val fDeny = client.fetch(PFetchRequest(ids,
        Some(PFieldsFilter(Seq("message"), allowList = false))))
      fDeny.map(d => new String(d.data, "UTF-8")).foreach { s =>
        assert(s.contains("\"level\"") && s.contains("\"timestamp\"") &&
          !s.contains("\"message\""), s)
      }

      // Export: stream all docs ascending match set
      val ex = client.export(PExportRequest(SearchQuery("*", 0L, Long.MaxValue), 0, 0))
      assert(ex.size == 3)

      // Status / Mapping
      val st = client.status()
      assert(st.numberOfStores == 1 && st.oldestMs.isDefined)
      val mp = new String(client.mapping().data, "UTF-8")
      assert(mp.contains("\"level\"") && mp.contains("keyword"))

      // ComplexSearch: docs + agg + hist in one call
      val cs = client.complexSearch(PComplexSearchRequest(
        SearchQuery("*", 0L, Long.MaxValue),
        Seq(PAggQuery("", "level", func = 0, Nil, "")),
        Some("1h"), size = 1, offset = 0, withTotal = true, asc = false))
      assert(cs.total == 3 && cs.docs.size == 1)
      assert(cs.aggs.head.buckets.nonEmpty && cs.hist.exists(_.buckets.size == 3))
      assert(cs.explain.isEmpty) // not requested

      // explain: the tracing tree is the executed Catalyst plan
      val ce = client.complexSearch(PComplexSearchRequest(
        SearchQuery("*", 0L, Long.MaxValue, explain = true),
        Nil, None, size = 1, offset = 0, withTotal = false, asc = false))
      val tree = ce.explain.get
      def flat(e: PExplainEntry): Seq[String] = e.message +: e.children.flatMap(flat)
      val nodes = flat(tree)
      assert(nodes.exists(_.contains("Scan")), nodes) // reaches the parquet scan
      // span timings: the root carries the request wall time (always a
      // real span — this request compiled and ran a plan), child spans
      // are the plan's own SQLMetric timings from the execution that
      // produced the docs
      assert(tree.durationMs > 0)
      def spans(e: PExplainEntry): Seq[Long] = e.durationMs +: e.children.flatMap(spans)
      assert(spans(tree).forall(_ >= 0L))

      // trace-context propagation (reference tracing/grpc.go:14-30): a
      // caller-supplied jaeger-debug-id metadata entry surfaces on the
      // response's root span
      val traced = client.complexSearchTraced(PComplexSearchRequest(
        SearchQuery("*", 0L, Long.MaxValue, explain = true),
        Nil, None, size = 1, offset = 0, withTotal = false, asc = false),
        traceId = "trace-abc-123")
      assert(traced.explain.get.message.contains("[trace_id=trace-abc-123]"),
        traced.explain.get.message)
      // and an untraced call carries no tag (no cross-request bleed)
      val untraced = client.complexSearch(PComplexSearchRequest(
        SearchQuery("*", 0L, Long.MaxValue, explain = true),
        Nil, None, size = 1, offset = 0, withTotal = false, asc = false))
      assert(!untraced.explain.get.message.contains("trace_id"))

      // async: start (with aggs + histogram) → poll done → docs,
      // aggregations and histogram all fetchable from the partials
      val started = client.startAsync(PStartAsyncRequest(q, asc = false,
        aggs = Seq(PAggQuery("", "level", func = 0, Nil, "")),
        histInterval = Some("1h")))
      assert(started.searchId.nonEmpty)
      val deadline = System.currentTimeMillis() + 60000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        done = client.fetchAsync(PFetchAsyncRequest(started.searchId, withDocs = false, 0, 0)).done
        if (!done) Thread.sleep(200)
      }
      assert(done)
      val far = client.fetchAsync(PFetchAsyncRequest(started.searchId, withDocs = true, 10, 0))
      assert(far.resp.docs.size == 2)
      // fetch-time aggregation over the persisted match set: 2 error docs
      val asyncBuckets = far.resp.aggs.head.buckets.map(b => b.key -> b.value).toMap
      assert(asyncBuckets == Map("error" -> 2.0))
      // histogram: the two error docs sit in distinct 1h buckets
      assert(far.resp.hist.exists(_.buckets.map(_.docCount).sum == 2))
      // default retention: an expiration ~24h out rides the response
      assert(far.expirationMs.exists(_ > System.currentTimeMillis() + 23L * 3600 * 1000))
      // with_docs gates only the docs page: a withDocs=false fetch of a
      // search that requested aggregations still gets aggs + histogram
      val noDocs = client.fetchAsync(
        PFetchAsyncRequest(started.searchId, withDocs = false, 10, 0))
      assert(noDocs.done && noDocs.resp.docs.isEmpty)
      assert(noDocs.resp.aggs.head.buckets.map(b => b.key -> b.value).toMap ==
        Map("error" -> 2.0))
      assert(noDocs.resp.hist.exists(_.buckets.map(_.docCount).sum == 2))
      client.cancelAsync(PCancelAsyncRequest(started.searchId)) // no-op when done

      // retention: a 1 ms-retention search expires — the fetch drops the
      // partials and reports expiry instead of results
      val shortLived = client.startAsync(PStartAsyncRequest(q, asc = false,
        retentionMs = 1L))
      Thread.sleep(50)
      val expired = client.fetchAsync(
        PFetchAsyncRequest(shortLived.searchId, withDocs = true, 10, 0))
      assert(!expired.done && expired.resp.error.message.contains("expired"))
      assert(expired.resp.docs.isEmpty)
      // expiry is sticky (the retention record outlives the purge): a
      // SECOND fetch still reports expiry rather than serving results
      val expired2 = client.fetchAsync(
        PFetchAsyncRequest(shortLived.searchId, withDocs = true, 10, 0))
      assert(!expired2.done && expired2.resp.error.message.contains("expired"))
      assert(expired2.resp.docs.isEmpty)
    } finally {
      client.close()
      api.stop()
    }
  }

  test("gRPC admission: token bucket rejects bursts with RESOURCE_EXHAUSTED") {
    val asyncDir = java.nio.file.Files.createTempDirectory("grpc_rl").toString
    val api = new GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(tableDir), mapping), asyncDir,
      limits = graft.server.RateLimits(requestsPerSec = 0.5, burst = 2))
    val port = api.start()
    val client = new GrpcSeqClient("127.0.0.1", port, api)
    try {
      def once(): Option[String] =
        try { client.status(); None }
        catch { case e: Exception => Some(Option(e.getMessage).getOrElse("")) }
      val results = (1 to 3).map(_ => once())
      assert(results.take(2).forall(_.isEmpty), results)
      assert(results.exists(_.exists(_.contains("RESOURCE_EXHAUSTED"))), results)
      Thread.sleep(2100) // tokens refill
      assert(once().isEmpty)
    } finally { client.close(); api.stop() }
  }

  test("keyed limits: repeated identical query throttled, distinct queries pass") {
    val asyncDir = java.nio.file.Files.createTempDirectory("grpc_kq").toString
    val api = new GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(tableDir), mapping), asyncDir,
      limits = graft.server.RateLimits(perQueryRps = 0.001, perQueryBurst = 2))
    val port = api.start()
    val client = new GrpcSeqClient("127.0.0.1", port, api)
    try {
      def search(q: String): Option[String] =
        try {
          client.search(PSearchRequest(SearchQuery(q, 0L, Long.MaxValue),
            size = 1, offset = 0, withTotal = false, asc = false)); None
        } catch { case e: Exception => Some(Option(e.getMessage).getOrElse("")) }
      // burst of the SAME query: first two pass, third throttled
      val same = (1 to 3).map(_ => search("level:error"))
      assert(same.take(2).forall(_.isEmpty), same)
      assert(same(2).exists(_.contains("RESOURCE_EXHAUSTED")), same)
      // a DISTINCT query passes while the first key is exhausted
      assert(search("level:info").isEmpty)
      // same query TEXT with a different TIME RANGE is the same key
      // (sliding dashboard window) — still throttled
      val slid = try {
        client.search(PSearchRequest(SearchQuery("level:error", 1L, Long.MaxValue),
          size = 1, offset = 0, withTotal = false, asc = false)); None
      } catch { case e: Exception => Some(Option(e.getMessage).getOrElse("")) }
      assert(slid.exists(_.contains("RESOURCE_EXHAUSTED")), slid)
      // ...and an aggregation rides a different key than a bare search
      val ag = try {
        client.getAggregation(PGetAggregationRequest(
          SearchQuery("level:error", 0L, Long.MaxValue),
          Seq(PAggQuery("", "level", func = 0, Nil, "")))); None
      } catch { case e: Exception => Some(Option(e.getMessage).getOrElse("")) }
      assert(ag.isEmpty, ag)
    } finally { client.close(); api.stop() }
  }

  test("keyed limits: fetch-by-message-ID throttled per id") {
    val asyncDir = java.nio.file.Files.createTempDirectory("grpc_kf").toString
    val api = new GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(tableDir), mapping), asyncDir,
      limits = graft.server.RateLimits(perFetchIdRps = 0.001, perFetchIdBurst = 2))
    val port = api.start()
    val client = new GrpcSeqClient("127.0.0.1", port, api)
    try {
      val ids = client.search(PSearchRequest(
        SearchQuery("level:error", 0L, Long.MaxValue),
        size = 10, offset = 0, withTotal = false, asc = false)).docs.map(_.id)
      assert(ids.size == 2)
      def fetch(id: String): Option[String] =
        try { client.fetch(PFetchRequest(Seq(id))); None }
        catch { case e: Exception => Some(Option(e.getMessage).getOrElse("")) }
      val same = (1 to 3).map(_ => fetch(ids.head))
      assert(same.take(2).forall(_.isEmpty), same)
      assert(same(2).exists(_.contains("RESOURCE_EXHAUSTED")), same)
      // a different id has its own bucket
      assert(fetch(ids.last).isEmpty)
    } finally { client.close(); api.stop() }
  }

  test("serving mode: Search through ServingCore matches the per-call engine path") {
    val asyncDir = java.nio.file.Files.createTempDirectory("grpc_srv").toString
    val core = new graft.server.ServingCore(spark, mapping, tableDir)
    val api = new GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(tableDir), mapping), asyncDir,
      serving = Some(core))
    val cold = new GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(tableDir), mapping),
      java.nio.file.Files.createTempDirectory("grpc_srv2").toString)
    val (p1, p2) = (api.start(), cold.start())
    val c1 = new GrpcSeqClient("127.0.0.1", p1, api)
    val c2 = new GrpcSeqClient("127.0.0.1", p2, cold)
    try {
      val q = SearchQuery("level:error", 0L, Long.MaxValue)
      def docsOf(r: PSearchResponse) =
        r.docs.map(d => (d.id, d.timeMs, new String(d.data, "UTF-8")))
      for (offset <- Seq(0, 1); asc <- Seq(false, true)) {
        val r = PSearchRequest(q, size = 1, offset = offset,
          withTotal = true, asc = asc)
        assert(docsOf(c1.search(r)) == docsOf(c2.search(r)), s"offset=$offset asc=$asc")
      }
      // paging the same query again is served from the driver-held
      // prefix — still correct after repeated calls
      val again = c1.search(PSearchRequest(q, size = 10, offset = 0,
        withTotal = false, asc = false))
      assert(again.docs.size == 2)
      // non-search RPCs ride the cached engine too
      assert(c1.status().numberOfStores == c2.status().numberOfStores)
      // serving-mode response memoization: a repeated identical
      // aggregation returns the identical response (map lookup), and
      // matches the uncached engine's answer
      val ar = PGetAggregationRequest(SearchQuery("*", 0L, Long.MaxValue),
        Seq(PAggQuery("", "level", func = 0, Nil, "")))
      val (a1, a2, a3) = (c1.getAggregation(ar), c1.getAggregation(ar),
        c2.getAggregation(ar))
      assert(a1 == a2 && a1.aggs == a3.aggs)
      val hr = PGetHistogramRequest(SearchQuery("*", 0L, Long.MaxValue), "1h")
      assert(c1.getHistogram(hr) == c1.getHistogram(hr))
      // trace tags must be applied OUTSIDE the response cache: the same
      // memoized complex-search entry serves three callers, each seeing
      // only their own jaeger-debug-id (and the untraced one none) —
      // regression for the cross-request trace-id bleed
      val csr = PComplexSearchRequest(
        SearchQuery("*", 0L, Long.MaxValue, explain = true),
        Nil, None, size = 1, offset = 0, withTotal = false, asc = false)
      val plain = c1.complexSearch(csr) // first call pins the cache entry
      assert(!plain.explain.get.message.contains("trace_id"))
      val t1 = c1.complexSearchTraced(csr, traceId = "caller-one")
      val t2 = c1.complexSearchTraced(csr, traceId = "caller-two")
      assert(t1.explain.get.message.contains("[trace_id=caller-one]"),
        t1.explain.get.message)
      assert(t2.explain.get.message.contains("[trace_id=caller-two]") &&
        !t2.explain.get.message.contains("caller-one"), t2.explain.get.message)
      // a later untraced caller of the now-cached query sees no tag
      assert(!c1.complexSearch(csr).explain.get.message.contains("trace_id"))
    } finally { c1.close(); c2.close(); api.stop(); cold.stop() }
  }

  test("serving mode: sink append invalidates the memoized aggregation within the staleness bound") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("grpc_gen").toString
    graft.ingest.BulkIngest.project(lines.toDF("value"), mapping, reqTime)
      .write.mode("append").parquet(dir)
    val core = new graft.server.ServingCore(spark, mapping, dir)
    val api = new GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(dir), mapping),
      java.nio.file.Files.createTempDirectory("grpc_gen_async").toString,
      serving = Some(core))
    val port = api.start()
    val client = new GrpcSeqClient("127.0.0.1", port, api)
    try {
      val ar = PGetAggregationRequest(SearchQuery("*", 0L, Long.MaxValue),
        Seq(PAggQuery("", "level", func = 0, Nil, "")))
      def counts(): Map[String, Double] =
        client.getAggregation(ar).aggs.head.buckets.map(b => b.key -> b.value).toMap
      assert(counts() == Map("error" -> 2.0, "info" -> 1.0))
      // append one more error doc; the sink signature moves, so within
      // the ~1s probe interval the memoized response must be dropped
      graft.ingest.BulkIngest.project(Seq(
        """{"timestamp":"2024-03-10 11:30:00","level":"error","message":"oom"}""")
        .toDF("value"), mapping, reqTime)
        .write.mode("append").parquet(dir)
      Thread.sleep(1100)
      assert(counts() == Map("error" -> 3.0, "info" -> 1.0))
    } finally { client.close(); api.stop() }
  }

  test("proto codec round-trips every message shape") {
    import org.sparkproject.connect.protobuf.CodedInputStream
    def rt[A](w: A => Array[Byte], r: CodedInputStream => A, v: A): A =
      r(CodedInputStream.newInstance(w(v)))

    val q = SearchQuery("level:error and message:disk*", -123456789L, 1710072000123L)
    assert(rt(writeSearchQuery, readSearchQuery, q) == q)

    val sr = PSearchRequest(q, 50, 100, withTotal = true, asc = true)
    assert(rt(writeSearchRequest, readSearchRequest, sr) == sr)

    val aq = PAggQuery("value", "level", 5, Seq(0.5, 0.9, 0.99), "1m")
    assert(rt(writeAggQuery, readAggQuery, aq) == aq)

    val b = AggBucket("error", 2.5, 3L, Seq(1.0, 2.0), Some(1710072000000L))
    assert(rt(writeAggBucket, readAggBucket, b) == b)

    val agg = PAggregation(Seq(b, b.copy(key = "info", tsMs = None)), 7L)
    assert(rt(writeAggregation, readAggregation, agg) == agg)

    val h = PHistogram(Seq(HistBucket(5, 1710068400000L), HistBucket(1, 1710072000000L)))
    assert(rt(writeHistogram, readHistogram, h) == h)

    val csr = PComplexSearchRequest(q, Seq(aq), Some("5s"), 10, 2, withTotal = true, asc = false)
    assert(rt(writeComplexSearchRequest, readComplexSearchRequest, csr) == csr)

    // negative-epoch timestamp round-trip (floorDiv/floorMod path)
    assert(rt((ms: Long) => writeTimestampMs(ms), readTimestampMs, -1500L) == -1500L)

    // recursive ExplainEntry tree with sub-second duration
    val ex = PExplainEntry("root", 1234L, Seq(
      PExplainEntry("scan", 0L, Nil),
      PExplainEntry("filter", 0L, Seq(PExplainEntry("leaf", 0L, Nil)))))
    assert(rt(writeExplainEntry, readExplainEntry, ex) == ex)

    // async request with retention + aggs + hist round-trips
    val sar = PStartAsyncRequest(q, asc = true,
      aggs = Seq(aq), histInterval = Some("1h"), retentionMs = 90500L)
    assert(rt(writeStartAsyncRequest, readStartAsyncRequest, sar) == sar)

    // explain flag on the query survives the wire
    val qe = SearchQuery("x", 0L, 1L, explain = true)
    assert(rt(writeSearchQuery, readSearchQuery, qe) == qe)
  }

  test("async search: progress survives a store restart (killed between Start and Fetch)") {
    import java.nio.file.{Files => NF, Paths => NP}
    // a 5-day table so the day-chunked search leaves real multi-chunk
    // progress to kill mid-flight
    val rlines = (10 to 14).flatMap(d => Seq(
      s"""{"timestamp":"2024-03-$d 09:00:00","level":"error","message":"boom day$d"}""",
      s"""{"timestamp":"2024-03-$d 10:00:00","level":"info","message":"fine day$d"}"""))
    val tdir = NF.createTempDirectory("grpc_restart_docs").toString
    BulkIngest.writePartitioned(BulkIngest.project(rlines.toDF("value"), mapping,
      requestTimeMs = 1710460800000L, allowedDriftMs = 10L * 86400000), tdir)
    val asyncDir = NF.createTempDirectory("grpc_restart").toString
    val q = SearchQuery("level:error", 0L, Long.MaxValue)

    // ---- process #1: accept the search, then DIE (shutdownNow kills
    // the chunk pool and the server) between Start and Fetch ----
    val api1 = new GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(tdir), mapping), asyncDir)
    val port1 = api1.start()
    val client1 = new GrpcSeqClient("127.0.0.1", port1, api1)
    val id = try {
      val started = client1.startAsync(PStartAsyncRequest(q, asc = false,
        aggs = Seq(PAggQuery("", "level", func = 0, Nil, ""))))
      // wait until SOME chunk progress is persisted, then kill
      def markers() = Option(new java.io.File(s"$asyncDir/${started.searchId}")
        .listFiles()).toSeq.flatten.count(_.getName.startsWith(".done_"))
      val dl = System.currentTimeMillis() + 60000
      while (markers() < 1 && System.currentTimeMillis() < dl) Thread.sleep(20)
      assert(markers() >= 1, "no persisted progress to kill")
      started.searchId
    } finally { client1.close(); api1.stop() }
    // the kill races the chunk loop; when it lost (all 5 chunks
    // finished), reconstruct the exact mid-flight disk state a slower
    // kill leaves: completion mark gone, one chunk missing
    val idDir = s"$asyncDir/$id"
    NF.deleteIfExists(NP.get(s"$idDir/.complete"))
    val doneMarkers = new java.io.File(idDir).listFiles()
      .filter(_.getName.startsWith(".done_"))
    assert(doneMarkers.nonEmpty)
    val victim = doneMarkers.minBy(_.getName.stripPrefix(".done_").toLong)
    val victimStart = victim.getName.stripPrefix(".done_")
    NF.delete(victim.toPath)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(s"$idDir/chunk=$victimStart"))
    assert(!NF.exists(NP.get(s"$idDir/.complete")))

    // ---- process #2: brand-new server AND engine over a fresh read
    // of the table (TableStatesSpec-style restart); start() must
    // resume the persisted search on its own ----
    val api2 = new GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(tdir), mapping), asyncDir)
    val port2 = api2.start()
    val client2 = new GrpcSeqClient("127.0.0.1", port2, api2)
    try {
      val dl = System.currentTimeMillis() + 60000
      var done = false
      while (!done && System.currentTimeMillis() < dl) {
        done = client2.fetchAsync(PFetchAsyncRequest(id, withDocs = false, 0, 0)).done
        if (!done) Thread.sleep(200)
      }
      assert(done, "restarted store must finish the persisted search")
      val far = client2.fetchAsync(PFetchAsyncRequest(id, withDocs = true, 20, 0))
      assert(far.done)
      assert(far.resp.docs.size == 5) // one merged error doc per day
      // the aggregation comes from the RELOADED on-disk request meta —
      // the original request object died with process #1
      assert(far.resp.aggs.head.buckets.map(b => b.key -> b.value).toMap ==
        Map("error" -> 5.0))
      // retention stays anchored at the ORIGINAL start time
      assert(far.expirationMs.exists(_ > System.currentTimeMillis()))
    } finally { client2.close(); api2.stop() }
  }

  /** A default-mode gRPC API over a facade's by-name `table`, the way a
    * co-hosted server is wired. */
  private def withDefaultApi(m: SeqMapping, sink: String)(
      body: (EsHttpFacade, GrpcSeqClient) => Unit): Unit = {
    val facade = new EsHttpFacade(spark, m, sink)
    val api = new GrpcSeqApi(spark, facade.table,
      java.nio.file.Files.createTempDirectory("grpc_fresh_async").toString,
      metrics = facade.metrics)
    val client = new GrpcSeqClient("127.0.0.1", api.start(), api)
    try body(facade, client) finally { client.close(); api.stop() }
  }

  private def totalOf(client: GrpcSeqClient, query: String): Long =
    client.search(PSearchRequest(SearchQuery(query, 0L, Long.MaxValue),
      size = 100, offset = 0, withTotal = true, asc = false)).total

  test("default mode: a file carrying a new column appears in the union schema") {
    val sink = java.nio.file.Files.createTempDirectory("grpc_newcol").toString + "/docs"
    BulkIngest.writePartitioned(
      BulkIngest.project(lines.toDF("value"), mapping, reqTime), sink)
    val wide = mapping.copy(fields = mapping.fields ++
      SeqMapping.of("region" -> IndexType.Keyword).fields)
    withDefaultApi(wide, sink) { (facade, client) =>
      assert(totalOf(client, "level:error") == 2)
      assert(!facade.table.df.columns.contains("region"))
      BulkIngest.project(Seq(
          """{"timestamp":"2024-03-10 11:30:00","level":"error","message":"eu down","region":"eu"}""")
          .toDF("value"), wide, reqTime)
        .withColumn("date", to_date(timestamp_millis(col("mid"))))
        .write.mode("append").partitionBy("date").parquet(sink)
      assert(facade.table.df.columns.contains("region"))
      assert(totalOf(client, "region:eu") == 1)
      assert(totalOf(client, "level:error") == 3)
    }
  }

  test("default mode: a deleted date= partition neither fails the next read nor still counts") {
    val sink = java.nio.file.Files.createTempDirectory("grpc_dropday").toString + "/docs"
    BulkIngest.writePartitioned(BulkIngest.project((lines :+
        """{"timestamp":"2024-03-09 15:00:00","level":"error","message":"old day"}""")
      .toDF("value"), mapping, reqTime), sink)
    withDefaultApi(mapping, sink) { (facade, client) =>
      assert(totalOf(client, "level:error") == 3)
      val day = java.nio.file.Paths.get(sink, "date=2024-03-09")
      assert(java.nio.file.Files.isDirectory(day))
      java.nio.file.Files.walk(day).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      assert(totalOf(client, "level:error") == 2)
      assert(totalOf(client, "message:old") == 0)
    }
  }

  test("default mode: gRPC handlers reuse the facade's resolved table while the sink is unchanged") {
    val sink = java.nio.file.Files.createTempDirectory("grpc_reuse").toString + "/docs"
    BulkIngest.writePartitioned(
      BulkIngest.project(lines.toDF("value"), mapping, reqTime), sink)
    withDefaultApi(mapping, sink) { (facade, client) =>
      def opens(): Long = facade.metrics.counter("table_opens_total").value
      val q = SearchQuery("level:error", 0L, Long.MaxValue)
      val ids = client.search(PSearchRequest(q, size = 10, offset = 0,
        withTotal = true, asc = false)).docs.map(_.id)
      assert(ids.size == 2)
      val df = facade.table.df
      assert(client.complexSearch(PComplexSearchRequest(q, size = 10, offset = 0,
        withTotal = true, asc = false, aggs = Nil, histInterval = None)).docs.size == 2)
      assert(client.fetch(PFetchRequest(ids)).map(_.id) == ids)
      assert(client.getHistogram(PGetHistogramRequest(q, "1h")).hist.buckets.size == 2)
      assert(facade.table.df eq df)
      assert(opens() == 1)
    }
  }
}
