package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.model.{IndexType, SeqMapping}

class MetricsSpec extends SparkSpec {

  test("registry: counters count and histogram buckets are cumulative with exact sum/count") {
    val m = new Metrics("t")
    val c = m.counter("reqs_total")
    c.inc(); c.inc(2)
    val h = m.histogram("lat_seconds", buckets = Seq(0.01, 0.1, 1.0))
    h.observe(0.005); h.observe(0.05); h.observe(5.0)
    val out = m.render
    assert(out.contains("t_reqs_total 3"), out)
    assert(out.contains("t_lat_seconds_bucket{le=\"0.01\"} 1"), out)
    assert(out.contains("t_lat_seconds_bucket{le=\"0.1\"} 2"), out)
    assert(out.contains("t_lat_seconds_bucket{le=\"1.0\"} 2"), out)
    assert(out.contains("t_lat_seconds_bucket{le=\"+Inf\"} 3"), out)
    assert(out.contains("t_lat_seconds_count 3"), out)
  }

  test("GET /metrics exposes ingest and read counters in Prometheus text format") {
    val mapping = SeqMapping.of("level" -> IndexType.Keyword)
    val sink = java.nio.file.Files.createTempDirectory("graft_metrics").toString + "/docs"
    val srv = new EsHttpFacade(spark, mapping, sink)
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(path: String, body: String) =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${srv.port}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val ts = java.time.Instant.now().toString
      assert(post("/_bulk",
        s"""{"timestamp":"$ts","level":"error"}""" + "\n").statusCode() == 200)
      assert(post("/search",
        s"""{"query":"level:error","from":0,"to":${Long.MaxValue},"size":10}""")
        .statusCode() == 200)
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      val text = r.body()
      assert(text.contains("seq_db_bulk_total 1"), text)
      assert(text.contains("seq_db_bulk_docs_total 1"), text)
      assert(text.contains("seq_db_search_total 1"), text)
      assert(text.contains("seq_db_bulk_duration_seconds_count 1"), text)
      assert(text.contains("# TYPE seq_db_search_duration_seconds histogram"), text)
    } finally srv.stop()
  }

  test("a co-hosted gRPC server shares the facade registry: one scrape covers both") {
    val mapping = SeqMapping.of("level" -> IndexType.Keyword)
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics_g")
    val sink = dir.toString + "/docs"
    val srv = new EsHttpFacade(spark, mapping, sink)
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val ts = java.time.Instant.now().toString
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/_bulk"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"timestamp":"$ts","level":"error"}""" + "\n")).build(),
        HttpResponse.BodyHandlers.ofString())
      val gapi = new grpc.GrpcSeqApi(spark, srv.table, dir.toString + "/_async",
        metrics = srv.metrics)
      val gport = gapi.start()
      val gclient = new grpc.GrpcSeqClient("127.0.0.1", gport, gapi)
      try {
        import grpc.SeqProxyProto._
        gclient.search(PSearchRequest(SearchQuery("level:error", 0L, Long.MaxValue),
          size = 10, offset = 0, withTotal = true, asc = false))
      } finally { gclient.close(); gapi.stop() }
      val text = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(text.contains("seq_db_grpc_requests_total 1"), text)
      assert(text.contains("seq_db_grpc_request_duration_seconds_count 1"), text)
      // the gRPC Search resolved the sink through the facade's by-name
      // table: one open for the one sink generation it saw
      assert(text.contains("seq_db_table_opens_total 1"), text)
    } finally srv.stop()
  }
}
