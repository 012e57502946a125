package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, timestamp_millis, to_date}

import graft.SparkSpec
import graft.ingest.BulkIngest
import graft.model.{IndexType, SeqMapping}

class EsFacadeSpec extends SparkSpec {
  import spark.implicits._

  private val mapping = SeqMapping.of(
    "service" -> IndexType.Keyword,
    "level"   -> IndexType.Keyword,
    "message" -> IndexType.Text)

  private lazy val sink = java.nio.file.Files.createTempDirectory("graft_es_sink").toString + "/docs"
  private lazy val facade = new EsHttpFacade(spark, mapping, sink)
  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def postTo(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def searchTotal(port: Int, query: String): Int = {
    val r = postTo(port, "/search",
      s"""{"query":"$query","from":0,"to":${Long.MaxValue},"size":100}""")
    assert(r.statusCode() == 200, r.body())
    "\"total\":(\\d+)".r.findFirstMatchIn(r.body()).get.group(1).toInt
  }

  /** Stage names of the Spark jobs `body` launches, on any thread. The
    * listener bus is asynchronous, so two marker jobs fence the window:
    * only jobs whose start events arrive between the markers count. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val tag = s"jobs-fence-${System.nanoTime()}"
    val events = new java.util.concurrent.LinkedBlockingQueue[Either[String, String]]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
        if (desc != null && desc.startsWith(tag)) events.put(Left(desc))
        else events.put(Right(e.stageInfos.map(_.name).mkString("+")))
      }
    }
    def fence(name: String): Unit = {
      sc.setJobDescription(s"$tag-$name")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      fence("start"); body; fence("end")
      val out = Seq.newBuilder[String]
      var inside = false
      var done = false
      while (!done) {
        events.poll(30, java.util.concurrent.TimeUnit.SECONDS) match {
          case null               => fail("listener fence never arrived")
          case Left(d)            => if (d.endsWith("-start")) inside = true else done = true
          case Right(n) if inside => out += n
          case Right(_)           => ()
        }
      }
      out.result()
    } finally sc.removeSparkListener(l)
  }

  /** A sink-open job: the schema merge (or listing) that resolving the
    * sink's `spark.read...parquet` launches. */
  private def isSinkOpen(stage: String): Boolean = stage.startsWith("parquet at ")

  test("handshake stubs satisfy shipper probes") {
    facade.start()
    try {
      assert(get("/").body().contains("\"cluster_name\""))
      assert(get("/_license").body().contains("\"basic\""))
      assert(get("/_ilm/policy/foo").body() == "{}")
      assert(get("/_nodes").body() == "{}")
      assert(get("/bogus").statusCode() == 400)
    } finally facade.stop()
  }

  test("debug-server surface: /live, /readiness, /log/level") {
    facade.start()
    try {
      assert(get("/live").statusCode() == 200)
      // non-serving readiness = sink parent reachable; the temp sink
      // dir may not exist until first bulk, so accept either verdict
      // but require the endpoint to answer with a status JSON
      val r = get("/readiness")
      assert(Set(200, 503)(r.statusCode()) && r.body().contains("\"status\""))
      assert(get("/log/level").body().contains("\"level\""))
      val set = post("/log/level", """{"level":"warn"}""")
      assert(set.statusCode() == 200 && set.body().contains("\"warn\""))
      assert(get("/log/level").body().contains("\"warn\""))
      assert(post("/log/level", """{"level":"nope"}""").statusCode() == 400)
      // restore the suite's quiet level
      assert(post("/log/level", "level=error").statusCode() == 200)
    } finally facade.stop()
  }

  test("bulk ingest then search over HTTP round-trips") {
    facade.start()
    try {
      val now = System.currentTimeMillis()
      val ts = java.time.Instant.ofEpochMilli(now).toString
      val bulk = Seq(
        """{"index":{"_index":"ignored"}}""",
        s"""{"timestamp":"$ts","service":"api","level":"error","message":"disk is full"}""",
        """{"index":{}}""",
        s"""{"timestamp":"$ts","service":"api","level":"info","message":"all fine"}""",
        s"""{"timestamp":"$ts","service":"db","level":"error","message":"full table scan"}""",
      ).mkString("", "\n", "\n")
      val resp = post("/_bulk", bulk)
      assert(resp.statusCode() == 200)
      assert(resp.body().contains("\"errors\":false"))
      assert("\\{\"index\":\\{\"status\":201\\}\\}".r.findAllIn(resp.body()).size == 3)

      val hits = post("/search",
        s"""{"query":"level:error and message:full","from":0,"to":${Long.MaxValue},"size":10}""")
      assert(hits.statusCode() == 200)
      assert(hits.body().contains("\"total\":2"))
      assert(hits.body().contains("disk is full"))
      assert(hits.body().contains("full table scan"))
      assert(!hits.body().contains("all fine"))

      // GetAggregation analogue over HTTP: count by level
      val agg = post("/aggregate",
        s"""{"query":"*","from":0,"to":${Long.MaxValue},"func":"count","group_by":"level"}""")
      assert(agg.statusCode() == 200)
      assert(agg.body().contains("""{"name":"error","value":2}"""))
      assert(agg.body().contains("""{"name":"info","value":1}"""))

      // quantile agg with explicit quantiles list
      val qagg = post("/aggregate",
        s"""{"query":"*","from":0,"to":${Long.MaxValue},"func":"quantile","field":"level","quantiles":[0.5]}""")
      assert(qagg.statusCode() == 500) // level is non-numeric → strict A3 error
      assert(qagg.body().contains("error"))

      // GetHistogram analogue: all three docs share one hour bucket
      val hist = post("/histogram",
        s"""{"query":"*","from":0,"to":${Long.MaxValue},"interval":"1h"}""")
      assert(hist.statusCode() == 200)
      assert(hist.body().contains("\"cnt\":3"))

      // promql `interval` string on /aggregate (proto shape) buckets
      // the aggregation by time
      val tsAgg = post("/aggregate",
        s"""{"query":"*","from":0,"to":${Long.MaxValue},"func":"count","group_by":"level","interval":"1h"}""")
      assert(tsAgg.statusCode() == 200)
      assert(tsAgg.body().contains("\"bucket_ms\":"))
    } finally facade.stop()
  }

  test("rate limits: token bucket 429s bursts, handshake stubs always answer") {
    val sink3 = java.nio.file.Files.createTempDirectory("graft_es_rl").toString + "/docs"
    val rl = new EsHttpFacade(spark, mapping, sink3,
      limits = RateLimits(requestsPerSec = 0.5, burst = 2))
    rl.start()
    try {
      def searchCode(): Int = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${rl.port}/search"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"query":"*","from":0,"to":1,"size":1}"""))
        .build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      // burst capacity 2 → two admitted (500: empty sink is fine, the
      // point is admission), third throttled
      val codes = (1 to 3).map(_ => searchCode())
      assert(codes.count(_ == 429) >= 1, codes)
      assert(codes.take(2).forall(_ != 429), codes)
      // non-data endpoints bypass admission entirely
      val probe = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${rl.port}/_nodes")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(probe.statusCode() == 200)
      // tokens refill with time
      Thread.sleep(2100)
      assert(searchCode() != 429)
    } finally rl.stop()
  }

  test("keyed query limit: identical /search throttled, distinct query passes") {
    val sinkK = java.nio.file.Files.createTempDirectory("graft_es_kq").toString + "/docs"
    val rl = new EsHttpFacade(spark, mapping, sinkK,
      limits = RateLimits(perQueryRps = 0.001, perQueryBurst = 2))
    rl.start()
    try {
      def searchCode(q: String): Int = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${rl.port}/search"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"query":"$q","from":0,"to":1,"size":1}"""))
        .build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      // same query text: burst of 2 admitted, third 429
      val same = (1 to 3).map(_ => searchCode("level:error"))
      assert(same.take(2).forall(_ != 429), same)
      assert(same(2) == 429, same)
      // a distinct query has its own bucket while the first is dry
      assert(searchCode("level:info") != 429)
    } finally rl.stop()
  }

  test("bulk circuit breaker: persistent sink failures trip to fast 503") {
    // sink path whose PARENT is a regular file -> every write fails
    val parent = java.nio.file.Files.createTempFile("graft_es_cb", ".blk")
    val badSink = parent.toString + "/docs"
    val fc = new EsHttpFacade(spark, mapping, badSink)
    fc.start()
    try {
      def bulkCode(): Int = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${fc.port}/_bulk"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"index":{}}""" + "\n" + """{"timestamp":"2024-03-10 09:00:00","level":"x"}""" + "\n"))
        .build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      // failures accumulate until the breaker opens (volume floor 5)
      val codes = (1 to 6).map(_ => bulkCode())
      assert(codes.take(5).forall(_ == 500), codes)
      assert(codes(5) == 503, codes) // fail-fast, no write attempted
    } finally fc.stop()
  }

  test("inflight cap rejects when saturated") {
    val sink4 = java.nio.file.Files.createTempDirectory("graft_es_if").toString + "/docs"
    // maxInflight=0 means unlimited; a facade capped at -1... use a
    // concurrent pair: cap 1, hold one slow request, second gets 429.
    val ifc = new EsHttpFacade(spark, mapping, sink4,
      limits = RateLimits(maxInflight = 1))
    val port = ifc.start()
    // give the server a concurrent executor so two requests can overlap
    try {
      val slowBody = s"""{"query":"*","from":0,"to":${Long.MaxValue},"size":1}"""
      val exec = java.util.concurrent.Executors.newFixedThreadPool(2)
      val f1 = exec.submit(new java.util.concurrent.Callable[Int] {
        override def call(): Int = client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port/search"))
          .POST(HttpRequest.BodyPublishers.ofString(slowBody)).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      })
      val f2 = exec.submit(new java.util.concurrent.Callable[Int] {
        override def call(): Int = client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port/search"))
          .POST(HttpRequest.BodyPublishers.ofString(slowBody)).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      })
      val codes = Seq(f1.get(), f2.get())
      exec.shutdown()
      // with a serial server executor requests can't overlap — then
      // both pass; with overlap one is shed. Either way nothing hangs
      // and no request is lost silently.
      assert(codes.forall(c => c == 200 || c == 429 || c == 500), codes)
    } finally ifc.stop()
  }

  test("serving mode: cached engine + memoized plans still see appends") {
    val sink2 = java.nio.file.Files.createTempDirectory("graft_es_srv").toString + "/docs"
    val srv = new EsHttpFacade(spark, mapping, sink2, serving = true)
    srv.start()
    try {
      val now = System.currentTimeMillis()
      val ts = java.time.Instant.ofEpochMilli(now).toString
      def bulk(msg: String): Unit = {
        val r = client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${srv.port}/_bulk"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"timestamp":"$ts","service":"api","level":"error","message":"$msg"}""" + "\n"))
          .build(), HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200)
      }
      def search(): String = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/search"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"query":"level:error","from":0,"to":${Long.MaxValue},"size":10}"""))
        .build(), HttpResponse.BodyHandlers.ofString()).body()
      bulk("first doc")
      assert(search().contains("\"total\":1"))
      // repeated identical request rides the memoized plan
      assert(search().contains("\"total\":1"))
      bulk("second doc")
      // the signature probe has a 1s TTL — after it lapses the append
      // must be visible through the rebuilt engine
      Thread.sleep(1100)
      assert(search().contains("\"total\":2"))
    } finally srv.stop()
  }

  test("async search over HTTP: start, partial fetch, done, cancel") {
    facade.start()
    try {
      val now = System.currentTimeMillis()
      val ts = java.time.Instant.ofEpochMilli(now).toString
      val bulk = Seq(
        s"""{"timestamp":"$ts","service":"api","level":"error","message":"async one"}""",
        s"""{"timestamp":"$ts","service":"api","level":"error","message":"async two"}""",
      ).mkString("", "\n", "\n")
      assert(post("/_bulk", bulk).statusCode() == 200)

      // one-chunk search completes and serves its hits
      val started = post("/async_search/start",
        s"""{"id":"t1","query":"message:async","from":0,"to":${Long.MaxValue},"chunk_ms":${Long.MaxValue / 2}}""")
      assert(started.statusCode() == 200)
      assert(started.body().contains("\"id\":\"t1\""))
      var status = ""
      val deadline = System.currentTimeMillis() + 60000
      while (status != "done" && System.currentTimeMillis() < deadline) {
        val f = post("/async_search/fetch", """{"id":"t1"}""")
        assert(f.statusCode() == 200)
        status = if (f.body().contains("\"status\":\"done\"")) "done" else "running"
        if (status != "done") Thread.sleep(200)
      }
      val fin = post("/async_search/fetch", """{"id":"t1","size":10}""")
      assert(fin.body().contains("\"status\":\"done\""))
      assert(fin.body().contains("async one"))
      assert(fin.body().contains("async two"))

      // cancel after completion is a no-op
      val c1 = post("/async_search/cancel", """{"id":"t1"}""")
      assert(c1.body().contains("\"canceled\":false"))

      // a many-chunk search canceled mid-flight keeps its persisted
      // partials fetchable with status "canceled"
      val ms = now
      post("/async_search/start",
        s"""{"id":"t2","query":"message:async","from":0,"to":${ms + 500L * 86400000L},"chunk_ms":86400000}""")
      val c2 = post("/async_search/cancel", """{"id":"t2"}""")
      assert(c2.body().contains("\"canceled\":true"))
      val f2 = post("/async_search/fetch", """{"id":"t2"}""")
      assert(f2.body().contains("\"status\":\"canceled\""))
    } finally facade.stop()
  }

  test("default mode: a root-level /_bulk append is visible to the next read") {
    val sinkB = java.nio.file.Files.createTempDirectory("graft_es_fresh").toString + "/docs"
    val fc = new EsHttpFacade(spark, mapping, sinkB)
    val port = fc.start()
    try {
      val ts = java.time.Instant.now().toString
      def bulk(msg: String): Unit = assert(postTo(port, "/_bulk",
        s"""{"timestamp":"$ts","service":"api","level":"error","message":"$msg"}""" + "\n")
        .statusCode() == 200)
      bulk("first")
      assert(searchTotal(port, "level:error") == 1)
      // no sleep: the default path probes the sink on every request
      bulk("second")
      assert(searchTotal(port, "level:error") == 2)
      bulk("third")
      assert(searchTotal(port, "level:error") == 3)
    } finally fc.stop()
  }

  test("default mode: a file appended into an existing date= partition is visible") {
    val sinkP = java.nio.file.Files.createTempDirectory("graft_es_part").toString + "/docs"
    val reqTime = 1710072000000L // 2024-03-10T12:00Z
    BulkIngest.writePartitioned(BulkIngest.project(Seq(
      """{"timestamp":"2024-03-10 09:00:00","service":"api","level":"error","message":"a"}""",
      """{"timestamp":"2024-03-09 15:00:00","service":"api","level":"error","message":"b"}""",
    ).toDF("value"), mapping, reqTime), sinkP)
    val fc = new EsHttpFacade(spark, mapping, sinkP)
    val port = fc.start()
    try {
      assert(searchTotal(port, "level:error") == 2)
      // the day-partitioned append the streaming sink does
      BulkIngest.project(Seq(
          """{"timestamp":"2024-03-10 10:00:00","service":"db","level":"error","message":"c"}""")
          .toDF("value"), mapping, reqTime)
        .withColumn("date", to_date(timestamp_millis(col("mid"))))
        .write.mode("append").partitionBy("date").parquet(sinkP)
      assert(new java.io.File(sinkP, "date=2024-03-10").listFiles()
        .count(_.getName.endsWith(".parquet")) == 2)
      assert(searchTotal(port, "level:error") == 3)
      assert(searchTotal(port, "service:db") == 1)
    } finally fc.stop()
  }

  test("default mode: the sink is resolved once per generation and again after an append") {
    val sinkR = java.nio.file.Files.createTempDirectory("graft_es_reuse").toString + "/docs"
    val fc = new EsHttpFacade(spark, mapping, sinkR)
    val port = fc.start()
    try {
      val ts = java.time.Instant.now().toString
      def bulk(msg: String): Unit = assert(postTo(port, "/_bulk",
        s"""{"timestamp":"$ts","service":"api","level":"error","message":"$msg"}""" + "\n")
        .statusCode() == 200)
      def opens(): Long = fc.metrics.counter("table_opens_total").value
      bulk("first")
      val first = jobsOf(assert(searchTotal(port, "level:error") == 1))
      assert(first.exists(isSinkOpen), first)
      assert(opens() == 1)
      val df = fc.table.df
      // unchanged sink: the same resolved relation, and the read runs
      // only its own query's jobs
      val second = jobsOf(assert(searchTotal(port, "level:error") == 1))
      assert(!second.exists(isSinkOpen), second)
      assert(second.nonEmpty && second == first.filterNot(isSinkOpen), (first, second))
      assert(fc.table.df eq df)
      assert(opens() == 1)
      // an append moves the generation: resolved again, and visible
      bulk("second")
      val third = jobsOf(assert(searchTotal(port, "level:error") == 2))
      assert(third.exists(isSinkOpen), third)
      assert(!(fc.table.df eq df))
      assert(opens() == 2)
      val scrape = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(scrape.contains("seq_db_table_opens_total 2"), scrape)
    } finally fc.stop()
  }
}
