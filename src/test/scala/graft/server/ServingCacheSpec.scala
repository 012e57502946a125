package graft.server

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.{DocsTable, SearchRequest, SeqEngine}
import graft.ingest.BulkIngest
import graft.model.{IndexType, SeqMapping}

/** The [[ServingCore]] cache contract: every cached answer belongs to
  * the sink generation it was computed against, so a build that races
  * an append is never served once the generation moves, and both
  * caches' clear-on-overflow branches leave every later answer exact.
  * "Exact" is always checked against a fresh [[SeqEngine]] over a new
  * read of the sink.
  */
class ServingCacheSpec extends SparkSpec {
  import spark.implicits._

  private val mapping = SeqMapping.of(
    "level"   -> IndexType.Keyword,
    "message" -> IndexType.Text,
  ).copy(caseSensitive = false)
  private val reqTime = 1710072000000L // 2024-03-10T12:00Z
  private val drift = 30L * 86400 * 1000

  // `n` docs tagged `tag`, ~2.2 h apart, so a few dozen span several
  // day partitions; every doc has its own timestamp
  private def docs(tag: String, first: Int, n: Int): Seq[String] =
    (first until first + n).map { i =>
      val ts = Instant.ofEpochMilli(reqTime - 3600000L - i * 7919000L)
      val level = if (i % 3 == 0) "error" else "info"
      s"""{"timestamp":"$ts","level":"$level","message":"$tag n$i"}"""
    }

  private def newSink(lines: Seq[String]): String = {
    val sink = java.nio.file.Files.createTempDirectory("srv_cache").toString + "/docs"
    BulkIngest.ingestPartitioned(lines.toDF("value"), mapping, reqTime, sink,
      allowedDriftMs = drift)
    sink
  }

  // the day-partitioned append the streaming ingest performs
  private def append(sink: String, lines: Seq[String]): Unit =
    BulkIngest.project(lines.toDF("value"), mapping, reqTime, allowedDriftMs = drift)
      .withColumn("date", to_date(timestamp_millis(col("mid"))))
      .write.mode("append").partitionBy("date").parquet(sink)

  private def fresh(sink: String, r: SearchRequest): Seq[Seq[Any]] = {
    val eng = new SeqEngine(DocsTable(spark.read.parquet(sink), mapping))
    eng.withIdString(eng.search(r)).select("id", "mid", "rid", "_raw")
      .collect().map(_.toSeq).toSeq
  }

  private def served(core: ServingCore, r: SearchRequest): Seq[Seq[Any]] =
    core.servingPage(r).map(_.toSeq).toSeq

  test("a memo build that races a sink append is not served after the generation moves") {
    val sink = newSink(docs("base", 0, 20))
    val core = new ServingCore(spark, mapping, sink)
    def extra(): java.lang.Long =
      core.engine.matches("message:extra", 0L, Long.MaxValue).count()
    var builds = 0
    val first = core.memo("count|extra") {
      builds += 1
      val before = extra()
      append(sink, docs("extra", 100, 5))
      Thread.sleep(1100) // past the generation probe's staleness bound
      before
    }
    assert(first == 0L)
    val second = core.memo("count|extra") { builds += 1; extra() }
    assert(builds == 2)
    assert(second == 5L)
    core.engine.table.df.unpersist()
  }

  test("65 distinct paging queries overflow the page-prefix cache; the first query's pages stay exact") {
    val sink = newSink(docs("base", 0, 60))
    val core = new ServingCore(spark, mapping, sink)
    val first = SearchRequest("level:info", 0L, Long.MaxValue, size = 10)
    val pages = (0 until 5).map(p => first.copy(offset = p * 10))
    pages.foreach(r => assert(served(core, r) == fresh(sink, r), r))
    // 64 more distinct prefixes: 65 in all, one past the cap
    (1 to 64).foreach(i => core.servingPage(first.copy(fromMs = i.toLong)))
    pages.foreach(r => assert(served(core, r) == fresh(sink, r), r))
    core.engine.table.df.unpersist()
  }

  test("1025 distinct memoized gRPC aggregations overflow the memo; the first stays exact") {
    import grpc.SeqProxyProto._
    // one unpartitioned file: each aggregation is then a one-task scan
    val sink = java.nio.file.Files.createTempDirectory("srv_cache_agg").toString + "/docs"
    BulkIngest.project(docs("base", 0, 30).toDF("value"), mapping, reqTime,
      allowedDriftMs = drift).coalesce(1).write.parquet(sink)
    val core = new ServingCore(spark, mapping, sink)
    val dir = java.nio.file.Files.createTempDirectory("srv_cache_grpc").toString
    val cached = new grpc.GrpcSeqApi(spark, core.engine.table, dir + "/a", serving = Some(core))
    val plain = new grpc.GrpcSeqApi(spark,
      DocsTable(spark.read.parquet(sink), mapping), dir + "/b")
    val cc = new grpc.GrpcSeqClient("127.0.0.1", cached.start(), cached)
    val pc = new grpc.GrpcSeqClient("127.0.0.1", plain.start(), plain)
    try {
      def countByLevel(fromMs: Long) = PGetAggregationRequest(
        SearchQuery("*", fromMs, Long.MaxValue), Seq(PAggQuery("", "level", 0, Nil, "")))
      val want = pc.getAggregation(countByLevel(0L))
      assert(want.aggs.head.buckets.map(_.value).sum == 30.0)
      assert(cc.getAggregation(countByLevel(0L)) == want)
      (1 to 1024).foreach(i => cc.getAggregation(countByLevel(i.toLong)))
      assert(cc.getAggregation(countByLevel(0L)) == want)
    } finally {
      cc.close(); pc.close(); cached.stop(); plain.stop()
      core.engine.table.df.unpersist()
    }
  }

  test("pages equal a fresh engine's once appends that raced concurrent pagers settle") {
    val sink = newSink(docs("base", 0, 40))
    val core = new ServingCore(spark, mapping, sink)
    val reqs = for {
      q <- Seq("level:info", "level:error", "*")
      asc <- Seq(false, true)
      p <- 0 until 3
    } yield SearchRequest(q, 0L, Long.MaxValue, size = 10, offset = p * 10, asc = asc)
    core.servingPage(reqs.head)
    val stop = new AtomicBoolean(false)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val pagers = (0 until 3).map { t =>
      new Thread(() =>
        try {
          var i = t
          while (!stop.get()) { core.servingPage(reqs(i % reqs.size)); i += 1 }
        } catch { case e: Throwable => errors.add(e); () })
    }
    pagers.foreach(_.start())
    try (1 to 4).foreach { k =>
      append(sink, docs(s"w$k", 40 + 5 * k, 5))
      Thread.sleep(700)
    } finally { stop.set(true); pagers.foreach(_.join()) }
    assert(errors.isEmpty, errors)
    Thread.sleep(1100)
    reqs.foreach(r => assert(served(core, r) == fresh(sink, r), r))
    core.engine.table.df.unpersist()
  }
}
