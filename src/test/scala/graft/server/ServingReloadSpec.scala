package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.model.{IndexType, SeqMapping}

/** Serving-mode operational behaviors from the round-6 verdict list:
  * mapping hot-reload (the reference re-reads its mapping file on a
  * timer and swaps it live, mappingprovider/mapping_provider.go:96-110
  * — here the file's signature rides the 1 s sink-generation probe)
  * and the pinned-sink byte cap (a 100×-scale sink must degrade to
  * DISK_ONLY instead of flooding executor memory).
  */
class ServingReloadSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def searchBody(port: Int, query: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/search"))
      .POST(HttpRequest.BodyPublishers.ofString(
        s"""{"query":"$query","from":0,"to":${Long.MaxValue},"size":10}"""))
      .build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("mapping hot-reload: a field added to the file becomes ingestable and searchable without restart") {
    // both modes share ServingCore's reload: a corrupt edit after a good
    // one keeps the last mapping that parsed, not the constructor's
    for (serving <- Seq(true, false)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_reload")
      val mappingFile = dir.resolve("mapping.yaml")
      def writeMapping(extra: String): Unit =
        java.nio.file.Files.writeString(mappingFile,
          s"""mapping-list:
             |  - name: service
             |    type: keyword
             |  - name: level
             |    type: keyword
             |  - name: message
             |    type: text
             |$extra""".stripMargin)
      writeMapping("")
      val sink = dir.toString + "/docs"
      val srv = new EsHttpFacade(spark, SeqMapping.loadYaml(mappingFile.toString),
        sink, serving = serving, mappingPath = Some(mappingFile.toString))
      srv.start()
      try {
        val ts = java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString
        def bulk(json: String): Unit = {
          val r = client.send(HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${srv.port}/_bulk"))
            .POST(HttpRequest.BodyPublishers.ofString(json + "\n")).build(),
            HttpResponse.BodyHandlers.ofString())
          assert(r.statusCode() == 200, r.body())
        }
        bulk(s"""{"timestamp":"$ts","service":"api","level":"error","message":"one"}""")
        assert(searchBody(srv.port, "level:error")._2.contains("\"total\":1"), serving)
        // `region` is not in the mapping yet: the unindexed-field
        // rejection (F11) must fire through the live server
        val (preCode, preBody) = searchBody(srv.port, "region:eu")
        assert(preCode == 500 && preBody.contains("not indexed"), s"$serving $preCode $preBody")

        val region = """  - name: region
          |    type: keyword""".stripMargin
        writeMapping(region)
        Thread.sleep(1100) // the generation probe's staleness bound
        // a NEW doc carrying the new field is projected under the
        // reloaded mapping and immediately searchable by it
        bulk(s"""{"timestamp":"$ts","service":"api","level":"error","message":"two","region":"eu"}""")
        val (code, bodyS) = searchBody(srv.port, "region:eu")
        assert(code == 200 && bodyS.contains("\"total\":1"), s"$serving $code $bodyS")

        // same reloaded mapping through the gRPC server sharing the core
        val gapi = new grpc.GrpcSeqApi(spark, srv.table,
          dir.toString + "/_async", serving = if (serving) Some(srv.core) else None)
        val gport = gapi.start()
        val gclient = new grpc.GrpcSeqClient("127.0.0.1", gport, gapi)
        try {
          import grpc.SeqProxyProto._
          val sr = gclient.search(PSearchRequest(
            SearchQuery("region:eu", 0L, Long.MaxValue),
            size = 10, offset = 0, withTotal = true, asc = false))
          assert(sr.total == 1, s"$serving $sr")
        } finally { gclient.close(); gapi.stop() }

        // a corrupt edit (unknown index type) keeps the last good
        // mapping: `region` stays searchable
        writeMapping(region + """
          |  - name: broken
          |    type: no-such-type""".stripMargin)
        Thread.sleep(1100)
        val (badCode, badBody) = searchBody(srv.port, "region:eu")
        assert(badCode == 200 && badBody.contains("\"total\":1"), s"$serving $badCode $badBody")
      } finally srv.stop()
    }
  }

  test("serving pin byte-cap: a sink above maxPinnedBytes degrades to DISK_ONLY with identical results") {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.functions._
    val mapping = SeqMapping.of("level" -> IndexType.Keyword)
    val sink = java.nio.file.Files.createTempDirectory("graft_pin").toString + "/docs"
    spark.range(100)
      .select(col("id").as("mid"), col("id").as("rid"),
        when(col("id") % 2 === 0, "error").otherwise("info").as("level"))
      .write.parquet(sink)

    val pinned = new ServingCore(spark, mapping, sink)
    val n = pinned.engine.matches("level:error", 0L, Long.MaxValue).count()
    assert(pinned.engine.table.df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // unpersist before building the capped core: the CacheManager
    // would otherwise keep serving the plan at its first-registered
    // storage level and silently ignore the second persist()
    pinned.engine.table.df.unpersist(blocking = true)

    spark.conf.set("spark.graft.serving.maxPinnedBytes", "1")
    try {
      val capped = new ServingCore(spark, mapping, sink)
      assert(capped.engine.table.df.storageLevel == StorageLevel.DISK_ONLY)
      assert(capped.engine.matches("level:error", 0L, Long.MaxValue).count() == n)
      capped.engine.table.df.unpersist()
    } finally {
      spark.conf.unset("spark.graft.serving.maxPinnedBytes")
    }
  }

  test("serving pin size counts only data files and never lists the writers' scratch directories") {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.functions._
    val mapping = SeqMapping.of("level" -> IndexType.Keyword)
    val sink = java.nio.file.Files.createTempDirectory("graft_pin_scratch").toString + "/docs"
    spark.range(100)
      .select(col("id").as("mid"), col("id").as("rid"), lit("error").as("level"),
        lit("2024-03-10").as("date"))
      .write.partitionBy("date").parquet(sink)
    def isData(f: java.io.File) = !f.getName.startsWith("_") && !f.getName.startsWith(".")
    val dataBytes = new java.io.File(s"$sink/date=2024-03-10").listFiles()
      .filter(isData).map(_.length).sum
    // a finished async result of 1 MB: not part of the sink's data
    val blob = java.nio.file.Paths.get(s"$sink/_async/done/chunk=0/part-0.parquet")
    java.nio.file.Files.createDirectories(blob.getParent)
    java.nio.file.Files.write(blob, new Array[Byte](1 << 20))
    spark.conf.set("spark.graft.serving.maxPinnedBytes", (dataBytes + 4096).toString)
    try {
      val core = new ServingCore(spark, mapping, sink)
      assert(core.engine.table.df.storageLevel == StorageLevel.MEMORY_AND_DISK)
      core.engine.table.df.unpersist(blocking = true)
    } finally spark.conf.unset("spark.graft.serving.maxPinnedBytes")

    // a writer's staging directory that vanishes while the rebuild
    // walks the sink (VanishingStagingFs fails the listing of any
    // `_staging/x`): the rebuild must not enter it at all
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$sink/_staging/x"))
    spark.sparkContext.hadoopConfiguration.set(
      "fs.vanishing.impl", classOf[VanishingStagingFs].getName)
    val core = new ServingCore(spark, mapping, s"vanishing://$sink")
    assert(core.engine.matches("level:error", 0L, Long.MaxValue).count() == 100)
    core.engine.table.df.unpersist(blocking = true)
  }
}

/** The local file system under the `vanishing:` scheme, except that
  * listing a `_staging/x` directory fails as if its writer had just
  * removed it. */
class VanishingStagingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("vanishing:///")
  override def getScheme: String = "vanishing"
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    if (p.getName == "x" && p.getParent.getName == "_staging")
      throw new java.io.FileNotFoundException(s"$p vanished")
    else super.listStatus(p)
}
