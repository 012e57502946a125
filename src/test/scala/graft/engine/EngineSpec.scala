package graft.engine

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.{IndexType, SeqMapping}
import graft.tables.TestTables

class EngineSpec extends SparkSpec {
  private lazy val eng = new SeqEngine(TestTables.eventsDocs(spark, sfDir))
  private val T0 = 1704067200000L
  private val T31 = 1706745599999L

  test("search returns time-desc ordered page with correct bound") {
    val rows = eng.search(SearchRequest("event_type:error", T0, T31, size = 10))
      .select("mid").collect().map(_.getLong(0))
    assert(rows.length == 10)
    assert(rows.sameElements(rows.sorted(Ordering[Long].reverse)))
  }

  test("offset pagination is a strict continuation") {
    val all = eng.search(SearchRequest("*", T0, T31, size = 30))
      .select("rid").collect().map(_.getLong(0))
    val page2 = eng.search(SearchRequest("*", T0, T31, size = 10, offset = 20))
      .select("rid").collect().map(_.getLong(0))
    assert(page2.sameElements(all.slice(20, 30)))
  }

  test("sub-search parity: random ranges keep page == min(limit, total) and total exact " +
      "(reference tests/integration_tests/sub_search_test.go:85 TestSubSearch)") {
    val mids = TestTables.eventsDocs(spark, sfDir).df
      .dropDuplicates("mid", "rid")
      .select("mid").collect().map(_.getLong(0)).sorted
    val limit = 50
    val rnd = new scala.util.Random(73) // the reference reservoir's seed, for flavor
    val span = T31 - T0
    for (_ <- 1 to 25) {
      val f = T0 + (rnd.nextLong().abs % span)
      val t = math.min(T31, f + span / 2)
      val expectedTotal = mids.count(m => m >= f && m <= t)
      val page = eng.search(SearchRequest("*", f, t, size = limit)).count().toInt
      assert(page == math.min(limit, expectedTotal), s"page size in [$f, $t]")
      val total = eng.total("*", f, t).collect().head.getLong(0).toInt
      assert(total == expectedTotal, s"with_total in [$f, $t]")
    }
  }

  test("time range prunes: empty window matches nothing") {
    assert(eng.search(SearchRequest("*", 0L, 1L, size = 10)).count() == 0)
  }

  test("range duality: numeric range on string column matches parsed tokens only") {
    val t = TestTables.eventsDocs(spark, sfDir)
    // props_k is a string column of digits; numeric range must compare as numbers
    val hits = eng.matches("props.k:[9, 10]", T0, T31)
      .select("props_k").distinct().collect().map(_.getString(0)).toSet
    assert(hits == Set("9", "10")) // lexicographic would include 90-99
  }

  test("lexicographic range on string column when bounds non-numeric") {
    val hits = eng.matches("event_type:[purchase, signup]", T0, T31)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(hits == Set("purchase", "signup"))
  }

  test("wildcard compiles to like with escaping") {
    val c = eng.compileFilter("event_type:s*p")
    val hits = eng.matches("event_type:s*p", T0, T31)
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(hits == Set("signup"))
  }

  test("quantile agg q=0 and q=1 equal min and max") {
    val q = eng.aggregate("*", T0, T31,
      AggRequest(AggFunc.Quantile(Seq(0.0, 1.0)), field = "value", groupBy = Some("event_type")))
      .collect()
    val mn = eng.aggregate("*", T0, T31,
      AggRequest(AggFunc.Min, field = "value", groupBy = Some("event_type")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val mx = eng.aggregate("*", T0, T31,
      AggRequest(AggFunc.Max, field = "value", groupBy = Some("event_type")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    q.foreach { r =>
      val (name, qq, v) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      if (qq == 0.0) assert(v == mn(name), s"q=0 for $name")
      else assert(v == mx(name), s"q=1 for $name")
    }
  }

  test("histogram buckets sum to total matches") {
    val total = eng.matches("event_type:click", T0, T31).count()
    val hist = eng.histogram("event_type:click", T0, T31, 3600000L)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(hist == total)
  }

  test("multi-res histogram: coarse rows are exact sums of their fine bins") {
    val out = eng.histogramMultiRes("event_type:click", T0, T31,
      coarseMs = 21600000L, fineMs = 3600000L).collect()
    val fine = out.filter(_.getLong(3) == 0)
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val coarse = out.filter(_.getLong(3) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(coarse.nonEmpty && coarse == fine)
    // fine level reproduces the single-resolution histogram exactly
    val single = eng.histogram("event_type:click", T0, T31, 3600000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fineBins = out.filter(_.getLong(3) == 0)
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(fineBins == single)
  }

  test("replica dedup restores exact original rows") {
    val t = TestTables.eventsDocs(spark, sfDir)
    val doubled = t.copy(df = t.df.union(t.df), dedupReplicas = true)
    val e2 = new SeqEngine(doubled)
    assert(e2.total("*", T0, T31).collect()(0).getLong(0) ==
      eng.total("*", T0, T31).collect()(0).getLong(0))
  }

  test("fetch preserves request order incl. missing ids tolerated") {
    val t = TestTables.eventsDocs(spark, sfDir)
    val ids = t.df.where(col("rid").isin(7L, 3L, 11L)).select("mid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ordered = ids.sortBy(-_._2).toSeq :+ ((999999999L, 999999999L)) // missing id
    val got = new SeqEngine(t).fetch(ordered).select("rid").collect().map(_.getLong(0))
    assert(got.toSeq == ordered.dropRight(1).map(_._2)) // order kept, missing skipped
  }

  test("fields pipe drops and keeps") {
    val kept = eng.search(SearchRequest("* | fields event_type", T0, T31, size = 5)).columns.toSet
    assert(kept == Set("mid", "rid", "event_type"))
    val except = eng.search(SearchRequest("* | fields except props, props_k", T0, T31, size = 5)).columns.toSet
    assert(!except.contains("props") && !except.contains("props_k") && except.contains("event_type"))
  }

  test("nonexistent column in mapping yields no matches rather than error") {
    val m = SeqMapping.of("ghost" -> IndexType.Keyword)
    val t = TestTables.eventsDocs(spark, sfDir)
    val e2 = new SeqEngine(t.copy(mapping = m.copy(caseSensitive = true)))
    assert(e2.matches("ghost:x", T0, T31).count() == 0)
  }

  test("ungrouped stats aggregation returns a single value row") {
    val avg = eng.aggregate("*", T0, T31, AggRequest(AggFunc.Avg, field = "value")).collect()
    assert(avg.length == 1 && avg(0).schema.fieldNames.toSeq == Seq("value"))
    val mn = eng.aggregate("*", T0, T31, AggRequest(AggFunc.Min, field = "value"))
      .collect()(0).getDouble(0)
    val mx = eng.aggregate("*", T0, T31, AggRequest(AggFunc.Max, field = "value"))
      .collect()(0).getDouble(0)
    assert(mn <= avg(0).getDouble(0) && avg(0).getDouble(0) <= mx)
  }

  test("ungrouped quantile uses a global window") {
    val q = eng.aggregate("*", T0, T31,
      AggRequest(AggFunc.Quantile(Seq(0.0, 1.0)), field = "value")).collect()
    val mn = eng.aggregate("*", T0, T31, AggRequest(AggFunc.Min, field = "value"))
      .collect()(0).getDouble(0)
    val mx = eng.aggregate("*", T0, T31, AggRequest(AggFunc.Max, field = "value"))
      .collect()(0).getDouble(0)
    assert(q.map(r => r.getDouble(0) -> r.getDouble(1)).toMap == Map(0.0 -> mn, 1.0 -> mx))
  }

  test("COUNT/UNIQUE without group_by are rejected") {
    assertThrows[graft.model.SeqQlError](
      eng.aggregate("*", T0, T31, AggRequest(AggFunc.Count)))
    assertThrows[graft.model.SeqQlError](
      eng.aggregate("*", T0, T31, AggRequest(AggFunc.Unique)))
  }

  test("A3 strict mode: non-numeric agg field fails the query") {
    // event_type is a non-numeric string field
    assertThrows[graft.model.SeqQlError](
      eng.requireNumericField("*", T0, T31, "event_type"))
    // numeric-looking string field passes
    eng.requireNumericField("*", T0, T31, "props.k")
    // typed numeric column passes trivially
    eng.requireNumericField("*", T0, T31, "value")
  }

  test("A3 strict mode inside the aggregate: a non-numeric value fails the collect") {
    for (f <- Seq(AggFunc.Avg, AggFunc.Sum, AggFunc.Quantile(Seq(0.5)))) {
      val e = intercept[graft.model.SeqQlError](SeqEngine.collectStrict(
        eng.aggregate("*", T0, T31, AggRequest(f, field = "event_type", groupBy = Some("event_type")))))
      assert(e.getMessage == "aggregation field 'event_type' has non-numeric values", f)
    }
    // a numeric-looking string field parses, like the precheck allows
    val parsed = SeqEngine.collectStrict(eng.aggregate("*", T0, T31,
      AggRequest(AggFunc.Max, field = "props.k"))).head.getDouble(0)
    val ref = TestTables.eventsDocs(spark, sfDir).df
      .where(col("mid").between(T0, T31))
      .agg(max(col("props_k").cast("double"))).head.getDouble(0)
    assert(parsed == ref)
  }

  /** A small day-partitioned table shaped like the serving sink: physical
    * `mid` and `rid` longs, a keyword field, `date=` partitions. */
  private lazy val sinkTable: DocsTable = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bound").toString + "/docs"
    (0 until 3000).map(i => (T0 + i * 863917L, i.toLong, if (i % 3 == 0) "error" else "info"))
      .toDF("mid", "rid", "level")
      .withColumn("date", date_format(timestamp_millis(col("mid")), "yyyy-MM-dd"))
      .write.partitionBy("date").parquet(dir)
    DocsTable(spark.read.parquet(dir), SeqMapping.of("level" -> IndexType.Keyword))
  }

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("time bounds bind by reference: a new window compiles nothing and keeps Parquet pushdown") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.FileSourceScanExec
    val e = new SeqEngine(sinkTable)
    val day = 86400000L
    def run(from: Long, to: Long): Unit = {
      e.search(SearchRequest("level:error", from, to, size = 20)).collect()
      e.histogram("level:error", from, to, 3600000L).collect()
    }
    run(T0 + day, T0 + 3 * day)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(T0 + 2 * day + 12345, T0 + 5 * day + 777)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)

    val (lo, hi) = (T0 + 2 * day + 12345, T0 + 5 * day + 777)
    val df = e.search(SearchRequest("*", lo, hi, size = 5))
    df.collect()
    val scans = Plans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains(s"GreaterThanOrEqual(mid,$lo)") &&
      pushed.contains(s"LessThanOrEqual(mid,$hi)"), pushed)
    val partition = scans.head.metadata("PartitionFilters")
    assert(partition.contains("2024-01-03") && partition.contains("2024-01-06"), partition)
  }

  test("bound-literal windows return the rows of plain literal bounds") {
    val e = new SeqEngine(sinkTable)
    val df = sinkTable.df
    val mids = df.select("mid").collect().map(_.getLong(0)).sorted
    val windows = Seq((0L, Long.MaxValue), (1L, 1000L), (mids(17), mids(2500)),
      (mids(100) + 1, mids(100) + 2), (T0 + 86400000L, T0 + 2 * 86400000L - 1))
    for ((lo, hi) <- windows) {
      val ref = df.where(col("mid").between(lit(lo), lit(hi)) && col("level") === "error")
      assert(e.matches("level:error", lo, hi).select("rid").collect().map(_.getLong(0)).sorted
        .sameElements(ref.select("rid").collect().map(_.getLong(0)).sorted), (lo, hi))
      val hist = e.histogram("level:error", lo, hi, 3600000L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val refHist = ref.groupBy((col("mid") - col("mid") % 3600000L).as("b")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
      assert(hist == refHist, (lo, hi))
    }
  }

  test("quantile sketch equals exact quantiles under the sample cap") {
    val req = AggRequest(AggFunc.Quantile(Seq(0.5, 0.9)), field = "value",
      groupBy = Some("event_type"))
    // the independent window-rank reference, not the engine's own plan
    val exact = graft.functions.ReferenceForms.windowRankQuantiles(
      eng.matches("*", T0, T31).select(
        coalesce(col("event_type").cast("string"), lit("_not_exists")).as("name"),
        col("value").cast("double").as("v")),
      Seq("name"), Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val sketch = eng.aggregate("*", T0, T31, req)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(sketch.nonEmpty)
    assert(sketch == exact)
  }

  test("status and mapping endpoints mirror the proto shapes") {
    val st = eng.status()
    assert(st.numberOfStores == 1)
    assert(st.totalDocs > 0)
    assert(st.oldestStorageTimeMs.exists(o => st.newestStorageTimeMs.exists(_ >= o)))
    val mj = eng.mappingJson
    assert(mj.contains("\"event_type\":[\"keyword\"]"))
    // valid JSON (driver-side consumers parse it)
    assert(mj.startsWith("{") && mj.endsWith("}"))
  }

  test("entry() works on a driver-like session without pre-set configs") {
    // the driver smoke-checks entry(spark) with its own session; the
    // nanos flag must be applied at runtime by the adapter
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try assert(graft.SparkEntry.entry(spark).count() > 0)
    finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  test("withIdString emits parseable wire-format ids") {
    val page = eng.withIdString(eng.search(SearchRequest("*", T0, T31, size = 5)))
    page.select("mid", "rid", "id").collect().foreach { r =>
      val parsed = graft.model.SeqId.parse(r.getString(2))
      assert(parsed == graft.model.SeqId(r.getLong(0), r.getLong(1)))
    }
  }

  test("fetch by wire-format hex id strings") {
    val t = TestTables.eventsDocs(spark, sfDir)
    val ids = t.df.where(col("rid").isin(1L, 2L)).select("mid", "rid")
      .collect().map(r => graft.model.SeqId(r.getLong(0), r.getLong(1)).toString).toSeq
    val got = eng.fetchByIds(ids).select("rid").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("chunked async search: partial results, restart resume") {
    val dir = java.nio.file.Files.createTempDirectory("chunked").toString
    val s1 = new ChunkedAsyncSearcher(spark, dir)
    val chunkMs = 7L * 86400000 // weekly chunks over Jan 2024 → 5 chunks
    val starts = s1.chunkStarts(T0, T31, chunkMs)
    assert(starts.length == 5)
    // simulate a crash: process only the 2 newest chunks, then "restart"
    val eng2 = eng
    starts.reverse.take(2).foreach { st =>
      eng2.matches("event_type:error", math.max(st, T0), math.min(st + chunkMs - 1, T31))
        .write.mode("overwrite").parquet(s"$dir/j1/chunk=$st")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/j1/.done_$st"), "done")
    }
    assert(s1.completedChunks("j1") == 2 && !s1.isComplete("j1"))
    val partial = s1.fetchPartial("j1").get.count()
    // a fresh searcher (restart) resumes the remaining 3 chunks only
    val s2 = new ChunkedAsyncSearcher(spark, dir)
    s2.run("j1", eng2, "event_type:error", T0, T31, chunkMs)
    assert(s2.isComplete("j1") && s2.completedChunks("j1") == 5)
    val full = s2.fetchPartial("j1").get.count()
    assert(full > partial)
    assert(full == eng2.matches("event_type:error", T0, T31).count())
    s1.shutdown(); s2.shutdown()
  }

  test("chunked async: resumeIncomplete finishes a killed search from its persisted request") {
    val dir = java.nio.file.Files.createTempDirectory("resume").toString
    val chunkMs = 7L * 86400000 // 5 weekly chunks over Jan 2024
    val s1 = new ChunkedAsyncSearcher(spark, dir)
    s1.startAsync("j2", eng, "event_type:error", T0, T31, chunkMs)
    // SIMULATED kill: let the run finish, then excise state back to the
    // guaranteed mid-flight shape a crash leaves (completion mark gone,
    // >=1 chunk + marker missing). Where a real stop lands in the chunk
    // loop is timing-dependent; the excision makes the resumed state
    // deterministic.
    val cdl = System.currentTimeMillis() + 60000
    while (!s1.isComplete("j2") && System.currentTimeMillis() < cdl) Thread.sleep(50)
    assert(s1.isComplete("j2"))
    s1.shutdown()
    val idDir = new java.io.File(s"$dir/j2")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/j2/.complete"))
    Option(idDir.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(".done_")).headOption.foreach { m =>
        val st = m.getName.stripPrefix(".done_")
        java.nio.file.Files.delete(m.toPath)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
        }
        rm(new java.io.File(s"$dir/j2/chunk=$st"))
      }
    assert(!s1.isComplete("j2"))
    // a brand-new searcher resumes from .request alone (no caller args)
    val s2 = new ChunkedAsyncSearcher(spark, dir)
    assert(s2.resumeIncomplete(eng) == Seq("j2"))
    val dl = System.currentTimeMillis() + 60000
    while (!s2.isComplete("j2") && System.currentTimeMillis() < dl) Thread.sleep(100)
    assert(s2.isComplete("j2"))
    assert(s2.fetchPartial("j2").get.count() ==
      eng.matches("event_type:error", T0, T31).count())
    // a complete search is NOT resumed again
    val s3 = new ChunkedAsyncSearcher(spark, dir)
    assert(s3.resumeIncomplete(eng).isEmpty)
    s2.shutdown(); s3.shutdown()
  }

  test("chunked async: a corrupt .request dir is skipped, not a startup-killer") {
    // a crash mid-write on a pre-atomic-rename release (or a disk
    // fault) leaves a truncated .request; resume must log + skip that
    // dir and still resume every healthy one — one corrupt dir used to
    // throw MatchError out of the lazy searcher init and block server
    // start entirely
    val dir = java.nio.file.Files.createTempDirectory("resume_bad").toString
    val chunkMs = 7L * 86400000
    val s1 = new ChunkedAsyncSearcher(spark, dir)
    s1.startAsync("healthy", eng, "event_type:error", T0, T31, chunkMs)
    s1.shutdown()
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/healthy/.complete"))
    // corrupt sibling: truncated mid-write (no separators, no query)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/corrupt"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/corrupt/.request"), "17040")
    // and an empty one (zero-byte write)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/empty"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/empty/.request"), Array.empty[Byte])
    val s2 = new ChunkedAsyncSearcher(spark, dir)
    assert(s2.resumeIncomplete(eng) == Seq("healthy"))
    val dl = System.currentTimeMillis() + 60000
    while (!s2.isComplete("healthy") && System.currentTimeMillis() < dl)
      Thread.sleep(100)
    assert(s2.isComplete("healthy"))
    s2.shutdown()
  }
}
