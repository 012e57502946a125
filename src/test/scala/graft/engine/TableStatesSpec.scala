package graft.engine

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ingest.{BulkIngest, DocsWriter}
import graft.model.{IndexType, SeqMapping}
import graft.streaming.StreamingIngest

/** The reference runs every behavioral scenario against Active /
  * Sealed / Restarted fraction states (tests/suites/README.md,
  * s.RunFracEnvs). The Spark analogues: streaming-appended (active),
  * batch-compacted (sealed), and re-read-from-disk (restarted) tables
  * must answer every query identically. Also covers hot/cold tiering
  * (S8) and the scan-pushdown regression guard.
  */
class TableStatesSpec extends SparkSpec {
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
    """{"timestamp":"2024-03-09 13:00:00","level":"warn","message":"old day"}""", // 23h old: inside drift window
  )

  private val scenarios: Seq[(String, SeqEngine => Long)] = Seq(
    "keyword"      -> (e => e.matches("level:error", 0, Long.MaxValue).count()),
    "text-token"   -> (e => e.matches("message:disk", 0, Long.MaxValue).count()),
    "bool"         -> (e => e.matches("level:error and message:disk", 0, Long.MaxValue).count()),
    "time-window"  -> (e => e.matches("*", 1710061200000L, Long.MaxValue).count()),
    "total"        -> (e => e.total("*", 0, Long.MaxValue).collect()(0).getLong(0)),
    "top1-rid"     -> (e => e.search(SearchRequest("*", 0, Long.MaxValue, 1)).select("rid").collect()(0).getLong(0)),
  )

  private def results(eng: SeqEngine): Map[String, Long] =
    scenarios.map { case (n, f) => n -> f(eng) }.toMap

  test("active (streaming) / sealed (compacted) / restarted states agree") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = java.nio.file.Files.createTempDirectory("states_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("states_ckpt").toString
    val q = StreamingIngest.start(mem.toDF(), mapping, out, ckpt,
      requestTimeMs = Some(reqTime),
      triggerMs = 20)
    val expected =
      try {
        lines.foreach { l => mem.addData(l); q.processAllAvailable() } // one batch per line
        val active = new SeqEngine(DocsTable(SinkGeneration.open(spark, out), mapping))
        results(active)
      } finally q.stop()

    // sealed: compact each day, re-check
    Seq("2024-03-09", "2024-03-10").foreach(d => StreamingIngest.compactDay(spark, out, d))
    val sealed_ = new SeqEngine(DocsTable(SinkGeneration.open(spark, out), mapping))
    assert(results(sealed_) == expected)

    // restarted: a brand-new read over the same files
    val restarted = new SeqEngine(DocsTable(
      spark.read.option("basePath", out).parquet(out), mapping))
    assert(results(restarted) == expected)

    // batch-written equivalent of the same docs agrees too
    val batch = BulkIngest.project(lines.toDF("value"), mapping, reqTime)
    val tmp = java.nio.file.Files.createTempDirectory("states_batch").toString
    DocsWriter.overwrite(batch, tmp)
    val batchEng = new SeqEngine(DocsTable(spark.read.parquet(tmp), mapping))
    assert(results(batchEng) == expected)
  }

  test("hot/cold tiering: union answers like a single table, old tier prunable") {
    val out = java.nio.file.Files.createTempDirectory("tier_hot").toString
    val cold = java.nio.file.Files.createTempDirectory("tier_cold").toString
    val batch = BulkIngest.project(lines.toDF("value"), mapping, reqTime)
    DocsWriter.overwrite(batch, out)
    val single = results(new SeqEngine(DocsTable(spark.read.parquet(out), mapping)))

    // migrate the old day to cold; boundary = 2024-03-10T00:00Z
    val boundary = 1710028800000L
    val moved = TieredDocs.migrate(spark, out, cold, boundary)
    assert(moved == Seq("date=2024-03-09"))
    val coldFiles = new java.io.File(s"$cold/date=2024-03-09").list().filter(_.endsWith(".parquet"))
    assert(coldFiles.nonEmpty && coldFiles.forall(_.endsWith(".zstd.parquet")))
    val tiered = new SeqEngine(TieredDocs.table(spark, out, cold, boundary, mapping))
    assert(results(tiered) == single)

    // partial-response contract (proxy/search/ingestor.go:88-112): an
    // unreadable cold tier degrades to hot-only + partial flag instead
    // of failing the query
    val intact = TieredDocs.tableWithFallback(spark, out, cold, boundary, mapping)
    assert(!intact.partial && intact.degraded.isEmpty)
    assert(results(new SeqEngine(intact.table)) == single)
    val broken = TieredDocs.tableWithFallback(
      spark, out, cold + "/definitely_missing", boundary, mapping)
    assert(broken.partial && broken.degraded.exists(_.contains("definitely_missing")))
    val hotOnly = new SeqEngine(broken.table)
    // recent-window answers are complete; all-time answers are the hot
    // subset (the old-day doc lives in the dropped cold tier)
    assert(hotOnly.matches("*", boundary, Long.MaxValue).count() ==
      tiered.matches("*", boundary, Long.MaxValue).count())
    assert(hotOnly.total("*", 0, Long.MaxValue).collect()(0).getLong(0) ==
      single("total") - 1)
  }

  test("store lists: dual-write, shard union, and read-store migration isolation") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val batch = BulkIngest.project(lines.toDF("value"), mapping, reqTime)
    val boundary = 1710028800000L // 2024-03-10T00:00Z

    // dual-write: every target gets the full batch; the boundary split
    // must keep the total overlap from double counting at query time
    val (hot, cold) = (tmp("sl_hot"), tmp("sl_cold"))
    val stores = TieredDocs.StoreLists(hot = Seq(hot), cold = Seq(cold))
    TieredDocs.dualWrite(batch, stores)
    val singlePath = tmp("sl_single")
    DocsWriter.overwrite(batch, singlePath)
    val single = results(new SeqEngine(DocsTable(spark.read.parquet(singlePath), mapping)))
    assert(results(new SeqEngine(
      TieredDocs.tableFromLists(spark, stores, boundary, mapping))) == single)

    // no cold stores configured: hot serves all time (boundary idle)
    assert(results(new SeqEngine(TieredDocs.tableFromLists(
      spark, TieredDocs.StoreLists(hot = Seq(hot)), boundary, mapping))) == single)

    // sharded hot tier: two stores each holding half the batch answer
    // like one store holding all of it
    val (h1, h2) = (tmp("sl_h1"), tmp("sl_h2"))
    DocsWriter.overwrite(batch.where(col("rid") % 2 === 0), h1)
    DocsWriter.overwrite(batch.where(col("rid") % 2 =!= 0), h2)
    assert(results(new SeqEngine(TieredDocs.tableFromLists(
      spark, TieredDocs.StoreLists(hot = Seq(h1, h2)), boundary, mapping))) == single)

    // read-store migration: freeze the query surface on a copy, keep
    // writing to the regular list — the new write must be invisible
    // through the read list (the drained store can be shut down
    // without failing writes), then visible again once the read list
    // is dropped
    val hotReadCopy = tmp("sl_hot_read")
    DocsWriter.overwrite(spark.read.parquet(hot), hotReadCopy)
    val extra = BulkIngest.project(Seq(
      """{"timestamp":"2024-03-10 11:30:00","level":"error","message":"disk new"}"""
    ).toDF("value"), mapping, reqTime)
    val hotV2 = tmp("sl_hot_v2") // the regular store after the new write lands
    DocsWriter.overwrite(
      spark.read.parquet(hot).unionByName(extra, allowMissingColumns = true), hotV2)
    val migrating = TieredDocs.StoreLists(
      hot = Seq(hotV2), cold = Seq(cold), hotRead = Seq(hotReadCopy))
    val duringMigration = results(new SeqEngine(
      TieredDocs.tableFromLists(spark, migrating, boundary, mapping)))
    assert(duringMigration == single)
    val afterMigration = results(new SeqEngine(TieredDocs.tableFromLists(
      spark, migrating.copy(hotRead = Nil), boundary, mapping)))
    assert(afterMigration("keyword") == single("keyword") + 1)
    assert(afterMigration("total") == single("total") + 1)
  }

  test("time predicates reach the parquet scan (pushdown regression guard)") {
    val eng = new SeqEngine(graft.tables.TestTables.eventsDocs(spark, sfDir))
    val plan = eng.search(SearchRequest("event_type:error", 1704153600000L, 1705276800000L, 10))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // the physical ts bound must reach the scan whatever type the
    // testdata generation gave ts (Long nanos vs µs timestamp) — the
    // guard is that PushedFilters carries both range ends, not the
    // literal's rendering
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
    assert(plan.contains("LessThanOrEqual(ts,"), plan)
    assert(plan.contains("EqualTo(event_type,error)"), plan)
  }
}
