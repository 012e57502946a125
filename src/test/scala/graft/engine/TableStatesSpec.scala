package graft.engine

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.ingest.{BulkIngest, DocsWriter}
import graft.model.{IndexType, SeqMapping}
import graft.streaming.StreamingIngest

/** The reference runs every behavioral scenario against Active /
  * Sealed / Restarted fraction states (tests/suites/README.md,
  * s.RunFracEnvs). The Spark analogues: streaming-appended (active),
  * batch-compacted (sealed), and re-read-from-disk (restarted) tables
  * must answer every query identically. Also covers the scan-pushdown
  * regression guard.
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
