package graft.ingest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.engine.{SearchRequest, SeqEngine, SinkGeneration}
import graft.model.{IndexType, SeqMapping}
import graft.streaming.StreamingIngest

class IngestSpec extends SparkSpec {

  private val mapping = SeqMapping.of(
    "level"   -> IndexType.Keyword,
    "message" -> IndexType.Text,
    "uri"     -> IndexType.Path,
  ).copy(caseSensitive = false)

  // 2024-03-10T12:00:00Z
  private val reqTime = 1710072000000L

  private def linesDf(lines: String*) = {
    import spark.implicits._
    lines.toDF("value")
  }

  test("batch ingest: projection, tokenization, case folding, _raw kept") {
    val docs = BulkIngest.ingest(linesDf(
      """{"timestamp":"2024-03-10 11:59:00","level":"ERROR","message":"Disk Full on /dev/sda1","uri":"/api/v1/write"}""",
      """{"timestamp":"2024-03-10 11:58:00","level":"info","message":"all good","uri":"/api/health"}""",
    ), mapping, reqTime)
    val e = new SeqEngine(docs)
    val all = docs.df.collect()
    assert(all.length == 2)
    assert(docs.df.columns.contains("_raw"))
    // keyword case folded at index time; query side folds too
    assert(e.matches("level:ERROR", 0, Long.MaxValue).count() == 1)
    assert(e.matches("level:error", 0, Long.MaxValue).count() == 1)
    // text: multi-token AND over tokens, phrase = bag of words
    assert(e.matches("message:'full disk'", 0, Long.MaxValue).count() == 1)
    assert(e.matches("message:'disk empty'", 0, Long.MaxValue).count() == 0)
    // path prefix semantics
    assert(e.matches("uri:/api", 0, Long.MaxValue).count() == 2)
    assert(e.matches("uri:/api/v1", 0, Long.MaxValue).count() == 1)
    assert(e.matches("uri:/api/v", 0, Long.MaxValue).count() == 0) // boundary, not substring
  }

  test("time extraction: timestamp/time/ts probed in order; formats") {
    val docs = BulkIngest.project(linesDf(
      """{"ts":"2024-03-10T11:30:00Z","level":"a"}""",
      """{"time":"2024-03-10 11:31:00","level":"b"}""",
      """{"timestamp":"2024-03-10T11:32:00.123456Z","level":"c"}""",
    ), mapping, reqTime)
    val mids = docs.select("level", "mid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mids("a") == 1710070200000L)
    assert(mids("b") == 1710070260000L)
    assert(mids("c") == 1710070320123L)
  }

  test("drift clamping: too-old and future docs re-stamped, not dropped (T2)") {
    val docs = BulkIngest.project(linesDf(
      s"""{"timestamp":"2024-03-01 00:00:00","level":"old"}""",   // >24h old
      s"""{"timestamp":"2024-03-10 12:30:00","level":"future"}""", // >5m future
      s"""{"level":"missing"}""",                                   // no time field
      s"""{"timestamp":"2024-03-10 11:00:00","level":"ok"}""",
    ), mapping, reqTime)
    val mids = docs.select("level", "mid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mids("old") == reqTime)
    assert(mids("future") == reqTime)
    assert(mids("missing") == reqTime)
    assert(mids("ok") == 1710068400000L)
  }

  test("ES bulk action lines are stripped") {
    val docs = BulkIngest.project(linesDf(
      """{"index":{"_index":"logs"}}""",
      """{"timestamp":"2024-03-10 11:00:00","level":"x"}""",
    ), mapping, reqTime)
    assert(docs.count() == 1)
  }

  test("rid is deterministic and distinct per doc") {
    val df = linesDf(
      """{"level":"a"}""",
      """{"level":"b"}""",
    )
    val r1 = BulkIngest.project(df, mapping, reqTime).select("rid").collect().map(_.getLong(0))
    val r2 = BulkIngest.project(df, mapping, reqTime).select("rid").collect().map(_.getLong(0))
    assert(r1.sameElements(r2))
    assert(r1.distinct.length == 2)
  }

  test("nested mapping schema: object trees and nested arrays") {
    val m = SeqMapping(Map(
      "svc"        -> graft.model.FieldSpec("svc", Seq(IndexType.Keyword)),
      "ctx.user"   -> graft.model.FieldSpec("ctx.user", Seq(IndexType.Keyword)),
      "ctx.role"   -> graft.model.FieldSpec("ctx.role", Seq(IndexType.Keyword)),
      "spans"      -> graft.model.FieldSpec("spans", Seq(IndexType.Nested)),
      "spans.op"   -> graft.model.FieldSpec("spans.op", Seq(IndexType.Keyword)),
    ), caseSensitive = true)
    val docs = BulkIngest.project(linesDf(
      """{"svc":"api","ctx":{"user":"u1","role":"admin"},"spans":[{"op":"read"},{"op":"write"}]}""",
    ), m, reqTime)
    val row = docs.select(col("svc"), col("ctx.user"), col("spans.op")).collect()(0)
    assert(row.getString(0) == "api")
    assert(row.getString(1) == "u1")
    assert(row.getSeq[String](2) == Seq("read", "write"))
  }

  test("partitioned write: day layout, sorted within partitions, prunable") {
    val tmp = java.nio.file.Files.createTempDirectory("docs").toString
    val docs = BulkIngest.project(linesDf(
      """{"timestamp":"2024-03-10 01:00:00","level":"a"}""",
      """{"timestamp":"2024-03-10 02:00:00","level":"b"}""",
      """{"timestamp":"2024-03-09 23:00:00","level":"c"}""",
    ), mapping, 1710072000000L, allowedDriftMs = 48L * 3600 * 1000)
    DocsWriter.overwrite(docs, tmp)
    val fs = new java.io.File(tmp).list().filter(_.startsWith("date=")).sorted
    assert(fs.toSeq == Seq("date=2024-03-09", "date=2024-03-10"))
    val back = spark.read.parquet(tmp)
    assert(back.count() == 3)
    // partition pruning: filter on the partition column reads one dir
    val pruned = back.where(col("date") === "2024-03-09")
    assert(pruned.count() == 1)
  }

  test("streaming ingest maintains bloom sidecars across batches and compaction") {
    import spark.implicits._
    import graft.index.TokenBloomIndex
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = java.nio.file.Files.createTempDirectory("stream_bloom").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_bloom_ckpt").toString
    val q = StreamingIngest.start(mem.toDF(), mapping, out, ckpt,
      requestTimeMs = Some(reqTime), triggerMs = 50, bloomFields = Seq("level"),
      zoneCols = Seq("mid"))
    try {
      mem.addData("""{"timestamp":"2024-03-10 10:00:00","level":"alpha"}""")
      q.processAllAvailable()
      mem.addData("""{"timestamp":"2024-03-10 10:01:00","level":"beta"}""")
      q.processAllAvailable()
      // every streamed file is indexed; a probe for 'beta' prunes the
      // alpha-only file (keyword folding: mapping is case-insensitive)
      val all = spark.read.parquet(out).inputFiles.toSet
      val cand = TokenBloomIndex.candidateFiles(spark, out, Map("level" -> Seq("beta"))).get
      assert(cand.toSet.subsetOf(all) && cand.size < all.size)
      val hit = TokenBloomIndex.prunedRead(spark, out, "level:beta", mapping)
        .where(col("level") === "beta").count()
      assert(hit == 1)
      // the zone-map sidecar tracks the same batches: a mid probe for
      // the second minute prunes the first-minute file
      val beta10h01 = 1710064860000L // 2024-03-10T10:01:00Z
      val zcand = graft.index.ZoneMapIndex.candidateFiles(spark, out,
        Map("mid" -> ((Some(beta10h01), None: Option[Long])))).get
      assert(zcand.toSet.subsetOf(all) && zcand.size < all.size)
      // compaction replaces the day's files; the update indexes them
      StreamingIngest.compactDay(spark, out, "2024-03-10",
        bloomFields = Seq("level"), mapping = Some(mapping),
        zoneCols = Seq("mid"))
      val cand2 = TokenBloomIndex.candidateFiles(spark, out, Map("level" -> Seq("beta"))).get
      assert(cand2.toSet.subsetOf(spark.read.parquet(out).inputFiles.toSet))
      assert(TokenBloomIndex.prunedRead(spark, out, "level:beta", mapping)
        .where(col("level") === "beta").count() == 1)
      val zcand2 = graft.index.ZoneMapIndex.candidateFiles(spark, out,
        Map("mid" -> ((Some(beta10h01), None: Option[Long])))).get
      assert(zcand2.toSet.subsetOf(spark.read.parquet(out).inputFiles.toSet))
      assert(graft.index.ZoneMapIndex.prunedRead(spark, out,
          Map("mid" -> ((Some(beta10h01), None: Option[Long]))))
        .where(col("mid") >= beta10h01).count() == 1)
    } finally q.stop()
  }

  test("streaming ingest: micro-batch append, immediate visibility, compaction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = java.nio.file.Files.createTempDirectory("stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_ckpt").toString
    val q = StreamingIngest.start(mem.toDF(), mapping, out, ckpt,
      requestTimeMs = Some(reqTime), triggerMs = 50)
    try {
      mem.addData("""{"timestamp":"2024-03-10 10:00:00","level":"s1","message":"hello world"}""")
      q.processAllAvailable()
      // visible mid-stream (active-fraction analogue, T3)
      assert(SinkGeneration.open(spark, out).count() == 1)
      mem.addData("""{"timestamp":"2024-03-10 10:01:00","level":"s2","message":"second"}""")
      q.processAllAvailable()
      val docs = SinkGeneration.open(spark, out)
      assert(docs.count() == 2)
      // queryable through the engine
      val t = graft.engine.DocsTable(docs, mapping)
      assert(new SeqEngine(t).matches("message:hello", 0, Long.MaxValue).count() == 1)
      // compaction shrinks file count, preserves rows
      StreamingIngest.compactDay(spark, out, "2024-03-10")
      val compacted = spark.read.parquet(s"$out/date=2024-03-10")
      assert(compacted.count() == 2)
      assert(new java.io.File(s"$out/date=2024-03-10").list().count(_.endsWith(".parquet")) == 1)
      assert(new java.io.File(s"$out/date=2024-03-10").list().filter(_.endsWith(".parquet"))
        .forall(_.endsWith(".zstd.parquet")))
    } finally q.stop()
  }

  test("append: a replayed id replaces its own files on every day, other ids stay") {
    val out = java.nio.file.Files.createTempDirectory("docs_append").toString
    def docs(ts: String*) = BulkIngest.project(linesDf(ts.map(t =>
      s"""{"timestamp":"$t","level":"x","message":"m $t"}"""): _*), mapping, reqTime,
      allowedDriftMs = 48L * 3600 * 1000)
    def mids(): Seq[Long] = SinkGeneration.open(spark, out).select("mid").collect().map(_.getLong(0)).sorted.toSeq
    DocsWriter.append(docs("2024-03-10 01:00:00"), out, "a")
    DocsWriter.append(docs("2024-03-09 01:00:00", "2024-03-10 02:00:00"), out, "b")
    assert(mids().size == 3)
    // the replay of "b" lands on 2024-03-10 only (as a wall-clock
    // restamp would move it): its earlier 2024-03-09 file must go too
    DocsWriter.append(docs("2024-03-10 03:00:00"), out, "b")
    assert(mids() == Seq(1710032400000L, 1710039600000L)) // 01:00 and 03:00 on 2024-03-10
    assert(!new java.io.File(out, "date=2024-03-09").list().exists(_.endsWith(".parquet")))
    assert(!new java.io.File(out, "_staging").exists())
  }
}
