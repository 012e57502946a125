package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.engine.SinkGeneration
import graft.model.{IndexType, SeqMapping}

/** Crash-replay idempotence for the foreachBatch sinks.
  *
  * Structured Streaming's foreachBatch is at-least-once: a crash after
  * the sink write but before the engine records `commits/<id>` replays
  * the whole micro-batch with the SAME batchId on restart. The sinks'
  * exactly-once story is the `batch=<id>` overwrite layout
  * ([[StreamingSpanRemoval]], [[StreamingNearDedup]] scaladocs) — a
  * replayed epoch must land byte-for-byte the same CONTENT in sink,
  * index and audit, replacing its own partition instead of duplicating
  * or corrupting it.
  *
  * The crash is simulated for real, not by calling the batch body
  * twice: run the stream over a file source to completion, stop it,
  * delete `checkpoint/commits/<last>` (exactly the state a post-sink
  * pre-commit crash leaves: offsets written, commit marker missing),
  * restart from the same checkpoint and let the engine re-execute the
  * batch. The spec then asserts BOTH that re-execution actually
  * happened (the overwritten partition has fresh part-file names) and
  * that every output surface is content-identical.
  *
  * This spec is what caught the span-removal self-excision bug: the
  * removal index has no per-window ownership, so a replayed batch
  * probing its own previously-appended `allwins/batch=<id>` windows
  * excised its entire text. The fix under test is the probe's
  * `excludeBatch` partition filter.
  */
class StreamingReplaySpec extends SparkSpec {
  import spark.implicits._

  /** Write `rows` as one NDJSON slice file into the stream input dir. */
  private def writeSlice(inDir: String, name: String,
      rows: Seq[(Long, String)]): Unit = {
    new java.io.File(inDir).mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(inDir, name), "UTF-8")
    try rows.foreach { case (id, text) =>
      w.println(s"""{"doc_id":$id,"text":"$text"}""")
    } finally w.close()
  }

  private def stream(inDir: String): DataFrame =
    spark.readStream.schema("doc_id LONG, text STRING").json(inDir)

  /** Canonical content snapshot of a parquet dir (partition columns
    * included), empty if the dir doesn't exist. */
  private def snapshot(path: String): Seq[String] =
    if (!new java.io.File(path).exists()) Seq.empty
    // toJSON, not Row.toString: binary columns (the removal index's
    // `win`) render as array identity under toString, which compares
    // object addresses instead of content
    else spark.read.parquet(path).toJSON.collect().sorted.toSeq

  private def partFiles(path: String): Set[String] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("part-")).toSet

  /** Simulate the post-sink pre-commit crash on `batchId`. */
  private def dropCommit(ckpt: String, batchId: Long): Unit = {
    val f = new java.io.File(s"$ckpt/commits/$batchId")
    assert(f.isFile, s"commit marker $f must exist before the simulated crash")
    assert(f.delete())
    // the local ChecksumFs leaves a .crc sidecar; a real crash loses
    // both (the marker is renamed into place atomically), and a stale
    // sidecar makes the replayed commit's rename throw
    new java.io.File(s"$ckpt/commits/.$batchId.crc").delete(): Unit
  }

  test("StreamingSpanRemoval: replaying a committed batch is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_ssr").toString
    val span = "this exact shared license block travels between documents"
    def start() = StreamingSpanRemoval.start(stream(s"$dir/in"), "doc_id", "text",
      indexPath = s"$dir/idx", outPath = s"$dir/out",
      checkpointPath = s"$dir/ckpt", k = 16)
    // batch 0: establishes the index; batch 1: 10 repeats the span
    // published in batch 0 (index hit), 11 is fresh text
    writeSlice(s"$dir/in", "s0.json", Seq(1L -> s"intro words $span and an ending"))
    val q1 = start()
    try {
      q1.processAllAvailable()
      writeSlice(s"$dir/in", "s1.json", Seq(
        10L -> s"fresh framing $span yet another tail",
        11L -> "entirely novel prose with no repeated passage at all"))
      q1.processAllAvailable()
    } finally q1.stop()

    val outBefore = snapshot(s"$dir/out")
    val idxBefore = snapshot(s"$dir/idx/allwins")
    val filesBefore = partFiles(s"$dir/out/batch=1")
    // sanity on the pre-crash run: the span was excised, fringes kept
    assert(outBefore.exists(r => r.contains("fresh framing") && !r.contains("license")))

    dropCommit(s"$dir/ckpt", 1L)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // the batch really re-executed: its partition was rewritten
    assert(partFiles(s"$dir/out/batch=1") != filesBefore,
      "batch=1 was not re-executed - the crash simulation is broken")
    // ...and every output surface is content-identical
    assert(snapshot(s"$dir/out") == outBefore)
    assert(snapshot(s"$dir/idx/allwins") == idxBefore)
  }

  test("StreamingNearDedup: replaying a committed batch is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_snd").toString
    def start() = StreamingNearDedup.start(stream(s"$dir/in"), "doc_id", "text",
      indexPath = s"$dir/idx", outPath = s"$dir/out",
      checkpointPath = s"$dir/ckpt", auditPath = Some(s"$dir/audit"))
    // batch 0: 1 and 2 near-dup each other in-batch (1 kept), 3 distinct;
    // batch 1: 10 near-dups corpus survivor 1 (dropped + audited), 11 new
    writeSlice(s"$dir/in", "s0.json", Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon eta",
      3L -> "one two three four five six"))
    val q1 = start()
    try {
      q1.processAllAvailable()
      writeSlice(s"$dir/in", "s1.json", Seq(
        10L -> "alpha beta gamma delta epsilon zeta",
        11L -> "red green blue cyan magenta yellow"))
      q1.processAllAvailable()
    } finally q1.stop()

    val outBefore = snapshot(s"$dir/out")
    val auditBefore = snapshot(s"$dir/audit")
    val shBefore = snapshot(s"$dir/idx/shingles")
    val bandsBefore = snapshot(s"$dir/idx/bands")
    val filesBefore = partFiles(s"$dir/out/batch=1")
    // pre-crash sanity: survivors and the audited drop are as designed
    assert(spark.read.parquet(s"$dir/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 11L))
    assert(spark.read.parquet(s"$dir/audit")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 1L)))

    dropCommit(s"$dir/ckpt", 1L)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    assert(partFiles(s"$dir/out/batch=1") != filesBefore,
      "batch=1 was not re-executed - the crash simulation is broken")
    // the replayed batch probes an index that ALREADY contains its own
    // survivors (appended under batch=1 pre-crash); the id guard in
    // dedupAgainstIndexFromShingles keeps them from matching themselves
    assert(snapshot(s"$dir/out") == outBefore)
    assert(snapshot(s"$dir/audit") == auditBefore)
    assert(snapshot(s"$dir/idx/shingles") == shBefore)
    assert(snapshot(s"$dir/idx/bands") == bandsBefore)
  }

  test("StreamingIngest: replaying a committed batch is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_si").toString
    val mapping = SeqMapping.of("level" -> IndexType.Keyword, "message" -> IndexType.Text)
    def start() = StreamingIngest.start(spark.readStream.text(s"$dir/in"), mapping,
      s"$dir/out", s"$dir/ckpt", requestTimeMs = Some(1710072000000L), triggerMs = 50)
    def writeLines(name: String, docs: (String, String)*): Unit = {
      new java.io.File(s"$dir/in").mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in", name), docs.map { case (ts, msg) =>
        s"""{"timestamp":"$ts","level":"error","message":"$msg"}"""
      }.mkString("", "\n", "\n").getBytes("UTF-8")): Unit
    }
    def rows(): Seq[(Long, Long)] = SinkGeneration.open(spark, s"$dir/out").select("mid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def dataFiles(): Set[String] = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.startsWith("date=")).flatMap(_.listFiles())
      .map(f => s"${f.getParentFile.getName}/${f.getName}").filter(_.endsWith(".parquet")).toSet
    // batch 0: one day; batch 1: two days
    writeLines("s0.json", "2024-03-10 09:00:00" -> "first")
    val q1 = start()
    try {
      q1.processAllAvailable()
      writeLines("s1.json", "2024-03-10 10:00:00" -> "second", "2024-03-09 15:00:00" -> "third")
      q1.processAllAvailable()
    } finally q1.stop()
    val rowsBefore = rows()
    val filesBefore = dataFiles()
    assert(rowsBefore.size == 3)

    dropCommit(s"$dir/ckpt", 1L)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val filesAfter = dataFiles()
    val added = filesAfter -- filesBefore
    assert(added.nonEmpty, "batch 1 was not re-executed - the crash simulation is broken")
    assert(rows() == rowsBefore)
    // the replay replaced exactly batch 1's own files, on both days
    assert(added.forall(_.contains("e1-part-")) && added.map(_.takeWhile(_ != '/')).size == 2)
    assert((filesBefore -- filesAfter).size == added.size)
  }
}
