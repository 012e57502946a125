package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.{BulkIngest, DocsWriter}
import graft.model.SeqMapping

/** Structured Streaming stand-in for the reference's active-fraction
  * ingest (SURVEY.md §2.9): a stream of JSON lines goes through the
  * same mapping-driven projection as batch ingest and appends to the
  * docs table in micro-batches (one bulk request ≈ one micro-batch,
  * T1). Checkpointing gives the crash-recovery the reference gets from
  * replaying `.meta` journals (T6). Late data is re-stamped, never
  * dropped (T2) — so no watermark-based row dropping here; the drift
  * clamp happens per batch against the batch's own wall-clock stand-in.
  */
object StreamingIngest {

  /** Start appending `lines` (a streaming DataFrame with a string
    * `value` column) into `outPath`, one [[DocsWriter.append]] per
    * epoch.
    * `requestTimeMs` supplies the deterministic "arrival time" for
    * drift clamping in tests; pass None for wall clock per batch.
    */
  /** `bloomFields` (optional): after each batch lands, incrementally
    * index its new files into the token-Bloom sidecars
    * (graft.index.TokenBloomIndex.update — only unseen files are
    * touched, so the per-batch cost is one pass over the batch's own
    * output). Leaving it empty keeps the write path minimal; the
    * sidecar can always be caught up out-of-band.
    */
  def start(
      lines: DataFrame,
      mapping: SeqMapping,
      outPath: String,
      checkpointPath: String,
      requestTimeMs: Option[Long] = None,
      triggerMs: Long = 1000,
      bloomFields: Seq[String] = Nil,
      zoneCols: Seq[String] = Nil): StreamingQuery = {
    lines.writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val reqTime = requestTimeMs.getOrElse(System.currentTimeMillis())
        // the append id names the query (its id survives restarts from
        // this checkpoint) and the epoch: a replayed epoch replaces its
        // own files, and another query's epoch of the same number
        // touches none of them
        val query = batch.sparkSession.sparkContext
          .getLocalProperty(StreamExecution.QUERY_ID_KEY).replace("-", "")
        DocsWriter.append(BulkIngest.project(batch, mapping, reqTime), outPath, s"${query}e$batchId")
        // advisory-only index maintenance does not fail the epoch: the
        // append above is idempotent per epoch, but an index outage must
        // not stall ingest. Unindexed files are merely unprunable until
        // the next catch-up.
        if (bloomFields.nonEmpty)
          try graft.index.TokenBloomIndex.update(
            batch.sparkSession, outPath, mapping, bloomFields)
          catch { case e: Exception =>
            System.err.println(s"[StreamingIngest] bloom update skipped: $e")
          }
        // zone-map maintenance: same advisory-only contract
        if (zoneCols.nonEmpty)
          try graft.index.ZoneMapIndex.update(batch.sparkSession, outPath, zoneCols)
          catch { case e: Exception =>
            System.err.println(s"[StreamingIngest] zonemap update skipped: $e")
          }
        ()
      }
      .start()
  }

  /** Compaction: the streaming append produces many small files per
    * day (active fraction); re-sort and rewrite a day partition into
    * few large files sorted by (mid, rid) — the "sealing" analogue
    * (frac/active_sealer.go), run out-of-band per closed day.
    */
  /** `bloomFields`: sidecars to catch up after the swap — the
    * compacted files are new to the index (update only touches those);
    * rows for the replaced small files dangle harmlessly (candidate
    * selection intersects with the live file list).
    */
  def compactDay(spark: SparkSession, outPath: String, date: String,
      targetFiles: Int = 1, bloomFields: Seq[String] = Nil,
      mapping: Option[SeqMapping] = None,
      zoneCols: Seq[String] = Nil): Unit = {
    DocsWriter.rewriteDay(spark, outPath, outPath, date, targetFiles)
    if (bloomFields.nonEmpty) {
      require(mapping.isDefined, "compactDay bloom update needs the mapping")
      graft.index.TokenBloomIndex.update(spark, outPath, mapping.get, bloomFields)
    }
    if (zoneCols.nonEmpty)
      graft.index.ZoneMapIndex.update(spark, outPath, zoneCols)
  }

  /** Retention: drop day partitions older than `keepDays` relative to
    * `nowMs` (fraction deletion by age, T5/docs/en/internal/fractions.md).
    */
  def enforceRetention(spark: SparkSession, outPath: String, nowMs: Long, keepDays: Int): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(outPath)
    if (!fs.exists(base)) return Nil
    val cutoff = java.time.Instant.ofEpochMilli(nowMs)
      .minus(java.time.Duration.ofDays(keepDays))
      .toString.take(10)
    val dropped = fs.listStatus(base).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("date="))
      .filter(p => p.getName.stripPrefix("date=") < cutoff)
    dropped.foreach(p => fs.delete(p, true))
    dropped.map(_.getName)
  }
}
