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
  def start(
      lines: DataFrame,
      mapping: SeqMapping,
      outPath: String,
      checkpointPath: String,
      requestTimeMs: Option[Long] = None,
      triggerMs: Long = 1000): StreamingQuery = {
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
      }
      .start()
  }

  /** Compaction: the streaming append produces many small files per
    * day (active fraction); re-sort and rewrite a day partition into
    * few large files sorted by (mid, rid) — the "sealing" analogue
    * (frac/active_sealer.go), run out-of-band per closed day.
    */
  def compactDay(spark: SparkSession, outPath: String, date: String,
      targetFiles: Int = 1): Unit =
    DocsWriter.rewriteDay(spark, outPath, date, targetFiles)
}
