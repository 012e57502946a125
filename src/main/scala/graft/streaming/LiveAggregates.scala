package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming analogues of the engine's time-series aggregations
  * (A5): the same bucket semantics computed
  * incrementally over the live ingest stream with event-time
  * watermarking, instead of re-scanning the table. State is bounded by
  * the watermark: buckets older than the allowed lateness finalize and
  * evict.
  *
  * Note the semantic difference from ingest (T2): ingest re-stamps
  * too-late documents rather than dropping them, while a watermarked
  * aggregation finalizes old windows — late rows beyond the watermark
  * update nothing. Both views are available; batch queries over the
  * ingested table remain the source of truth.
  */
object LiveAggregates {

  /** Live grouped time-series count (A1 + A5 as a stream). */
  def liveCountByField(docs: DataFrame, field: String, intervalMs: Long, lateness: String): DataFrame =
    docs
      .withColumn("__ts", timestamp_millis(col("mid")))
      .withWatermark("__ts", lateness)
      .groupBy(
        window(col("__ts"), s"$intervalMs milliseconds"),
        coalesce(col(field).cast("string"), lit("_not_exists")).as("name"))
      .agg(count(lit(1)).as("value"))
      .select(unix_millis(col("window.start")).as("bucket_ms"), col("name"), col("value"))
}
