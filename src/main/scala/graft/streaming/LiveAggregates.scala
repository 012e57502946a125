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

  /** Live distinct-cardinality time-series via the deterministic KMV
    * sketch (A2 as a stream — the streaming twin of
    * [[graft.engine.SeqEngine.aggregateUniqueSketch]]): per window the
    * state is the O(k) sketch buffer, NOT the distinct value set, so
    * state size is bounded no matter how many distinct values a window
    * sees — exact below k, the integer KMV estimate above it, and the
    * same numbers the batch path computes over the same rows (the
    * sketch is order- and partitioning-independent by construction).
    */
  def liveUniqueSketch(docs: DataFrame, field: String, intervalMs: Long,
      lateness: String, k: Int = 64): DataFrame = {
    import graft.functions.{SeqAggregates, VectorExpressions}
    val kmv = org.apache.spark.sql.functions.udaf(
      SeqAggregates.kmvAgg(k), org.apache.spark.sql.Encoders.scalaLong)
    docs
      .withColumn("__ts", timestamp_millis(col("mid")))
      .withWatermark("__ts", lateness)
      .where(col(field).isNotNull)
      .select(col("__ts"), shiftrightunsigned(VectorExpressions.mix64(
        VectorExpressions.portableHash(col(field).cast("string"))), 1).as("__h"))
      .groupBy(window(col("__ts"), s"$intervalMs milliseconds"))
      .agg(kmv(col("__h")).as("est_unique"))
      .select(unix_millis(col("window.start")).as("bucket_ms"), col("est_unique"))
  }

  /** Live quantile time-series via the deterministic bottom-k sample
    * (A4 as a stream — the streaming twin of
    * [[graft.engine.SeqEngine.aggregateQuantileSketch]]): per window
    * the state is the capped sample buffer, so memory is bounded no
    * matter how many rows a window sees. Exact below the cap; above it
    * the deterministic bottom-k sample quantile — the SAME numbers the
    * batch sketch computes over the same rows (the sample selection is
    * a pure function of each row's (mid, rid) priority, independent of
    * arrival order, partitioning, and batch boundaries). Emits one row
    * per (window, q) with min/max/avg alongside.
    */
  def liveQuantileSketch(docs: DataFrame, field: String, intervalMs: Long,
      lateness: String, quantiles: Seq[Double]): DataFrame = {
    import graft.functions.{SeqAggregates, VectorExpressions}
    require(quantiles.nonEmpty, "need at least one quantile")
    val det = org.apache.spark.sql.functions.udaf(
      SeqAggregates.detSamplesAgg(quantiles),
      org.apache.spark.sql.Encoders.product[SeqAggregates.DetIn])
    val qsCol = array(quantiles.map(lit): _*)
    docs
      .withColumn("__ts", timestamp_millis(col("mid")))
      .withWatermark("__ts", lateness)
      .groupBy(window(col("__ts"), s"$intervalMs milliseconds"))
      .agg(det(
        col(field).cast("double"),
        VectorExpressions.mix64(col("mid")).bitwiseXOR(col("rid"))).as("__r"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("__r.min").as("min"), col("__r.max").as("max"),
        col("__r.avg").as("avg"), col("__r.total").as("total"),
        explode(arrays_zip(qsCol.as("q"), col("__r.quantiles").as("value"))).as("__q"))
      .select(col("bucket_ms"), col("__q.q").as("q"), col("__q.value").as("value"),
        col("min"), col("max"), col("avg"), col("total"))
  }
}
