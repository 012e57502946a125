package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operational sink analyzer — the engine's analogue of the
  * reference's `cmd/index_analyzer` (per-fraction token/index stats
  * over `.index` files) and `cmd/distribution` (per-fraction MID
  * distribution): for a day-partitioned docs sink it reports, per
  * file and per day, row counts, MID ranges and their TIGHTNESS.
  * The initial load claims every output file carries a tight
  * disjoint (date, mid) range (graft.ingest.DocsWriter.cluster's
  * repartitionByRange + sortWithinPartitions); `overlapping_files`
  * measures that claim on real data — a nonzero count means time
  * windows inside a day stop pruning at the file level, the exact
  * regression the reference tool exists to catch on its fractions.
  *
  * All statistics are computed as one distributed aggregation over
  * the scan (`input_file_name` + groupBy) — no footer parsing, no
  * driver loops over files; byte sizes come from one FS listing.
  *
  * Usage: runMain graft.tools.IndexAnalyzer <sinkPath>
  * Prints one JSON line per day plus a totals line (last).
  */
object IndexAnalyzer {

  /** Per-file stats: (date, file, rows, mid_min, mid_max). */
  def perFile(spark: SparkSession, path: String): DataFrame =
    graft.engine.SinkGeneration.open(spark, path)
      .select(col("date"), col("mid"), input_file_name().as("file"))
      .groupBy(col("date"), col("file"))
      .agg(count(lit(1)).as("rows"),
        min(col("mid")).as("mid_min"), max(col("mid")).as("mid_max"))

  /** Per-day rollup with the range-tightness measure: a file
    * STRICTLY overlaps some earlier file (in mid_min order) iff its
    * mid_min is below the running max of ALL preceding files'
    * mid_max — not just the immediate predecessor's, which would
    * miss ranges NESTED inside an earlier, wider file (A[0,100],
    * B[10,20], C[30,40]: C overlaps A but not B). Touching ranges
    * (equal mids split across a range boundary) are legal and not
    * counted.
    */
  def dayReport(perFileStats: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("date"))
      .orderBy(col("mid_min").asc, col("file").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    perFileStats
      .withColumn("prev_max", max(col("mid_max")).over(w))
      .withColumn("overlaps_prev",
        col("prev_max").isNotNull && col("mid_min") < col("prev_max"))
      .groupBy(col("date"))
      .agg(count(lit(1)).as("files"), sum(col("rows")).as("rows"),
        min(col("mid_min")).as("mid_min"), max(col("mid_max")).as("mid_max"),
        sum(when(col("overlaps_prev"), 1L).otherwise(0L)).as("overlapping_files"))
      .orderBy(col("date"))
  }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(
      sys.error("usage: IndexAnalyzer <sinkPath>"))
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try {
      val days = dayReport(perFile(spark, path)).collect()
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(path)).getLength
      days.foreach { r =>
        println(s"""{"date":"${r.get(0)}","files":${r.getLong(1)},""" +
          s""""rows":${r.getLong(2)},"mid_min":${r.getLong(3)},""" +
          s""""mid_max":${r.getLong(4)},"overlapping_files":${r.getLong(5)}}""")
      }
      val totalRows = days.map(_.getLong(2)).sum
      val totalOverlap = days.map(_.getLong(5)).sum
      println(s"""{"days":${days.length},"rows":$totalRows,""" +
        s""""bytes":$bytes,"overlapping_files":$totalOverlap}""")
    } finally spark.stop()
  }
}
