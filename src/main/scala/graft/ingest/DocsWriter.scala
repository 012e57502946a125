package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The one writer of the docs layout. The initial load, the streaming
  * sink, `/_bulk`, compaction and tier migration all write through it,
  * so every sink has one shape:
  *  - day partitions: a `date` column derived from `mid`, written with
  *    `partitionBy("date")` (fraction pruning ≈ partition pruning,
  *    SURVEY.md §1.3);
  *  - files sorted on (mid, rid), so Parquet min/max stats prune time
  *    windows inside a day;
  *  - zstd at level 1.
  *
  * The operation follows from what the caller does: [[overwrite]]
  * replaces a sink (the initial load), [[append]] adds one epoch or
  * bulk under an id and is idempotent per id, and [[rewriteDay]]
  * re-sorts one day (compaction, hot → cold moves).
  */
object DocsWriter {

  // DateType, not a formatted string: the range exchange samples and
  // the writer sort compare 4-byte days instead of strings (readers
  // see DateType either way — partition-column inference)
  private def withDate(docs: DataFrame): DataFrame =
    docs.withColumn("date", to_date(timestamp_millis(col("mid"))))

  // zstd mirrors the reference's sealed-segment codec (frac/compress.go,
  // --docs-zstd-compression-level) and writes ~2x faster than the
  // snappy default on log-shaped data while compressing tighter. Level
  // 1, not the parquet default 3: on the write path CPU is the
  // bottleneck, and log-shaped data compresses nearly as well at 1.
  private def zstd(w: DataFrameWriter[Row]): DataFrameWriter[Row] =
    w.option("compression", "zstd").option("parquet.compression.codec.zstd.level", "1")

  /** The initial load's clustering: a `date` column, RANGE-partitioned
    * by (date, mid) across tasks and sorted by (date, mid, rid) within
    * them. Hashing by date alone would funnel each whole day through
    * one task; ranges keep writes parallel AND give every output file a
    * tight disjoint mid range. The date prefix of the sort satisfies the
    * writer's required ordering, so FileFormatWriter adds no extra
    * (unstable, date-only) sort that could scramble mid order. Narrow
    * projections on top (`BulkIngest.expand`) keep the clustering. */
  def cluster(docs: DataFrame): DataFrame =
    withDate(docs).repartitionByRange(col("date"), col("mid"))
      .sortWithinPartitions(col("date"), col("mid"), col("rid"))

  /** Replace the sink at `path` with `docs` (the initial load). */
  def overwrite(docs: DataFrame, path: String): Unit = overwriteClustered(cluster(docs), path)

  /** [[overwrite]] for rows that already went through [[cluster]]. */
  def overwriteClustered(clustered: DataFrame, path: String): Unit =
    zstd(clustered.write.mode("overwrite")).partitionBy("date").parquet(path)

  /** Append one epoch or bulk to the sink under `id` (alphanumeric).
    * Rows are sorted within their partitions only — no exchange and no
    * sampling job, so a small append runs one Spark job. They land in
    * `<sink>/_staging/<id>` (underscore-prefixed, so Spark's reader
    * skips it), and each file is then renamed into its `date=` directory
    * under a name that starts with the id. A replay of the same id first
    * removes the files its earlier run renamed in, on every day: a
    * wall-clock restamp can move a replayed row to another day.
    *
    * Spark's reader ignores root-level files once a sink holds `date=`
    * directories, so data files at the sink root (the old unpartitioned
    * `/_bulk` layout) are first moved into date partitions under the
    * fixed id `legacy` and then deleted. A crash between the two steps
    * re-runs the move, which replaces its own earlier output. */
  def append(docs: DataFrame, sink: String, id: String): Unit = {
    require(id.nonEmpty && id.forall(_.isLetterOrDigit), s"append id must be alphanumeric: '$id'")
    val spark = docs.sparkSession
    val fs = fileSystem(spark, sink)
    val rootFiles =
      try fs.listStatus(new Path(sink)).filter(s => s.isFile && isData(s.getPath)).map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Array.empty[Path] }
    if (rootFiles.nonEmpty) {
      publish(fs, spark.read.option("mergeSchema", "true").parquet(rootFiles.map(_.toString).toSeq: _*),
        sink, "legacy")
      rootFiles.foreach(fs.delete(_, false))
    }
    publish(fs, docs, sink, id)
  }

  private def publish(fs: FileSystem, docs: DataFrame, sink: String, id: String): Unit = {
    val staging = new Path(s"$sink/_staging/$id")
    zstd(withDate(docs).sortWithinPartitions(col("date"), col("mid"), col("rid"))
      .write.mode("overwrite")).partitionBy("date").parquet(staging.toString)
    fs.globStatus(new Path(s"$sink/date=*/$id-part-*")).foreach(s => fs.delete(s.getPath, false))
    for (day <- fs.listStatus(staging) if day.isDirectory;
         f <- fs.listStatus(day.getPath) if isData(f.getPath)) {
      val dayDir = new Path(sink, day.getPath.getName)
      fs.mkdirs(dayDir)
      rename(fs, f.getPath, new Path(dayDir, s"$id-${f.getPath.getName}"))
    }
    fs.delete(staging, true)
    dropStagingIfEmpty(fs, sink)
  }

  /** Rewrite day `day` (`yyyy-MM-dd`) of `src` as `files` range-disjoint
    * files sorted on (mid, rid) into `dst`'s `date=day` — compaction
    * when `src == dst`, a tier move otherwise. The new day is written
    * aside, then swapped in: the old day is renamed aside, the new one
    * renamed in, and only then is the old one deleted, so a crash never
    * leaves the day only in a deleted directory. */
  def rewriteDay(spark: SparkSession, src: String, dst: String, day: String, files: Int): Unit = {
    val fs = fileSystem(spark, dst)
    val staged = new Path(s"$dst/_staging/day-$day")
    val replaced = new Path(s"$dst/_staging/replaced-$day")
    zstd(spark.read.parquet(s"$src/date=$day")
      .repartitionByRange(files, col("mid"), col("rid"))
      .sortWithinPartitions(col("mid"), col("rid"))
      .write.mode("overwrite")).parquet(staged.toString)
    val dayDir = new Path(s"$dst/date=$day")
    fs.delete(replaced, true)
    if (fs.exists(dayDir)) rename(fs, dayDir, replaced)
    rename(fs, staged, dayDir)
    fs.delete(replaced, true)
    dropStagingIfEmpty(fs, dst)
  }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** What Spark's reader would read: not `_`- or `.`-prefixed. */
  private def isData(p: Path): Boolean = !p.getName.startsWith("_") && !p.getName.startsWith(".")

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")

  /** The last writer to leave removes `_staging`, so the sink's
    * top-level listing (the generation signature) differs between a
    * half-renamed append and the finished one even when both land in
    * the same millisecond. A non-recursive delete fails while another
    * writer still stages there. */
  private def dropStagingIfEmpty(fs: FileSystem, sink: String): Unit =
    try fs.delete(new Path(s"$sink/_staging"), false): Unit
    catch { case _: java.io.IOException => () }
}
