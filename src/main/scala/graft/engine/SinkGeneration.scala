package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A docs sink's generation probe and its one open. The serving layer
  * (`ServingCore` and the HTTP facade's default read path) re-resolves
  * the sink only when [[signature]] moves — the reference searcher's
  * in-memory fraction list (fracmanager/searcher.go:89-101) instead of
  * a per-query rediscovery. Every other reader of a sink path (the
  * index analyzer) opens it through [[open]] too.
  */
private[graft] object SinkGeneration {

  /** Top-level FS statuses of the sink folded into one value: a file or
    * partition added or removed changes the listing, and a file landing
    * in an existing `date=` partition bumps that directory's mtime. A
    * driver-only listing, no Spark job; 0 while the sink does not exist. */
  def signature(spark: SparkSession, sinkDir: String): Long = {
    val p = new Path(sinkDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).foldLeft(17L)((a, s) =>
      a * 1000003L + s.getPath.getName.hashCode.toLong * 31L +
        s.getLen * 7L + s.getModificationTime)
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** The sink as one resolved relation. Each call lists the sink, runs
    * the schema-merge job over the footers and resolves the relation, so
    * callers keep the result for as long as [[signature]] holds.
    * mergeSchema: an ingest sink ACCRETES fields over time (that is what
    * mapping hot-reload is for) — without the union schema, Spark takes
    * one file's footer at random and a column that only newer files
    * carry silently disappears from the engine. */
  def open(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(sinkDir)
}
