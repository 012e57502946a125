package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SeqMapping

/** Hot/cold tiering (S8, docs/en/07-long-term-store.md): recent data
  * lives on a fast tier, history on a cheap one. The reference's proxy
  * retries cold stores when hot stores refuse old ranges
  * (proxy/search/ingestor.go:88-112); in Spark both tiers are just
  * table paths UNIONed under one DocsTable — the per-tier `mid` bounds
  * below make Catalyst prune whole tiers via their time predicates, so
  * a recent-window query never opens the cold store at all.
  */
object TieredDocs {

  /** Build a tiered docs table. `boundaryMs`: docs with mid >= boundary
    * are expected hot, older docs cold. The bound is advisory — applied
    * as a filter on each tier so overlap (e.g. during migration) never
    * duplicates results, with hot winning the boundary.
    */
  def table(
      spark: SparkSession,
      hotPath: String,
      coldPath: String,
      boundaryMs: Long,
      mapping: SeqMapping): DocsTable = {
    // each tier is one sink (its files carry the fields accreted under
    // successive mappings); cross-tier drift is the allowMissingColumns
    // union's job
    val hot = SinkGeneration.open(spark, hotPath)
      .where(col("mid") >= boundaryMs)
    val cold = SinkGeneration.open(spark, coldPath)
      .where(col("mid") < boundaryMs)
    DocsTable(hot.unionByName(cold, allowMissingColumns = true), mapping)
  }

  /** A tiered table with the degraded-answer contract: `partial` is
    * true when a tier could not be attached and the results therefore
    * under-approximate the full corpus — the reference's
    * ErrPartialResponse (proxy/search/ingestor.go:88-112: shard
    * failures yield partial results plus an error flag, they do not
    * fail the query). `degraded` names each unavailable tier with its
    * cause, for the response's error detail.
    */
  final case class TieredTable(
      table: DocsTable, partial: Boolean, degraded: Seq[String])

  /** [[table]] with per-tier fallback: an unreadable COLD tier (object
    * store outage, deleted prefix) degrades to hot-only + partial
    * instead of failing — recent data keeps answering, which is the
    * operational contract tiering exists for. An unreadable HOT tier
    * still fails the build: serving cold-only as if current would be
    * silently wrong in the opposite (dangerous) direction.
    */
  def tableWithFallback(
      spark: SparkSession,
      hotPath: String,
      coldPath: String,
      boundaryMs: Long,
      mapping: SeqMapping): TieredTable = {
    val hot = SinkGeneration.open(spark, hotPath)
      .where(col("mid") >= boundaryMs)
    try {
      val cold = SinkGeneration.open(spark, coldPath)
        .where(col("mid") < boundaryMs)
      TieredTable(
        DocsTable(hot.unionByName(cold, allowMissingColumns = true), mapping),
        partial = false, degraded = Nil)
    } catch {
      case e: Exception =>
        TieredTable(DocsTable(hot, mapping), partial = true,
          degraded = Seq(s"cold:$coldPath: ${e.getMessage}"))
    }
  }

  /** The reference's four store lists (docs/en/07-long-term-store.md
    * "Stores"): regular hot/cold lists are always the WRITE targets;
    * when a read list is non-empty, queries go ONLY through that list
    * while the regular list keeps taking writes. That split is the
    * migration pattern: to drain store M, move the query surface to
    * the read lists (including M), drop M from the regular (write)
    * list, and writes can no longer fail on M while readers still see
    * its data until the move completes.
    */
  final case class StoreLists(
      hot: Seq[String],
      cold: Seq[String] = Nil,
      hotRead: Seq[String] = Nil,
      coldRead: Seq[String] = Nil) {
    require(hot.nonEmpty, "at least one hot store path")
    /** Paths queries scan for the hot tier (read list wins). */
    def hotQuery: Seq[String] = if (hotRead.nonEmpty) hotRead else hot
    /** Paths queries scan for the cold tier (read list wins). */
    def coldQuery: Seq[String] = if (coldRead.nonEmpty) coldRead else cold
  }

  /** [[table]] over store lists: each tier is the union of its query
    * paths (shards), with the same advisory boundary split as
    * [[table]]. With no cold stores configured the hot tier serves all
    * time — the boundary only activates when there is a cold tier to
    * own the old range (the reference routes the same way: cold stores
    * are queried only when configured). Tier pruning still holds: a
    * recent-window query never opens any cold path.
    */
  def tableFromLists(
      spark: SparkSession,
      stores: StoreLists,
      boundaryMs: Long,
      mapping: SeqMapping): DocsTable = {
    def readTier(paths: Seq[String]): Option[DataFrame] =
      paths.map(p => SinkGeneration.open(spark, p))
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
    val coldQ = readTier(stores.coldQuery).map(_.where(col("mid") < boundaryMs))
    val hotQ = readTier(stores.hotQuery).map { hot =>
      if (coldQ.isDefined) hot.where(col("mid") >= boundaryMs) else hot
    }
    val all = (hotQ.toSeq ++ coldQ.toSeq)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    DocsTable(all, mapping)
  }

  /** The reference's dual-write (07-long-term-store.md "Write": a bulk
    * is sent to hot stores, then cold stores; a failure on any target
    * fails the request — so this throws on the first failed write).
    * Every target receives the full batch; the boundary split in
    * [[tableFromLists]] guarantees the full overlap never double
    * counts at query time. The input is persisted across the writes so
    * the stamp/projection pipeline runs once, not once per target.
    */
  def dualWrite(docs: DataFrame, stores: StoreLists): Unit = {
    val targets = stores.hot ++ stores.cold
    val cached = if (targets.size > 1)
      docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else docs
    try targets.foreach(p => graft.ingest.DocsWriter.overwrite(cached, p))
    finally if (targets.size > 1) { cached.unpersist(); () }
  }

  /** Migration job: move closed days older than `boundaryMs` from hot
    * to cold (rewrite day partitions, then drop them from hot).
    */
  def migrate(spark: SparkSession, hotPath: String, coldPath: String, boundaryMs: Long): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(hotPath)
    if (!fs.exists(base)) return Nil
    val cutoffDay = java.time.Instant.ofEpochMilli(boundaryMs).toString.take(10)
    val moved = fs.listStatus(base).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("date=") && p.getName.stripPrefix("date=") < cutoffDay)
    moved.foreach { p =>
      graft.ingest.DocsWriter.rewriteDay(spark, hotPath, coldPath, p.getName.stripPrefix("date="), 1)
      fs.delete(p, true)
    }
    moved.map(_.getName)
  }
}
