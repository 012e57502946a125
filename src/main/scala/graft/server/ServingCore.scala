package graft.server

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.{DocsTable, SearchRequest, SeqEngine, SinkGeneration}
import graft.ingest.DocsWriter
import graft.model.SeqMapping

/** Serving-mode machinery shared by the HTTP facade and the gRPC API:
  * an engine over a memory-pinned docs table, plus the incremental
  * top-page scan, all owned by one immutable sink generation.
  *
  * A generation is (signature, engine, date partitions, page-prefix
  * cache, memo). The page-prefix cache is the scroll-context analogue:
  * a query's top [[ServingCore.PrefixRows]] matches are collected once
  * and every page of it slices that driver-held prefix. The memo holds
  * request plans, rendered HTTP `/search` bodies and gRPC responses
  * under kind-prefixed keys (the ES shard request cache, invalidated on
  * refresh). Each request captures the generation once and reads only
  * that value; a rebuild swaps in a fresh one. A build that loses the
  * race with a rebuild writes into the old generation's caches, which
  * nothing can reach any more, so a pre-append result is never served
  * after the swap.
  *
  * Sink appends are picked up via a directory signature re-checked at
  * most once per second — bounded staleness matching the near-real-time
  * visibility contract ingestion already has (the reference's sealed-
  * fraction refresh analogue). When `mappingPath` is set, the mapping
  * FILE's signature rides the same probe: editing the mapping swaps a
  * reloaded engine in live, within the same 1 s staleness bound — the
  * reference's timer-based hot reload
  * (mappingprovider/mapping_provider.go:96-110) without a background
  * thread. A mapping file that fails to parse keeps the last good
  * mapping (and keeps probing), matching the reference's
  * log-and-keep-old behavior. One instance per (session, sink); both
  * servers of the same sink should share it so they also share the
  * pinned table and caches.
  */
final class ServingCore(
    spark: org.apache.spark.sql.SparkSession,
    mapping: SeqMapping,
    sinkDir: String,
    mappingPath: Option[String] = None) {
  import ServingCore._

  @volatile private var current: Generation = null
  @volatile private var lastSigCheckMs = 0L
  @volatile private var lastSig = 0L

  /** Cheap generation probe: the shared sink signature
    * ([[SinkGeneration.signature]]) folded with the mapping file's
    * (len, mtime) when hot-reload is wired — re-checked at most once
    * per second. */
  private def sinkSignature(): Long = {
    val now = System.currentTimeMillis()
    if (now - lastSigCheckMs < 1000 && current != null) return lastSig
    val sinkSig = SinkGeneration.signature(spark, sinkDir)
    val mapSig = mappingPath.fold(0L) { mp =>
      val f = new java.io.File(mp)
      if (!f.exists()) 0L else f.length() * 1000003L + f.lastModified()
    }
    val sig = sinkSig * 31L + mapSig
    lastSigCheckMs = now
    lastSig = sig
    sig
  }

  /** The mapping new ingests and the next engine rebuild use: re-read
    * from `mappingPath` on demand (a KB-scale file read), falling back
    * to the last successfully parsed mapping. Deliberately does NOT
    * consult the engine — the ingest path asks for the mapping before
    * the sink's first write, when no engine can be built yet. */
  @volatile private var lastGoodMapping: SeqMapping = mapping
  def currentMapping: SeqMapping = mappingPath.fold(mapping) { mp =>
    try { val m = SeqMapping.loadYaml(mp); lastGoodMapping = m; m }
    catch { case _: Exception => lastGoodMapping }
  }

  def engine: SeqEngine = state().engine

  /** Readiness probe: builds (or revalidates) the serving state and
    * reports whether the core can answer queries. Intentionally
    * blocking on the first call — a K8s readiness gate should hold
    * traffic until the pinned table and engine are actually warm,
    * which is the reference debug-server's `/readiness` contract. */
  def ready: Boolean =
    try { state(); true } catch { case _: Exception => false }

  /** The signature of the sink generation the current engine was built
    * for. Probes the signature (rebuilding if stale), so the returned
    * value is current as of this call. */
  def generation(): Long = state().sig

  private def state(): Generation = {
    val sig = sinkSignature()
    val cached = current
    if (cached != null && cached.sig == sig) return cached
    synchronized {
      val again = current
      if (again != null && again.sig == sig) return again
      // blocking: a mapping-only reload rebuilds an IDENTICAL sink
      // plan, and an in-flight async unpersist of the old entry could
      // land after the new persist and evict it by plan equality —
      // leaving serving silently uncached. Rebuilds are ≤1/s and off
      // the request path, so the synchronous drop costs nothing.
      if (again != null) again.engine.table.df.unpersist(blocking = true)
      // mapping hot-reload: re-read the file on every generation move
      // (mapping edits move the signature; sink appends re-read an
      // unchanged file — cheap, it's a KB-scale YAML). Parse failures
      // keep the last good mapping rather than taking serving down.
      val liveMapping = currentMapping
      val p = new org.apache.hadoop.fs.Path(sinkDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // sortWithinPartitions makes every cached batch date-contiguous,
      // so a date-window predicate skips whole batches via their
      // min/max stats — without it the hash shuffle interleaves days
      // and every batch's stats span everything (no skipping)
      val raw = SinkGeneration.open(spark, sinkDir)
      // Pin policy: MEMORY_AND_DISK caches the whole sink — right for
      // the log-store page-serving scale it was built for, an OOM risk
      // for a year-scale (100×) sink. Above `maxPinnedBytes` of
      // on-disk parquet (compressed — the in-memory columnar form is
      // larger still) degrade to DISK_ONLY: still one materialized,
      // date-clustered copy with batch-stat skipping, but the unified
      // memory region stays free for query execution.
      val maxPinned = spark.conf
        .get("spark.graft.serving.maxPinnedBytes", (8L << 30).toString).toLong
      // one top-level listing sizes the pin and yields the day
      // partitions. Only data files count: root-level ones (an
      // unpartitioned sink) and those of `date=` directories. The
      // writers' scratch directories (`_staging`, Spark's `_temporary`,
      // `_async`) are never entered, so one vanishing mid-listing can
      // neither fail the rebuild nor inflate the size.
      val top =
        try fs.listStatus(p).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      val days = top.filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      val sinkBytes = top.filter(s => s.isFile && DocsWriter.isData(s.getPath)).map(_.getLen).sum +
        days.map { d =>
          // a day renamed aside by a rewrite after the listing: it
          // moved the signature, so the next probe rebuilds anyway
          try fs.listStatus(d.getPath).filter(f => f.isFile && DocsWriter.isData(f.getPath)).map(_.getLen).sum
          catch { case _: java.io.FileNotFoundException => 0L }
        }.sum
      val level =
        if (sinkBytes > maxPinned) org.apache.spark.storage.StorageLevel.DISK_ONLY
        else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val df = (if (raw.columns.contains("date"))
          raw.repartition(ServingPartitions, col("date"))
            .sortWithinPartitions("date", "mid")
        else raw.coalesce(ServingPartitions))
        .persist(level)
      val eng = new SeqEngine(DocsTable(df, liveMapping))
      // day partitions newest-first, straight from the FS listing (no
      // Spark job) — drives the incremental page scan below
      val dates = days.map(_.getPath.getName.stripPrefix("date=")).sorted.reverse
      val fresh = new Generation(sig, eng, dates)
      current = fresh
      fresh
    }
  }

  /** Memoizes `build` under `key` in the current generation's memo (the
    * gRPC handlers cache whole proto responses with it, the HTTP facade
    * its `/search` bodies): a repeated identical request becomes a map
    * lookup until the sink generation moves. Callers prefix the key
    * with their kind so the kinds never collide. */
  def memo[T <: AnyRef](key: String)(build: => T): T =
    state().memo(key)(build).asInstanceOf[T]

  /** Incremental top-page scan (the reference's O3 early termination +
    * O4 fraction-order scan, SeqEngine.searchPrefix): day partitions
    * sort by mid across days, so the newest k days are tried first
    * (oldest-first for asc) and the window widens only when the page
    * comes back short. A point page over a year of data then scans one
    * day, not 365. Falls back to the full-range plan when the sink
    * isn't day-partitioned.
    */
  def servingPage(req: SearchRequest): Array[Row] = {
    val g = state()
    val need = req.offset + req.size
    // a shorter-than-capacity prefix IS the complete match set, so any
    // slice of it is exact; otherwise it covers need ≤ PrefixRows
    if (need <= PrefixRows)
      g.pages(s"${req.query}|${req.fromMs}|${req.toMs}|${req.asc}")(
        collectPrefix(g, req, PrefixRows)).slice(req.offset, need)
    else collectPrefix(g, req, need).drop(req.offset)
  }

  /** Top-`n` matches via the incremental day-window scan over `g`. */
  private def collectPrefix(g: Generation, req: SearchRequest, n: Int): Array[Row] = {
    val eng = g.engine
    val windows: Seq[Option[Seq[String]]] =
      if (!eng.table.df.columns.contains("date") || g.dates.isEmpty) Seq(None)
      else Seq(1, 4, 16).filter(_ < g.dates.size).map(k =>
        Some(if (req.asc) g.dates.takeRight(k) else g.dates.take(k))) :+ None
    for (w <- windows) {
      val extra = w match {
        case Some(ds) => col("date").isin(ds: _*)
        case None     => lit(true)
      }
      // memoized request plan: a repeated request re-executes the SAME
      // DataFrame, so parse/analyze/optimize/physical-planning happen
      // once and the warm path pays only job scheduling + execution
      val key = s"plan|${req.query}|${req.fromMs}|${req.toMs}|${req.asc}|$n:" +
        w.map(_.mkString(",")).getOrElse("all")
      val plan = g.memo(key) {
        eng.withIdString(eng.searchPrefix(
            req.query, req.fromMs, req.toMs, n, req.asc, extra))
          .select(col("id"), col("mid"), col("rid"), col("_raw"))
      }.asInstanceOf[DataFrame]
      val rows = plan.collect()
      if (rows.length >= n || w.isEmpty) return rows
    }
    Array.empty
  }
}

private object ServingCore {
  // sized to cover the reference's published paging scenario (k6
  // seq-db-paging.js: 50 pages x 100 docs = offset 5000) from ONE
  // prefix job; the 64-prefix cap bounds total driver memory
  val PrefixRows = 5120

  // few fat in-memory partitions, clustered by date: a point query
  // launches this many tasks (scheduling is the latency floor, not the
  // scan) and the date-window filter skips whole cached batches via
  // their min/max stats
  val ServingPartitions = 8

  /** One sink generation and the caches computed against it. */
  final class Generation(val sig: Long, val engine: SeqEngine, val dates: Seq[String]) {
    val pages = new BoundedCache[Array[Row]](64)
    val memo = new BoundedCache[AnyRef](1024)
  }

  /** The one cache idiom: a hit is a lock-free map read; a miss builds
    * OUTSIDE the map, then `putIfAbsent` (not computeIfAbsent — a
    * multi-second Spark job must not hold a hash-bin lock and stall
    * unrelated hits that collide on the bin; a racing duplicate build
    * is the cheaper failure mode). Inserting past `cap` entries clears
    * the map first. */
  final class BoundedCache[V <: AnyRef](cap: Int) {
    private val map = new java.util.concurrent.ConcurrentHashMap[String, V]()

    def apply(key: String)(build: => V): V = {
      val hit = map.get(key)
      if (hit != null) return hit
      val built = build
      if (map.size() >= cap) map.clear()
      val raced = map.putIfAbsent(key, built)
      if (raced != null) raced else built
    }
  }
}
