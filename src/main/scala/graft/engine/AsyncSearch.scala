package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Async search (X1, SURVEY.md §2.10): the reference persists
  * per-fraction partial results so a long search survives restarts and
  * can serve partial answers while running
  * (fracmanager/async_searcher.go:52-260). Here the time range splits
  * into interval-aligned chunks (fraction analogue), each chunk's
  * matches are written under
  * `resultsDir/<id>/chunk=<startMs>` with a done-marker, newest first;
  * a restart [[resume]]s from the missing chunks and [[fetchPartial]]
  * serves whatever is complete at any moment.
  */
final class ChunkedAsyncSearcher(spark: SparkSession, resultsDir: String) {

  // re-creatable: a server stop() shuts the pool down with it, and a
  // restarted server (same searcher instance, e.g. across test
  // lifecycles) must be able to accept new submissions
  @volatile private var poolRef: java.util.concurrent.ExecutorService = _
  private def pool: java.util.concurrent.ExecutorService = synchronized {
    if (poolRef == null || poolRef.isShutdown)
      poolRef = Executors.newFixedThreadPool(2)
    poolRef
  }
  // ids submitted to the pool and not yet finished, so shutdown() can
  // cancel their jobs
  private val running = ConcurrentHashMap.newKeySet[String]()

  private def idDir(id: String) = s"$resultsDir/$id"
  private def chunkDir(id: String, startMs: Long) = s"${idDir(id)}/chunk=$startMs"
  private def marker(id: String, startMs: Long) =
    Paths.get(s"${idDir(id)}/.done_$startMs")
  private def cancelMarker(id: String) = Paths.get(s"${idDir(id)}/.canceled")

  def chunkStarts(fromMs: Long, toMs: Long, chunkMs: Long): Seq[Long] =
    (fromMs / chunkMs * chunkMs) to toMs by chunkMs

  /** Run (or resume) search `id`: skips chunks whose done-marker
    * exists, processes the rest newest-first, stops between chunks
    * when [[cancel]] has marked the id (already-persisted partials
    * stay fetchable, matching CancelAsyncSearch semantics). Blocking
    * variant — submit via [[startAsync]] for fire-and-forget. */
  def run(id: String, engine: SeqEngine, query: String,
      fromMs: Long, toMs: Long, chunkMs: Long = 86400000L): Unit = {
    Files.createDirectories(Paths.get(idDir(id)))
    val spark = engine.table.df.sparkSession
    spark.sparkContext.setJobGroup(s"async-$id", s"async search $id",
      interruptOnCancel = true)
    var finished = false
    try {
      val todo = chunkStarts(fromMs, toMs, chunkMs).reverse
        .filterNot(s => Files.exists(marker(id, s)))
      todo.foreach { start =>
        if (!isCanceled(id)) {
          val lo = math.max(start, fromMs)
          val hi = math.min(start + chunkMs - 1, toMs)
          engine.matches(query, lo, hi)
            .write.mode("overwrite").parquet(chunkDir(id, start))
          Files.writeString(marker(id, start), "done")
        }
      }
      if (!isCanceled(id))
        Files.writeString(Paths.get(s"${idDir(id)}/.complete"), "done")
      finished = true
    } catch {
      // a canceled job group surfaces as SparkException in-flight —
      // swallow it only for canceled ids, the partials are still valid
      case _: Throwable if isCanceled(id) => ()
    } finally {
      // an interrupt ends only this thread's wait: a chunk job it
      // submitted after shutdown() canceled the group would run on
      if (!finished) spark.sparkContext.cancelJobGroup(s"async-$id")
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Cancel `id`: no-op (false) when already complete; otherwise marks
    * the id (the run loop stops between chunks), kills its in-flight
    * Spark stages via the job group, and returns true. Persisted
    * partial chunks remain fetchable. */
  def cancel(id: String, spark: SparkSession): Boolean = {
    if (isComplete(id)) return false
    Files.createDirectories(Paths.get(idDir(id)))
    Files.writeString(cancelMarker(id), "canceled")
    spark.sparkContext.cancelJobGroup(s"async-$id")
    true
  }

  def isCanceled(id: String): Boolean = Files.exists(cancelMarker(id))

  /** Delete `id`'s persisted results entirely — the retention-expiry
    * reclaim (unlike [[cancel]], works on COMPLETE searches too: a
    * finished result past its retention must actually leave the disk).
    * Stops any in-flight work first. Idempotent. */
  def purge(id: String, spark: SparkSession): Unit = {
    if (!isComplete(id)) {
      try cancel(id, spark) catch { case _: Throwable => () }
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val d = new java.io.File(idDir(id))
    if (d.exists()) rm(d)
  }

  def startAsync(id: String, engine: SeqEngine, query: String,
      fromMs: Long, toMs: Long, chunkMs: Long = 86400000L): Unit = {
    // persist the request BEFORE the first chunk runs: a process that
    // dies anywhere after StartAsyncSearch leaves enough on disk for a
    // restarted store to resume the remaining chunks
    // (fracmanager/async_searcher.go:52-260 — progress survives
    // restart, not just completed results)
    Files.createDirectories(Paths.get(idDir(id)))
    AsyncSearchFiles.writeAtomic(Paths.get(s"${idDir(id)}/.request"),
      s"$fromMs\u0000$toMs\u0000$chunkMs\u0000$query"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    running.add(id)
    pool.submit(new Runnable {
      override def run(): Unit =
        try ChunkedAsyncSearcher.this.run(id, engine, query, fromMs, toMs, chunkMs)
        finally running.remove(id)
    })
    ()
  }

  /** Resume every search whose persisted request has neither a
    * completion nor a cancel marker — what a restarted store calls
    * once, with its rebuilt engine. Done chunks are skipped by their
    * markers inside [[run]]; only the missing ones re-execute. Returns
    * the resumed ids. */
  def resumeIncomplete(engine: => SeqEngine): Seq[String] = {
    val root = new java.io.File(resultsDir)
    if (!root.isDirectory) return Nil
    val ids = root.listFiles().filter(_.isDirectory).map(_.getName).toSeq
      .filter { id =>
        Files.exists(Paths.get(s"${idDir(id)}/.request")) &&
          !isComplete(id) && !isCanceled(id)
      }
    // per-id isolation: one corrupt/truncated .request (crash mid-write
    // on an old release, disk fault) must not abort the whole resume —
    // and with it the server start that calls this lazily. Log + skip.
    ids.filter { id =>
      try {
        val Array(from, to, chunk, query) =
          Files.readString(Paths.get(s"${idDir(id)}/.request")).split("\u0000", 4)
        startAsync(id, engine, query, from.toLong, to.toLong, chunk.toLong)
        true
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[async-resume] skipping unparseable search dir '$id': $e")
          false
      }
    }
  }

  def isComplete(id: String): Boolean =
    Files.exists(Paths.get(s"${idDir(id)}/.complete"))

  /** Merge of all COMPLETED chunks (may be a partial answer). */
  def fetchPartial(id: String): Option[DataFrame] = {
    val dir = new java.io.File(idDir(id))
    if (!dir.isDirectory) return None
    val done = dir.listFiles().filter(_.getName.startsWith(".done_"))
      .map(_.getName.stripPrefix(".done_").toLong)
    if (done.isEmpty) return None
    val paths = done.sorted.map(s => chunkDir(id, s))
    Some(spark.read.parquet(paths.toIndexedSeq: _*))
  }

  def completedChunks(id: String): Int = {
    val dir = new java.io.File(idDir(id))
    if (!dir.isDirectory) 0
    else dir.listFiles().count(_.getName.startsWith(".done_"))
  }

  /** Stop the pool and every in-flight chunk job: interrupt the
    * workers, cancel the job group of each submitted id, wait at most
    * 60 s for the workers to exit, then for the canceled jobs' tasks to
    * end. Persisted chunks and requests stay, so a restarted searcher
    * resumes the unfinished searches. */
  def shutdown(): Unit = synchronized {
    if (poolRef != null) {
      val ids = running.toArray(Array.empty[String]).toSeq
      poolRef.shutdownNow()
      ids.foreach(id => spark.sparkContext.cancelJobGroup(s"async-$id"))
      if (poolRef.awaitTermination(60, TimeUnit.SECONDS) && ids.nonEmpty &&
          !spark.sparkContext.isStopped)
        awaitTasksEnded(ids)
      // runs the pool dropped before they started never leave the set
      ids.foreach(running.remove)
    }
  }

  /** Wait, at most 60 s, until no job of `ids` runs a task. Canceled
    * tasks are killed asynchronously, and one that finishes its write
    * late commits a part file into a chunk dir a resumed searcher may
    * already have rewritten. The status tracker learns of jobs from the
    * listener bus, so a fence job goes first: once the tracker has seen
    * it, it has seen every job submitted before it. */
  private def awaitTasksEnded(ids: Seq[String]): Unit = {
    val st = spark.sparkContext.statusTracker
    val fence = spark.sparkContext.parallelize(Seq(0), 1).countAsync().jobIds.head
    def busy(id: String) = st.getJobIdsForGroup(s"async-$id").flatMap(st.getJobInfo)
      .exists(j => j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.flatMap(st.getStageInfo).exists(_.numActiveTasks > 0))
    val deadline = System.currentTimeMillis() + 60000
    while ((st.getJobInfo(fence).isEmpty || ids.exists(busy)) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

/** Crash-safe small-file persistence for the async-search metadata:
  * write to a sibling temp file, then rename into place (ATOMIC_MOVE
  * where the filesystem supports it). Readers either see the complete
  * old content or the complete new content, never a truncated write —
  * the same tmp-file+rename discipline the reference uses for its
  * persisted async state (fracmanager/async_searcher.go).
  */
private[graft] object AsyncSearchFiles {
  import java.nio.file.{Path, StandardCopyOption}

  def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(
      target.getFileName.toString + ".tmp-" + java.lang.Long.toHexString(
        Thread.currentThread().getId ^ System.nanoTime()))
    Files.write(tmp, bytes)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
