package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{AggFunc, AggRequest, DocsTable, SearchRequest, SeqEngine}
import graft.ingest.BulkIngest
import graft.model.{IndexType, SeqMapping}
import graft.server.{EsHttpFacade, RateLimits}
import graft.server.grpc.{GrpcSeqApi, GrpcSeqClient}
import graft.server.grpc.SeqProxyProto._

import Gen._

/** One benchmark run: set up a graft server over a seeded corpus, drive
  * one workload through the public APIs, check every answer, and print
  * the metrics. `--trace 1` replaces the end-to-end measurement with the
  * traced in-process replay that yields the per-layer split.
  */
object Main {

  /** A workload: one input set and one traffic mix. `rate` (req/s) is
    * the open-loop arrival rate, `limitMs` the latency limit of
    * goodput, `closedFrac` the share of the run spent in the closed-loop
    * capacity phase. */
  final case class Workload(name: String, serving: Boolean, rate: Double, limitMs: Double,
      closedFrac: Double, reqs: SplittableRandom => Iterator[Req], bulkEveryS: Double = 0.0)

  val Workloads: Seq[Workload] = Seq(
    Workload("serve-paging", serving = true, rate = 700, limitMs = 20, closedFrac = 0.4,
      reqs = Gen.pageStream),
    Workload("query-mix", serving = false, rate = 1.5, limitMs = 1000, closedFrac = 0.25,
      reqs = Gen.mixStream),
    Workload("ingest-live", serving = true, rate = 10, limitMs = 500, closedFrac = 0.0,
      reqs = Gen.liveStream, bulkEveryS = 5.0))

  /** The open-loop schedule of a workload's `seconds`-long phase. */
  def schedule(wl: Workload, seed: Long, seconds: Double): Vector[Scheduled] =
    if (wl.bulkEveryS > 0) Gen.liveSchedule(seed, wl.rate, seconds, wl.bulkEveryS)
    else Gen.openLoop(seed, 0x0BE1L, wl.rate, seconds, wl.reqs)

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, work: String = "", out: String = "", result: String = "")

  /** Corpus size: 200k docs keep the set-up rounds and a 20 s run
    * inside a minute on 4 cores. */
  val Docs = 200000
  /** Set-up rounds; set-up time is their median. */
  val Rounds = 3

  val Mapping: SeqMapping = SeqMapping.of(
    "event_type" -> IndexType.Keyword,
    "user_id"    -> IndexType.Keyword,
    "value"      -> IndexType.Keyword,
    "props"      -> IndexType.Text)

  /** Freshness: poll interval and how long an acknowledged bulk may take
    * to become readable before it counts as lost. */
  val PollMs = 250L
  val VisibleTimeoutS = 8.0
  /** Bulk index offset of the traced replay's writes. */
  val ReplayBulkOffset = 1000
  /** Request id the traced run gives the Spark jobs of its last set-up load. */
  val LoadReq = -2L

  // ---- metric sink --------------------------------------------------------

  final case class M(name: String, value: Option[Double], unit: String, note: String = "")
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, M]
  private def put(name: String, v: Double, unit: String, note: String = ""): Unit =
    metrics(name) = M(name, if (v.isNaN || v.isInfinite) None else Some(v), unit, note)
  private def putNone(name: String, unit: String, note: String): Unit =
    metrics(name) = M(name, None, unit, note)

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs] $msg")

  // ---- entry point --------------------------------------------------------

  def parse(args: Array[String]): Opts = {
    var o = Opts()
    args.grouped(2).foreach {
      case Array("--workload", v) => o = o.copy(workload = v)
      case Array("--seed", v)     => o = o.copy(seed = v.toLong)
      case Array("--seconds", v)  => o = o.copy(seconds = v.toDouble)
      case Array("--trace", v)    => o = o.copy(trace = v == "1")
      case Array("--work", v)     => o = o.copy(work = v)
      case Array("--out", v)      => o = o.copy(out = v)
      case Array("--result", v)   => o = o.copy(result = v)
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.find(_.name == o.workload).getOrElse {
      System.err.println(s"unknown workload '${o.workload}'; known: ${Workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val cpus = Runtime.getRuntime.availableProcessors
    val calibMs = Host.calibrate()
    val stat0 = Host.cpuStat()
    val tS = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    val sessionS = (System.nanoTime() - tS) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    log(f"session started in $sessionS%.2f s")
    val code = try {
      val res = new Run(spark, o, wl, cpus, sessionS).run()
      put("host.steal_pct", Host.stealPct(stat0, Host.cpuStat()), "%",
        "validity signal: host CPU steal over the run")
      put("host.calib_ms", calibMs, "ms",
        "validity signal: a fixed single-thread sort before the run; tracks the host's speed")
      report(res, o.result)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally spark.stop()
    // server and client pools hold non-daemon threads
    sys.exit(code)
  }

  final case class Outcome(attempted: Long, failed: Long, correct: Boolean)
  /** What the traced replay learned about one request. */
  final case class Info(kind: String, rows: Long, files: Long,
      phases: Map[String, Long], rebuildMs: Double)
  /** Freshness of the acknowledged bulks. */
  final case class Vis(acked: Int, ackedIds: Seq[Int], visibleMs: Seq[Double], neverVisible: Int)

  private def report(res: Outcome, resultPath: String): Unit = {
    val fmt = (v: Double) => if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.4f"
    metrics.values.foreach { m =>
      val v = m.value.map(fmt).getOrElse("null")
      println(f"metric ${m.name}%-34s $v%14s ${m.unit}%-8s ${m.note}")
    }
    def num(v: Double) = BigDecimal(v).toString
    val ms = metrics.values.map { m =>
      val v = m.value.map(num).getOrElse("null")
      s""""${m.name}":{"value":$v,"unit":"${m.unit}"}"""
    }.mkString(",")
    val json = s"""{"correct":${res.correct},"attempted":${res.attempted},""" +
      s""""failed":${res.failed},"metrics":{$ms}}"""
    Files.writeString(Paths.get(resultPath), json)
  }

  // ---- one run --------------------------------------------------------------

  final class Run(spark: SparkSession, o: Opts, wl: Workload, cpus: Int, sessionS: Double) {
    private val sc = spark.sparkContext
    private val listener = if (o.trace) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)
    private val tracer = new Tracer(sc)

    def run(): Outcome = {
      val (srv, sink, inputBytes) = setup()
      try {
        warmUp(srv)
        log("warmed up")
        if (o.trace) traced(srv, sink, inputBytes) else untraced(srv, sink)
      } finally srv.stop()
    }

    // ---- set-up: load, pin, first answer ----------------------------------

    private def rm(p: Path): Unit = if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(x => Files.deleteIfExists(x))
    }

    private def setup(): (Servers, String, Long) = {
      val seed = o.seed
      val parts = cpus
      import spark.implicits._
      val lines = sc.parallelize(0 until parts, parts)
        .flatMap(p => Gen.corpusLines(seed, Docs, p, parts)).toDF("value")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      // input size in bytes (ASCII lines plus their newlines)
      val inputBytes = lines.agg(sum(length(col("value")) + 1)).first().getLong(0)
      val loads = Vector.newBuilder[Double]
      val totals = Vector.newBuilder[Double]
      var kept: (Servers, String) = null
      // round 0 also pays the cold start (JIT, codegen), so the median of
      // the rounds is a warm one
      for (r <- 0 until Rounds) {
        val last = r == Rounds - 1
        val sink = s"${o.work}/sink$r"
        rm(Paths.get(sink))
        if (last && o.trace) sc.setLocalProperty("perfbench.req", LoadReq.toString)
        val t0 = System.nanoTime()
        BulkIngest.ingestPartitioned(lines, Mapping, requestTimeMs = Gen.EndMs + 1,
          path = sink, allowedDriftMs = 10L * 365 * DayMs)
        val t1 = System.nanoTime()
        sc.setLocalProperty("perfbench.req", null)
        val srv = new Servers(spark, sink, wl.serving, o.seed)
        firstAnswer(srv)
        val t2 = System.nanoTime()
        log(f"set-up round $r: load ${(t1 - t0) / 1e9}%.2f s, pin + first answer ${(t2 - t1) / 1e9}%.2f s")
        loads += (t1 - t0) / 1e9
        totals += (t2 - t0) / 1e9
        if (last) kept = (srv, sink)
        else {
          srv.stop()
          spark.catalog.clearCache()
          rm(Paths.get(sink))
        }
      }
      lines.unpersist()
      val ls = loads.result(); val ts = totals.result()
      if (!o.trace) {
        put("setup_s", sessionS + Load.median(ts), "s",
          f"session start $sessionS%.2f s + median of ${ts.size} (load, pin, first answer) rounds")
        put("load_docs_per_s", Docs / Load.median(ls), "docs/s",
          f"$Docs docs, ${inputBytes / 1048576.0}%.1f MiB NDJSON, median of ${ls.size} loads")
      }
      val sinkP = Paths.get(kept._2)
      val files = Files.walk(sinkP).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toVector
      sinkFiles = files.size
      sinkBytes = files.map(Files.size).sum
      println(s"data docs=$Docs input_bytes=$inputBytes sink_files=$sinkFiles sink_bytes=$sinkBytes")
      (kept._1, kept._2, inputBytes)
    }
    private var sinkFiles = 0
    private var sinkBytes = 0L

    private def firstAnswer(srv: Servers): Unit =
      if (wl.serving) srv.call(Page(0, 0)) else srv.call(Needle(1, "error", AllFrom, AllTo))

    /** Caches filled and lazy set-up done before anything is timed:
      * every paging prefix (serving workloads), a few requests of each
      * kind otherwise. */
    private def warmUp(srv: Servers): Unit = {
      if (wl.serving) {
        val qs = if (wl.name == "ingest-live") 2 until PagingQueries.size else PagingQueries.indices
        qs.foreach(q => srv.call(Page(q, Pages - 1)))
        // a few thousand requests, so the JIT has compiled the hot path
        Load.closed(cpus, 1.0, wl.reqs(new SplittableRandom(o.seed ^ 0xAA)))(srv.call)
      } else {
        // part of a block of the mix, `cpus` at a time
        val it = wl.reqs(new SplittableRandom(o.seed ^ 0xAA)).take(12)
        Load.closed(cpus, 0.0, it)(srv.call)
      }
    }

    // ---- untraced: the end-to-end metrics ---------------------------------

    private def untraced(srv: Servers, sink: String): Outcome = {
      val openS = o.seconds * (1 - wl.closedFrac)
      val closedS = o.seconds * wl.closedFrac
      val sched = schedule(wl, o.seed, openS)
      val fresh = if (wl.bulkEveryS > 0) Some(new Freshness(srv)) else None
      val open = Load.open(sched, cpus, graceS = 30) { req =>
        val r = srv.call(req)
        req match {
          case b: Bulk => fresh.foreach(_.acked(b.i, System.nanoTime()))
          case _ => ()
        }
        r
      }
      val closed =
        if (closedS > 0)
          Load.closed(cpus, closedS, Gen.closedStream(o.seed, wl.reqs))(srv.call)
        else PhaseResult(Vector.empty, 0, 0, Vector.empty, 0, 0L)
      val vis = fresh.map(_.finish())
      val rssMb = Host.rssPeakMb()
      val liveMb = Host.heapLiveMb()
      log("measured")

      // answers are checked after the timed window
      val oracle = new Oracle(spark, sink)
      def good(d: Done) = d.err == null && (d.req match {
        case _: Bulk => true
        case r => oracle.check(r, d.resp)
      })
      val reads = open.done.filterNot(_.req.isInstanceOf[Bulk])
      val bulks = open.done.filter(_.req.isInstanceOf[Bulk])
      val readOk = reads.filter(good)
      val lat = reads.filter(_.err == null).map(_.latencyMs)
      // the workload's mix: share of each request kind in the schedule
      val mix = sched.map(_.req.label).filterNot(_ == "bulk").groupBy(identity)
        .map { case (k, v) => k -> v.size.toDouble / sched.size }
      reads.filter(_.err == null).groupBy(_.req.label).toSeq.sortBy(_._1).foreach { case (k, ds) =>
        val ls = ds.map(_.latencyMs)
        println(f"kind $k%-10s n=${ls.size}%5d p50=${Load.median(ls)}%9.2f ms mean=${Load.mean(ls)}%9.2f ms")
      }
      put("read_p50_ms", Load.median(lat), "ms", s"n=${lat.size}, open loop ${wl.rate} req/s from due time")
      for ((p, name) <- Seq((0.95, "read_p95_ms"), (0.99, "read_p99_ms"))) {
        if (Load.tailSupported(lat.size, p)) put(name, Load.pct(lat, p), "ms", s"n=${lat.size}")
        else putNone(name, "ms", s"n=${lat.size}: fewer than 10 samples beyond it")
      }
      val goodN = readOk.count(_.latencyMs <= wl.limitMs)
      val openWallS = open.elapsedNs / 1e9
      put("read_goodput_rps", goodN / openWallS, "req/s",
        f"$goodN correct within ${wl.limitMs} ms over the $openWallS%.2f s the open phase took")
      if (closedS > 0)
        put("read_capacity_rps", Load.capacity(closed, mix), "req/s",
          s"${closed.done.size} completions, $cpus closed-loop clients over $closedS s")
      else putNone("read_capacity_rps", "req/s", "no closed-loop phase in this workload")

      val closedBad = closed.done.count(d => !good(d)) + closed.notFinished
      val readBad = reads.size - readOk.size + open.notFinished
      val bulkBad = bulks.count(d => !good(d))
      val bulkN = sched.count(_.req.isInstanceOf[Bulk])
      var attempted = (open.sent + closed.sent).toLong
      var failed = (readBad + closedBad + bulkBad).toLong
      vis.foreach { v =>
        // per acknowledged bulk: one freshness check and one durability check
        attempted += 2L * v.acked
        failed += v.neverVisible + durabilityFailures(sink, v.ackedIds)
        val bl = bulks.filter(_.err == null).map(_.latencyMs)
        put("bulk_p50_ms", Load.median(bl), "ms", s"n=${bl.size} of $bulkN bulks of $BulkDocs docs")
        if (v.visibleMs.nonEmpty)
          put("visible_p50_ms", Load.median(v.visibleMs), "ms",
            s"n=${v.visibleMs.size} of ${v.acked} acknowledged bulks")
        else putNone("visible_p50_ms", "ms", s"none of ${v.acked} acknowledged bulks became readable")
      }
      if (vis.isEmpty) {
        putNone("bulk_p50_ms", "ms", "no bulks in this workload")
        putNone("visible_p50_ms", "ms", "no bulks in this workload")
      }
      put("error_ratio", failed.toDouble / attempted, "ratio", s"$failed failed of $attempted")
      put("rss_peak_mb", rssMb, "MB", "VmHWM of the benchmark JVM")
      put("heap_live_mb", liveMb, "MB", "heap in use after a full GC at the end of the timed window")
      // validity signals
      put("gen.late_p99_ms", Load.pct(open.lateNs.map(_ / 1e6), 0.99), "ms", "generator lateness")
      put("gen.max_inflight", open.maxInflight, "count", "")
      put("ops.sent", attempted, "count", "")
      put("ops.completed", open.done.size + closed.done.size, "count", "")
      put("ops.failed", failed, "count", "")
      Outcome(attempted, failed, failed == 0)
    }

    private def durabilityFailures(sink: String, ids: Seq[Int]): Long = {
      val eng = new SeqEngine(DocsTable(
        spark.read.option("mergeSchema", "true").parquet(sink), Mapping))
      ids.count { i =>
        val n = eng.total(s"user_id:${bulkMarker(o.seed, i)}", AllFrom, AllTo).collect()(0).getLong(0)
        n != BulkDocs
      }.toLong
    }

    /** Polls each acknowledged bulk's marker until it is readable or
      * [[VisibleTimeoutS]] passes. */
    final class Freshness(srv: Servers) {
      private val pending = new ConcurrentHashMap[Int, java.lang.Long]()
      private val visible = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      private val ackedN = new AtomicInteger()
      private val ackedIds = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      @volatile private var lastAckNs = System.nanoTime()
      @volatile private var producing = true
      def acked(i: Int, atNs: Long): Unit = {
        ackedN.incrementAndGet(); ackedIds.add(i); lastAckNs = atNs
        pending.put(i, atNs); ()
      }
      private val thread = new Thread(() => {
        while (producing || (!pending.isEmpty &&
            System.nanoTime() - lastAckNs < (VisibleTimeoutS * 1e9).toLong)) {
          pending.asScala.toSeq.foreach { case (i, ack) =>
            val now = System.nanoTime()
            if (now - ack > (VisibleTimeoutS * 1e9).toLong) pending.remove(i)
            else try {
              val r = srv.client.search(PSearchRequest(
                SearchQuery(s"user_id:${bulkMarker(o.seed, i)}", AllFrom, AllTo), 1, 0, false, false))
              if (r.docs.nonEmpty) {
                visible.add((System.nanoTime() - ack) / 1e6)
                pending.remove(i)
              }
            } catch { case _: Exception => () } // a failed poll is retried; the timeout decides
          }
          Thread.sleep(PollMs)
        }
      }, "perfbench-freshness")
      thread.setDaemon(true)
      thread.start()
      def finish(): Vis = {
        producing = false
        thread.join(((VisibleTimeoutS + 30) * 1000).toLong)
        val v = visible.asScala.toVector
        Vis(ackedN.get, ackedIds.asScala.toVector, v, ackedN.get - v.size)
      }
    }

    // ---- traced: the per-layer split --------------------------------------

    private val infos = new ConcurrentHashMap[Long, Info]()
    private val lastGen = new AtomicLong(Long.MinValue)

    private def traced(srv: Servers, sink: String, inputBytes: Long): Outcome = {
      val halfS = o.seconds / 2
      val sched = schedule(wl, o.seed, halfS)
      // untraced pass over the schedule, for the traced/untraced gap
      val plain = Load.open(sched, cpus, graceS = 30)(srv.call)
      // the same schedule replayed in-process with spans
      val gc0 = Host.gc(); Host.resetHeapPeak()
      val ids = new AtomicLong(0)
      val t0 = System.nanoTime()
      val replay = Load.open(sched, cpus, graceS = 30) { req =>
        val id = ids.incrementAndGet()
        tracer.root(id, "request")(replayOne(srv, sink, id, req))
      }
      val wallNs = System.nanoTime() - t0
      val gc1 = Host.gc()
      log("measured")
      val lst = listener.get
      lst.drain(10000)
      lst.jobs.asScala.foreach { case (_, j) =>
        if (j.req > 0 && j.endMs >= 0)
          tracer.add(j.span, j.req, "spark.job", tracer.epochNs + j.startMs * 1000000L,
            tracer.epochNs + j.endMs * 1000000L)
      }
      val oracle = new Oracle(spark, sink)
      val readsU = plain.done.filterNot(_.req.isInstanceOf[Bulk])
      val badU = readsU.count(d => d.err != null || !oracle.check(d.req, d.resp)) + plain.notFinished
      val readsT = replay.done.filterNot(_.req.isInstanceOf[Bulk])
      val badT = readsT.count(d => d.err != null || !oracle.check(d.req, d.resp)) + replay.notFinished
      // every acknowledged bulk, over HTTP or replayed, must be readable
      // through the engine
      def bulkIds(p: PhaseResult, offset: Int) =
        p.done.collect { case d @ Done(b: Bulk, _, _, _, _, null) => b.i + offset }
      val acked = bulkIds(plain, 0) ++ bulkIds(replay, ReplayBulkOffset)
      val badBulk = (plain.done ++ replay.done).count(d => d.req.isInstanceOf[Bulk] && d.err != null) +
        durabilityFailures(sink, acked)

      // ---- per-layer metrics over the traced read requests
      val spans = tracer.spans.asScala.toVector
      val self = tracer.selfTimes()
      val roots = spans.filter(_.parent == 0L)
      val readRoots = roots.filter(r => Option(infos.get(r.req)).exists(_.kind != "bulk"))
      val readIds = readRoots.map(_.req).toSet
      val n = math.max(1, readIds.size).toDouble
      def layer(name: String) = if (name == "request") "bench" else name.takeWhile(_ != '.')
      val byLayer = spans.filter(s => readIds(s.req)).groupBy(s => layer(s.name))
        .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 / n }
      val reqMs = readRoots.map(r => (r.endNs - r.startNs) / 1e6).sum / n
      val untracedMs = Load.mean(readsU.filter(_.err == null).map(_.serviceMs))
      val gap = untracedMs - reqMs
      put("trace.request_ms", reqMs, "ms", s"mean traced request span, n=${readIds.size}")
      put("trace.untraced_ms", untracedMs, "ms", s"mean untraced gRPC call, n=${readsU.size}")
      put("server.transport_ms", gap, "ms",
        "untraced gRPC call minus traced request span: transport + tracing")
      for (l <- Seq("bench", "server", "engine"))
        put(s"$l.self_ms", byLayer.getOrElse(l, 0.0), "ms", "mean self time per read request")
      val pages = spans.filter(s => s.name == "server.page" && readIds(s.req))
      val jobsByReq = lst.jobs.asScala.values.groupBy(_.req)
      val jobsBySpan = lst.jobs.asScala.values.groupBy(_.span)
      val hits = pages.count(p => jobsBySpan.get(p.id).forall(_.isEmpty))
      put("server.prefix_hit_ratio", hits / n, "ratio",
        s"$hits of ${readIds.size} read requests sliced a cached page prefix")
      put("server.page_self_ms", pages.map(s => self(s.id)).sum / 1e6 / math.max(1, pages.size), "ms",
        s"mean self time of ${pages.size} servingPage calls")
      val rebuilds = infos.asScala.values.filter(_.rebuildMs >= 0).map(_.rebuildMs).toVector
      put("server.rebuilds", rebuilds.size, "count", "sink generation moves seen by the replay")
      if (rebuilds.nonEmpty) put("server.rebuild_ms", Load.median(rebuilds), "ms", "first call after a move")
      else putNone("server.rebuild_ms", "ms", "no generation move in the replay")
      val misses = pages.filter(p => jobsBySpan.get(p.id).exists(_.nonEmpty))
      if (misses.nonEmpty)
        put("engine.windows_per_miss", misses.map(p =>
          jobsBySpan(p.id).map(_.execId).toSet.size.toDouble).sum / misses.size, "count",
          s"SQL executions per servingPage miss, n=${misses.size}")
      else putNone("engine.windows_per_miss", "count", "no servingPage miss in the replay")
      putNone("server.obj_hit_ratio", "ratio", "no cachedObj call in this workload")

      // seqql: parse and compile of the workload's query strings
      val table = srv.facade.table
      val queries = (sched.map(_.req).collect {
        case p: Page => PagingQueries(p.q)._1
        case x: Needle => x.query
        case x: Text => x.query
        case _: AggCount | _: AggAvg | _: Hist => "*"
      }).distinct
      val compiler = new graft.seqql.SeqQlCompiler(table)
      def timeUs(f: => Any): Double = { val a = System.nanoTime(); f; (System.nanoTime() - a) / 1e3 }
      queries.foreach(q => compiler.compile(q)) // warm
      val parseUs = queries.map(q => timeUs(graft.seqql.SeqQlParser.parse(q)))
      val compileUs = queries.map(q => timeUs(compiler.compile(q)))
      put("seqql.parse_us", Load.median(parseUs), "us", s"median over ${queries.size} query strings")
      put("seqql.compile_us", Load.median(compileUs) - Load.median(parseUs), "us",
        "compile minus parse; part of engine.self_ms")

      val readInfos = readIds.toVector.flatMap(i => Option(infos.get(i)))
      val build = spans.filter(s => s.name == "engine.build" && readIds(s.req))
      put("engine.build_ms", build.map(s => (s.endNs - s.startNs) / 1e6).sum / n, "ms",
        "time to the returned DataFrame")
      for (ph <- Seq("analysis", "optimization", "planning"))
        put(s"engine.${ph}_ms", readInfos.map(_.phases.getOrElse(ph, 0L).toDouble).sum / n, "ms",
          "QueryPlanningTracker phase of the collected DataFrame")
      val readJobs = readIds.toVector.flatMap(i => jobsByReq.getOrElse(i, Nil))
      put("engine.jobs_per_request", readJobs.size / n, "count", "")
      put("engine.requests_without_jobs", readIds.count(i => jobsByReq.get(i).forall(_.isEmpty)), "count",
        s"of ${readIds.size} read requests")
      val useful = readIds.toVector.map { i =>
        val js = jobsByReq.getOrElse(i, Nil).toVector
        if (js.isEmpty) 0 else { val last = js.map(_.execId).max; js.count(_.execId == last) }
      }.sum
      put("engine.useful_job_ratio", if (readJobs.isEmpty) 1.0 else useful.toDouble / readJobs.size,
        "ratio", "jobs of the execution whose rows were returned / jobs launched")

      val accs = readIds.toVector.flatMap(i => Option(lst.byReq.get(i)))
      def tot(f: lst.Acc => AtomicLong) = accs.map(a => f(a).get.toDouble).sum
      put("spark.stages", tot(_.stages) / n, "count", "per read request")
      put("spark.tasks", tot(_.tasks) / n, "count", "per read request")
      put("spark.executor_run_ms", tot(_.runMs) / n, "ms", "per read request")
      put("spark.executor_cpu_ms", tot(_.cpuNs) / 1e6 / n, "ms", "per read request")
      put("spark.scheduler_delay_ms", tot(_.schedDelayMs) / n, "ms", "summed over tasks, per read request")
      put("spark.job_ms", byLayer.getOrElse("spark", 0.0), "ms", "mean job span time per read request")
      put("spark.driver_gap_ms", reqMs - byLayer.getOrElse("spark", 0.0), "ms", "request span minus job time")
      put("spark.shuffle_read_bytes", tot(_.shuffleRead) / n, "B", "per read request")
      put("spark.shuffle_write_bytes", tot(_.shuffleWrite) / n, "B", "per read request")
      put("spark.spill_bytes", tot(_.spill) / n, "B", "per read request")
      val cpuAll = lst.byReq.asScala.filter(_._1 > 0).values.map(_.cpuNs.get.toDouble).sum
      put("spark.cpu_util", cpuAll / (wallNs.toDouble * cpus), "ratio",
        "executor CPU over the replay / (wall x cores)")

      put("scan.files_read", readInfos.map(_.files.toDouble).sum / n, "count", "parquet files per read request")
      put("scan.files_total", sinkFiles, "count", "parquet files in the sink")
      put("scan.bytes_read", tot(_.inputBytes) / n, "B", "per read request")
      val rowsOut = readInfos.map(_.rows.toDouble).sum
      put("scan.rows_read_per_row_returned", if (rowsOut > 0) tot(_.inputRecords) / rowsOut else 0.0,
        "ratio", s"${tot(_.inputRecords)} rows read for $rowsOut returned")

      val load = Option(lst.byReq.get(LoadReq))
      put("ingest.load_cpu_ms", load.map(_.cpuNs.get / 1e6).getOrElse(0.0), "ms", "executor CPU of the last set-up load")
      put("ingest.load_shuffle_bytes", load.map(_.shuffleWrite.get.toDouble).getOrElse(0.0), "B", "")
      put("sink.files_total", sinkFiles, "count", "after the initial load")
      put("sink.bytes_per_input_byte", sinkBytes.toDouble / inputBytes, "ratio", "")
      val bulkSpans = spans.filter(s => s.name.startsWith("ingest."))
      val nb = spans.count(s => s.parent == 0L && Option(infos.get(s.req)).exists(_.kind == "bulk"))
      if (nb > 0) {
        for (k <- Seq("project", "write"))
          put(s"ingest.bulk_${k}_ms", bulkSpans.filter(_.name == s"ingest.$k")
            .map(s => (s.endNs - s.startNs) / 1e6).sum / nb, "ms", s"n=$nb bulks")
        put("ingest.files_per_bulk", bulkFiles.get.toDouble / nb, "count", "")
        put("ingest.bytes_written_per_input_byte", bulkOut.get.toDouble / math.max(1L, bulkIn.get),
          "ratio", "")
      } else for (k <- Seq("ingest.bulk_project_ms", "ingest.bulk_write_ms", "ingest.files_per_bulk",
          "ingest.bytes_written_per_input_byte")) putNone(k, "", "no bulks in this workload")

      put("jvm.gc_pause_ms", gc1._1 - gc0._1, "ms", "over the replay")
      put("jvm.gc_count", gc1._2 - gc0._2, "count", "over the replay")
      put("jvm.heap_peak_mb", Host.heapPeakMb(), "MB", "over the replay")

      // accounting: layer self times + gap = the untraced request span
      println(f"trace layer split (mean ms per read request, n=${readIds.size}):")
      for (l <- Seq("bench", "server", "engine", "spark"))
        println(f"trace   $l%-8s ${byLayer.getOrElse(l, 0.0)}%10.3f")
      println(f"trace   gap      $gap%10.3f  (untraced minus traced)")
      println(f"trace   total    ${byLayer.values.sum + gap}%10.3f  = untraced $untracedMs%.3f")
      val out = Paths.get(o.out, s"spans-${wl.name}-${o.seed}.jsonl")
      tracer.writeJsonl(out)
      println(s"trace spans written to $out")

      val attempted = (plain.sent + replay.sent + acked.size).toLong
      val failed = (badU + badT + badBulk).toLong
      put("ops.sent", attempted, "count", "")
      put("ops.failed", failed, "count", "")
      put("gen.late_p99_ms", Load.pct(replay.lateNs.map(_ / 1e6), 0.99), "ms", "generator lateness")
      put("gen.max_inflight", replay.maxInflight, "count", "")
      Outcome(attempted, failed, failed == 0)
    }

    private val bulkFiles = new AtomicLong
    private val bulkOut = new AtomicLong
    private val bulkIn = new AtomicLong

    /** One request, in-process, through the public functions its gRPC
      * handler calls, in the handler's order. */
    private def replayOne(srv: Servers, sink: String, id: Long, req: Req): AnyRef = req match {
      case p: Page =>
        val (q, asc) = PagingQueries(p.q)
        var rebuildMs = -1.0
        tracer.span("server.state") {
          val a = System.nanoTime()
          val g = srv.facade.core.generation()
          val prev = lastGen.getAndSet(g)
          if (prev != Long.MinValue && prev != g) rebuildMs = (System.nanoTime() - a) / 1e6
        }
        val rows = tracer.span("server.page") {
          srv.facade.core.servingPage(SearchRequest(q, AllFrom, AllTo, PageSize, p.page * PageSize, asc))
        }
        val resp = tracer.span("server.render") {
          val r = PSearchResponse(0L, rows.map(row => Doc(row.getString(0),
            Option(row.getString(3)).getOrElse("").getBytes(UTF_8), row.getLong(1))).toSeq, ErrNo)
          srv.api.searchMd.streamResponse(r).readAllBytes()
          r
        }
        infos.put(id, Info("page", rows.length, 0L, Map.empty, rebuildMs))
        Oracle.digestOf(resp)

      case s @ (_: Needle | _: Text) =>
        val (q, from, to) = s match {
          case n: Needle => (n.query, n.from, n.to)
          case t: Text   => (t.query, t.from, t.to)
          case _         => throw new IllegalStateException
        }
        val req = SearchRequest(q, from, to, size = SearchSize)
        val eng = tracer.span("server.table_open")(new SeqEngine(srv.facade.table))
        val found = tracer.span("engine.build")(eng.search(req))
        // the handler's collectDocs opens the table again
        val eng2 = tracer.span("server.table_open")(new SeqEngine(srv.facade.table))
        val df = tracer.span("engine.build") {
          eng2.withIdString(found).select(col("id"), col("mid"), col("_raw"))
        }
        val rows = tracer.span("engine.collect")(df.collect())
        val resp = tracer.span("server.render") {
          val r = PSearchResponse(0L, rows.map(row => Doc(row.getString(0),
            Option(row.getString(2)).getOrElse("").getBytes(UTF_8), row.getLong(1))).toSeq, ErrNo)
          srv.api.searchMd.streamResponse(r).readAllBytes()
          r
        }
        info(id, "search", rows.length, df)
        Oracle.digestOf(resp)

      case a @ (_: AggCount | _: AggAvg) =>
        val (from, to, agg) = a match {
          case x: AggCount => (x.from, x.to, AggRequest(AggFunc.Count, "", Some("event_type")))
          case x: AggAvg   => (x.from, x.to, AggRequest(AggFunc.Avg, "value", Some("user_id")))
          case _           => throw new IllegalStateException
        }
        val eng = tracer.span("server.table_open")(new SeqEngine(srv.facade.table))
        if (agg.func == AggFunc.Avg)
          tracer.span("engine.precheck")(eng.requireNumericField("*", from, to, agg.field))
        val df = tracer.span("engine.build")(eng.aggregate("*", from, to, agg))
        val rows = tracer.span("engine.collect")(df.collect())
        val resp = tracer.span("server.render") {
          var notExists = 0L
          val buckets = rows.flatMap { r =>
            val name = r.getString(r.fieldIndex("name"))
            val v = r.get(r.fieldIndex("value")) match {
              case x: java.lang.Number => x.doubleValue
              case x => x.toString.toDouble
            }
            if (name == "_not_exists") { notExists += v.toLong; None }
            else Some(AggBucket(name, v, 0L, Nil, None))
          }.toSeq
          val r = PGetAggregationResponse(0L, Seq(PAggregation(buckets, notExists)), ErrNo)
          srv.api.getAggregationMd.streamResponse(r).readAllBytes()
          r
        }
        info(id, "agg", rows.length, df)
        resp

      case h: Hist =>
        val eng = tracer.span("server.table_open")(new SeqEngine(srv.facade.table))
        val df = tracer.span("engine.build")(eng.histogram("*", h.from, h.to, "1h"))
        val rows = tracer.span("engine.collect")(df.collect())
        val resp = tracer.span("server.render") {
          val r = PGetHistogramResponse(0L,
            PHistogram(rows.map(r => HistBucket(r.getLong(1), r.getLong(0))).toSeq), ErrNo)
          srv.api.getHistogramMd.streamResponse(r).readAllBytes()
          r
        }
        info(id, "hist", rows.length, df)
        resp

      case b: Bulk =>
        import spark.implicits._
        // its own payload and marker, distinct from the HTTP pass's bulk
        val body = Gen.bulkPayload(o.seed, b.i + ReplayBulkOffset)
        val before = Host.parquetFiles(sink)
        val df = tracer.span("ingest.project") {
          val lines = body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
          BulkIngest.project(lines.toDF("value"), Mapping, requestTimeMs = System.currentTimeMillis())
        }
        tracer.span("ingest.write")(srv.bulkLock.synchronized(df.write.mode("append").parquet(sink)))
        val after = Host.parquetFiles(sink)
        val added = after.keySet -- before.keySet
        bulkFiles.addAndGet(added.size)
        bulkOut.addAndGet(added.toSeq.map(after).sum)
        bulkIn.addAndGet(body.getBytes(UTF_8).length)
        infos.put(id, Info("bulk", 0L, 0L, Map.empty, -1.0))
        java.lang.Boolean.TRUE
    }

    private def info(id: Long, kind: String, rows: Long, df: DataFrame): Unit = {
      infos.put(id, Info(kind, rows, ScanMetrics.files(df), ScanMetrics.phases(df), -1.0))
      ()
    }
  }

  // ---- the servers under test, and the one client of each protocol --------

  final class Servers(spark: SparkSession, sink: String, serving: Boolean, seed: Long) {
    val facade = new EsHttpFacade(spark, Mapping, sink, serving = serving,
      limits = RateLimits(maxInflight = 64))
    private val httpPort = facade.start()
    val api = new GrpcSeqApi(spark, facade.table, s"$sink/_async",
      serving = if (serving) Some(facade.core) else None, metrics = facade.metrics)
    private val grpcPort = api.start()
    val client = new GrpcSeqClient("127.0.0.1", grpcPort, api)
    private val http = java.net.http.HttpClient.newHttpClient()
    /** The in-process replay serializes its appends like the facade does. */
    val bulkLock = new Object

    private def search(q: String, from: Long, to: Long, size: Int, offset: Int, asc: Boolean) =
      Oracle.digestOf(client.search(PSearchRequest(SearchQuery(q, from, to), size, offset,
        withTotal = false, asc = asc)))

    /** One operation through the public API; search answers come back as
      * their digest, aggregation and histogram answers whole. */
    def call(req: Req): AnyRef = req match {
      case p: Page =>
        val (q, asc) = PagingQueries(p.q)
        search(q, AllFrom, AllTo, PageSize, p.page * PageSize, asc)
      case n: Needle => search(n.query, n.from, n.to, SearchSize, 0, asc = false)
      case t: Text   => search(t.query, t.from, t.to, SearchSize, 0, asc = false)
      case a: AggCount =>
        client.getAggregation(PGetAggregationRequest(SearchQuery("*", a.from, a.to),
          Seq(PAggQuery("", "event_type", 0, Nil, ""))))
      case a: AggAvg =>
        client.getAggregation(PGetAggregationRequest(SearchQuery("*", a.from, a.to),
          Seq(PAggQuery("value", "user_id", 4, Nil, ""))))
      case h: Hist =>
        client.getHistogram(PGetHistogramRequest(SearchQuery("*", h.from, h.to), "1h"))
      case b: Bulk =>
        val resp = http.send(java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$httpPort/_bulk"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(Gen.bulkPayload(seed, b.i)))
          .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode != 200 || !resp.body.contains("\"errors\":false"))
          throw new RuntimeException(s"bulk ${b.i}: HTTP ${resp.statusCode}")
        java.lang.Boolean.TRUE
    }

    def stop(): Unit = {
      client.close()
      api.stop()
      facade.stop()
    }
  }
}

/** Host and JVM probes. */
object Host {
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuStat(): (Long, Long) = try {
    val line = Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu ")).get
    val f = line.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0

  /** Peak resident set size (VmHWM) of this JVM in MB. */
  def rssPeakMb(): Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
  } catch { case _: Exception => Double.NaN }

  /** (collection ms, collections) summed over the JVM's collectors. */
  def gc(): (Double, Double) = {
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime.max(0L)).sum.toDouble, bs.map(_.getCollectionCount.max(0L)).sum.toDouble)
  }
  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Heap the program holds on to: in use right after a full GC. */
  def heapLiveMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Milliseconds one thread takes to sort a fixed array of 2M longs
    * (16 MB), the fastest of three tries. The work never changes, so a
    * slower host shows here before it shows in the metrics. */
  def calibrate(): Double = {
    val r = new SplittableRandom(42L)
    val src = Array.fill(1 << 21)(r.nextLong())
    (1 to 3).map { _ =>
      val a = src.clone()
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  /** Parquet files under `dir` with their sizes. */
  def parquetFiles(dir: String): Map[String, Long] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap
}
