package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** In-memory spans of the traced replay. A span is (name, start, end,
  * parent, request id); spans are recorded around the benchmark's calls
  * into each layer and written out when the run ends. Spark jobs become
  * child spans of the bench span that launched them: entering a span
  * sets the `perfbench.span` / `perfbench.req` local properties, which
  * Spark copies into every job the thread submits.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { // (span, req)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  /** nanoTime of the epoch: converts listener millisecond times to the
    * span clock. */
  val epochNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def root[T](req: Long, name: String)(f: => T): T = enter(req, name, root = true)(f)
  def span[T](name: String)(f: => T): T = enter(current.get._2, name, root = false)(f)

  private def enter[T](req: Long, name: String, root: Boolean)(f: => T): T = {
    val saved = current.get
    val id = ids.incrementAndGet()
    current.set((id, req))
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setLocalProperty("perfbench.req", req.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, if (root) 0L else saved._1, req, name, t0, t1))
      current.set(saved)
      sc.setLocalProperty("perfbench.span", if (saved._1 == 0L) null else saved._1.toString)
      sc.setLocalProperty("perfbench.req", if (saved._1 == 0L) null else saved._2.toString)
    }
  }

  /** A span recorded from outside the call stack (Spark jobs). */
  def add(parent: Long, req: Long, name: String, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, req, name, startNs, endNs))

  /** Self time per span: its duration minus the union of its children's
    * intervals clipped to it. */
  def selfTimes(): Map[Long, Long] = {
    val all = spans.asScala.toVector
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.toVector.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs - epochNs},"end_ns":${s.endNs - epochNs}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, req: Long, name: String,
      startNs: Long, endNs: Long)
}

/** Per-job, per-stage Spark counters, keyed by the `perfbench.req`
  * request id the submitting thread carried (jobs without one — set-up,
  * the untraced phases — land under request id -1). */
final class LayerListener extends SparkListener {
  final class JobRec(val req: Long, val span: Long, val execId: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final class Acc {
    val stages = new AtomicLong; val tasks = new AtomicLong
    val runMs = new AtomicLong; val cpuNs = new AtomicLong
    val schedDelayMs = new AtomicLong
    val inputBytes = new AtomicLong; val inputRecords = new AtomicLong
    val shuffleRead = new AtomicLong; val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageReq = new ConcurrentHashMap[Int, java.lang.Long]()
  val byReq = new ConcurrentHashMap[Long, Acc]()

  def acc(req: Long): Acc = byReq.computeIfAbsent(req, _ => new Acc)

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = prop(e.properties, "perfbench.req").map(_.toLong).getOrElse(-1L)
    val span = prop(e.properties, "perfbench.span").map(_.toLong).getOrElse(0L)
    val exec = prop(e.properties, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(req, span, exec, e.time))
    e.stageIds.foreach(s => stageReq.put(s, req))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m == null || i == null) return
    val a = acc(Option(stageReq.get(e.stageId)).map(_.longValue).getOrElse(-1L))
    a.tasks.incrementAndGet()
    // the Spark UI's scheduler delay: task wall time not spent
    // deserializing, running or serializing the result
    val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime
    a.schedDelayMs.addAndGet(math.max(0L, delay))
    a.runMs.addAndGet(m.executorRunTime)
    a.cpuNs.addAndGet(m.executorCpuTime)
    a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
    a.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    acc(Option(stageReq.get(id)).map(_.longValue).getOrElse(-1L)).stages.incrementAndGet()
  }

  /** Wait until every job seen so far has ended, at most `timeoutMs`.
    * The listener bus is asynchronous, so a short settle comes first;
    * a job's task and stage events precede its end event on the bus. */
  def drain(timeoutMs: Long): Unit = {
    Thread.sleep(300)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

/** Parquet scan counters of an executed DataFrame, read from the scan
  * nodes' SQL metrics (adaptive plans are unwrapped to the final plan). */
object ScanMetrics {
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec        => scans(q.plan)
    case f: FileSourceScanExec    => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Parquet files the DataFrame's scans read. */
  def files(df: DataFrame): Long =
    scans(df.queryExecution.executedPlan).map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum

  /** Catalyst phase times (ms) of the DataFrame's own query execution. */
  def phases(df: DataFrame): Map[String, Long] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
}
