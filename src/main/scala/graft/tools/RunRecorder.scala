package graft.tools

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Splits one action's time by layer, the way the Spark SQL paper
  * layers a query: Catalyst analysis → optimization → physical
  * planning, then the Spark jobs the plan runs (tasks, executor run
  * and CPU time, bytes read, shuffle, spill) and the driver gap
  * between them.
  *
  * Each [[record]] call runs under its own job tag, and a job counts
  * toward a run only when it carries that run's tag. A job a previous
  * run left behind (a thread it started that submits later) therefore
  * never lands in the next run. Tags, not the job group, identify the
  * run because a streaming query's thread inherits the caller's tags
  * but replaces its job group with the query's run id.
  */
final class RunRecorder(spark: SparkSession) extends SparkListener {
  import RunRecorder._

  private final class Job(val id: Int, val name: String, val startMs: Long) {
    var endMs = -1L
    var tasks = 0
    var cpuNs = 0L
  }
  private final class Acc {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    var stages = 0
    var runMs, bytesRead, shuffleRead, shuffleWrite, spill = 0L
  }

  private val runs = new AtomicInteger
  private val live = new ConcurrentHashMap[String, Acc]()
  // stage → the run and job that first submitted it: a later job that
  // reuses a finished shuffle stage skips it and runs no tasks there
  private val stageOwner = new ConcurrentHashMap[Int, (Acc, Job)]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()

  spark.sparkContext.addSparkListener(this)

  /** Builds the DataFrame and runs its full plan (`toRdd.count()`, the
    * bench's consumer) under a fresh run tag; jobs the build itself
    * runs count too. Failures propagate. */
  def record(build: => DataFrame): RunStat = {
    val sc = spark.sparkContext
    val n = runs.incrementAndGet()
    val tag = s"graft-profile-$n"
    val acc = new Acc
    live.put(tag, acc)
    try {
      sc.addJobTag(tag)
      val t0 = System.currentTimeMillis()
      val qe = try {
        val qe = build.queryExecution
        qe.toRdd.count()
        qe
      } finally sc.removeJobTag(tag)
      val t1 = System.currentTimeMillis()
      drain(s"graft-profile-fence-$n")
      acc.synchronized {
        val jobs = acc.jobs.values.toSeq
        // the driver gap: wall time in which no job of this run ran
        val spans = jobs.map(j => (j.startMs max t0, (if (j.endMs < 0) t1 else j.endMs) min t1))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        val (busy, _) = spans.foldLeft((0L, t0)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - (a max reach), b)
        }
        RunStat(
          wallMs = t1 - t0,
          phasesMs = qe.tracker.phases.map { case (k, v) => k -> v.durationMs },
          jobs = jobs.map(j => JobStat(j.id, j.name,
            if (j.endMs < 0) -1L else j.endMs - j.startMs, j.tasks, j.cpuNs / 1e6)),
          stages = acc.stages, tasks = jobs.map(_.tasks).sum, executorRunMs = acc.runMs,
          executorCpuMs = jobs.map(_.cpuNs).sum / 1e6, bytesRead = acc.bytesRead,
          shuffleReadBytes = acc.shuffleRead, shuffleWriteBytes = acc.shuffleWrite,
          spillBytes = acc.spill, driverGapMs = (t1 - t0) - busy)
      }
    } finally {
      live.remove(tag)
      stageOwner.values.removeIf(_._1 eq acc)
    }
  }

  /** Waits for the listener bus to deliver this run's events: one tiny
    * job runs after the action, and its start event is queued behind
    * every task, stage and job event the action posted. */
  private def drain(fenceTag: String): Unit = {
    val sc = spark.sparkContext
    val delivered = new CountDownLatch(1)
    fences.put(fenceTag, delivered)
    sc.addJobTag(fenceTag)
    try sc.parallelize(Seq(0), 1).count() finally sc.removeJobTag(fenceTag)
    if (!delivered.await(60, TimeUnit.SECONDS))
      System.err.println("[profile] listener bus did not drain in 60 s; totals may be short")
  }

  private def tags(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val ts = tags(e.properties)
    ts.foreach(t => Option(fences.remove(t)).foreach(_.countDown()))
    ts.iterator.map(live.get).find(_ != null).foreach { acc =>
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        .replace('\n', ' ')
      val stage = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("")
      val job = new Job(e.jobId, s"$stage | $desc".take(140), e.time)
      acc.synchronized { acc.jobs.put(e.jobId, job) }
      e.stageIds.foreach(s => stageOwner.putIfAbsent(s, (acc, job)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    live.values.forEach { acc =>
      acc.synchronized { acc.jobs.get(e.jobId).foreach(_.endMs = e.time) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (acc, _) =>
      acc.synchronized { acc.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageOwner.get(e.stageId)).foreach { case (acc, job) =>
      acc.synchronized {
        job.tasks += 1
        job.cpuNs += m.executorCpuTime
        acc.runMs += m.executorRunTime
        acc.bytesRead += m.inputMetrics.bytesRead
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object RunRecorder {
  /** One job of a run: wall ms (-1 if its end was not seen), tasks and
    * executor CPU ms over the stages it ran. */
  final case class JobStat(id: Int, name: String, wallMs: Long, tasks: Int, cpuMs: Double)

  /** One recorded action. `phasesMs` holds Catalyst's `analysis`,
    * `optimization` and `planning` times; `driverGapMs` is the wall
    * time not covered by any of the run's jobs. */
  final case class RunStat(
      wallMs: Long,
      phasesMs: Map[String, Long],
      jobs: Seq[JobStat],
      stages: Int,
      tasks: Int,
      executorRunMs: Long,
      executorCpuMs: Double,
      bytesRead: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      spillBytes: Long,
      driverGapMs: Long)
}
