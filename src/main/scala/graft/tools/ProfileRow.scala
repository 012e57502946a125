package graft.tools

import java.util.Locale

/** The measurement path for any SparkEntry row: builds it on Bench's
  * session and runs its full plan twice through [[RunRecorder]] (the
  * first run warms the JVM and fixtures, the second is the measure).
  * For the measure it prints one line per Spark job (wall, tasks,
  * executor CPU) and a totals line (Catalyst phases, jobs, stages,
  * tasks, executor run and CPU time, bytes read, shuffle, spill and the
  * driver gap), so a slow row is attributed to a layer and to specific
  * jobs instead of guessed at. Trailing `k=v` arguments are set as
  * session confs first. A failing row propagates its full stack — the
  * debugging companion to Bench's truncated `errors` entries.
  * Usage: runMain graft.tools.ProfileRow <sfDir> <row> [row...] [k=v ...]
  */
object ProfileRow {
  private def fmt(pattern: String, args: Any*): String =
    String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  def main(args: Array[String]): Unit = {
    val (names, confs) = args.toSeq.drop(1).span(!_.contains("="))
    require(args.nonEmpty && names.nonEmpty,
      "usage: ProfileRow <sfDir> <row> [row...] [k=v ...]")
    val sfDir = args.head
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    val recorder = new RunRecorder(spark)
    try spark.read.parquet(s"$sfDir/documents.parquet").limit(1).count()
    catch { case _: Throwable => () }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      def run(label: String): RunRecorder.RunStat = {
        spark.catalog.clearCache()
        val r = recorder.record(fn(spark, sfDir))
        println(fmt("%s %s TOTAL %.3f s", name, label, r.wallMs / 1e3))
        r
      }
      run("warm")
      val r = run("measure")
      r.jobs.foreach { j =>
        println(fmt("[job %4d] %8d ms %6d tasks  cpu %9.1f ms  %s",
          j.id, j.wallMs, j.tasks, j.cpuMs, j.name))
      }
      def phase(p: String) = r.phasesMs.getOrElse(p, 0L)
      println(fmt("  totals: analysis %d ms, optimization %d ms, planning %d ms | " +
        "jobs %d, stages %d, tasks %d | executor run %d ms, cpu %.1f ms | " +
        "read %d B, shuffle read %d B, shuffle write %d B, spill %d B | driver gap %d ms",
        phase("analysis"), phase("optimization"), phase("planning"),
        r.jobs.size, r.stages, r.tasks, r.executorRunMs, r.executorCpuMs,
        r.bytesRead, r.shuffleReadBytes, r.shuffleWriteBytes, r.spillBytes, r.driverGapMs))
    }
    spark.stop()
    sys.exit(0)
  }
}
