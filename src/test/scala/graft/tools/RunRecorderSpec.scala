package graft.tools

import java.util.concurrent.CountDownLatch

import graft.SparkSpec

class RunRecorderSpec extends SparkSpec {

  // one job from the build (the count), at least one from the full plan
  private def twoJobs() = {
    val n = spark.range(1000).count()
    spark.range(n).selectExpr("id % 7 AS k").groupBy("k").count()
  }

  test("a recorded run splits into Catalyst phases, jobs, tasks and executor CPU") {
    val rec = new RunRecorder(spark)
    try {
      val r = rec.record(twoJobs())
      assert(r.jobs.size >= 2, r)
      assert(r.tasks > 0 && r.stages > 0, r)
      assert(r.executorCpuMs > 0, r)
      assert(Set("analysis", "optimization", "planning").subsetOf(r.phasesMs.keySet), r)
      assert(r.driverGapMs >= 0 && r.driverGapMs <= r.wallMs, r)
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  test("a job started under the previous run is not counted in the next run") {
    val rec = new RunRecorder(spark)
    val release = new CountDownLatch(1)
    @volatile var stragglerRan = false
    try {
      // the straggler thread is started inside run 1, so it inherits
      // run 1's job tag, and submits its job only once run 2 is running
      var straggler: Thread = null
      rec.record {
        straggler = new Thread(() => {
          release.await()
          spark.sparkContext.setJobDescription("straggler")
          spark.sparkContext.parallelize(1 to 100, 3).count()
          stragglerRan = true
        })
        straggler.start()
        twoJobs()
      }
      val r2 = rec.record {
        release.countDown()
        straggler.join(60000)
        twoJobs()
      }
      assert(stragglerRan)
      assert(r2.jobs.size >= 2, r2)
      assert(!r2.jobs.exists(_.name.contains("straggler")), r2.jobs)
      // the straggler's 3 tasks are not in run 2's totals either
      assert(r2.tasks == rec.record(twoJobs()).tasks, r2)
    } finally {
      release.countDown()
      spark.sparkContext.removeSparkListener(rec)
    }
  }
}
