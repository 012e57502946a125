package graft.tools

/** Dev tool: measure each streaming gate row's PLUMBING floor — the
  * no-op twin from [[graft.tables.StreamingGate.plumbingFloor]] (same
  * slices, checkpoint, sentinels, identity transform) — so the pinned
  * per-row capability reference can distinguish a streaming-machinery
  * slowdown from an operator regression. Prints one JSON line; pin
  * the values as `plumbing_floors_s` in BENCH_REF.json from a
  * clean-stamped box (min of the two samples).
  * Usage: runMain graft.tools.GatePlumbingFloor [sfDir]
  */
object GatePlumbingFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val rows = Seq("dp_stream_dedup", "dp_stream_neardedup",
      "dp_stream_spanremove", "dp_stream_sessionize",
      "seq_stream_livecount", "seq_stream_follow")
    // one throwaway stream warms the StreamExecution/state-store init
    // the real gate rows don't pay either (Bench warms via entry())
    graft.tables.StreamingGate.plumbingFloor(rows.head, spark, sfDir): Unit
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val res = rows.map { name =>
      def once(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        graft.tables.StreamingGate.plumbingFloor(name, spark, sfDir): Unit
        (System.nanoTime() - t0) / 1e9
      }
      val a = once(); val b = once()
      System.err.println(s"[floor] $name ${f3(a)} / ${f3(b)} s")
      name -> math.min(a, b)
    }
    println(res.map { case (k, v) => s"\"$k\":${f3(v)}" }
      .mkString(s"""{"sf":"${new java.io.File(sfDir).getName}","plumbing_floors_s":{""", ",", "}}"))
    spark.stop()
    sys.exit(0)
  }
}
