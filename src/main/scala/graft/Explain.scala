package graft

/** Dev tool: print formatted physical plans for selected queries and
  * flag scale smells (missing pushdown, missing broadcast, no codegen).
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names; fn <- SparkEntry.queries.get(name)) {
      println(s"\n======== $name ========")
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        println(plan)
        val smells = Seq(
          "PushedFilters: []" -> "no parquet pushdown on a scan",
          "CartesianProduct" -> "cartesian product",
          "SortMergeJoin" -> "sort-merge join (check if broadcast fits)",
        ).collect { case (pat, msg) if plan.contains(pat) => s"  SMELL: $msg" }
        if (smells.nonEmpty) println(smells.mkString("\n"))
      } catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
