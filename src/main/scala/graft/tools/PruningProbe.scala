package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{SeqEngine, SearchRequest}
import graft.tables.TestTables

/** Pruning-effectiveness probe (r15 verdict #5; reference analogue:
  * fraction pruning, seq-db fracmanager/searcher.go:89-101).
  *
  * The bloom/zone-map rows' bench numbers are only evidence for the
  * 100 TB story if the FILE-SKIP RATIO holds as the corpus grows —
  * otherwise the full-text path degrades linearly with the file
  * census (the sf1 phrase row extrapolating to ~16 s at reference
  * scale). For each file-skipping gate row this probe reports, per
  * scale factor:
  *   - files scanned vs total (TestTables.pruningStats — the same
  *     candidateFiles call the shipping prunedRead makes),
  *   - wall time of the PRUNED gate row vs an UNPRUNED control that
  *     runs the identical engine query over the identical file
  *     layout with only the sidecar narrowing removed,
  * so both the ratio and its realized payoff are measured, not
  * asserted. Two samples each, full-plan consumer (Bench r14
  * protocol). One JSON line per (sf, row).
  *
  * Usage: runMain graft.tools.PruningProbe [sfDir ...]
  *   (default /root/testdata/sf0.1; pass /dev/shm/graft_sf1
  *    /dev/shm/graft_sf5 for the scale legs)
  */
object PruningProbe {
  private val T0  = 1704067200000L
  private val T02 = 1704153600000L
  private val T15 = 1705276800000L

  def main(args: Array[String]): Unit = {
    val sfDirs = if (args.isEmpty) Seq("/root/testdata/sf0.1") else args.toSeq
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    def time2(f: => DataFrame): (Double, Double, Long) = {
      var rows = 0L
      def once(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        rows = f.queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      val a = once(); val b = once()
      (a, b, rows)
    }

    sfDirs.foreach { sfDir =>
      val sf = new java.io.File(sfDir).getName
      val stats = TestTables.pruningStats(spark, sfDir)
        .map { case (n, s, t) => n -> ((s, t)) }.toMap

      // (row, pruned frame, unpruned control — same layout, same query)
      val legs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
        ("seq_search_keyword_bloom",
          () => graft.SparkEntry.queries("seq_search_keyword_bloom")(spark, sfDir),
          () => new SeqEngine(TestTables.eventsDocsBloomUnpruned(spark, sfDir))
            .search(SearchRequest("user_id:42 and event_type:error", T02, T15, size = 100))
            .select("mid", "rid", "user_id", "event_type")),
        ("seq_text_bloom",
          () => graft.SparkEntry.queries("seq_text_bloom")(spark, sfDir),
          () => new SeqEngine(TestTables.documentsDocsBloomUnpruned(spark, sfDir))
            .search(SearchRequest("text:'key order' and src_path:/src7",
              0L, Long.MaxValue, size = 1000))
            .select("mid", "rid", "doc_id", "lang")),
        ("events_zorder_lookup",
          () => graft.SparkEntry.queries("events_zorder_lookup")(spark, sfDir),
          () => spark.read.parquet(TestTables.eventsZOrderedPath(spark, sfDir))
            .where(col("user_id") === 42L && col("mid").between(T0, T15))
            .select(col("event_id"), col("mid"), col("event_type"), col("value_cents"))
            .orderBy(col("mid").asc, col("event_id").asc)))

      legs.foreach { case (name, pruned, control) =>
        val (scanned, total) = stats(name)
        val (pa, pb, rows) = time2(pruned())
        val (ua, ub, urows) = time2(control())
        require(rows == urows,
          s"$name: pruned ($rows) and unpruned ($urows) row counts disagree - pruning dropped data")
        val skip = 100.0 * (total - scanned) / math.max(total, 1)
        println(f"""{"row":"$name","sf":"$sf","files_scanned":$scanned,"files_total":$total,"skip_pct":$skip%.1f,"pruned_s":[$pa%.3f,$pb%.3f],"unpruned_s":[$ua%.3f,$ub%.3f],"out_rows":$rows}""")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
