package graft.tools

import org.apache.spark.sql.functions._

/** Wall-clock demonstration of the simhash candidate-scheme cliff.
  *
  * The make_big_sf replicas cannot show it: their ~R-sized duplicate
  * groups make every scheme output-bound. This probe synthesizes n
  * docs of ~12 random-ish tokens with TINY dup groups (doc 2k+1 is an
  * exact copy of doc 2k), so the true pair count is n/2 — linear —
  * while the 64-bit signatures spread uniformly. Then the false-
  * candidate mass is pure scheme: the 4×16-bit banding's buckets hold
  * ~n/2^16 docs each (sum C(load,2) false candidates, quadratic in
  * n), the 10-table block-pair scheme's ~n/2^25 (128× more headroom
  * before saturation). Both schemes are run through the PUBLIC simhashPairs
  * (forced via spark.graft.dedup.simhashWideMin), so the numbers are
  * the shipping plans. Prints one JSON line per (n, scheme).
  */
object SimhashCliffProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.isEmpty) Seq(1000000L, 4000000L) else args.toSeq.map(_.toLong)
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    sizes.foreach { n =>
      // doc 2k+1 duplicates doc 2k: true pairs = n/2, hamming 0.
      // Integer halving via id - id%2 (a bare id/2 is DOUBLE division
      // in Spark SQL and silently breaks the pairing).
      val toks = (0 until 12).map(j =>
        hex(xxhash64((col("id") - col("id") % 2) * 13 + j)))
      val docs = spark.range(n)
        .select(col("id").as("doc_id"), concat_ws(" ", toks: _*).as("text"))
        .persist()
      docs.count()
      for ((label, cutover) <- Seq("narrow" -> Long.MaxValue, "wide" -> 0L)) {
        spark.conf.set("spark.graft.dedup.simhashWideMin", cutover.toString)
        val t0 = System.nanoTime()
        val pairs = graft.dataprep.Dedup.simhashPairs(
          docs, "doc_id", "text", maxHamming = 3, knownCount = Some(n))
        val cnt = pairs.count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"n":$n,"scheme":"$label","pairs":$cnt,"sec":${sec}%.3f}""")
      }
      spark.conf.unset("spark.graft.dedup.simhashWideMin")
      docs.unpersist()
      ()
    }
    spark.stop()
    sys.exit(0)
  }
}
