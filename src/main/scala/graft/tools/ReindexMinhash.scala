package graft.tools

/** Operational reindex job: migrate a persisted MinHash band index to
  * the CURRENT hash family in place. A pre-v2 index (built before the
  * affine-correlation fix in the permutation family) is refused by
  * every probe with "lacks _MINHASH_FAMILY_V2"; this job is the
  * rebuild path the error message points at — it recomputes the band
  * keys from the index's own family-independent `shingles` file set
  * (one distributed pass; the original corpus text is NOT needed) and
  * stamps the current family marker. Safe to re-run: a current-family
  * index is a no-op.
  *
  * Usage: runMain graft.tools.ReindexMinhash <indexPath> [numHashes] [bands]
  * (numHashes/bands must match the values the probes use; defaults 128/32.)
  */
object ReindexMinhash {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ReindexMinhash <indexPath> [numHashes] [bands]")
    val path = args(0)
    val numHashes = if (args.length > 1) args(1).toInt else 128
    val bands = if (args.length > 2) args(2).toInt else 32
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val migrated = graft.dataprep.Dedup.migrateMinhashIndex(spark, path, numHashes, bands)
    println(
      if (migrated)
        s"""{"reindexed":true,"path":"$path","family":${graft.functions.MinHashCoefficients.familyVersion}}"""
      else
        s"""{"reindexed":false,"path":"$path","reason":"already current family"}""")
    spark.stop()
  }
}
