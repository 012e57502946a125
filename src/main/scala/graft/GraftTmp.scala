package graft

/** Scratch root for derived artifacts (index caches, bench ingest
  * output) and, when overridden, Spark's shuffle/spill local dirs.
  *
  * Defaults to `/tmp`. Deployments point `GRAFT_TMP` at fast local
  * scratch — NVMe, or a memory-backed mount — exactly as
  * `spark.local.dir` is provisioned on a real cluster. On the
  * credit-throttled block storage of a cloud test box this is the
  * difference between measuring the engine and measuring the disk's
  * burst-credit bucket: the reads here are page-cache-resident (the
  * whole SF fits in RAM) and every observed throttle signature came
  * from scratch WRITES (shuffle files, index materializations, the
  * ingest benchmark's parquet output).
  */
object GraftTmp {
  val dir: String = sys.env.getOrElse("GRAFT_TMP", "/tmp")

  /** True when the caller pointed scratch somewhere non-default —
    * benchmark output stamps this so a sweep's environment is
    * reconstructible from its JSON alone.
    */
  val overridden: Boolean = sys.env.contains("GRAFT_TMP")

  /** Spark configs to apply when scratch is overridden: local dirs
    * (shuffle, spill, localCheckpoint blocks) follow the scratch
    * root. Applied by [[Bench.session]].
    */
  def sparkLocalDir(): Option[String] =
    if (overridden) {
      val d = new java.io.File(dir, "spark_local")
      if (!d.mkdirs() && !d.isDirectory)
        throw new java.io.IOException(
          s"GRAFT_TMP scratch dir is not creatable: ${d.getAbsolutePath}")
      Some(d.getAbsolutePath)
    } else None
}
