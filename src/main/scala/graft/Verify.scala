package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query-name subset (local
    // iteration only — the driver always runs the full gate)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val ran = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    ran.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // A query that throws simply has no output dir, and the driver's
    // compare then silently omits its row (round 7 lost 42 rows to a
    // testdata schema change this way). Make the damage impossible to
    // miss: a summary line on stdout AND a failures artifact next to
    // the outputs.
    if (failed.nonEmpty) {
      println(s"[verify] ${failed.size} of ${ran.size} queries FAILED: ${failed.sorted.mkString(", ")}")
      Files.writeString(Paths.get(s"$outDir/_failed.json"),
        failed.sorted.mkString("[\"", "\",\"", "\"]"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
