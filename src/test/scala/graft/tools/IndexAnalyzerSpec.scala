package graft.tools

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ingest.{BulkIngest, DocsWriter}
import graft.model.{IndexType, SeqMapping}

/** The sink analyzer doubles as the regression guard for the ingest
  * writer's range-tightness claim: every file's (date, mid) range is
  * disjoint within its day, so per-file min/max stats prune time
  * windows inside a day (the reference checks the same property on
  * its fractions with cmd/index_analyzer + cmd/distribution).
  */
class IndexAnalyzerSpec extends SparkSpec {
  import spark.implicits._

  test("per-day report: counts, mid bounds, zero overlapping files from the writer") {
    val mapping = SeqMapping.of("level" -> IndexType.Keyword)
    val reqTime = 1710072000000L
    val lines = (0 until 200).map { i =>
      val day = if (i % 4 == 0) "2024-03-09" else "2024-03-10"
      s"""{"timestamp":"$day ${"%02d".format(i % 24)}:0${i % 6}:00","level":"l${i % 3}"}"""
    }
    val out = java.nio.file.Files.createTempDirectory("idx_an").toString
    DocsWriter.overwrite(
      BulkIngest.project(lines.toDF("value"), mapping, reqTime), out)

    val days = IndexAnalyzer.dayReport(IndexAnalyzer.perFile(spark, out))
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(days.map(_._1).toSeq == Seq("2024-03-09", "2024-03-10"))
    assert(days.map(_._3).sum == 200L, "every ingested row accounted for")
    assert(days.forall(_._4 == 0L), "writer produces disjoint per-file mid ranges")
    // per-file bounds must bracket the real data
    val pf = IndexAnalyzer.perFile(spark, out).collect()
    val docs = spark.read.parquet(out)
    val (lo, hi) = (docs.agg(min("mid")).head.getLong(0), docs.agg(max("mid")).head.getLong(0))
    assert(pf.map(_.getLong(3)).min == lo && pf.map(_.getLong(4)).max == hi)
  }

  test("an artificially scrambled layout is flagged as overlapping") {
    // two files in one day partition with interleaved mid ranges
    val out = java.nio.file.Files.createTempDirectory("idx_bad").toString
    Seq((1L, 10L), (2L, 30L)).toDF("rid", "mid")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-03-10")))
      .repartition(1).write.mode("append").partitionBy("date").parquet(out)
    Seq((3L, 20L), (4L, 40L)).toDF("rid", "mid")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-03-10")))
      .repartition(1).write.mode("append").partitionBy("date").parquet(out)
    val day = IndexAnalyzer.dayReport(IndexAnalyzer.perFile(spark, out)).collect()
    assert(day.length == 1 && day(0).getLong(5) == 1L,
      "interleaved file ranges must be reported")
  }
}
