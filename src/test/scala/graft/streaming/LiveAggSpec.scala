package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.ingest.BulkIngest
import graft.model.{IndexType, SeqMapping}

class LiveAggSpec extends SparkSpec {
  import spark.implicits._

  private val mapping = SeqMapping.of("level" -> IndexType.Keyword)
    .copy(caseSensitive = false)

  test("live windowed count by field matches batch histogram semantics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val docs = BulkIngest.project(mem.toDF(), mapping, requestTimeMs = 1710072000000L)
    val agg = LiveAggregates.liveCountByField(docs, "level", 3600000L, "10 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("live_counts").start()
    try {
      mem.addData(
        """{"timestamp":"2024-03-10 09:10:00","level":"error"}""",
        """{"timestamp":"2024-03-10 09:40:00","level":"error"}""",
        """{"timestamp":"2024-03-10 10:05:00","level":"info"}""")
      q.processAllAvailable()
      mem.addData("""{"timestamp":"2024-03-10 09:55:00","level":"error"}""")
      q.processAllAvailable()
      val rows = spark.sql("SELECT bucket_ms, name, value FROM live_counts ORDER BY bucket_ms, name")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(rows == Seq(
        (1710061200000L, "error", 3L), // 09:00 bucket
        (1710064800000L, "info", 1L),  // 10:00 bucket
      ))
    } finally q.stop()
  }
}
