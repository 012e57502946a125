package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.ReferenceForms
import graft.model.{IndexType, SeqMapping}
import graft.tables.TestTables

/** The one quantile path: every quantile request — `aggregate`, and
  * `aggregateOver` as gRPC ComplexSearch and the async-search fetch
  * call it — runs the seeded bottom-k sample of at most
  * SeqAggregates.ReservoirCap values per bucket. Below the cap the
  * sample is complete, so the answer equals the exact window-rank
  * quantiles of [[ReferenceForms.windowRankQuantiles]]; the plan never
  * carries a per-group window sort or a persisted probe frame.
  *
  * The test names date from the cap-routed path this one replaced; "the
  * cap" is now the sample's ReservoirCap and "the route" is `aggregate`.
  */
class QuantileRouteSpec extends SparkSpec {

  private def engine = new SeqEngine(TestTables.eventsDocs(spark, sfDir))
  private val agg = AggRequest(
    AggFunc.Quantile(Seq(0.5, 0.9)), field = "value", groupBy = Some("event_type"))
  private val (t0, t31) = (1704067200000L, 1706745599999L)

  // one bucket of 20 000 values: above the 8096-value cap, where an
  // exact plan and the sample answer differently
  private val day = 1710028800000L // 2024-03-10T00:00Z
  private val (dayFrom, dayTo) = (day, day + 86399999L)
  private val bigAgg = agg.copy(groupBy = Some("level"))
  private def bigEngine = {
    val df = spark.range(20000).select(
      (lit(day) + col("id") * 1000L).as("mid"), col("id").as("rid"),
      lit("error").as("level"), ((col("id") * 2654435761L) % 10007L / 97.0).as("value"))
    new SeqEngine(DocsTable(df, SeqMapping.of("level" -> IndexType.Keyword)))
  }

  test("above the cap the routed plan has no window sort") {
    val out = bigEngine.aggregate("level:error", dayFrom, dayTo, bigAgg)
    assert(out.collect().length == 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("RunningWindowFunction"), plan)
  }

  test("below the cap the routed result is the exact window path") {
    val e = engine
    val exact = ReferenceForms.windowRankQuantiles(
      e.matches("*", t0, t31).select(
        coalesce(col("event_type").cast("string"), lit("_not_exists")).as("name"),
        col("value").cast("double").as("v")),
      Seq("name"), Seq(0.5, 0.9))
    val out = e.aggregate("*", t0, t31, agg).collect().toSeq
    assert(out.nonEmpty)
    assert(out == exact.collect().toSeq)
  }

  test("the default cap routes in one pass: no window sort, no probe cache") {
    val out = engine.aggregate("*", t0, t31, agg)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // single pass: nothing persisted (a probe frame would show as an
    // InMemoryTableScan)
    assert(!plan.contains("InMemoryTableScan"), plan)
  }

  test("aggregate() dispatches quantiles through the auto-route") {
    // aggregate is aggregateOver over its own match set, bit for bit
    val e = engine
    val viaAggregate = e.aggregate("*", t0, t31, agg).collect().toSeq
    val viaOver = e.aggregateOver(e.matches("*", t0, t31), agg).collect().toSeq
    assert(viaAggregate.nonEmpty)
    assert(viaAggregate == viaOver)
  }

  test("async fetch's aggregateOver equals aggregate above the sample cap") {
    val e = bigEngine
    val viaFetch = e.aggregateOver(e.matches("level:error", dayFrom, dayTo), bigAgg).collect().toSeq
    val viaAggregate = e.aggregate("level:error", dayFrom, dayTo, bigAgg).collect().toSeq
    assert(viaAggregate.size == 2)
    assert(viaFetch == viaAggregate)
  }
}
