package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The untyped [[DetSamplesAggregate]] (the hash-aggregate path the
  * engine's quantile sketch runs, SeqEngine sketchQuantileFromFrame)
  * wraps [[SeqAggregates.DetOps]], but adds its own
  * serialize/deserialize, and the engine recovers q from position via
  * posexplode + element_at. This spec makes the equivalence a proven
  * property instead of a diff-read: the plan over a seeded frame
  * (null-only buckets, NaN values, a >ReservoirCap group,
  * multi-partition merges) must agree BIT-for-bit on (total,
  * quantiles) with a single-threaded driver-side DetOps replay.
  */
class DetSamplesEquivalenceSpec extends SparkSpec {

  import SeqAggregates.{DetOps, ReservoirCap}

  // deliberately UNSORTED: any confusion between array position and q
  // rank in the posexplode/element_at recovery, or a silent sort of
  // qs, shows up as a value mismatch
  private val qs = Seq(0.9, 0.5, 0.0, 0.99, 1.0)

  /** Deterministic value stream: sign-mixed, dup-heavy, no RNG. */
  private def v(i: Long): Double = ((i * 2654435761L) % 10007L) / 97.0

  // groups: g=0 small (100 rows), g=1 null-only, g=2 NaN mixed into
  // values, g=3 NaN-only, g=4 big (2*cap + 37 rows → in-partition
  // compaction AND cross-partition merge compaction)
  private lazy val rows: Seq[(Long, String, Option[Double], Long)] = {
    val buf = new scala.collection.mutable.ArrayBuffer[(Long, String, Option[Double], Long)]
    var u = 0L
    def add(g: Long, n: String, value: Option[Double]): Unit = {
      buf += ((g, n, value, u)); u += 1
    }
    (0 until 100).foreach(i => add(0L, "small", Some(v(i.toLong))))
    (0 until 5).foreach(_ => add(1L, "nulls", None))
    (0 until 50).foreach(i =>
      add(2L, "nanmix", Some(if (i % 7 == 3) Double.NaN else v(100L + i))))
    (0 until 4).foreach(_ => add(3L, "nanonly", Some(Double.NaN)))
    (0 until 2 * ReservoirCap + 37).foreach(i => add(4L, "big", Some(v(1000L + i))))
    buf.toSeq
  }

  private lazy val frame = {
    import spark.implicits._
    // 7 partitions on an unrelated key: every group spans partitions,
    // so partial buffers really merge
    rows.toDF("b", "n", "v", "u").repartition(7, col("u") % 7)
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** Driver-side single-thread replay of DetOps — the ground truth. */
  private lazy val replay: Map[(Long, String), (Long, Seq[Long])] =
    rows.groupBy(t => (t._1, t._2)).map { case (k, rs) =>
      val b = DetOps.zero
      rs.sortBy(_._4).foreach { case (_, _, vv, uid) =>
        vv match {
          case None     => DetOps.addNull(b)
          case Some(d)  => DetOps.add(b, d, uid)
        }
      }
      val res = DetOps.finish(b, qs)
      k -> (res.total, res.quantiles.toSeq.map(bits))
    }

  private def untypedResults: Map[(Long, String), (Long, Seq[Long])] =
    frame.groupBy(col("b"), col("n"))
      .agg(DetSamplesAggregate.column(col("v"), col("u"), qs).as("r"))
      .select(col("b"), col("n"), col("r.total"), col("r.quantiles"))
      .collect().map { r =>
        (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getSeq[Double](3).map(bits).toSeq)
      }.toMap

  test("untyped hash-aggregate form replays DetOps bit-for-bit") {
    val got = untypedResults
    assert(got.keySet == replay.keySet)
    replay.foreach { case (k, exp) => assert(got(k) == exp, s"group $k") }
  }

  test("edge groups carry the intended semantics") {
    val got = untypedResults
    // null-only: total 0, every quantile NaN (no values to rank)
    assert(got((1L, "nulls"))._1 == 0L)
    assert(got((1L, "nulls"))._2.forall(_ == bits(Double.NaN)))
    // NaN-only: total counts the NaN values; quantiles are NaN
    assert(got((3L, "nanonly"))._1 == 4L)
    assert(got((3L, "nanonly"))._2.forall(_ == bits(Double.NaN)))
    // big group really exceeded the cap (compaction exercised)
    assert(got((4L, "big"))._1 == 2L * ReservoirCap + 37)
  }

  test("serialize/deserialize round-trips a spare-capacity buffer") {
    val agg = DetSamplesAggregate(
      ColumnBridge.expression(lit(0d)), ColumnBridge.expression(lit(0L)), qs)
    val b = DetOps.zero
    (0 until 100).foreach(i => DetOps.add(b, v(i.toLong), i.toLong))
    DetOps.addNull(b)
    // geometric growth leaves spare slots past `used`; the round-trip
    // must preserve exactly the used prefix and all scalar fields
    assert(b.prios.length > b.used)
    val rt = agg.deserialize(agg.serialize(b))
    assert(rt.used == b.used)
    assert(rt.total == b.total && rt.notExists == b.notExists)
    assert(bits(rt.min) == bits(b.min) && bits(rt.max) == bits(b.max) &&
      bits(rt.sum) == bits(b.sum))
    assert(rt.prios.toSeq == b.prios.take(b.used).toSeq)
    assert(rt.samples.toSeq.map(bits) == b.samples.take(b.used).toSeq.map(bits))
    // and a merge of two round-tripped halves equals the direct build
    val h1 = DetOps.zero; val h2 = DetOps.zero
    (0 until 60).foreach(i => DetOps.add(h1, v(i.toLong), i.toLong))
    (60 until 100).foreach(i => DetOps.add(h2, v(i.toLong), i.toLong))
    val merged = DetOps.merge(agg.deserialize(agg.serialize(h1)),
      agg.deserialize(agg.serialize(h2)))
    val direct = DetOps.zero
    (0 until 100).foreach(i => DetOps.add(direct, v(i.toLong), i.toLong))
    val f1 = DetOps.finish(merged, qs); val f2 = DetOps.finish(direct, qs)
    assert(f1.total == f2.total)
    assert(f1.quantiles.toSeq.map(bits) == f2.quantiles.toSeq.map(bits))
  }

  test("engine q-recovery preserves unsorted quantile request order") {
    // the engine's sketch output recovers q via element_at(lit(qs),
    // pos+1): with the unsorted qs above, quantile i of the result
    // array must pair with qs(i), not with rank i
    import graft.engine.{AggFunc, AggRequest, SeqEngine}
    import graft.tables.TestTables
    val engine = new SeqEngine(TestTables.eventsDocs(spark, sfDir))
    val agg = AggRequest(AggFunc.Quantile(Seq(0.9, 0.5)),
      field = "value", groupBy = Some("event_type"))
    val (t0, t31) = (1704067200000L, 1706745599999L)
    val exact = engine.aggregateOver(engine.matches("*", t0, t31), agg)
      .collect().toSeq
    val sketch = engine.aggregateQuantileSketch("*", t0, t31, agg)
      .collect().toSeq
    assert(sketch == exact)
  }
}
