package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import SeqAggregates.{DetBuf, DetOps}

/** The deterministic bottom-k quantile sketch as an UNTYPED imperative
  * aggregate over [[SeqAggregates.DetOps]]. The rows flow through
  * `groupBy(...).agg(...)` partial aggregation with a binary buffer
  * instead of a Dataset `groupByKey` path, which allocates a case
  * class + Option box per input row — a typed form measured ~590k
  * rows/s at the sf1 replica and inherited multi-second GC pauses from
  * allocation-heavy neighbours; this form is the one to run over a
  * billion-row match set. Output: struct(total, quantiles) — exactly
  * what the quantile assembly consumes.
  */
case class DetSamplesAggregate(
    v: Expression,
    u: Expression,
    quantiles: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DetBuf] {

  override def children: Seq[Expression] = Seq(v, u)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("quantiles", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (v.dataType, u.dataType) match {
      case (DoubleType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"det_samples expects (double, bigint), got $other")
    }

  override def createAggregationBuffer(): DetBuf = DetOps.zero

  override def update(b: DetBuf, input: InternalRow): DetBuf = {
    val vv = v.eval(input)
    if (vv == null) DetOps.addNull(b)
    else DetOps.add(b, vv.asInstanceOf[Double],
      u.eval(input).asInstanceOf[Long])
    b
  }

  override def merge(a: DetBuf, c: DetBuf): DetBuf = DetOps.merge(a, c)

  override def eval(b: DetBuf): Any = {
    val res = DetOps.finish(b, quantiles)
    InternalRow(res.total, new GenericArrayData(res.quantiles))
  }

  override def serialize(b: DetBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * 5 + 4 + 16 * b.used)
    bb.putDouble(b.min).putDouble(b.max).putDouble(b.sum)
    bb.putLong(b.total).putLong(b.notExists)
    bb.putInt(b.used)
    var i = 0
    while (i < b.used) { bb.putLong(b.prios(i)); i += 1 }
    i = 0
    while (i < b.used) { bb.putDouble(b.samples(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DetBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val mn = bb.getDouble(); val mx = bb.getDouble(); val sm = bb.getDouble()
    val tot = bb.getLong(); val ne = bb.getLong()
    val used = bb.getInt()
    val prios = new Array[Long](used)
    val samples = new Array[Double](used)
    var i = 0
    while (i < used) { prios(i) = bb.getLong(); i += 1 }
    i = 0
    while (i < used) { samples(i) = bb.getDouble(); i += 1 }
    DetBuf(mn, mx, sm, tot, ne, used, prios, samples)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DetSamplesAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DetSamplesAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(v = newChildren(0), u = newChildren(1))
}

object DetSamplesAggregate {
  /** Column form: `det_samples(v, u)` → struct(total, quantiles). */
  def column(v: Column, u: Column, quantiles: Seq[Double]): Column =
    ColumnBridge.column(DetSamplesAggregate(
      ColumnBridge.expression(v), ColumnBridge.expression(u), quantiles)
      .toAggregateExpression())
}
