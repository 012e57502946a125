package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** A `LongType` literal whose generated code reads its value from the
  * plan's reference array instead of inlining it. Spark inlines long
  * literals into the generated Java (`1704067200000L`), so a plan that
  * differs only in a long constant is new source text and compiles a
  * new class; string literals are already emitted through
  * `addReferenceObj`, which is why the `date` partition bounds never
  * recompile. With this literal the `mid` time bounds behave the same
  * way: one compile per query shape, whatever the window.
  *
  * It stays a [[Literal]]: `ConstantFolding` leaves it alone and
  * `DataSourceStrategy` still translates `mid >= lo` / `mid <= hi` into
  * Parquet row-group filters (it matches with `Literal.unapply`). The
  * two-argument constructor mirrors `Literal`'s, so `TreeNode.makeCopy`
  * and `clone` rebuild it as itself.
  */
class BoundLongLiteral(v: Any, t: DataType) extends Literal(v, t) {
  require(t == LongType && v != null, "BoundLongLiteral holds a non-null long")

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundLong", value, "java.lang.Long")
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.longValue()", LongType))
  }
}

object BoundLongLiteral {
  def column(v: Long): Column = ColumnBridge.column(new BoundLongLiteral(v, LongType))
}
