package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** A bigint constant that generated code reads from the references
  * array of its class instead of spelling it in the source, so two
  * plans that differ only in their `Param` values share one compiled
  * class — the way a numpy view's strides and offsets are data, not
  * code. Not foldable: the optimizer leaves it in place, where a
  * `Literal` would be folded into its neighbours and inlined. Use it
  * for shape constants (strides, dims, slice bounds, offsets) that
  * change from one DcaFrame operation to the next.
  */
case class Param(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }

  override def prettyName: String = "param"
  override def toString: String = s"param($value)"
  override def sql: String = toString
}

object Param {
  /** `value` as a Column that compiles to a references-array read. */
  def col(value: Long): Column = GraftSqlBridge.column(Param(value))
}
