package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The output positions an integer-array gather sends one input row
  * to: the children are the row's indices on the gathered axes, and
  * the result lists, ascending, every position `k` whose index tuple
  * is that key — so `explode(gather_positions(__idx…))` is the whole
  * gather, repeats included, as one narrow pass over the frame. A row
  * whose key no position names (or with a NULL index) gets NULL, which
  * `explode` turns into no row.
  *
  * The driver-held index lists live in a [[GatherPositions.Table]] that
  * generated code reaches through the references array, so a gather at
  * new indices reuses the compiled class, and no index table is joined
  * or broadcast.
  */
case class GatherPositions(children: Seq[Expression], table: GatherPositions.Table)
  extends Expression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != table.rank) TypeCheckResult.TypeCheckFailure(
      s"gather_positions takes ${table.rank} index columns, got ${children.length}")
    else children.find(_.dataType != LongType) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"gather_positions needs bigint indices, got ${c.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): Any = {
    var key = 0L
    var a = 0
    while (a < children.length) {
      val v = children(a).eval(input)
      if (v == null) return null
      key = table.fold(key, a, v.asInstanceOf[Long])
      a += 1
    }
    table.lookup(key)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("gatherTable", table, classOf[GatherPositions.Table].getName)
    val evals = children.map(_.genCode(ctx))
    val key = ctx.freshName("key")
    val anyNull = evals.map(e => s"${e.isNull}").mkString(" || ")
    val folds = evals.zipWithIndex.map { case (e, a) => s"$key = $tbl.fold($key, $a, ${e.value});" }
    ev.copy(code =
      code"""${evals.map(_.code).mkString("\n")}
            |ArrayData ${ev.value} = null;
            |if (!($anyNull)) {
            |  long $key = 0L;
            |  ${folds.mkString("\n")}
            |  ${ev.value} = $tbl.lookup($key);
            |}
            |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)

  override def prettyName: String = "gather_positions"
}

object GatherPositions {
  /** Gather positions keyed by the linearized index tuple: with `dims`
    * the sizes of the gathered axes, key `(i0, …, im-1)` is
    * `i0 · dims(1) · … · dims(m-1) + … + im-1`, a primitive `Long`.
    * `fold` folds one axis' index into a partial key and sends an
    * out-of-range index to -1, which no entry holds.
    */
  final class Table(dims: Array[Long], positions: mutable.LongMap[Array[Long]])
    extends Serializable {
    def rank: Int = dims.length

    def fold(key: Long, axis: Int, index: Long): Long =
      if (key < 0L || index < 0L || index >= dims(axis)) -1L else key * dims(axis) + index

    def lookup(key: Long): ArrayData = positions.get(key) match {
      case Some(ps) => UnsafeArrayData.fromPrimitiveArray(ps)
      case None     => null
    }

    override def toString: String = s"${positions.size} keys over dims ${dims.mkString("(", ", ", ")")}"
  }

  object Table {
    /** Position `k` takes index `lists(a)(k)` on gathered axis `a`, whose
      * size is `dims(a)`; every list has the same length.
      */
    def apply(dims: Seq[Long], lists: Seq[Seq[Long]]): Table = {
      require(dims.length == lists.length && lists.nonEmpty, "one index list per gathered axis")
      val len = lists.head.length
      require(lists.forall(_.length == len), "index lists differ in length")
      val probe = new Table(dims.toArray, mutable.LongMap.empty)
      val grouped = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
      (0 until len).foreach { k =>
        val key = lists.indices.foldLeft(0L)((acc, a) => probe.fold(acc, a, lists(a)(k)))
        require(key >= 0L, s"gather position $k is out of bounds for dims ${dims.mkString("(", ", ", ")")}")
        grouped.getOrElseUpdate(key, new mutable.ArrayBuilder.ofLong) += k.toLong
      }
      new Table(dims.toArray, grouped.mapValuesNow(_.result()))
    }
  }

  /** `explode` this over a frame to gather it: see the class doc. */
  def col(indices: Seq[Column], table: Table): Column =
    GraftSqlBridge.column(GatherPositions(indices.map(GraftSqlBridge.expression), table))
}
