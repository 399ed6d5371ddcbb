package graft.functions

import java.nio.ByteBuffer
import java.util.PriorityQueue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types._

/** Mutable bounded top-k buffer: a worst-first binary heap of
  * (id, score) pairs under the ordering score DESC, id ASC (ties by
  * smaller id win) — O(log k) insert, O(1) reject once full, exactly
  * the [[TopKAgg]] reference fold's keep/reject rule.
  */
final class TopKBuffer(val k: Int) {
  // head = current WORST element: lower score first, then HIGHER id
  val heap = new PriorityQueue[TopKBuffer.Entry](
    math.max(1, k),
    (a: TopKBuffer.Entry, b: TopKBuffer.Entry) => {
      val c = java.lang.Double.compare(a.score, b.score)
      if (c != 0) c else java.lang.Long.compare(b.id, a.id)
    })
  def insert(id: Long, score: Double): Unit = {
    // Normalize -0.0 -> 0.0 (Spark's NormalizeFloatingNumbers rule for
    // comparison keys): Double.compare orders -0.0 < 0.0 while the
    // reference fold's primitive == ties them — one canonical zero
    // keeps heap and fold orderings identical.
    val s = if (score == 0.0d) 0.0d else score
    if (heap.size < k) { heap.offer(new TopKBuffer.Entry(id, s)); () }
    else {
      val w = heap.peek()
      // qualify = strictly better than the worst (TopKAgg.better)
      if (s > w.score || (s == w.score && id < w.id)) {
        heap.poll()
        heap.offer(new TopKBuffer.Entry(id, s))
        ()
      }
    }
  }
}

object TopKBuffer {
  final class Entry(val id: Long, val score: Double)
}

/** Native bounded top-k-by-score as a Catalyst
  * `TypedImperativeAggregate`: `topk_sketch(id, score, k)` -> array of
  * struct<id: long, score: double>, best-first (score DESC, id ASC).
  *
  * The (b)-tier native replacement for the typed [[TopKAgg]] path
  * (`Dataset.groupByKey` + encoder buffers), which deserializes every
  * scored candidate row into a case class before folding — the
  * dominant cost of the ANN re-rank stage once scoring itself is a
  * codegen'd expression. This operator reads (id, score) straight off
  * the InternalRow, keeps a mutable k-bounded heap per group (O(1)
  * reject once the cutoff stabilizes), and ships k-entry buffers at
  * the shuffle. Same scale shape as the typed fold: partial
  * aggregation keeps only k pairs per partition, no task ever sorts a
  * full candidate set. [[TopKAgg]] remains the reference fold; the
  * spec pins this aggregate equal to it.
  *
  * Nulls in id or score are skipped (the typed path rejected them up
  * front), and so are NaN scores — a NaN (e.g. cosine of a zero-norm
  * vector) otherwise ranks "best" under Double.compare and could pin
  * garbage rows into every result; [[TopKAgg]] skips them identically
  * so the fold-equality spec holds on NaN-bearing input too.
  */
case class TopKSketch(
    idExpr: Expression,
    scoreExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, s"topk_sketch k must be positive, got $k")

  override def children: Seq[Expression] = Seq(idExpr, scoreExpr)

  // SQL surface safety: fail at ANALYSIS time on wrong input types, not
  // with a runtime ClassCastException in update(). Integral ids and
  // primitive numeric scores are accepted (Number-widened in update();
  // DecimalType is excluded — Spark's Decimal is not a j.l.Number).
  override def checkInputDataTypes(): TypeCheckResult =
    (idExpr.dataType, scoreExpr.dataType) match {
      case (ByteType | ShortType | IntegerType | LongType,
            ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (idT, sT) => TypeCheckResult.TypeCheckFailure(
        s"topk_sketch requires (integral id, numeric score), got " +
          s"(${idT.catalogString}, ${sT.catalogString})")
    }

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val id = idExpr.eval(input)
    val s = scoreExpr.eval(input)
    if (id != null && s != null) {
      val sv = s.asInstanceOf[Number].doubleValue
      // NaN scores are rejected up front: the heap comparator would rank
      // NaN best (never evicted) while the reference fold's `better`
      // treats it as worst — skipping enforces the documented contract
      // (cosine of a zero-norm vector is 0/0 = NaN).
      if (!sv.isNaN) b.insert(id.asInstanceOf[Number].longValue, sv)
    }
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = {
    val it = o.heap.iterator()
    while (it.hasNext) { val e = it.next(); b.insert(e.id, e.score) }
    b
  }

  override def eval(b: TopKBuffer): Any = {
    val n = b.heap.size
    val arr = new Array[TopKBuffer.Entry](n)
    var i = 0
    val it = b.heap.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    // best-first: score DESC, id ASC
    java.util.Arrays.sort(arr, (a: TopKBuffer.Entry, c: TopKBuffer.Entry) => {
      val cm = java.lang.Double.compare(c.score, a.score)
      if (cm != 0) cm else java.lang.Long.compare(a.id, c.id)
    })
    val rows = new Array[Any](n)
    i = 0
    while (i < n) {
      rows(i) = new GenericInternalRow(Array[Any](arr(i).id, arr(i).score))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * b.heap.size)
    bb.putInt(b.heap.size)
    val it = b.heap.iterator()
    while (it.hasNext) { val e = it.next(); bb.putLong(e.id); bb.putDouble(e.score) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new TopKBuffer(k)
    var i = 0
    while (i < n) {
      val id = bb.getLong; val s = bb.getDouble
      b.heap.offer(new TopKBuffer.Entry(id, s))
      i += 1
    }
    b
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKSketch =
    copy(idExpr = newChildren(0), scoreExpr = newChildren(1))
}

object TopKSketch {
  /** The aggregate: the k best (id, score) pairs of each group,
    * best-first (see the class doc).
    */
  def col(id: Column, score: Column, k: Int): Column =
    GraftSqlBridge.column(TopKSketch(GraftSqlBridge.expression(id), GraftSqlBridge.expression(score), k)
      .toAggregateExpression())

  private[functions] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 3, s"topk_sketch takes (id, score, k), got ${exprs.length}")
    TopKSketch(exprs.head, exprs(1), VectorExpressions.longLiteral(exprs(2), "topk_sketch", "k").toInt)
  }
}
