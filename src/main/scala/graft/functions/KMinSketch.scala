package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType}

/** Mutable KMV buffer: the k smallest DISTINCT hash values, kept in a
  * bounded ordered set — O(log k) insert vs the O(k) list scan of the
  * typed [[KMinAgg]] reference fold, with identical semantics
  * (sorted ascending, distinct, capped at k smallest).
  */
final class KMinBuffer(val k: Int) {
  val set = new java.util.TreeSet[java.lang.Long]()
  def insert(h: Long): Unit = {
    if (set.size < k) { set.add(h); () }
    // add() reports presence itself — one tree probe for both the
    // duplicate and the genuine-insert case (a 100-TB scan multiplies
    // this inner loop; contains+add paid two probes per duplicate).
    else if (h < set.last && set.add(h)) { set.pollLast(); () }
  }
}

/** Native KMV (k-minimum-values) distinct sketch as a Catalyst
  * `TypedImperativeAggregate`: `kmin_sketch(h, k)` -> sorted
  * array<long> of the k smallest distinct values of `h`.
  *
  * Why native (the (b)-tier of the custom-operator preference order):
  * the original typed `Aggregator` path (`Dataset.groupByKey` +
  * encoder buffers) deserializes every input row to a Scala tuple and
  * folds through an immutable List with an O(k) containment scan —
  * measured 15.2 s at sf1 for q33 vs 3.1 s for its algorithmic twin
  * q37 doing the same per-row hashing through DataFrame aggregation.
  * This operator keeps rows in Tungsten format (child.eval on the
  * InternalRow), maintains a mutable bounded TreeSet per group, and
  * serializes buffers only at the shuffle boundary (k longs). The
  * typed [[KMinAgg]]/[[KMinListAgg]] remain as the reference fold —
  * the streaming twin shares their insert rule, and the spec pins
  * this aggregate equal to that fold.
  *
  * Merge is insert-all (associative + commutative); estimates are
  * computed from the returned array with exact integer arithmetic
  * (see q33/q69), so the DuckDB oracles reproduce them bit-for-bit.
  */
case class KMinSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KMinBuffer] with UnaryLike[Expression] {

  require(k > 0, s"kmin_sketch k must be positive, got $k")

  // SQL surface safety: a public aggregate must fail at ANALYSIS time
  // on a non-integral input, not with an opaque ClassCastException in
  // update(). (ImplicitCastInputTypes would be the idiomatic route but
  // AbstractDataType is private[sql]; explicit check + Number widening
  // in update() covers the same ground with public API only.)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmin_sketch requires an integral hash column, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): KMinBuffer = new KMinBuffer(k)

  override def update(b: KMinBuffer, input: InternalRow): KMinBuffer = {
    val v = child.eval(input)
    // Number.longValue widens byte/short/int hashes (checkInputDataTypes
    // guarantees an integral child, so this never truncates).
    if (v != null) b.insert(v.asInstanceOf[Number].longValue)
    b
  }

  override def merge(b: KMinBuffer, o: KMinBuffer): KMinBuffer = {
    val it = o.set.iterator()
    while (it.hasNext) b.insert(it.next())
    b
  }

  override def eval(b: KMinBuffer): Any = {
    val arr = new Array[Long](b.set.size)
    var i = 0
    val it = b.set.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(b: KMinBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * b.set.size)
    bb.putInt(b.set.size)
    val it = b.set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KMinBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new KMinBuffer(k)
    var i = 0
    while (i < n) { b.set.add(bb.getLong); i += 1 }
    b
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmin_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): KMinSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KMinSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KMinSketch =
    copy(child = newChild)
}

object KMinSketch {
  /** The aggregate: sorted array<bigint> of the k smallest distinct
    * values of integral column `h` in each group (see the class doc).
    */
  def col(h: Column, k: Int): Column =
    GraftSqlBridge.column(KMinSketch(GraftSqlBridge.expression(h), k).toAggregateExpression())

  private[functions] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, s"kmin_sketch takes (hash, k), got ${exprs.length}")
    KMinSketch(exprs.head, VectorExpressions.longLiteral(exprs(1), "kmin_sketch", "k").toInt)
  }
}
