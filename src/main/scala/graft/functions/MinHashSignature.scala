package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document MinHash signature: one document's shingle array
  * in, the k permutation minima out, in one pass over its elements —
  * the per-record map the reference's `@dca.vectorize_method` applies
  * to a batch, where the relational form exploded every shingle into a
  * row, shuffled by document and aggregated k `min` columns.
  *
  * Permutation i maps a raw 64-bit shingle hash h to
  * `(a(i) · (h mod P) + b(i)) mod P` with P = 2³¹−1 and the fixed LCG
  * constants of [[MinHashSignature.a]]/[[MinHashSignature.b]]; entry i
  * is the minimum over the document's shingles. The hash `family`
  * turns a shingle into h:
  *   - `xxhash64`: Spark's `xxhash64` with seed 42 (array<string>);
  *   - `portable60`: `poly_hash(s) + poly_hash(s, 37, 1073741789) · 2³⁰`,
  *     the engine-portable hash of `Dedup.portableHash60` (array<string>);
  *   - `none`: the elements already are raw hashes (array<bigint>).
  *
  * NULL elements are skipped; a NULL or empty array (no shingle) yields
  * NULL, so that document gets no band rows — as an explode of the
  * empty array yielded no rows before. SQL form:
  * `minhash_signature(values, k, family)` with literal k and family.
  */
case class MinHashSignature(child: Expression, k: Int, family: String) extends UnaryExpression {

  @transient private lazy val familyId: Int = MinHashSignature.Families.indexOf(family)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val elem = if (familyId == MinHashSignature.NoHash) LongType else StringType
    if (familyId < 0) TypeCheckResult.TypeCheckFailure(
      s"minhash_signature family must be one of ${MinHashSignature.Families.mkString(", ")}, got '$family'")
    else if (k < 1 || k > MinHashSignature.MaxK) TypeCheckResult.TypeCheckFailure(
      s"minhash_signature k must be in 1..${MinHashSignature.MaxK}, got $k")
    else child.dataType match {
      case ArrayType(`elem`, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_signature family '$family' needs an array<${elem.simpleString}>, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], k, familyId)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashSignature.signature($c, $k, $familyId);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  /** Prime modulus of the permutations: fits 31 bits, so a·h+b stays
    * within a Long.
    */
  val P: Long = 2147483647L
  /** Largest signature length; the permutation constants are tabled. */
  val MaxK: Int = 1024

  private[functions] val Families = Vector("xxhash64", "portable60", "none")
  private val XxHash64 = 0 // then 1: portable60
  private val NoHash = 2

  /** Permutation i's constants (public LCG constants). */
  def a(i: Int): Long = 1L + 2L * ((1103515245L * i + 12345L) % (P / 4))
  def b(i: Int): Long = java.lang.Math.floorMod(6364136223846793005L * i + 1442695040888963407L, P)

  private val A = Array.tabulate(MaxK)(a)
  private val B = Array.tabulate(MaxK)(b)

  /** An empty signature of length k (every entry above any minimum). */
  def empty(k: Int): Array[Long] = Array.fill(k)(Long.MaxValue)

  /** The one scalar loop: fold raw shingle hash `h` into `sig`. */
  def update(sig: Array[Long], h: Long): Unit = {
    val f = java.lang.Math.floorMod(h, P)
    var i = 0
    while (i < sig.length) {
      val v = (A(i) * f + B(i)) % P // a < P/2, f < P: no overflow, v >= 0
      if (v < sig(i)) sig(i) = v
      i += 1
    }
  }

  /** Raw hash of one shingle under a string family. */
  private def hash(s: UTF8String, family: Int): Long =
    if (family == XxHash64) XxHash64Function.hash(s, StringType, 42L)
    else PolyHash.hash(s, 31L, 1000000007L) + PolyHash.hash(s, 37L, 1073741789L) * 1073741824L

  /** Signature of one document's array; NULL when it has no non-NULL
    * element. Called by the generated code.
    */
  def signature(values: ArrayData, k: Int, family: Int): ArrayData = {
    val sig = empty(k)
    var seen = false
    val n = values.numElements()
    var j = 0
    while (j < n) {
      if (!values.isNullAt(j)) {
        update(sig, if (family == NoHash) values.getLong(j) else hash(values.getUTF8String(j), family))
        seen = true
      }
      j += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(sig) else null
  }

  /** The k-entry signature of each row's shingle array `values` under
    * hash `family` (see the class doc).
    */
  def col(values: Column, k: Int, family: String): Column =
    GraftSqlBridge.column(MinHashSignature(GraftSqlBridge.expression(values), k, family))

  private[functions] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 3,
      s"minhash_signature takes (values, k, family), got ${exprs.length} args")
    (exprs(1), exprs(2)) match {
      case (Literal(k: Int, _), Literal(family: UTF8String, _)) =>
        MinHashSignature(exprs.head, k, family.toString)
      case (k, family) => throw new IllegalArgumentException(
        s"minhash_signature needs an int literal k and a string literal family, got $k, $family")
    }
  }
}
