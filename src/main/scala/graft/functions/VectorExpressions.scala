package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding hot path: fused
  * float-array dot product in DOUBLE, left-to-right accumulation.
  *
  * Why not `aggregate(zip_with(...))`: the higher-order-function chain
  * allocates an intermediate array per row and evaluates a lambda per
  * element through `ArrayData` boxing; this expression is a tight
  * primitive loop inside whole-stage codegen — the (b)-tier of the
  * custom-operator preference order (custom `Expression` before custom
  * plan nodes).
  *
  * The accumulation order matches the HOF formulation and the DuckDB
  * oracle's `list_reduce` exactly, so results stay bit-identical.
  */
case class DotF32(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_f32 needs two array<float> args, got ${left.dataType} / ${right.dataType}")
    }
  }

  override def nullable: Boolean = true

  /** NULL on length mismatch OR any NULL element — identical to the
    * HOF formulation (`aggregate(zip_with(a, b, ...))`): zip_with
    * null-pads the shorter array, and a NULL element poisons the sum.
    * A silent partial dot product would let a corrupt vector score
    * finitely.
    */
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_f32"
}

/** Native codegen'd integer squared-L2 distance between two
  * array<long> vectors — the k-means hot path
  * ([[graft.operators.Clustering]]): evaluated k times per row per
  * iteration, where the `aggregate(zip_with(...))` formulation
  * allocates an intermediate array and boxes every element. Exact
  * integer arithmetic, so swapping it in changes nothing the oracle
  * can see. NULL on length mismatch or any NULL element, like
  * [[DotF32]].
  */
case class SqDistI64(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sq_dist_i64 needs two array<bigint> args, got ${left.dataType} / ${right.dataType}")
    }
  }

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0L
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val d = x.getLong(i) - y.getLong(i)
        s += d * d
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sq_dist_i64"
}

/** Native codegen'd polynomial rolling hash over a string's characters:
  * acc = (acc * base + codepoint) mod `mod`, left-to-right
  * (defaults base=31, mod=1e9+7).
  *
  * Replaces the HOF formulation
  * `aggregate(transform(sequence(1, length(s)), i -> ascii(substr(s,i,1))), ...)`
  * whose per-character `substr` re-scans the string (O(n²) per row) and
  * allocates an index array. This is a single O(n) pass over the bytes
  * (== codepoints for ASCII; multi-byte UTF-8 falls back to codepoint
  * iteration for identical semantics).
  *
  * `base`/`mod` are plan-time constants (SQL form:
  * `poly_hash(s, base, mod)` with literal ints) so two independent
  * hashes can be combined into a wider engine-portable hash — see
  * [[graft.operators.Dedup.portableHash60]].
  */
case class PolyHash(child: Expression, base: Long = 31L, mod: Long = 1000000007L)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"poly_hash needs a string arg, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c, ${base}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "poly_hash"
}

object PolyHash {
  /** O(n) over bytes for pure-ASCII strings; codepoint loop otherwise. */
  def hash(s: org.apache.spark.unsafe.types.UTF8String, base: Long, mod: Long): Long = {
    val bytes = s.getBytes
    var ascii = true
    var i = 0
    while (i < bytes.length && ascii) { if (bytes(i) < 0) ascii = false; i += 1 }
    var acc = 0L
    if (ascii) {
      i = 0
      while (i < bytes.length) { acc = (acc * base + bytes(i)) % mod; i += 1 }
    } else {
      val str = s.toString
      i = 0
      while (i < str.length) { acc = (acc * base + str.codePointAt(i)) % mod; i += str.offsetByCodePoints(i, 1) - i }
    }
    acc
  }

  def hash(s: org.apache.spark.unsafe.types.UTF8String): Long = hash(s, 31L, 1000000007L)
}

object VectorExpressions {
  private[functions] val dotF32Builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, s"dot_f32 takes 2 args, got ${exprs.length}")
    DotF32(exprs.head, exprs(1))
  }

  private[functions] val sqDistI64Builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, s"sq_dist_i64 takes 2 args, got ${exprs.length}")
    SqDistI64(exprs.head, exprs(1))
  }

  private[functions] val polyHashBuilder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1 || exprs.length == 3,
      s"poly_hash takes 1 arg or (str, base, mod), got ${exprs.length}")
    if (exprs.length == 1) PolyHash(exprs.head)
    else {
      def longLit(e: Expression, what: String): Long = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
        case other => throw new IllegalArgumentException(
          s"poly_hash $what must be an integer literal, got $other")
      }
      PolyHash(exprs.head, longLit(exprs(1), "base"), longLit(exprs(2), "mod"))
    }
  }

  /** Register the graft native functions in the session's function
    * registry so they are usable from `expr(...)` and SQL. Idempotent:
    * a name already registered is left alone, so operators may call
    * this per invocation.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def add(name: String, cls: Class[_], builder: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.registerFunction(FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    add("dot_f32", classOf[DotF32], dotF32Builder)
    add("sq_dist_i64", classOf[SqDistI64], sqDistI64Builder)
    add("poly_hash", classOf[PolyHash], polyHashBuilder)
    add("minhash_signature", classOf[MinHashSignature], MinHashSignature.builder)
    add("kmin_sketch", classOf[KMinSketch], KMinSketch.builder)
    add("topk_sketch", classOf[TopKSketch], TopKSketch.builder)
  }
}

/** Session-extension wiring for deployments that build their session via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (e.g.
  * spark-submit on a cluster): injects the graft native functions at
  * session build, so every session — including SQL-only clients — sees
  * them without calling [[VectorExpressions.register]], plus the
  * opt-in [[graft.plans.ProductGuard]] analysis check.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotF32].getName, "dot_f32"),
      VectorExpressions.dotF32Builder))
    e.injectFunction((
      FunctionIdentifier("sq_dist_i64"),
      new ExpressionInfo(classOf[SqDistI64].getName, "sq_dist_i64"),
      VectorExpressions.sqDistI64Builder))
    e.injectFunction((
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      VectorExpressions.polyHashBuilder))
    e.injectFunction((
      FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      MinHashSignature.builder))
    e.injectFunction((
      FunctionIdentifier("kmin_sketch"),
      new ExpressionInfo(classOf[KMinSketch].getName, "kmin_sketch"),
      KMinSketch.builder))
    e.injectFunction((
      FunctionIdentifier("topk_sketch"),
      new ExpressionInfo(classOf[TopKSketch].getName, "topk_sketch"),
      TopKSketch.builder))
    e.injectCheckRule(s => graft.plans.ProductGuard.check(s))
    // whole-operator extension: the distributed prefix-sum planner
    // strategy (graft.plans.PrefixSumExec) — SQL-only clients get the
    // operator when a rule/DF builder emits its logical node
    e.injectPlannerStrategy(_ => graft.plans.PrefixSumStrategy)
  }
}
