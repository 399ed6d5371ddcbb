package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding hot path: fused
  * float-array dot product in DOUBLE, left-to-right accumulation.
  * Either side may also be an array<double> (a dequantized vector):
  * its elements enter the products as they are, float elements are
  * widened to double first.
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
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_f32 needs two array<float> or array<double> args, got ${left.dataType} / ${right.dataType}")
    }
  }

  override def nullable: Boolean = true

  private def doubles(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType
  @transient private lazy val leftDoubles = doubles(left)
  @transient private lazy val rightDoubles = doubles(right)

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
        s += (if (leftDoubles) x.getDouble(i) else x.getFloat(i).toDouble) *
          (if (rightDoubles) y.getDouble(i) else y.getFloat(i).toDouble)
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
      def elem(arr: String, isDouble: Boolean) =
        if (isDouble) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${elem(a, leftDoubles)} * ${elem(b, rightDoubles)};
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_f32"
}

object DotF32 {
  /** `a · b` of two array<float> (or array<double>) columns, in DOUBLE. */
  def col(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotF32(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  private[functions] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, s"dot_f32 takes 2 args, got ${exprs.length}")
    DotF32(exprs.head, exprs(1))
  }
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

object SqDistI64 {
  /** Squared L2 distance of two array<bigint> columns (see the class doc). */
  def col(a: Column, b: Column): Column =
    GraftSqlBridge.column(SqDistI64(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  private[functions] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 2, s"sq_dist_i64 takes 2 args, got ${exprs.length}")
    SqDistI64(exprs.head, exprs(1))
  }
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
  /** The rolling hash of string column `s` (see the class doc). */
  def col(s: Column, base: Long = 31L, mod: Long = 1000000007L): Column =
    GraftSqlBridge.column(PolyHash(GraftSqlBridge.expression(s), base, mod))

  private[functions] val builder: Seq[Expression] => Expression = exprs => {
    require(exprs.length == 1 || exprs.length == 3,
      s"poly_hash takes 1 arg or (str, base, mod), got ${exprs.length}")
    if (exprs.length == 1) PolyHash(exprs.head)
    else PolyHash(exprs.head, VectorExpressions.longLiteral(exprs(1), "poly_hash", "base"),
      VectorExpressions.longLiteral(exprs(2), "poly_hash", "mod"))
  }

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
  /** An integer-literal argument of a SQL call (k, base, mod): the SQL
    * form of a plan-time constant that the Column constructors take as a
    * Scala value.
    */
  private[functions] def longLiteral(e: Expression, fn: String, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(s"$fn $what must be an integer literal, got $other")
  }

  /** The ONE table of the graft native functions' SQL names, classes and
    * builders, read by both [[register]] and [[GraftExtensions]].
    */
  private[functions] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      ("dot_f32", classOf[DotF32], DotF32.builder),
      ("sq_dist_i64", classOf[SqDistI64], SqDistI64.builder),
      ("poly_hash", classOf[PolyHash], PolyHash.builder),
      ("minhash_signature", classOf[MinHashSignature], MinHashSignature.builder),
      ("kmin_sketch", classOf[KMinSketch], KMinSketch.builder),
      ("topk_sketch", classOf[TopKSketch], TopKSketch.builder)
    ).map { case (name, cls, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    }

  /** Register the graft native functions in the session's function
    * registry so SQL strings (`spark.sql`, `expr`, `selectExpr`) can
    * name them. Only SQL clients need it: library code builds the
    * kernels as Columns (`DotF32.col`, `PolyHash.col`, …), which resolve
    * in any session. Idempotent: a name already registered is left alone.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
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
    VectorExpressions.functions.foreach(e.injectFunction)
    e.injectCheckRule(s => graft.plans.ProductGuard.check(s))
    // whole-operator extension: the distributed prefix-sum planner
    // strategy (graft.plans.PrefixSumExec) — SQL-only clients get the
    // operator when a rule/DF builder emits its logical node
    e.injectPlannerStrategy(_ => graft.plans.PrefixSumStrategy)
  }
}
