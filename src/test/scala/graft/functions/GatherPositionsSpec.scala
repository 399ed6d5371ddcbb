package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Expression, Multiply}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.SparkTestBase

/** The two kernels behind DcaFrame's compile-free index arithmetic:
  * `gather_positions` (driver-held index lists as a table the generated
  * code reads) and `param` (a bigint constant the generated code reads
  * instead of inlining). Each one evaluates the same interpreted and
  * generated.
  */
class GatherPositionsSpec extends SparkTestBase {
  private def ref(i: Int) = BoundReference(i, LongType, nullable = true)

  /** `e` over `row`, interpreted and through a generated projection;
    * the two must agree.
    */
  private def both(e: Expression, row: InternalRow): Option[Any] = {
    val interpreted = Option(e.eval(row))
    val generated = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
    val g = if (generated.isNullAt(0)) None else Some(generated.get(0, e.dataType))
    assert(g.map(_.toString) == interpreted.map(_.toString), s"$e over $row")
    interpreted
  }

  // position k takes (lists(0)(k), lists(1)(k)) over a (4, 3) batch
  private val table = GatherPositions.Table(Seq(4L, 3L),
    Seq(Seq(1L, 3L, 1L, 0L, 1L), Seq(2L, 0L, 2L, 0L, 2L)))
  private val gp = GatherPositions(Seq(ref(0), ref(1)), table)

  private def positions(i: java.lang.Long, j: java.lang.Long): Option[Seq[Long]] =
    both(gp, InternalRow(i, j)).map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq)

  test("gather_positions: repeats, composite keys, absent and NULL keys") {
    assert(positions(1L, 2L) == Some(Seq(0L, 2L, 4L)), "a repeated key lists every position")
    assert(positions(3L, 0L) == Some(Seq(1L)))
    assert(positions(0L, 0L) == Some(Seq(3L)))
    // (1, 0) shares an axis value with named keys but is not one
    assert(positions(1L, 0L).isEmpty && positions(2L, 2L).isEmpty, "an absent key gives no row")
    assert(positions(null, 2L).isEmpty && positions(1L, null).isEmpty, "a NULL index gives no row")
    // (0, 5) would linearize to (1, 2)'s key: out-of-range folds to none
    assert(positions(0L, 5L).isEmpty && positions(-1L, 2L).isEmpty)
    intercept[IllegalArgumentException](GatherPositions.Table(Seq(4L), Seq(Seq(4L))))
  }

  test("explode(gather_positions) gathers a frame, one row per named position") {
    val df = spark.range(12).select((col("id") / 3).cast(LongType).as("i"), (col("id") % 3).as("j"))
    val got = df.select(col("i"), col("j"),
        explode(GatherPositions.col(Seq(col("i"), col("j")), table)).as("k"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1)))).sortBy(_._1).toSeq
    assert(got == Seq(0L -> (1L, 2L), 1L -> (3L, 0L), 2L -> (1L, 2L), 3L -> (0L, 0L), 4L -> (1L, 2L)))
  }

  test("param: interpreted equals codegen, and it is not constant-folded") {
    assert(!Param(5L).foldable)
    val e = Add(ref(0), Multiply(Param(7L), Param(-3L)))
    assert(both(e, InternalRow(10L)) == Some(-11L))
    assert(both(e, InternalRow(null)).isEmpty)
    val plan = spark.range(4).select((col("id") + Param.col(5L) * lit(2L)).as("v"))
      .queryExecution.optimizedPlan
    assert(plan.expressions.exists(_.exists(_.isInstanceOf[Param])), plan)
  }

  test("param: plans that differ only in a param share one compiled class") {
    def run(c: org.apache.spark.sql.Column): Seq[Long] =
      spark.range(5).select((col("id") * c + 1).as("v")).collect().map(_.getLong(0)).toSeq
    val fresh = System.nanoTime() % 100000L + 1000L
    assert(run(Param.col(fresh)) == (0L until 5L).map(_ * fresh + 1))
    val added = compilesOf {
      (1L to 5L).foreach(k => assert(run(Param.col(fresh + k)) == (0L until 5L).map(_ * (fresh + k) + 1)))
    }
    assert(added == 0L, s"fresh params compiled $added classes")
    // a literal is inlined: the same plans with lit() compile per value
    assert(compilesOf { run(lit(fresh + 6)); () } > 0L)
  }
}
