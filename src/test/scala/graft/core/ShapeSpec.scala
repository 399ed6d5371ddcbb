package graft.core

import org.scalatest.funsuite.AnyFunSuite

class ShapeSpec extends AnyFunSuite {
  import Shape._

  test("size and strides") {
    assert(size(Vector()) == 1L)
    assert(size(Vector(3, 2)) == 6L)
    assert(strides(Vector(3, 2, 4)) == Vector(8L, 4L, 1L))
    assert(strides(Vector()) == Vector())
  }

  test("resolveReshape with -1 and errors") {
    assert(resolveReshape(Vector(3, 2), Seq(6)) == Vector(6L))
    assert(resolveReshape(Vector(3, 2), Seq(-1, 3)) == Vector(2L, 3L))
    assert(resolveReshape(Vector(6), Seq(2, 3)) == Vector(2L, 3L))
    intercept[IllegalArgumentException](resolveReshape(Vector(3, 2), Seq(4)))
    intercept[IllegalArgumentException](resolveReshape(Vector(3, 2), Seq(-1, -1)))
    intercept[IllegalArgumentException](resolveReshape(Vector(6), Seq(-1, 4)))
  }

  test("axis normalization") {
    assert(toAbsoluteAxis(-1, 3) == 2)
    assert(toAbsoluteAxis(0, 3) == 0)
    intercept[IllegalArgumentException](toAbsoluteAxis(3, 3))
    assert(toAbsoluteAxisInsert(-1, 2) == 2)
    assert(toAbsoluteAxisInsert(2, 2) == 2)
    intercept[IllegalArgumentException](toAbsoluteAxisInsert(4, 2))
  }

  test("numpy broadcast") {
    assert(broadcast(Vector(3, 1), Vector(2)) == Vector(3L, 2L))
    assert(broadcast(Vector(), Vector(4)) == Vector(4L))
    intercept[IllegalArgumentException](broadcast(Vector(3), Vector(4)))
  }

  // Broadcast rules from README.md:137-147 / vectorization_test.py:39-107
  test("vectorizeBatch: reference rule table") {
    assert(vectorizeBatch(Vector(), Vector(5)) == (Vector(), Vector(5L)))
    assert(vectorizeBatch(Vector(4), Vector(1, 7)) == (Vector(4L), Vector(7L)))
    assert(vectorizeBatch(Vector(1, 2, 3), Vector(5, 1, 1, 9)) == (Vector(5L, 2L, 3L), Vector(9L)))
    // (a,*x) @ (b,*x) -> error
    intercept[IllegalArgumentException](vectorizeBatch(Vector(4), Vector(5)))
    // arg rank < self rank -> error (vectorization_test.py:109-145)
    intercept[IllegalArgumentException](vectorizeBatch(Vector(2, 3), Vector(6)))
  }
}

class ShapeParserSpec extends AnyFunSuite {
  test("batch prefix + dims") {
    assert(ShapeParser.innerShape("...") == Vector())
    assert(ShapeParser.innerShape("*batch_shape") == Vector())
    assert(ShapeParser.innerShape("... 3") == Vector(Dim.Static(3)))
    assert(ShapeParser.innerShape("*batch 3 _") == Vector(Dim.Static(3), Dim.Dynamic))
    assert(ShapeParser.innerShape("... h w 3") ==
      Vector(Dim.Named("h"), Dim.Named("w"), Dim.Static(3)))
  }
  test("malformed strings raise") {
    intercept[IllegalArgumentException](ShapeParser.innerShape("3 4"))     // no batch prefix
    intercept[IllegalArgumentException](ShapeParser.innerShape(""))
    intercept[IllegalArgumentException](ShapeParser.innerShape("... 3 +"))
  }
}

/** Oracle-differenced indexing tests: compare [[Indexing]] against a
  * local Scala model of python list slicing (mirrors the reference's
  * use of raw-numpy oracle differencing, `array_dataclass_test.py:459-494`).
  */
class IndexingSpec extends AnyFunSuite {
  import Indexing._

  private def pySlice(n: Long, start: Option[Long], stop: Option[Long], step: Long): Seq[Long] = {
    // reference model: python range semantics, small n
    val idx = (0L until n).toVector
    val s = step
    def norm(v: Long) = if (v < 0) v + n else v
    if (s > 0) {
      val a = math.max(0L, math.min(n, start.map(norm).getOrElse(0L)))
      val b = math.max(0L, math.min(n, stop.map(norm).getOrElse(n)))
      idx.filter(i => i >= a && i < b && (i - a) % s == 0)
    } else {
      val a = math.max(-1L, math.min(n - 1, start.map(norm).getOrElse(n - 1)))
      val b = stop.map(v => math.max(-1L, math.min(n - 1, norm(v)))).getOrElse(-1L)
      (a to (b + 1) by s).toVector.filter(i => i >= 0 && i < n)
    }
  }

  test("slice resolution matches python semantics on a grid of cases") {
    val n = 7L
    val starts = Seq(None, Some(0L), Some(2L), Some(-2L), Some(10L), Some(-10L))
    val stops  = starts
    val steps  = Seq(1L, 2L, 3L, -1L, -2L)
    for (st <- starts; sp <- stops; k <- steps) {
      val res = resolve(Seq(Ix.S(st, sp, k)), Vector(n))
      val Vector((Some(`n`), Resolved.Slice(rs, rstep, rlen))) = res
      val got = (0L until rlen).map(j => rs + j * rstep)
      val want = pySlice(n, st, sp, k)
      assert(got == want, s"slice($st,$sp,$k) on n=$n: got $got want $want")
    }
  }

  test("int/ellipsis/newaxis resolution + errors") {
    val r = resolve(Seq(Ix.I(-1)), Vector(5))
    assert(r == Vector((Some(5L), Resolved.Int(4))))
    // p[..., 1] on (3,2): ellipsis expands to leading full slice
    val r2 = resolve(Seq(Ix.Ellipsis, Ix.I(1)), Vector(3, 2))
    assert(r2 == Vector((Some(3L), Resolved.Slice(0, 1, 3)), (Some(2L), Resolved.Int(1))))
    // p[None, :] inserts axis
    val r3 = resolve(Seq(Ix.NewAxis, Ix.All), Vector(4))
    assert(resultShape(r3) == Vector(1L, 4L))
    intercept[IllegalArgumentException](resolve(Seq(Ix.Ellipsis, Ix.Ellipsis), Vector(3)))
    intercept[IllegalArgumentException](resolve(Seq(Ix.I(0), Ix.I(0)), Vector(3)))
    intercept[IllegalArgumentException](resolve(Seq(Ix.I(7)), Vector(3)))
  }

  // ---- the index plan both engines execute ----

  private val A = Ix.A(_: Seq[Long])
  private val S = Ix.S(_: Option[Long], _: Option[Long], _: Long)

  test("plan: adjacent arrays zip in place") {
    // p[:, [0,2], [1,1]] on (4,3,5): the zipped dim replaces axes 1-2
    val p = plan(Seq(Ix.All, A(Seq(0, 2)), A(Seq(1, -4))), Vector(4, 3, 5))
    assert(p.ints.isEmpty)
    assert(p.axes == Vector(Axis.Slice(0, 0, 1, 4), Axis.Whole(1, 3), Axis.Whole(2, 5)))
    assert(p.interShape == Vector(4L, 3L, 5L))
    val Some(z) = p.zip
    assert(z.positions == Vector(1, 2) && z.lists == Vector(Vector(0L, 2L), Vector(1L, 1L)))
    assert(z.insertAt == 1 && z.kept == Vector(0) && p.shape == Vector(4L, 2L))
    assert((0 until 2).map(z.source) == Seq(Some(0), None))
  }

  test("plan: an Int between two arrays does not separate them") {
    // p[[0,1], 2, [3,4], :] on (2,3,5,6): numpy keeps the zipped dim in place
    val p = plan(Seq(A(Seq(0, 1)), Ix.I(2), A(Seq(3, 4)), Ix.All), Vector(2, 3, 5, 6))
    assert(p.ints == Vector((1, 2L)))
    assert(p.axes == Vector(Axis.Whole(0, 2), Axis.Whole(2, 5), Axis.Slice(3, 0, 1, 6)))
    val Some(z) = p.zip
    assert(z.positions == Vector(0, 1) && z.insertAt == 0 && z.kept == Vector(2))
    assert(p.shape == Vector(2L, 6L))
    // an Int next to one array on a later axis: in place, not the front
    val q = plan(Seq(Ix.All, Ix.I(1), A(Seq(0, 4, 4))), Vector(2, 3, 5))
    assert(q.zip.get.insertAt == 1 && q.shape == Vector(2L, 3L))
  }

  test("plan: a slice or newaxis between advanced items sends the zipped dim to the front") {
    // p[:, [0,1], :, [2,3]] on (7,3,4,5) -> (2, 7, 4)
    val p = plan(Seq(Ix.All, A(Seq(0, 1)), Ix.All, A(Seq(2, 3))), Vector(7, 3, 4, 5))
    val Some(z) = p.zip
    assert(z.insertAt == 0 && z.positions == Vector(1, 3) && z.kept == Vector(0, 2))
    assert(p.shape == Vector(2L, 7L, 4L))
    assert((0 until 3).map(z.source) == Seq(None, Some(0), Some(2)))
    // p[2, 1:3, [0,1,1]] on (3,4,5): the Int counts as advanced -> (3, 2)
    val q = plan(Seq(Ix.I(2), S(Some(1), Some(3), 1), A(Seq(0, 1, 1))), Vector(3, 4, 5))
    assert(q.ints == Vector((0, 2L)) && q.zip.get.insertAt == 0 && q.shape == Vector(3L, 2L))
    // p[[0,1], None, [1,2]] on (3,4): the newaxis separates -> (2, 1)
    val r = plan(Seq(A(Seq(0, 1)), Ix.NewAxis, A(Seq(1, 2))), Vector(3, 4))
    assert(r.axes == Vector(Axis.Whole(0, 3), Axis.New, Axis.Whole(1, 4)))
    assert(r.zip.get.insertAt == 0 && r.shape == Vector(2L, 1L))
  }

  test("plan: length-1 lists broadcast, mismatched lengths raise") {
    val p = plan(Seq(A(Seq(2)), A(Seq(0, 1, 3))), Vector(3, 4))
    assert(p.zip.get.lists == Vector(Vector(2L, 2L, 2L), Vector(0L, 1L, 3L)))
    assert(p.shape == Vector(3L))
    // (0,) broadcasts with (1,) to (0,)
    assert(plan(Seq(A(Seq()), A(Seq(1))), Vector(3, 4)).shape == Vector(0L))
    val e = intercept[IllegalArgumentException](plan(Seq(A(Seq(0, 1)), A(Seq(0, 1, 2))), Vector(3, 4)))
    assert(e.getMessage.contains("could not be broadcast together with lengths 2, 3"))
    // gatherAxis's zip: one list resolved in place, other axes kept
    val g = gatherZip(Seq(-1, 0), 1, Vector(2, 3, 4))
    assert(g.lists == Vector(Vector(2L, 0L)) && g.insertAt == 1 && g.kept == Vector(0, 2))
    assert(g.shape == Vector(2L, 2L, 4L))
    intercept[IllegalArgumentException](gatherZip(Seq(3), 1, Vector(2, 3)))
  }

  test("broadcast_to: padded leading axes, dim-1 replication, and a bad dim raises") {
    // (3,) -> (2,3): a new leading axis, the old axis kept
    assert(Shape.broadcastTo(Vector(3), Vector(2, 3)) == Vector(None, Some(0)))
    // (1,3) -> (4,3): the dim-1 axis replicates
    assert(Shape.broadcastTo(Vector(1, 3), Vector(4, 3)) == Vector(None, Some(1)))
    // a dim-1 axis that stays 1 keeps its source axis
    assert(Shape.broadcastTo(Vector(1, 3), Vector(5, 1, 3)) == Vector(None, Some(0), Some(1)))
    assert(Shape.broadcastTo(Vector(), Vector(2)) == Vector(None))
    intercept[IllegalArgumentException](Shape.broadcastTo(Vector(3), Vector(4)))
    intercept[IllegalArgumentException](Shape.broadcastTo(Vector(3), Vector(3, 1)))
    intercept[IllegalArgumentException](Shape.broadcastTo(Vector(2, 3), Vector(3)))
  }
}
