package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DcaFrame behavior vs a driver-side Scala model — mirrors the
  * reference's fixture matrix over shapes ()/(3,2)/(3,2,1,1)
  * (`array_dataclass_test.py:289-390`), on the Point fixture
  * (x,y scalars per batch element).
  */
class DcaFrameSpec extends SparkTestBase {
  import Indexing.Ix

  private val pointSchema = StructType(Seq(
    StructField("x", DoubleType), StructField("y", DoubleType)))

  /** Point batch with x = 0..n-1, y = 10*x, in order. */
  private def points(n: Int): DcaFrame =
    DcaFrame.fromLocal(spark,
      (0 until n).map(i => Row(i.toDouble, i * 10.0)), pointSchema)

  private def xs(f: DcaFrame): Seq[Double] =
    f.collectOrdered().map(_.getDouble(0)).toSeq

  /** Full (idx..., x) tuples ordered by index. */
  private def idxAndX(f: DcaFrame): Seq[(Seq[Long], Double)] =
    f.df.orderBy(f.idxCols.map(col): _*).collect().toSeq
      .map(r => (f.idxCols.map(c => r.getLong(r.fieldIndex(c))), r.getDouble(r.fieldIndex("x"))))

  test("fromLocal + shape metadata + len") {
    val p = points(6)
    assert(p.shape == Vector(6L) && p.size == 6L && p.length == 6L)
    assert(xs(p) == (0 until 6).map(_.toDouble))
  }

  test("reshape is index arithmetic preserving row-major order") {
    val p = points(6).reshape(3, 2)
    assert(p.shape == Vector(3L, 2L))
    // element (i,j) must be x = i*2 + j
    assert(idxAndX(p) == (for (i <- 0L until 3L; j <- 0L until 2L)
      yield (Seq(i, j), (i * 2 + j).toDouble)))
    // round trip through a different factorization — full-frame
    // equality (schema + shape + statics + values) via graft.testing
    graft.testing.FrameAssertions.assertFrameEqual(
      p.reshape(2, 3).flatten.reshape(3, 2), p)
    assert(xs(p.reshape(2, 3).flatten) == (0 until 6).map(_.toDouble))
    intercept[IllegalArgumentException](points(6).reshape(4, 2))
  }

  test("broadcastTo replicates dim-1 and new leading axes") {
    val p = points(3).reshape(1, 3).broadcastTo(Seq(2, 3))
    assert(p.shape == Vector(2L, 3L))
    assert(idxAndX(p) == (for (i <- 0L until 2L; j <- 0L until 3L)
      yield (Seq(i, j), j.toDouble)))
    val q = points(2).broadcastTo(Seq(3, 2)) // new leading axis
    assert(q.shape == Vector(3L, 2L) && q.size == 6L)
    intercept[IllegalArgumentException](points(3).broadcastTo(Seq(4)))
  }

  test("basic indexing: int, slice, stride, negative step, newaxis, ellipsis") {
    val p = points(6)
    assert(xs(p(Ix.I(2))) == Seq(2.0) && p(Ix.I(2)).shape == Vector())
    assert(xs(p(Ix.S(Some(1), Some(4)))) == Seq(1.0, 2.0, 3.0))
    assert(xs(p(Ix.S(None, None, 2))) == Seq(0.0, 2.0, 4.0))
    assert(xs(p(Ix.S(None, None, -1))) == Seq(5.0, 4.0, 3.0, 2.0, 1.0, 0.0))
    assert(xs(p(Ix.S(Some(-2), None))) == Seq(4.0, 5.0))
    val pn = p(Ix.NewAxis, Ix.All)
    assert(pn.shape == Vector(1L, 6L))
    val p2 = points(6).reshape(3, 2)
    assert(xs(p2(Ix.Ellipsis, Ix.I(1))) == Seq(1.0, 3.0, 5.0)) // p[..., 1]
    assert(p2(Ix.I(0)).shape == Vector(2L))
    // p[...] identity (array_dataclass_test.py:307)
    assert(xs(p2(Ix.Ellipsis)) == xs(p2))
  }

  test("einops reshape: transpose and regroup (S3)") {
    // (h w) -> w h : transpose of the (3,2) factorization
    val p = points(6).reshapeEinops("(h w) -> w h", "w" -> 2)
    assert(p.shape == Vector(2L, 3L))
    // element (w,h) = x at linear h*2+w
    assert(idxAndX(p) == (for (w <- 0L until 2L; h <- 0L until 3L)
      yield (Seq(w, h), (h * 2 + w).toDouble)))
    // identity regroup round-trip
    val q = points(12).reshape(3, 4)
      .reshapeEinops("a (b c) -> (a b) c", "b" -> 2)
    assert(q.shape == Vector(6L, 2L))
    assert(xs(q.flatten) == (0 until 12).map(_.toDouble)) // order preserved
    intercept[IllegalArgumentException](points(6).reshapeEinops("(h w) -> w h")) // w unknown
    intercept[IllegalArgumentException](points(6).reshapeEinops("a -> a b"))
    // duplicate right-side names would silently break the dense-index
    // invariant (declared size a^2, only a rows) — einops rejects too
    intercept[IllegalArgumentException](points(6).reshapeEinops("a -> a a"))
  }

  test("einops ellipsis expands against the concrete ndim") {
    // "... a -> a ..." on shape (2,3,2): ellipsis = leading (2,3)
    val p = points(12).reshape(2, 3, 2).reshapeEinops("... a -> a ...")
    assert(p.shape == Vector(2L, 2L, 3L))
    // element (a, e0, e1) = x at linear (e0*3 + e1)*2 + a
    assert(idxAndX(p) == (for (a <- 0L until 2L; i <- 0L until 2L; j <- 0L until 3L)
      yield (Seq(a, i, j), ((i * 3 + j) * 2 + a).toDouble)))
    // identity and grouped-ellipsis use
    assert(xs(points(6).reshape(3, 2).reshapeEinops("... -> ...").flatten) ==
      (0 until 6).map(_.toDouble))
    intercept[IllegalArgumentException](points(6).reshapeEinops("... a ... -> a"))
    intercept[IllegalArgumentException](points(6).reshapeEinops("a ... -> a"))
  }

  test("boolean mask filters and densely re-indexes (S7)") {
    val p = points(10)
    val m = p.mask(col("x") % 2 === 1)
    assert(m.shape == Vector(5L))
    assert(idxAndX(m) == Seq(0L, 1L, 2L, 3L, 4L).zip(Seq(1.0, 3.0, 5.0, 7.0, 9.0)).map { case (i, v) => (Seq(i), v) })
  }

  test("integer-array gather preserves order and repeats (S8)") {
    val p = points(5)
    val g = p.gather(Seq(3L, 0L, 3L, -1L))
    assert(g.shape == Vector(4L))
    assert(xs(g) == Seq(3.0, 0.0, 3.0, 4.0))
    intercept[IllegalArgumentException](p.gather(Seq(9L)))
  }

  test("distributed gather: index frame drives positions, repeats, negatives (S8b)") {
    val p = points(5)
    val idxSchema = StructType(Seq(StructField("src", LongType)))
    val idxF = DcaFrame.fromLocal(spark,
      Seq(Row(4L), Row(0L), Row(-2L), Row(4L)), idxSchema)
    val g = p.gather(idxF)
    assert(g.shape == Vector(4L))
    assert(xs(g) == Seq(4.0, 0.0, 3.0, 4.0))
    // N-D index frame: result shape = idx.shape ++ self.shape.tail
    val g2 = p.gather(idxF.reshape(2, 2))
    assert(g2.shape == Vector(2L, 2L))
    assert(idxAndX(g2) == Seq(
      (Seq(0L, 0L), 4.0), (Seq(0L, 1L), 0.0), (Seq(1L, 0L), 3.0), (Seq(1L, 1L), 4.0)))
    // out-of-bounds raises at evaluation (the check is fused into the
    // join key as raise_error: ONE evaluation of the index plan, so a
    // nondeterministic upstream can't pass an eager pre-check and then
    // silently drop rows in the join)
    def materializeRaises(idx: DcaFrame): Unit = {
      val e = intercept[Exception](p.gather(idx).df.collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("out of bounds")), s"unexpected error: $e")
    }
    materializeRaises(DcaFrame.fromLocal(spark, Seq(Row(5L)), idxSchema))
    materializeRaises(DcaFrame.fromLocal(spark, Seq(Row(-6L)), idxSchema))
    // NULL index values must raise, not silently drop in the join
    // (a dropped row would break the dense-index shape invariant)
    materializeRaises(DcaFrame.fromLocal(spark, Seq(Row(1L), Row(null)), idxSchema))
    // fractional index column must raise, not truncate
    val fracSchema = StructType(Seq(StructField("src", DoubleType)))
    intercept[IllegalArgumentException](
      p.gather(DcaFrame.fromLocal(spark, Seq(Row(2.5)), fracSchema)))
  }

  test("mixed advanced+basic indexing: p[idx_arr, 1:] and gatherAxis (S8c)") {
    val p = points(6).reshape(3, 2)
    // p[[2,0,2], 1:] -> shape (3, 1); row i of output = p[idx[i], 1]
    val m = p(Ix.A(Seq(2L, 0L, -1L)), Ix.S(Some(1), None))
    assert(m.shape == Vector(3L, 1L))
    assert(idxAndX(m) == Seq((Seq(0L, 0L), 5.0), (Seq(1L, 0L), 1.0), (Seq(2L, 0L), 5.0)))
    // gather along axis 1: p[:, [1, 0, 1]]
    val g = p(Ix.All, Ix.A(Seq(1L, 0L, 1L)))
    assert(g.shape == Vector(3L, 3L))
    assert(idxAndX(g).map(_._2) ==
      Seq(1.0, 0.0, 1.0, 3.0, 2.0, 3.0, 5.0, 4.0, 5.0))
    // ellipsis composes with the array index
    val e = p(Ix.Ellipsis, Ix.A(Seq(0L)))
    assert(e.shape == Vector(3L, 1L) && idxAndX(e).map(_._2) == Seq(0.0, 2.0, 4.0))
    intercept[IllegalArgumentException](p(Ix.A(Seq(3L)), Ix.All))
    // multiple advanced indices take the numpy DIAGONAL (zip): one
    // composite-key join, never sequential gathers (outer product)
    val dg = p(Ix.A(Seq(0L, 1L)), Ix.A(Seq(0L, 1L)))
    assert(dg.shape == Vector(2L))
    assert(idxAndX(dg).map(_._2) == Seq(0.0, 3.0))
    // a length-1 array broadcasts against the other (numpy rules)
    val db = p(Ix.A(Seq(2L, 0L, 2L)), Ix.A(Seq(1L)))
    assert(db.shape == Vector(3L))
    assert(idxAndX(db).map(_._2) == Seq(5.0, 1.0, 5.0))
    // mismatched (non-broadcastable) lengths still reject
    intercept[IllegalArgumentException](p(Ix.A(Seq(0L, 1L)), Ix.A(Seq(0L, 1L, 0L))))
    // (0,) broadcasts with (1,) to (0,) — numpy's per-dim rule, which
    // a max-length rule would wrongly reject
    val empty = p(Ix.A(Seq.empty[Long]), Ix.A(Seq(0L)))
    assert(empty.shape == Vector(0L) && idxAndX(empty).isEmpty)
  }

  test("diagonal gather grid matches the numpy zip model (S8d)") {
    // the reference's oracle grid (array_dataclass_test.py:459-494):
    // p[arr0, arr1] over a (4,3) batch — zip after broadcast, value at
    // (i,j) is x = i*3 + j; negatives resolve per axis
    val p = points(12).reshape(4, 3)
    val arrs0 = Seq(Seq(0L), Seq(3L, 0L), Seq(1L, -1L, 1L), Seq(-4L, 2L))
    val arrs1 = Seq(Seq(0L), Seq(2L, -3L), Seq(1L))
    for (a0 <- arrs0; a1 <- arrs1
         if a0.length == a1.length || a0.length == 1 || a1.length == 1) {
      val len = math.max(a0.length, a1.length)
      val e0 = (if (a0.length == len) a0 else Seq.fill(len)(a0.head))
        .map(i => if (i < 0) i + 4 else i)
      val e1 = (if (a1.length == len) a1 else Seq.fill(len)(a1.head))
        .map(j => if (j < 0) j + 3 else j)
      val want = e0.zip(e1).map { case (i, j) => (i * 3 + j).toDouble }
      val got = p(Ix.A(a0), Ix.A(a1))
      assert(got.shape == Vector(len.toLong), s"shape for $a0 / $a1")
      assert(idxAndX(got).map(_._2) == want, s"values for $a0 / $a1")
    }
    // the zipped gather is one generator over the source: no join, no
    // leaf but the fromLocal source's RDD, and one job
    def optimized(f: DcaFrame): LogicalPlan = f.df.queryExecution.optimizedPlan
    def rddIds(l: LogicalPlan): Set[Int] = l.collectLeaves().collect { case r: LogicalRDD => r.rdd.id }.toSet
    val zipped = p(Ix.A(Seq(3L, 0L)), Ix.A(Seq(2L, -3L)))
    val plan = optimized(zipped)
    assert(plan.collectFirst { case j: Join => j }.isEmpty, plan)
    assert(plan.collectLeaves().forall(_.isInstanceOf[LogicalRDD]), plan)
    assert(rddIds(plan) == rddIds(optimized(p)), plan)
    assert(jobsOf { zipped.df.collect(); () } == 1L)
    // an Int between two advanced indices vanishes -> still adjacent
    val q = points(24).reshape(4, 2, 3)
    val mid = q(Ix.A(Seq(1L, 3L)), Ix.I(1L), Ix.A(Seq(0L, 2L)))
    assert(mid.shape == Vector(2L))
    assert(idxAndX(mid).map(_._2) == Seq((1 * 6 + 1 * 3 + 0).toDouble, (3 * 6 + 1 * 3 + 2).toDouble))
  }

  test("slice-separated advanced indices move result dims to the front (S8f)") {
    // numpy's two-case placement rule: q[arr0, :, arr1] zips the arrays
    // and puts the broadcast dim FIRST, the sliced axis after —
    // np.index_exp[arr, :, arr] from the reference grid
    // (array_dataclass_test.py:459-494); value at (i,j,k) is i*6+j*3+k
    val q = points(24).reshape(4, 2, 3)
    val sep = q(Ix.A(Seq(1L, 3L)), Ix.All, Ix.A(Seq(0L, 2L)))
    assert(sep.shape == Vector(2L, 2L))
    assert(idxAndX(sep).map(_._2) ==
      Seq(6.0, 9.0, 20.0, 23.0)) // (k,j) -> q[a0(k), j, a1(k)]
    // grid over broadcastable array pairs, same model as the S8d grid:
    // result (k, j) = q[e0(k), j, e2(k)] with dims (len, 2)
    val arrs0 = Seq(Seq(0L), Seq(3L, 0L), Seq(1L, -1L, 1L))
    val arrs2 = Seq(Seq(0L), Seq(2L, -3L), Seq(1L))
    for (a0 <- arrs0; a2 <- arrs2
         if a0.length == a2.length || a0.length == 1 || a2.length == 1) {
      val len = math.max(a0.length, a2.length)
      val e0 = (if (a0.length == len) a0 else Seq.fill(len)(a0.head))
        .map(i => if (i < 0) i + 4 else i)
      val e2 = (if (a2.length == len) a2 else Seq.fill(len)(a2.head))
        .map(k => if (k < 0) k + 3 else k)
      val want = for (z <- 0 until len; j <- 0 until 2)
        yield (e0(z) * 6 + j * 3 + e2(z)).toDouble
      val got = q(Ix.A(a0), Ix.All, Ix.A(a2))
      assert(got.shape == Vector(len.toLong, 2L), s"shape for $a0 / $a2")
      assert(idxAndX(got).map(_._2) == want, s"values for $a0 / $a2")
    }
    // a bare int COUNTS as an advanced index for placement: q[2, :, arr]
    // is separated, so numpy yields (len, 2), NOT (2, len)
    val intSep = q(Ix.I(2L), Ix.All, Ix.A(Seq(0L, 1L)))
    assert(intSep.shape == Vector(2L, 2L))
    assert(idxAndX(intSep).map(_._2) == Seq(12.0, 15.0, 13.0, 16.0))
    // newaxis separates too: q[arr, None, arr] -> (len, 1, 3)
    val nx = q(Ix.A(Seq(1L)), Ix.NewAxis, Ix.A(Seq(1L)))
    assert(nx.shape == Vector(1L, 1L, 3L))
    assert(idxAndX(nx).map(_._2) == Seq(9.0, 10.0, 11.0))
    // broadcast still applies across the separation; negatives resolve
    val bc = q(Ix.A(Seq(-1L)), Ix.All, Ix.A(Seq(0L, 2L)))
    assert(bc.shape == Vector(2L, 2L))
    assert(idxAndX(bc).map(_._2) == Seq(18.0, 21.0, 20.0, 23.0))
    // non-broadcastable lengths still reject in the separated form
    intercept[IllegalArgumentException](
      q(Ix.A(Seq(0L, 1L)), Ix.All, Ix.A(Seq(0L, 1L, 2L))))
  }

  test("vectorizeZip: extra trailing dims broadcast (V2)") {
    // (b,) @ (1,*x) -> (b,*x): self (3,), arg (1,2)
    val self = points(3)
    val arg = points(2).mapField(c => c + lit(100.0)).reshape(1, 2)
    val z = self.vectorizeZip(arg)
    assert(z.shape == Vector(3L, 2L))
    assert(z.arrayCols == Vector("x", "y", "x_r", "y_r"))
    val rows = z.df.orderBy(z.idxCols.map(col): _*)
      .select(col("x"), col("x_r")).collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(rows == Seq((0.0, 100.0), (0.0, 101.0), (1.0, 100.0), (1.0, 101.0),
      (2.0, 100.0), (2.0, 101.0)))
    // (1,h) @ (b,1,*x) -> (b,h,*x): self (1,2), arg (3,1,2)
    val self2 = points(2).reshape(1, 2)
    val arg2 = points(6).mapField(c => c + lit(100.0)).reshape(3, 1, 2)
    val z2 = self2.vectorizeZip(arg2)
    assert(z2.shape == Vector(3L, 2L, 2L))
    // element (b, h, x) pairs self[0, h] with arg[b, 0, x]
    val xz = z2.df.orderBy(z2.idxCols.map(col): _*)
      .select(col("x"), col("x_r")).collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(xz == Seq(
      (0.0, 100.0), (0.0, 101.0), (1.0, 100.0), (1.0, 101.0),
      (0.0, 102.0), (0.0, 103.0), (1.0, 102.0), (1.0, 103.0),
      (0.0, 104.0), (0.0, 105.0), (1.0, 104.0), (1.0, 105.0)))
    // rank errors: arg rank < self rank; incompatible leading dims
    intercept[IllegalArgumentException](points(3).reshape(3, 1).vectorizeZip(points(3)))
    intercept[IllegalArgumentException](points(3).vectorizeZip(points(4)))
  }

  test("statics-only frame: shape algebra without array columns") {
    val p = DcaFrame.staticOnly(spark, Vector(2L, 3L), Map("k" -> 7))
    assert(p.shape == Vector(2L, 3L) && p.arrayCols.isEmpty && p.statics("k") == 7)
    assert(p.reshape(3, 2).shape == Vector(3L, 2L))
    assert(p.broadcastTo(Seq(4, 2, 3)).shape == Vector(4L, 2L, 3L))
    assert(p(Ix.I(1)).shape == Vector(3L))
    val s = DcaFrame.stack(Seq(p, p.replaceStatic("k", 8)))
    assert(s.shape == Vector(2L, 2L, 3L) && s.statics("k") == 7) // first wins
    assert(p.df.count() == 6L) // the index lattice is materialized
  }

  test("non-init static fields forward through replace/vectorize/tree_map " +
      "(vectorization_test.py:148-190)") {
    // the reference's DataclassWithNonInit: data field y = [1, 0, 0],
    // non-init static x defaulting to 1
    val a0 = DcaFrame.fromLocal(spark,
        Seq(Row(1.0), Row(0.0), Row(0.0)),
        StructType(Seq(StructField("y", DoubleType))))
      .replaceStatic("x", 1)
    assert(a0.shape == Vector(3L) && a0.statics("x") == 1)
    // `a.replace(x=5)`: static update, shape untouched
    val a1 = a0.replaceStatic("x", 5)
    assert(a1.shape == Vector(3L) && a1.statics("x") == 5)
    // `a.replace(y=a.y + 1)`: DATA update forwards the static untouched
    val a2 = a1.replaceField("y", col("y") + lit(1.0))
    assert(a2.shape == Vector(3L) && a2.statics("x") == 5)
    // `jax.tree_util.tree_map(lambda x: x, a)`: leaf-wise projection
    val a3 = a2.mapFieldNested(c => c)
    assert(a3.shape == Vector(3L) && a3.statics("x") == 5)
    // `a.fn()` (vectorize_method): the executed form is an arg zip on
    // the batch index — the static must survive the align+join AND be
    // readable inside the body as a plan literal (self.x == 5)
    val a4 = a3.vectorizeZip(a3.mapField(c => c * 2.0))
    assert(a4.shape == Vector(3L) && a4.statics("x") == 5)
    val body = a4.replaceField("y",
      col("y") + lit(a4.statics("x").asInstanceOf[Int].toDouble))
    assert(body.statics("x") == 5)
    assert(body.collectOrdered().map(_.getDouble(0)).toSeq == Seq(7.0, 6.0, 6.0))
  }

  test("stack creates a new axis; axis arg normalized (M1)") {
    val a = points(3)
    val b = points(3).mapField(c => c + lit(100.0))
    val s = DcaFrame.stack(Seq(a, b))
    assert(s.shape == Vector(2L, 3L))
    assert(idxAndX(s).map(_._2) == Seq(0.0, 1.0, 2.0, 100.0, 101.0, 102.0))
    val s1 = DcaFrame.stack(Seq(a, b), axis = -1)
    assert(s1.shape == Vector(3L, 2L))
    assert(idxAndX(s1).map(_._2) == Seq(0.0, 100.0, 1.0, 101.0, 2.0, 102.0))
    intercept[IllegalArgumentException](DcaFrame.stack(Seq(a, points(4))))
  }

  test("concat along existing axis with offset re-index (M2)") {
    val a = points(2)
    val b = points(3).mapField(c => c + lit(50.0))
    val c0 = DcaFrame.concat(Seq(a, b))
    assert(c0.shape == Vector(5L))
    assert(xs(c0) == Seq(0.0, 1.0, 50.0, 51.0, 52.0))
  }

  test("mapField / replaceField are projections (S11, S13)") {
    val p = points(3).mapField(c => c * 2)
    assert(xs(p) == Seq(0.0, 2.0, 4.0))
    val r = points(3).replaceField("y", lit(0.0))
    assert(r.collectOrdered().map(_.getDouble(1)).toSeq == Seq(0.0, 0.0, 0.0))
    intercept[IllegalArgumentException](points(3).replaceField("zzz", lit(0)))
  }

  test("mapFieldNested recurses into nested struct columns (S12)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, 1.0, Row(2.0, 3.0)), Row(1L, 4.0, Row(5.0, 6.0)))),
      StructType(Seq(
        StructField("__idx0", LongType),
        StructField("x", DoubleType),
        StructField("nested", StructType(Seq(
          StructField("a", DoubleType), StructField("b", DoubleType)))))))
    val f = DcaFrame(df, Vector(2L), Vector("x", "nested"))
    val out = f.mapFieldNested(c => c * 10)
    val rows = out.df.orderBy("__idx0")
      .selectExpr("x", "nested.a", "nested.b").collect().toSeq
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(rows == Seq((10.0, 20.0, 30.0), (40.0, 50.0, 60.0)))
  }

  test("vectorize alignment: dim-1 broadcast joins (V2)") {
    val self = points(4)                              // shape (4)
    val arg = points(3).reshape(1, 3)                 // shape (1,3) -> joint (4) fails rank
    // (b,) @ (1,*x) -> (b,*x): arg (1,3) against self (4): front dim 1 vs 4 -> joint (4), extra (3)
    val (sb, ab, joint) = self.alignForVectorize(arg)
    assert(joint == Vector(4L) && sb.shape == Vector(4L) && ab.shape == Vector(4L, 3L))
    // zipJoin on equal shapes
    val z = points(3).zipJoin(points(3).mapField(_ * 10))
    assert(z.arrayCols == Vector("x", "y", "x_r", "y_r"))
    val rows = z.df.orderBy("__idx0").select("x", "x_r").collect().toSeq
    assert(rows.map(r => (r.getDouble(0), r.getDouble(1))) == Seq((0.0, 0.0), (1.0, 10.0), (2.0, 20.0)))
    // zipJoin on a shape that extends this one's: each element meets its
    // arg's trailing row
    val zx = points(3).zipJoin(points(6).reshape(3, 2))
    assert(zx.shape == Vector(3L, 2L) && zx.arrayCols == Vector("x", "y", "x_r", "y_r"))
    assert(zx.df.orderBy(zx.idxCols.map(col): _*).select("x", "x_r").collect().toSeq
      .map(r => (r.getDouble(0), r.getDouble(1))) ==
      Seq((0.0, 0.0), (0.0, 1.0), (1.0, 2.0), (1.0, 3.0), (2.0, 4.0), (2.0, 5.0)))
    // a shape that does not extend it still rejects
    intercept[IllegalArgumentException](points(3).zipJoin(points(6).reshape(2, 3)))
  }

  test("collectOrdered enforces the dense index: a repeated or a missing index throws") {
    val s = StructType(Seq(StructField("__idx0", LongType), StructField("x", DoubleType)))
    def frame(idx: Long*) = DcaFrame(spark.createDataFrame(
      spark.sparkContext.parallelize(idx.map(i => Row(i, i.toDouble)), 2), s), Vector(3L), Vector("x"))
    assert(xs(frame(2, 0, 1)) == Seq(0.0, 1.0, 2.0))
    Seq(Seq(0L, 1L, 1L), Seq(0L, 2L), Seq(0L, 1L, 3L), Seq(0L, 1L, 2L, 2L)).foreach { idx =>
      val e = intercept[IllegalArgumentException](frame(idx: _*).collectOrdered())
      assert(e.getMessage.contains("dense index broken"), s"$idx: $e")
    }
  }

  test("mapRows: arbitrary scalar fn over payload (V1 general path)") {
    val p = points(4)
    val out = p.mapRows(
      r => Seq(r.getDouble(0) + r.getDouble(1), if (r.getDouble(0) > 1) "hi" else "lo"),
      StructType(Seq(StructField("s", DoubleType), StructField("tag", StringType))))
    assert(out.shape == Vector(4L) && out.arrayCols == Vector("s", "tag"))
    val rows = out.df.orderBy("__idx0").collect().map(r => (r.getDouble(1), r.getString(2))).toSeq
    assert(rows == Seq((0.0, "lo"), (11.0, "lo"), (22.0, "hi"), (33.0, "hi")))
  }

  test("empty-batch truthiness guard (S10)") {
    val p = points(3).mask(col("x") > 100)
    assert(p.shape == Vector(0L))
    intercept[IllegalArgumentException](p.nonEmptyOrThrow())
    // only a zero FIRST dim is falsy: shape (3,0) is truthy in the
    // reference (__bool__ checks len(x), array_dataclass.py:412-453)
    assert(p.reshape(3, 0).nonEmptyOrThrow())
    assert(points(1)(Ix.I(0)).nonEmptyOrThrow()) // scalar shape truthy
  }
}

class DcaSchemaSpec extends SparkTestBase {
  import org.apache.spark.sql.Row

  test("conform casts scalars and enforces fixed inner dims") {
    val schema = DcaSchema(Vector(
      DcaSchema.field("pos", FloatType, "*batch 3"),
      DcaSchema.field("w", DoubleType)))
    assert(schema.structType == StructType(Seq(
      StructField("pos", ArrayType(FloatType)), StructField("w", DoubleType))))
    import spark.implicits._
    val good = Seq((Seq(1f, 2f, 3f), 1), (Seq(4f, 5f, 6f), 2)).toDF("pos", "w")
    val out = schema.conform(good)
    assert(out.schema("w").dataType == DoubleType)
    assert(out.count() == 2)
    val bad = Seq((Seq(1f, 2f), 1)).toDF("pos", "w")
    intercept[Exception](schema.conform(bad).collect())
  }

  test("shape-string parse errors surface at declaration") {
    intercept[IllegalArgumentException](DcaSchema.field("p", FloatType, "3 4"))
  }

  test("castDtype=false rejects dtype mismatch; matching dtype passes") {
    import spark.implicits._
    // reference DataclassParams(cast_dtype=False) raises on mismatch
    // (array_dataclass_test.py:646-691)
    val schema = DcaSchema(Vector(DcaSchema.field("w", DoubleType)), castDtype = false)
    val df = Seq(1, 2).toDF("w") // IntegerType source
    intercept[IllegalArgumentException](schema.conform(df))
    assert(schema.conform(df.select(col("w").cast("double").as("w")))
      .schema("w").dataType == DoubleType)
    assert(DcaSchema(Vector(DcaSchema.field("w", DoubleType)))
      .conform(df).schema("w").dataType == DoubleType)
  }

  test("conform resolves columns case-insensitively (default analyzer mode)") {
    import spark.implicits._
    val schema = DcaSchema(Vector(DcaSchema.field("pos", DoubleType)))
    val df = Seq(1.0, 2.0).toDF("Pos")
    val out = schema.conform(df)
    assert(out.columns.toSeq == Seq("pos") && out.count() == 2)
  }

  test("castList=false rejects array element casts; exact array passes") {
    import spark.implicits._
    val schema = DcaSchema(Vector(DcaSchema.field("pos", FloatType, "*b 2")),
      castList = false)
    val doubles = Seq(Tuple1(Seq(1.0, 2.0))).toDF("pos")
    intercept[IllegalArgumentException](schema.conform(doubles))
    val floats = Seq(Tuple1(Seq(1f, 2f))).toDF("pos")
    assert(schema.conform(floats).schema("pos").dataType.asInstanceOf[ArrayType]
      .elementType == FloatType)
    // with castList=true the same input conforms via element cast
    assert(DcaSchema(Vector(DcaSchema.field("pos", FloatType, "*b 2")))
      .conform(doubles).schema("pos").dataType.asInstanceOf[ArrayType]
      .elementType == FloatType)
  }

  test("broadcastScalars: scalar fills static inner dims; =false rejects") {
    import spark.implicits._
    val df = Seq(Tuple1(7)).toDF("pos")
    val bcast = DcaSchema(Vector(DcaSchema.field("pos", FloatType, "*b 3")))
    val out = bcast.conform(df).collect()
    assert(out.head.getSeq[Float](0) == Seq(7f, 7f, 7f))
    val strict = DcaSchema(Vector(DcaSchema.field("pos", FloatType, "*b 3")),
      broadcastScalars = false)
    intercept[IllegalArgumentException](strict.conform(df))
    // scalar cannot broadcast into a dynamic dim regardless of policy
    val dyn = DcaSchema(Vector(DcaSchema.field("pos", FloatType, "*b _")))
    intercept[IllegalArgumentException](dyn.conform(df))
  }

  test("complex64/128 map to struct(re, im); components cast by width (typing.py:29-51)") {
    import spark.implicits._
    val df = Seq((1.0, 2.0), (3.5, -4.5)).toDF("re", "im")
      .select(struct(col("re"), col("im")).as("z"))
    // complex64: double components narrow to float via the struct cast
    val c64 = DcaSchema(Vector(DcaSchema.complexField("z", 64)))
    assert(c64.structType("z").dataType == DcaSchema.Complex64)
    val out = c64.conform(df).collect()
    assert(out.map(r => r.getStruct(0).getFloat(0)).toSeq == Seq(1f, 3.5f))
    assert(out.map(r => r.getStruct(0).getFloat(1)).toSeq == Seq(2f, -4.5f))
    // complex128: already-exact passthrough
    val c128 = DcaSchema(Vector(DcaSchema.complexField("z", 128)))
    assert(c128.conform(df).collect()
      .map(r => r.getStruct(0).getDouble(1)).toSeq == Seq(2.0, -4.5))
    // castDtype=false rejects the narrowing, passes the exact match
    val strict = DcaSchema(Vector(DcaSchema.complexField("z", 128)), castDtype = false)
    assert(strict.conform(df).count() == 2)
    // an array of complex wraps like any scalar dtype
    val arr = DcaSchema(Vector(DcaSchema.complexField("zs", 64, "*b 2")))
    assert(arr.structType("zs").dataType == ArrayType(DcaSchema.Complex64))
    // only 64/128 exist
    intercept[IllegalArgumentException](DcaSchema.complexField("z", 32))
  }

  test("unsigned dtypes widen + tag + range-check (typing.py:32)") {
    import spark.implicits._
    // widened storage per width; declared width survives in metadata
    val schema = DcaSchema(Vector(
      DcaSchema.unsignedField("a", 8), DcaSchema.unsignedField("b", 16),
      DcaSchema.unsignedField("c", 32), DcaSchema.unsignedField("d", 64)))
    val st = schema.structType
    assert(st("a").dataType == ShortType && st("b").dataType == IntegerType)
    assert(st("c").dataType == LongType && st("d").dataType == DecimalType(20, 0))
    assert(st("a").metadata.getBoolean("unsigned") &&
      st("d").metadata.getLong("unsignedBits") == 64L)
    val good = Seq((255, 65535, 4294967295L, Long.MaxValue))
      .toDF("a", "b", "c", "d")
    assert(schema.conform(good).count() == 1)
    // out-of-range IS a dtype violation: 256 does not fit ui8...
    val over = Seq((256, 0, 0L, 0L)).toDF("a", "b", "c", "d")
    val e1 = intercept[Exception](schema.conform(over).collect())
    assert(e1.getMessage.contains("unsigned-range"))
    // ...and negatives never fit any unsigned width
    val neg = Seq((0, -1, 0L, 0L)).toDF("a", "b", "c", "d")
    intercept[Exception](schema.conform(neg).collect())
    // ui64 range check works above Long.MaxValue: 2^64-1 passes, 2^64 fails
    val d64 = DcaSchema(Vector(DcaSchema.unsignedField("d", 64)))
    val edge = Seq("18446744073709551615", "18446744073709551616")
      .toDF("s").select(col("s").cast("decimal(21,0)").as("d"))
    assert(d64.conform(edge.limit(1)).count() == 1)
    intercept[Exception](d64.conform(edge).collect())
    intercept[IllegalArgumentException](DcaSchema.unsignedField("x", 24))
    // f16: widened to FloatType with the float16 tag (every f32 exact,
    // no range check); double input narrows via castDtype like any f32
    val h = DcaSchema(Vector(DcaSchema.float16Field("x")))
    assert(h.structType("x").dataType == FloatType &&
      h.structType("x").metadata.getBoolean("float16"))
    assert(h.conform(Seq(1.5, -2.25).toDF("x")).collect()
      .map(_.getFloat(0)).toSeq == Seq(1.5f, -2.25f))
  }

  test("named inner dims must resolve consistently per row (dynamic-shape conflicts)") {
    // the reference's per-instance shape resolution + conflict errors
    // (array_dataclass.py:1121-1143, array_dataclass_test.py:694-747)
    import spark.implicits._
    val schema = DcaSchema(Vector(
      DcaSchema.field("a", FloatType, "*b k"),
      DcaSchema.field("c", FloatType, "*b k")))
    // consistent per row (lengths VARY across rows — that's fine)
    val good = Seq((Seq(1f, 2f), Seq(3f, 4f)), (Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)))
      .toDF("a", "c")
    assert(schema.conform(good).count() == 2)
    // conflicting within a row raises at evaluation
    val bad = Seq((Seq(1f, 2f), Seq(3f, 4f, 5f))).toDF("a", "c")
    val e = intercept[Exception](schema.conform(bad).collect())
    assert(e.getMessage.contains("named inner dims"))
    // repeated name WITHIN one field (square 'k k') checks too
    val sq = DcaSchema(Vector(DcaSchema.field("m", FloatType, "*b k k")))
    val goodSq = Seq(Tuple1(Seq(Seq(1f, 2f), Seq(3f, 4f)))).toDF("m")
    assert(sq.conform(goodSq).count() == 1)
    val badSq = Seq(Tuple1(Seq(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)))).toDF("m")
    intercept[Exception](sq.conform(badSq).collect())
    // unrelated names never cross-check
    val mixed = DcaSchema(Vector(
      DcaSchema.field("a", FloatType, "*b h"),
      DcaSchema.field("c", FloatType, "*b w")))
    val diff = Seq((Seq(1f, 2f), Seq(3f, 4f, 5f))).toDF("a", "c")
    assert(mixed.conform(diff).count() == 1)
    // an empty array makes the inner named dim UNOBSERVABLE — that's
    // unconstrained, not a conflict (a legitimate (0, k) shape)
    val emptySq = Seq(Tuple1(Seq.empty[Seq[Float]])).toDF("m")
    assert(sq.conform(emptySq).count() == 1)
    // a NULL array under a STATIC dim is an inner-shape failure, not a
    // named-dim error
    val nullable = DcaSchema(Vector(DcaSchema.field("a", FloatType, "*b 2")))
    val withNull = Seq(Tuple1(null.asInstanceOf[Seq[Float]])).toDF("a")
    val e2 = intercept[Exception](nullable.conform(withNull).collect())
    assert(e2.getMessage.contains("inner shape or unsigned-range mismatch"))
    // ...and under a NAMED dim too: an observable NULL array is a shape
    // failure regardless of dim kind
    val namedNull = DcaSchema(Vector(DcaSchema.field("a", FloatType, "*b k")))
    val e3 = intercept[Exception](namedNull.conform(withNull).collect())
    assert(e3.getMessage.contains("inner shape or unsigned-range mismatch"))
    // nested static dims reached through an EMPTY outer array stay
    // unobservable (observability threads through the nested-schema
    // recursion, it does not reset)
    val subP = DcaSchema(Vector(DcaSchema.field("p", FloatType, "*b 2")))
    val nestedEmpty = DcaSchema(Vector(DcaSchema.nestedArray("c", subP, "*b n")))
    val emptyOuter = spark.sql(
      "SELECT CAST(array() AS array<struct<p:array<float>>>) AS c")
    assert(nestedEmpty.conform(emptyOuter).count() == 1)
  }

  test("nested conform recurses: casts and inner-dim checks through structs") {
    import spark.implicits._
    val sub = DcaSchema(Vector(
      DcaSchema.field("pid", LongType),
      DcaSchema.field("vals", FloatType, "*b 2")))
    val schema = DcaSchema(Vector(
      DcaSchema.field("k", LongType), DcaSchema.nested("item", sub)))
    val raw = Seq((1, (10, Seq(1.5, 2.5))), (2, (20, Seq(3.5, 4.5))))
      .toDF("k", "item")
      .select(col("k"), col("item._1").as("pid"), col("item._2").as("vals"))
      .select(col("k"), struct(col("pid"), col("vals")).as("item"))
    val out = schema.conform(raw)
    val itemType = out.schema("item").dataType.asInstanceOf[StructType]
    assert(itemType("pid").dataType == LongType)
    assert(itemType("vals").dataType.asInstanceOf[ArrayType].elementType == FloatType)
    assert(out.count() == 2)
    // inner-dim violation INSIDE the struct fails enforcement
    val bad = Seq((1, (10, Seq(1.5)))).toDF("k", "item")
      .select(col("k"), col("item._1").as("pid"), col("item._2").as("vals"))
      .select(col("k"), struct(col("pid"), col("vals")).as("item"))
    intercept[Exception](schema.conform(bad).collect())
    // missing sub-field raises eagerly
    val missing = Seq(1L).toDF("k")
      .select(col("k"), struct(col("k").as("pid")).as("item"))
    intercept[IllegalArgumentException](schema.conform(missing))
  }

  test("Staged cache keys by sf dir: mixed dirs in one session stay distinct") {
    val a = graft.queries.Staged.liFrame(spark, "/root/testdata/sf0.001")
    val b = graft.queries.Staged.liFrame(spark, "/root/testdata/sf0.01")
    assert(a.shape.head == 6000L, s"sf0.001 got ${a.shape}")
    assert(b.shape.head == 60000L, s"sf0.01 got ${b.shape}")
  }

  test("dynamic inner dims: '... 3 _' enforces the static dim, allows per-row dynamic") {
    // PointDynamicShape fixture shape (array_dataclass_test.py:696-747)
    val schema = DcaSchema(Vector(DcaSchema.field("y", IntegerType, "... 3 _")))
    import spark.implicits._
    // rows with 3 inner rows of VARYING length: valid
    val good = Seq(
      Tuple1(Seq(Seq(1, 2), Seq(3, 4), Seq(5, 6))),
      Tuple1(Seq(Seq(1), Seq(2), Seq(3)))).toDF("y")
    assert(schema.conform(good).count() == 2)
    // first dim != 3: invalid
    val bad = Seq(Tuple1(Seq(Seq(1, 2), Seq(3, 4)))).toDF("y")
    intercept[Exception](schema.conform(bad).collect())
  }
}
