package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** END-TO-END fuzz of indexing and einops against a dense local model
  * (SURVEY §5 port strategy, chasing the long tail of
  * `array_dataclass_test.py:459-494`): random shapes and index
  * expressions are executed through the full DcaFrame plan (resolve →
  * index arithmetic → optional gather join) and compared cell-by-cell
  * with a driver-side walk that implements python/numpy semantics
  * independently.
  *
  * Scope: expressions mix int / slice (± step) / newaxis / ellipsis
  * freely and include AT MOST ONE integer-array index — with a single
  * array the numpy placement rule is "in place", so the model stays an
  * independent oracle instead of re-deriving the multi-array placement
  * arcana (zip broadcast and separated-advanced-to-front are pinned by
  * the fixed oracle grids in RaySliceSpec / dca_s8c-s8f). Seeded RNG:
  * failures reproduce; the driver-level resolver fuzz at 1000+ cases
  * per property lives in IndexingPropSpec.
  *
  * Every 1-D expression also runs over two STAGED twins of the same
  * rows — a `fromDF` frame cached in 4 partitions and a `mask` frame —
  * whose slices and ints read only the cached partitions they overlap.
  * When it leaves a 1-D result, a second 1-D index expression is chained
  * onto that result (slice of a slice, int of a slice, ± steps, empty
  * slices: a staged slice is itself a view over the cache) and checked
  * against the same chain on a `LocalDca` twin.
  */
class IndexingFuzzSpec extends SparkTestBase {

  private val payloadSchema = StructType(Seq(StructField("x", DoubleType)))

  /** Frame of `shape` whose payload x = row-major linear position. */
  private def linFrame(shape: Vector[Long]): DcaFrame = {
    val n = shape.product
    val flat = DcaFrame.fromLocal(spark,
      (0L until n).map(i => Row(i.toDouble)), payloadSchema)
    if (shape == Vector(n)) flat else flat.reshapeTo(shape)
  }

  /** Staged twins of the 1-D `linFrame(Vector(n))`: an unsorted
    * `fromDF` keeps `spark.range`'s 4 partitions (empty ones included
    * when n < 4), and a `mask` that keeps the even ids of 2n rows.
    */
  private def stagedTwins(n: Long): Seq[(String, DcaFrame)] = {
    val fromDF = DcaFrame.fromDF(
      spark.range(0, n, 1, 4).select(col("id").cast(DoubleType).as("x")), Nil)
    assert(fromDF.staging.get.frame.rdd.getNumPartitions == 4)
    val base = DcaFrame.fromDF(spark.range(0, 2 * n, 1, 4)
      .select(col("id"), (col("id") / 2).as("x")), Seq(col("id")))
    val masked = base.mask(col("id") % 2 === 0)
    base.unpersist() // the mask frame reads only its own staged cache
    Seq("fromDF" -> fromDF, "mask" -> masked)
  }

  // ---- independent local model ------------------------------------

  private def pySlice(n: Long, start: Option[Long], stop: Option[Long],
                      step: Long): Vector[Long] = {
    def norm(v: Long) = if (v < 0) v + n else v
    if (step > 0) {
      val a = math.max(0L, math.min(n, start.map(norm).getOrElse(0L)))
      val b = math.max(0L, math.min(n, stop.map(norm).getOrElse(n)))
      (a until b by step).toVector
    } else {
      val a = math.max(-1L, math.min(n - 1, start.map(norm).getOrElse(n - 1)))
      val b = stop.map(v => math.max(-1L, math.min(n - 1, norm(v)))).getOrElse(-1L)
      (a until b by step).toVector
    }
  }

  /** Model eval: expand ellipsis, walk axes, enumerate the output.
    * Returns (outShape, cells) with cells = (outCoords, srcLinear).
    */
  private def evalModel(shape: Vector[Long], items: Seq[Indexing.Ix])
      : (Vector[Long], Seq[(Vector[Long], Long)]) = {
    import Indexing.Ix
    val nReal = items.count(i => i != Ix.Ellipsis && i != Ix.NewAxis)
    val fill: Seq[Ix] = Seq.fill(shape.length - nReal)(Ix.S(None, None, 1L))
    val expanded: Seq[Ix] =
      if (items.contains(Ix.Ellipsis))
        items.flatMap { case Ix.Ellipsis => fill; case x => Seq(x) }
      else items ++ fill
    // per expanded entry: (srcAxis or -1, candidate source indices, keepsDim)
    var axis = 0
    val entries = expanded.map {
      case Ix.NewAxis => (-1, Vector(0L), true)
      case Ix.I(i0) =>
        val d = shape(axis); val i = if (i0 < 0) i0 + d else i0
        require(i >= 0 && i < d); axis += 1
        (axis - 1, Vector(i), false)
      case Ix.S(a, b, st) =>
        val d = shape(axis); axis += 1
        (axis - 1, pySlice(d, a, b, st), true)
      case Ix.A(idxs) =>
        val d = shape(axis); axis += 1
        (axis - 1, idxs.toVector.map(i => if (i < 0) i + d else i), true)
      case Ix.Ellipsis => throw new IllegalStateException("expanded")
    }
    val strides = shape.scanRight(1L)(_ * _).tail
    val outShape = entries.collect { case (_, c, true) => c.length.toLong }.toVector
    // enumerate output coordinates (row-major), compute source linear
    def walk(rem: List[(Int, Vector[Long], Boolean)], outCoords: Vector[Long],
             srcAcc: Long): Seq[(Vector[Long], Long)] = rem match {
      case Nil => Seq((outCoords, srcAcc))
      case (srcAxis, cands, keeps) :: tail =>
        cands.zipWithIndex.flatMap { case (srcIdx, outIdx) =>
          val contrib = if (srcAxis >= 0) srcIdx * strides(srcAxis) else 0L
          walk(tail, if (keeps) outCoords :+ outIdx.toLong else outCoords,
            srcAcc + contrib)
        }
    }
    (outShape, walk(entries.toList, Vector.empty, 0L))
  }

  private def collectCells(f: DcaFrame): Seq[(Vector[Long], Long)] =
    f.df.collect().toSeq.map { r =>
      (f.idxCols.map(c => r.getLong(r.fieldIndex(c))).toVector,
        r.getDouble(r.fieldIndex("x")).toLong)
    }.sortBy(_._1.mkString(","))

  /** (coords, x) per element of a local result, row-major. */
  private def localCells(l: LocalDca): Seq[(Vector[Long], Long)] = {
    val strides = l.shape.scanRight(1L)(_ * _).tail
    l.rows.zipWithIndex.map { case (r, k) =>
      (l.shape.indices.map(a => k / strides(a) % l.shape(a)).toVector, r.getDouble(0).toLong)
    }.sortBy(_._1.mkString(","))
  }

  // ---- generators (seeded) ----------------------------------------

  /** One 1-D index item for a chained case: an int (when the axis is
    * non-empty) or a slice with ± step whose bounds may fall past both
    * ends, so empty results occur.
    */
  private def genChained(rng: Random, d: Long): Indexing.Ix = {
    import Indexing.Ix
    if (d > 0 && rng.nextInt(3) == 0) Ix.I(rng.between(-d, d))
    else {
      val bound = () => if (rng.nextInt(4) == 0) None else Some(rng.between(-d - 2, d + 3))
      Ix.S(bound(), bound(), (1L + rng.nextInt(3)) * (if (rng.nextBoolean()) 1L else -1L))
    }
  }

  private def genItems(rng: Random, shape: Vector[Long]): Seq[Indexing.Ix] = {
    import Indexing.Ix
    val nIndexed = rng.nextInt(shape.length + 1) // 0..ndim axes indexed
    var usedArray = false
    val base = (0 until nIndexed).map { ax =>
      val d = shape(ax)
      rng.nextInt(4) match {
        case 0 => Ix.I(rng.between(-d, d))
        case 1 if !usedArray =>
          usedArray = true
          Ix.A(Vector.fill(1 + rng.nextInt(4))(rng.between(-d, d)))
        case _ =>
          val bound = () => if (rng.nextBoolean()) None
            else Some(rng.between(-d - 2, d + 3))
          val step = if (rng.nextBoolean()) 1L + rng.nextInt(3)
            else -(1L + rng.nextInt(3))
          Ix.S(bound(), bound(), step)
      }
    }
    // decorations: maybe an ellipsis (legal anywhere), maybe a newaxis
    val withEll =
      if (rng.nextBoolean() && base.nonEmpty) {
        val p = rng.nextInt(base.length + 1)
        (base.take(p) :+ Ix.Ellipsis) ++ base.drop(p)
      } else base
    if (rng.nextInt(3) == 0) {
      val p = rng.nextInt(withEll.length + 1)
      (withEll.take(p) :+ Ix.NewAxis) ++ withEll.drop(p)
    } else withEll
  }

  test("fuzz: mixed index expressions match the dense local model (seeded, 60 cases)") {
    val rng = new Random(20260815L)
    val chainRng = new Random(20261018L) // keeps the 60 first expressions as they were
    val chainKinds = scala.collection.mutable.Set.empty[String]
    var executed = 0
    while (executed < 60) {
      val ndim = 1 + rng.nextInt(3)
      val shape = Vector.fill(ndim)(1L + rng.nextInt(5))
      val items = genItems(rng, shape)
      val (wantShape, wantCellsRaw) = evalModel(shape, items)
      val wantCells = wantCellsRaw.sortBy(_._1.mkString(","))
      val f = linFrame(shape)
      val got = f.apply(items: _*)
      assert(got.shape == wantShape,
        s"shape=$shape items=$items: got shape ${got.shape}, want $wantShape")
      assert(collectCells(got) == wantCells,
        s"shape=$shape items=$items: cell mismatch")
      if (ndim == 1) {
        val chained =
          if (wantShape.length == 1) Seq.fill(3)(genChained(chainRng, wantShape.head)) else Nil
        val local = LocalDca(Vector.tabulate(shape.head.toInt)(i => Row(i.toDouble)),
          payloadSchema, shape)(items: _*)
        chained.foreach { ix =>
          val outer = if (items.exists(_.isInstanceOf[Indexing.Ix.S])) "slice" else "other"
          ix match {
            case Indexing.Ix.S(_, _, st) =>
              chainKinds += s"slice-of-$outer"
              if (st < 0) chainKinds += "negative step"
            case _ => chainKinds += s"int-of-$outer"
          }
          if (local(ix).size == 0) chainKinds += "empty"
        }
        stagedTwins(shape.head).foreach { case (kind, t) =>
          val g = t.apply(items: _*)
          assert(g.shape == wantShape, s"$kind shape=$shape items=$items: got shape ${g.shape}")
          assert(collectCells(g) == wantCells, s"$kind shape=$shape items=$items: cell mismatch")
          chained.foreach { ix =>
            val (g2, want) = (g(ix), local(ix))
            assert(g2.shape == want.shape, s"$kind items=$items then $ix: got shape ${g2.shape}")
            assert(collectCells(g2) == localCells(want), s"$kind items=$items then $ix: cell mismatch")
          }
          t.unpersist()
        }
      }
      executed += 1
    }
    Seq("slice-of-slice", "int-of-slice", "negative step", "empty").foreach { k =>
      assert(chainKinds(k), s"no chained case of kind '$k' among $chainKinds")
    }
  }

  test("fuzz: einops permutation + merge patterns match the local model (seeded, 25 cases)") {
    val rng = new Random(777L)
    val names = Vector("a", "b", "c")
    for (_ <- 0 until 25) {
      val ndim = 2 + rng.nextInt(2)
      val shape = Vector.fill(ndim)(1L + rng.nextInt(4))
      val axes = (0 until ndim).toVector
      val perm = rng.shuffle(axes)
      // random grouping of the permuted axes into 1..ndim output groups
      val nGroups = 1 + rng.nextInt(ndim)
      val cuts = rng.shuffle((1 until ndim).toVector).take(nGroups - 1).sorted
      val bounds = 0 +: cuts :+ ndim
      val groups = bounds.sliding(2).map(b => perm.slice(b(0), b(1))).toVector
      val left = axes.map(names).mkString(" ")
      val right = groups.map {
        case Vector(one) => names(one)
        case g => g.map(names).mkString("(", " ", ")")
      }.mkString(" ")
      val pattern = s"$left -> $right"
      // model: out coords decompose row-major inside each group
      val f = linFrame(shape)
      val out = f.reshapeEinops(pattern)
      val wantShape = groups.map(_.map(shape(_)).product).toVector
      assert(out.shape == wantShape, s"$pattern on $shape: shape ${out.shape}")
      val strides = shape.scanRight(1L)(_ * _).tail
      val want = {
        def coordsOf(group: Vector[Int], v: Long): Vector[(Int, Long)] = {
          val dims = group.map(shape(_))
          val sts = dims.scanRight(1L)(_ * _).tail
          group.zip(sts.zip(dims)).map { case (ax, (st, d)) => ax -> (v / st % d) }
        }
        def walk(gi: Int, outCoords: Vector[Long], src: Map[Int, Long])
            : Seq[(Vector[Long], Long)] =
          if (gi == groups.length)
            Seq((outCoords, axes.map(ax => src(ax) * strides(ax)).sum))
          else (0L until wantShape(gi)).flatMap(v =>
            walk(gi + 1, outCoords :+ v, src ++ coordsOf(groups(gi), v)))
        walk(0, Vector.empty, Map.empty).sortBy(_._1.mkString(","))
      }
      assert(collectCells(out) == want, s"$pattern on $shape: cell mismatch")
    }
  }

  /** Round-11 VERDICT task 7: the reference's `to_absolute_einops`
    * corner cases (np_utils.py:178-193) — grouped LEFT sides with
    * axis-length inference (split), unit axes, ellipsis in random
    * top-level positions — as generated ROUND-TRIPS: pattern then its
    * inverse must reproduce the original frame bit-for-bit, and the
    * forward result must match an independent name-assignment model.
    */
  test("fuzz: einops split+merge round-trips (inference, unit axes, ellipsis; seeded, 50 cases)") {
    val rng = new Random(121212L)
    val pool = Vector("a", "b", "c", "d")
    def grouping(xs: Vector[Int]): Vector[Vector[Int]] = {
      val n = xs.length
      val nG = 1 + rng.nextInt(n)
      val cuts = rng.shuffle((1 until n).toVector).take(nG - 1).sorted
      (0 +: cuts :+ n).sliding(2).map(b => xs.slice(b(0), b(1))).toVector
    }
    for (_ <- 0 until 50) {
      val nAxes = 2 + rng.nextInt(3) // 2..4 named axes
      val sizes = Vector.fill(nAxes)(1L + rng.nextInt(3)) // unit axes included
      val leftGroups = grouping((0 until nAxes).toVector)
      val rightGroups = grouping(rng.shuffle((0 until nAxes).toVector))
      // maybe 1-2 extra leading dims bound by '...' on both sides
      val nEll = if (rng.nextInt(3) == 0) 1 + rng.nextInt(2) else 0
      val ellSizes = Vector.fill(nEll)(1L + rng.nextInt(2))
      def render(groups: Vector[Vector[Int]], ellSlot: Int): String = {
        val gs = groups.map {
          case Vector(one) => pool(one)
          case g => g.map(pool).mkString("(", " ", ")")
        }
        val withEll = if (nEll == 0) gs
          else (gs.take(ellSlot) :+ "...") ++ gs.drop(ellSlot)
        withEll.mkString(" ")
      }
      val rightEllSlot = rng.nextInt(rightGroups.length + 1)
      val fwd = s"${render(leftGroups, 0)} -> ${render(rightGroups, rightEllSlot)}"
      val bwd = s"${render(rightGroups, rightEllSlot)} -> ${render(leftGroups, 0)}"
      // lengths: all but one member of every multi-member group, so the
      // resolver must INFER the rest (both directions share the map)
      val lengths = (leftGroups ++ rightGroups).flatMap { g =>
        if (g.length < 2) Nil else rng.shuffle(g).tail
      }.distinct.map(ax => pool(ax) -> sizes(ax))
      // expanded virtual structure for the model: __ell dims are
      // leading singleton axes nAxes..nAxes+nEll-1
      val allSizes = sizes ++ ellSizes
      def expand(groups: Vector[Vector[Int]], slot: Int): Vector[Vector[Int]] = {
        val ell = (0 until nEll).map(i => Vector(nAxes + i)).toVector
        groups.take(slot) ++ ell ++ groups.drop(slot)
      }
      val lG = expand(leftGroups, 0)
      val rG = expand(rightGroups, rightEllSlot)
      val srcShape = lG.map(_.map(allSizes).product)
      val outShapeWant = rG.map(_.map(allSizes).product)
      val f = linFrame(srcShape)
      val out = f.reshapeEinops(fwd, lengths: _*)
      assert(out.shape == outShapeWant, s"$fwd src=$srcShape: shape ${out.shape}")
      // model: enumerate every name assignment, linearize both sides
      def groupCoord(g: Vector[Int], asg: Map[Int, Long]): Long = {
        val sts = g.map(allSizes).scanRight(1L)(_ * _).tail
        g.zip(sts).map { case (ax, st) => asg(ax) * st }.sum
      }
      val srcStrides = srcShape.scanRight(1L)(_ * _).tail
      val outStrides = outShapeWant.scanRight(1L)(_ * _).tail
      def assignments(axes: List[Int], acc: Map[Int, Long]): Seq[Map[Int, Long]] =
        axes match {
          case Nil => Seq(acc)
          case ax :: t =>
            (0L until allSizes(ax)).flatMap(v => assignments(t, acc + (ax -> v)))
        }
      val want = assignments((0 until nAxes + nEll).toList, Map.empty).map { asg =>
        val src = lG.zip(srcStrides).map { case (g, st) => groupCoord(g, asg) * st }.sum
        val outCoords = rG.map(g => groupCoord(g, asg))
        (outCoords, src)
      }.sortBy(_._1.mkString(","))
      assert(collectCells(out) == want, s"$fwd src=$srcShape: cell mismatch")
      // round-trip: the inverse pattern restores the original cells
      val back = out.reshapeEinops(bwd, lengths: _*)
      assert(back.shape == f.shape, s"$bwd: round-trip shape")
      assert(collectCells(back) == collectCells(f), s"$fwd / $bwd: round-trip cells")
    }
  }

  test("einops rejection: duplicate names, reserved __ell*, name mismatch, under-determined groups") {
    val f = linFrame(Vector(6L))
    val g = linFrame(Vector(2L, 3L))
    // duplicate axis name on a side (reference rejects via set equality)
    intercept[IllegalArgumentException](g.reshapeEinops("a a -> (a a)"))
    intercept[IllegalArgumentException](f.reshapeEinops("(b b) -> b b"))
    // reserved ellipsis-expansion names collide (engine's arr__N analog)
    intercept[IllegalArgumentException](g.reshapeEinops("... __ell0 -> __ell0 ..."))
    // left/right name sets must match
    intercept[IllegalArgumentException](f.reshapeEinops("a -> b", "b" -> 6L))
    // two unknowns in one group without lengths cannot be inferred
    intercept[IllegalArgumentException](f.reshapeEinops("(a b) -> a b"))
    // non-divisible inference
    intercept[IllegalArgumentException](f.reshapeEinops("(a b) -> a b", "a" -> 4L))
    // ellipsis on one side only
    intercept[IllegalArgumentException](g.reshapeEinops("... a -> a"))
  }
}
