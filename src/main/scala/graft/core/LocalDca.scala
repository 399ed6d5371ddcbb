package graft.core

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import Shape.Shape

/** Driver-local EAGER twin of [[DcaFrame]] — the toy-scale fast path.
  *
  * BASELINE.md's honest comparison shows the distributed plans pay a
  * ~100× constant (scheduling + codegen + exchange setup per op)
  * against the reference's in-process numpy model at sizes that fit one
  * address space. This class closes that gap WITHOUT touching the
  * distributed plans: a frame small enough to collect runs the same
  * index algebra eagerly over a driver-resident row vector (reshape is
  * O(1) metadata, slice/gather/mask are array walks), then re-enters
  * the distributed world via [[toFrame]] when the data grows.
  *
  * Semantics parity is BY CONSTRUCTION where it matters: indexing
  * executes [[Indexing.plan]], the plan `DcaFrame.apply` executes
  * (array_dataclass_test.py:459-494 numpy semantics); broadcast_to,
  * stack and concat take their shapes from [[Shape]]; and einops
  * reshape goes through the same [[Einops]] parser/resolver.
  * LocalDcaSpec fuzzes the two paths cell-by-cell against each other.
  *
  * Invariant: `rows` is the payload in ROW-MAJOR batch order and
  * `rows.length == shape.product` — the eager analog of the dense
  * `__idx*` lattice.
  */
final case class LocalDca(
    rows: Vector[Row],
    schema: StructType,
    shape: Shape,
    statics: Map[String, Any] = Map.empty) {

  require(rows.length.toLong == Shape.size(shape),
    s"row count ${rows.length} != shape product ${Shape.size(shape)}")

  def ndim: Int = shape.length
  def size: Long = Shape.size(shape)

  /** len(p) — first batch dim (`array_dataclass.py:404-410`). */
  def length: Long = {
    require(ndim > 0, "len() of unsized object (scalar shape)")
    shape.head
  }

  /** bool(p) guard — same contract as [[DcaFrame.nonEmptyOrThrow]]. */
  def nonEmptyOrThrow(): Boolean = {
    require(ndim == 0 || shape.head != 0,
      "The truth value of an empty array is ambiguous")
    true
  }

  // -------------------------------------------------------------------
  // Shape algebra: reshape/flatten are O(1) — the numpy-view property
  // the distributed path cannot have (it recomputes __idx* columns).
  // -------------------------------------------------------------------

  def reshape(to: Long*): LocalDca = reshapeTo(to)

  /** Row-major reshape = metadata swap: the flat order is the identity
    * the distributed reshape recomputes per row.
    */
  def reshapeTo(to: Seq[Long]): LocalDca =
    copy(shape = Shape.resolveReshape(shape, to))

  def flatten: LocalDca = reshapeTo(Seq(-1L))

  /** einops reshape — same parser/resolver as the distributed path;
    * permutations materialize a reordered vector (numpy would too:
    * a permuted view is no longer row-major contiguous).
    */
  def reshapeEinops(pattern: String, axesLength: (String, Long)*): LocalDca = {
    val p = Einops.expandEllipsis(Einops.parse(pattern), ndim)
    val (sizes, newShape) = Einops.resolve(p, shape, axesLength.toMap)
    val srcStrides = Shape.strides(shape)
    val dstStrides = Shape.strides(newShape)
    val out = new Array[Row](rows.length)
    var lin = 0L
    while (lin < rows.length) {
      // source group coords, then per-name indices from the left groups
      val nameVal = scala.collection.mutable.Map.empty[String, Long]
      p.left.zipWithIndex.foreach { case (group, gi) =>
        val coord = (lin / srcStrides(gi)) % math.max(1L, shape(gi))
        val dims = group.map(sizes)
        val gst = dims.scanRight(1L)(_ * _).tail
        group.zip(gst).zip(dims).foreach { case ((n, st), d) =>
          nameVal(n) = (coord / st) % math.max(1L, d)
        }
      }
      // destination linear via the right groups
      var dlin = 0L
      p.right.zipWithIndex.foreach { case (group, gi) =>
        val dims = group.map(sizes)
        val gst = dims.scanRight(1L)(_ * _).tail
        val coord = group.zip(gst).map { case (n, st) => nameVal(n) * st }.sum
        dlin += coord * dstStrides(gi)
      }
      out(dlin.toInt) = rows(lin.toInt)
      lin += 1
    }
    LocalDca(out.toVector, schema, newShape, statics)
  }

  /** broadcast_to, per [[Shape.broadcastTo]]'s alignment: new LEADING
    * axes and dim-1 axes replicate.
    */
  def broadcastTo(target: Seq[Long]): LocalDca = {
    val t = target.toVector
    val src = Shape.broadcastTo(shape, t)
    if (t == shape) this
    else {
      val srcStrides = Shape.strides(shape)
      walk("broadcastTo", t)(coords => t.indices.map(i => src(i).fold(0L)(coords(i) * srcStrides(_))).sum)
    }
  }

  // -------------------------------------------------------------------
  // Indexing (S6/S8): executes Indexing's plan as a coordinate walk
  // where DcaFrame.apply runs it as filters and one generator.
  // -------------------------------------------------------------------

  def apply(items: Indexing.Ix*): LocalDca = {
    import Indexing.Axis
    val plan = Indexing.plan(items, shape)
    val srcStrides = Shape.strides(shape)
    val base = plan.ints.map { case (a, i) => i * srcStrides(a) }.sum
    // intermediate axis i adds offset(i) + coord * stride(i) to the source position
    val (offset, stride) = plan.axes.map {
      case Axis.New                        => (0L, 0L)
      case Axis.Slice(src, start, step, _) => (start * srcStrides(src), step * srcStrides(src))
      case Axis.Whole(src, _)              => (0L, srcStrides(src))
    }.unzip
    walk("apply", plan.shape) { coords =>
      val inter = plan.zip.fold(coords) { z =>
        val c = new Array[Long](plan.axes.length)
        coords.indices.foreach(j => z.source(j).foreach(c(_) = coords(j)))
        z.positions.zip(z.lists).foreach { case (a, l) => c(a) = l(coords(z.insertAt).toInt) }
        c.toIndexedSeq
      }
      base + inter.indices.map(i => offset(i) + inter(i) * stride(i)).sum
    }
  }

  /** The frame of shape `out` whose element at each coordinate is the
    * row at source position `src(coords)`.
    */
  private def walk(op: String, out: Shape)(src: IndexedSeq[Long] => Long): LocalDca = {
    val n = Shape.size(out)
    require(n <= Int.MaxValue,
      s"$op refused: $n rows exceed the local 2^31 array bound — " +
        "use the distributed DcaFrame path for frames this size")
    val dst = Shape.strides(out)
    val picked = Vector.tabulate(n.toInt)(lin => rows(src(out.indices.map(i => (lin / dst(i)) % out(i))).toInt))
    LocalDca(picked, schema, out, statics)
  }

  /** Boolean mask (S7): per-row predicate over the FLATTENED batch,
    * 1-D dense re-indexed result — same contract as [[DcaFrame.mask]].
    */
  def mask(pred: Row => Boolean): LocalDca = {
    val kept = rows.filter(pred)
    LocalDca(kept, schema, Vector(kept.length.toLong), statics)
  }

  /** Integer-array gather along axis 0 (S8). */
  def gather(indices: Seq[Long]): LocalDca = apply(Indexing.Ix.A(indices))

  /** Per-first-dim decomposition (S9) — contiguous row-major blocks. */
  def iterFirstDim(): Iterator[LocalDca] = {
    require(ndim > 0, "iteration over a 0-d array")
    val sub = shape.tail
    val block = Shape.size(sub).toInt
    (0L until shape.head).iterator.map { i =>
      LocalDca(rows.slice(i.toInt * block, (i.toInt + 1) * block), schema, sub, statics)
    }
  }

  // -------------------------------------------------------------------
  // Payload / statics
  // -------------------------------------------------------------------

  /** Eager per-element map (S11's driver analog — the reference's numpy
    * fn per field; typed Column math stays on the distributed path).
    */
  def mapRows(fn: Row => Row, newSchema: StructType = schema): LocalDca =
    copy(rows = rows.map(fn), schema = newSchema)

  def replaceStatic(name: String, value: Any): LocalDca =
    copy(statics = statics + (name -> value))

  /** Re-enter the distributed world: same payload, same shape, statics
    * carried — the crossover point when the data outgrows the driver.
    */
  def toFrame(spark: SparkSession): DcaFrame = {
    val f = DcaFrame.fromLocal(spark, rows, schema,
      shape = if (shape == Vector(rows.length.toLong)) null else shape)
    statics.foldLeft(f) { case (acc, (k, v)) => acc.replaceStatic(k, v) }
  }
}

object LocalDca {

  /** Eager twin of [[DcaFrame.stack]] (M1): new axis at `axis`. */
  def stack(frames: Seq[LocalDca], axis: Int = 0): LocalDca = {
    val (ax, newShape) = Shape.stack(frames.map(_.shape), axis)
    val h = frames.head
    frames.tail.foreach(f => require(f.schema == h.schema,
      s"stack field schemas differ: ${h.schema} vs ${f.schema}"))
    // row-major walk: outer = dims before ax, then frame id, then rest
    val outerN = Shape.size(h.shape.take(ax))
    val innerN = Shape.size(h.shape.drop(ax)).toInt
    val out = Vector.newBuilder[Row]
    var o = 0L
    while (o < outerN) {
      frames.foreach { f =>
        val off = o.toInt * innerN
        var i = 0
        while (i < innerN) { out += f.rows(off + i); i += 1 }
      }
      o += 1
    }
    LocalDca(out.result(), h.schema, newShape, h.statics)
  }

  /** Eager twin of [[DcaFrame.concat]] (M2): along existing `axis`. */
  def concat(frames: Seq[LocalDca], axis: Int = 0): LocalDca = {
    val (ax, newShape) = Shape.concat(frames.map(_.shape), axis)
    val h = frames.head
    frames.tail.foreach(f => require(f.schema == h.schema,
      s"concat field schemas differ: ${h.schema} vs ${f.schema}"))
    val outerN = Shape.size(h.shape.take(ax))
    val innerN = Shape.size(h.shape.drop(ax + 1)).toInt
    val out = Vector.newBuilder[Row]
    var o = 0L
    while (o < outerN) {
      frames.foreach { f =>
        val block = f.shape(ax).toInt * innerN
        val off = o.toInt * block
        var i = 0
        while (i < block) { out += f.rows(off + i); i += 1 }
      }
      o += 1
    }
    LocalDca(out.result(), h.schema, newShape, h.statics)
  }
}
