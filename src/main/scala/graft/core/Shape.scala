package graft.core

/** Batch-shape algebra: pure driver-side arithmetic on the shape tuple.
  *
  * Mirrors the semantics of the reference's shape bookkeeping
  * (`array_dataclass.py:318-331`, `np_utils.py:136-175`) without any
  * data movement: a shape is metadata; the data carries materialized
  * dense index columns `__idx0..__idxN` (see [[DcaFrame]]).
  */
object Shape {
  type Shape = Vector[Long]

  val scalar: Shape = Vector.empty

  /** Number of batch elements; empty shape (scalar) has size 1. */
  def size(s: Shape): Long = s.product

  /** Row-major strides: shape (a,b,c) -> (b*c, c, 1). */
  def strides(s: Shape): Vector[Long] =
    if (s.isEmpty) Vector.empty
    else s.scanRight(1L)((d, acc) => d * acc).tail

  /** Resolve a reshape target that may contain one -1 (inferred dim).
    * Mirrors numpy reshape validation (used by `reshape`,
    * `array_dataclass.py:363-369`).
    */
  def resolveReshape(from: Shape, to: Seq[Long]): Shape = {
    val negs = to.count(_ == -1L)
    require(negs <= 1, s"can only specify one unknown dimension, got $to")
    require(to.forall(d => d >= 0 || d == -1L), s"negative dimension in $to")
    val total = size(from)
    if (negs == 0) {
      require(to.product == total, s"cannot reshape ${from.mkString("(", ",", ")")} (size $total) into ${to.mkString("(", ",", ")")}")
      to.toVector
    } else {
      val known = to.filter(_ != -1L).product
      require(known != 0 && total % known == 0,
        s"cannot reshape size $total into ${to.mkString("(", ",", ")")}")
      to.map(d => if (d == -1L) total / known else d).toVector
    }
  }

  /** Normalize a possibly-negative axis against ndim.
    * Port of `np_utils.to_absolute_axis` single-axis case
    * (`np_utils.py:136-175`).
    */
  def toAbsoluteAxis(axis: Int, ndim: Int): Int = {
    val a = if (axis < 0) axis + ndim else axis
    require(a >= 0 && a < ndim, s"axis $axis out of bounds for ndim $ndim")
    a
  }

  /** Same, for an axis that may address a to-be-inserted dim (stack). */
  def toAbsoluteAxisInsert(axis: Int, ndim: Int): Int = {
    val a = if (axis < 0) axis + ndim + 1 else axis
    require(a >= 0 && a <= ndim, s"axis $axis out of bounds for insertion into ndim $ndim")
    a
  }

  /** numpy broadcast_shapes over two shapes (trailing-aligned). */
  def broadcast(a: Shape, b: Shape): Shape = {
    val n = math.max(a.length, b.length)
    val pa = Vector.fill(n - a.length)(1L) ++ a
    val pb = Vector.fill(n - b.length)(1L) ++ b
    pa.zip(pb).map { case (x, y) =>
      if (x == y) x
      else if (x == 1L) y
      else if (y == 1L) x
      else throw new IllegalArgumentException(
        s"shapes ${a.mkString("(", ",", ")")} and ${b.mkString("(", ",", ")")} are not broadcastable")
    }
  }

  /** broadcast_to's alignment of `from` onto `to`
    * (`array_dataclass.py:375-380`): trailing-aligned, each source dim
    * equal to its target's or 1. For each target axis, the source axis
    * it keeps (same size), or None where the axis is new or replicates a
    * dim-1 source axis.
    */
  def broadcastTo(from: Shape, to: Shape): Vector[Option[Int]] = {
    val pad = to.length - from.length
    require(pad >= 0 && broadcast(from, to) == to,
      s"cannot broadcast ${from.mkString("(", ",", ")")} to ${to.mkString("(", ",", ")")}")
    to.indices.map(i => Some(i - pad).filter(j => j >= 0 && from(j) == to(i))).toVector
  }

  /** stack's result (`ops.py:90-106`): equal shapes gain a new axis,
    * one element per input, at `axis`. Returns (absolute axis, shape).
    */
  def stack(shapes: Seq[Shape], axis: Int): (Int, Shape) = {
    require(shapes.nonEmpty, "stack of empty sequence")
    require(shapes.forall(_ == shapes.head), s"stack shape mismatch: $shapes")
    val ax = toAbsoluteAxisInsert(axis, shapes.head.length)
    (ax, shapes.head.patch(ax, Seq(shapes.length.toLong), 0))
  }

  /** concatenate's result (`ops.py:109-121`): shapes equal off `axis`
    * join along it. Returns (absolute axis, shape).
    */
  def concat(shapes: Seq[Shape], axis: Int): (Int, Shape) = {
    require(shapes.nonEmpty, "concat of empty sequence")
    val h = shapes.head
    val ax = toAbsoluteAxis(axis, h.length)
    require(shapes.forall(s => s.length == h.length && s.indices.forall(i => i == ax || s(i) == h(i))),
      s"concat shape mismatch on non-concat axis: $shapes")
    (ax, h.updated(ax, shapes.map(_(ax)).sum))
  }

  /** The vectorize-method batch-shape fold: the ARG's LEADING
    * `self.ndim` dims broadcast against self's shape (front-aligned,
    * each dim equal or one side 1); the arg may have MORE dims than
    * self (trailing = per-element extra dims). Arg rank < self rank is
    * an error. Port of `_update_batch_shape`
    * (`vectorization.py:246-282`).
    *
    * @return (joint batch shape, arg's extra trailing dims)
    */
  def vectorizeBatch(self: Shape, arg: Shape): (Shape, Shape) = {
    require(arg.length >= self.length,
      s"vectorized arg rank ${arg.length} < self rank ${self.length}: ${arg.mkString("(", ",", ")")} vs ${self.mkString("(", ",", ")")}")
    val (head, extra) = arg.splitAt(self.length)
    val joint = self.zip(head).map { case (x, y) =>
      if (x == y) x
      else if (x == 1L) y
      else if (y == 1L) x
      else throw new IllegalArgumentException(
        s"incompatible vectorize shapes ${self.mkString("(", ",", ")")} vs ${arg.mkString("(", ",", ")")}")
    }
    (joint, extra)
  }
}
