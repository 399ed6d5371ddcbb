package graft.core

import Shape.Shape

/** numpy indexing, decided once for both engines: normalization ported
  * from `_to_absolute_indices` (`array_dataclass.py:1006-1035`) plus
  * Python slice semantics — int / slice (incl. negative
  * start/stop/step) / ellipsis / newaxis / integer array — and the
  * [[Plan]] that [[DcaFrame.apply]] and [[LocalDca.apply]] execute. Pure
  * driver-side logic — property-tested against a local oracle (see
  * IndexingSpec).
  */
object Indexing {

  /** User-facing index item (one per batch axis). */
  sealed trait Ix
  object Ix {
    final case class I(i: Long) extends Ix                               // p[3]
    final case class S(start: Option[Long] = None, stop: Option[Long] = None,
                       step: Long = 1L) extends Ix                       // p[a:b:c]
    final case class A(indices: Seq[Long]) extends Ix                    // p[[4,0,4]]
    case object Ellipsis extends Ix                                      // p[...]
    case object NewAxis extends Ix                                       // p[None]
    val All: S = S()
  }

  /** Resolved per-axis action against a concrete dim length. */
  sealed trait Resolved
  object Resolved {
    /** Select one element: axis disappears. */
    final case class Int(i: Long) extends Resolved
    /** Keep axis with python-slice (start, step, newLen); element k of
      * the new axis maps to old index start + k*step.
      */
    final case class Slice(start: Long, step: Long, newLen: Long) extends Resolved
    /** Integer-array gather on this axis (indices already resolved
      * non-negative); repeats allowed, order preserved — numpy "single
      * advanced index" semantics, which compose with the basic items as
      * sequential application.
      */
    final case class Gather(indices: Vector[Long]) extends Resolved
    /** Insert a new length-1 axis. */
    case object New extends Resolved
  }

  /** Expand `...`, validate arity, pad with full slices; then resolve
    * each item against its dim. Errors mirror the reference: double
    * ellipsis and too-many-indices raise.
    */
  def resolve(items: Seq[Ix], shape: Shape): Vector[(Option[Long], Resolved)] = {
    val nEll = items.count(_ == Ix.Ellipsis)
    require(nEll <= 1, "an index can only have a single ellipsis ('...')")
    val nReal = items.count(i => i != Ix.Ellipsis && i != Ix.NewAxis)
    require(nReal <= shape.length,
      s"too many indices for array: array is ${shape.length}-dimensional, but $nReal were indexed")
    // expand ellipsis to the missing full slices
    val expanded: Seq[Ix] = {
      val fill = Seq.fill(shape.length - nReal)(Ix.All)
      if (nEll == 1) items.flatMap { case Ix.Ellipsis => fill; case x => Seq(x) }
      else items ++ fill
    }
    // walk axes: NewAxis consumes no input dim
    var axis = 0
    expanded.iterator.map {
      case Ix.NewAxis => (Option.empty[Long], Resolved.New: Resolved)
      case ix =>
        val dim = shape(axis); axis += 1
        (Some(dim.toLong): Option[Long], resolveOne(ix, dim))
    }.toVector
  }

  private def resolveOne(ix: Ix, dim: Long): Resolved = ix match {
    case Ix.I(i0) =>
      val i = if (i0 < 0) i0 + dim else i0
      require(i >= 0 && i < dim, s"index $i0 is out of bounds for axis with size $dim")
      Resolved.Int(i)
    case Ix.S(startOpt, stopOpt, step) =>
      require(step != 0, "slice step cannot be zero")
      if (step > 0) {
        val start = clamp(startOpt.map(n => if (n < 0) n + dim else n).getOrElse(0L), 0L, dim)
        val stop  = clamp(stopOpt.map(n => if (n < 0) n + dim else n).getOrElse(dim), 0L, dim)
        val len   = math.max(0L, ceilDiv(stop - start, step))
        Resolved.Slice(start, step, len)
      } else {
        val start = clamp(startOpt.map(n => if (n < 0) n + dim else n).getOrElse(dim - 1), -1L, dim - 1)
        val stop  = stopOpt.map(n => if (n < 0) n + dim else n).map(clamp(_, -1L, dim - 1)).getOrElse(-1L)
        val len   = math.max(0L, ceilDiv(stop - start, step))
        Resolved.Slice(start, step, len)
      }
    case Ix.A(idxs) => Resolved.Gather(resolveList(idxs, dim))
    case Ix.Ellipsis | Ix.NewAxis =>
      throw new IllegalStateException("unreachable: expanded earlier")
  }

  private def resolveList(idxs: Seq[Long], dim: Long): Vector[Long] =
    idxs.toVector.zipWithIndex.map { case (i0, k) =>
      val i = if (i0 < 0) i0 + dim else i0
      require(i >= 0 && i < dim,
        s"index $i0 (position $k) is out of bounds for axis with size $dim")
      i
    }

  /** The input axis each intermediate axis reads and what it keeps. */
  sealed trait Axis { def len: Long }
  object Axis {
    /** A new length-1 axis. */
    case object New extends Axis { val len = 1L }
    /** Element k is input index `start + k * step` on input axis `src`. */
    final case class Slice(src: Int, start: Long, step: Long, len: Long) extends Axis
    /** Input axis `src` whole: an axis the zipped gather reads. */
    final case class Whole(src: Int, len: Long) extends Axis
  }

  /** The zipped (diagonal) gather over the intermediate axes
    * `positions`: element k of the zipped dim takes index `lists(a)(k)`
    * on axis `positions(a)`, every list already broadcast to one length.
    * The zipped dim is output axis `insertAt`; the other intermediate
    * axes, `kept`, keep their order around it, so the output has `shape`.
    */
  final case class Zip(positions: Vector[Int], lists: Vector[Vector[Long]],
      kept: Vector[Int], insertAt: Int, shape: Shape) {
    /** The intermediate axis output axis `j` reads; None for the zipped dim. */
    def source(j: Int): Option[Int] =
      if (j == insertAt) None else Some(kept(if (j < insertAt) j else j - 1))
  }

  /** Every numpy decision of one index expression against a shape; an
    * engine only executes it. The expression applies in two stages, as
    * numpy's advanced indexing does (`p[arr, 2:5]` == `p[:, 2:5][arr]`):
    * the basic stage selects `ints` (input axis, index) and maps the
    * other input axes onto the intermediate `axes`; `zip`, present when
    * the expression holds integer arrays, then gathers the `Whole` axes
    * diagonally and places the zipped dim.
    */
  final case class Plan(ints: Vector[(Int, Long)], axes: Vector[Axis], zip: Option[Zip]) {
    def interShape: Shape = axes.map(_.len)
    def shape: Shape = zip.fold(interShape)(_.shape)
  }

  /** The plan of `items` against `shape` (`array_dataclass.py:382-390`).
    *
    * Multiple integer arrays broadcast together and apply diagonally
    * (`p[[a,b],[c,d]]` picks (a,c), (b,d) — `array_dataclass_test.py:459-494`);
    * a length-1 list broadcasts, other lengths must agree. Placement is
    * numpy's two-case rule: when the advanced items — bare ints count —
    * are separated by a slice or newaxis, the zipped dim goes to the
    * FRONT (`p[arr, :, arr]`, even `p[2, :, arr]`); otherwise it replaces
    * the gathered axes in place. An int is a () array in the zip: the
    * basic stage already selected it, so it adds no dim.
    */
  def plan(items: Seq[Ix], shape: Shape): Plan = {
    val resolved = resolve(items, shape).map(_._2)
    // the input axis each item reads (a newaxis reads none)
    val src = resolved.scanLeft(0)((a, r) => if (r == Resolved.New) a else a + 1)
    val axes = resolved.zip(src).collect {
      case (Resolved.New, _)                     => Axis.New
      case (Resolved.Slice(start, step, len), a) => Axis.Slice(a, start, step, len)
      case (Resolved.Gather(_), a)               => Axis.Whole(a, shape(a))
    }
    val ints = resolved.zip(src).collect { case (Resolved.Int(i), a) => (a, i) }
    val lists = resolved.collect { case Resolved.Gather(l) => l }
    val advancedAt = resolved.indices.filter(i => resolved(i) match {
      case Resolved.Int(_) | Resolved.Gather(_) => true
      case _                                    => false
    })
    val separated = advancedAt.size >= 2 &&
      resolved.slice(advancedAt.head + 1, advancedAt.last).exists {
        case Resolved.Slice(_, _, _) | Resolved.New => true
        case _                                      => false
      }
    val positions = axes.indices.filter(axes(_).isInstanceOf[Axis.Whole]).toVector
    Plan(ints, axes, if (lists.isEmpty) None else Some(zipped(axes.map(_.len), positions, lists, separated)))
  }

  /** The zip of `p.gatherAxis(indices, axis)`: one integer array on
    * `axis`, every other axis kept, the gathered dim in place.
    */
  def gatherZip(indices: Seq[Long], axis: Int, shape: Shape): Zip = {
    val ax = Shape.toAbsoluteAxis(axis, shape.length)
    zipped(shape, Vector(ax), Vector(resolveList(indices, shape(ax))), separated = false)
  }

  /** Broadcast the lists and place the zipped dim among `inter`'s axes.
    * Unless separated, the gathered axes are adjacent (only ints, which
    * leave no intermediate axis, can sit between two arrays), so the dim
    * takes the first one's place.
    */
  private def zipped(inter: Shape, positions: Vector[Int], lists: Vector[Vector[Long]],
      separated: Boolean): Zip = {
    // numpy's broadcast rule: all non-1 lengths agree (so (0,) broadcasts
    // with (1,) to (0,), which max() would wrongly reject)
    val non1 = lists.map(_.length).filter(_ != 1).distinct
    require(non1.size <= 1,
      "shape mismatch: indexing arrays could not be broadcast together " +
        s"with lengths ${lists.map(_.length).mkString(", ")}")
    val len = non1.headOption.getOrElse(1)
    val kept = inter.indices.filterNot(positions.contains).toVector
    val insertAt = if (separated) 0 else positions.head
    Zip(positions, lists.map(l => if (l.length == len) l else Vector.fill(len)(l.head)),
      kept, insertAt, kept.map(inter).patch(insertAt, Seq(len.toLong), 0))
  }

  /** Resulting batch shape after applying resolved indices. With
    * `gatherKeepsDim=true`, gather axes keep their FULL input dim — the
    * intermediate shape before the gathers apply ([[Plan.interShape]]).
    */
  def resultShape(resolved: Seq[(Option[Long], Resolved)],
                  gatherKeepsDim: Boolean = false): Shape =
    resolved.collect {
      case (_, Resolved.Slice(_, _, len)) => len
      case (Some(dim), Resolved.Gather(_)) if gatherKeepsDim => dim
      case (_, Resolved.Gather(idxs))     => idxs.length.toLong
      case (_, Resolved.New)              => 1L
    }.toVector

  private def clamp(v: Long, lo: Long, hi: Long): Long = math.max(lo, math.min(hi, v))
  private def ceilDiv(a: Long, b: Long): Long = {
    // ceil(a/b) for the python-slice length formula; works for b<0 too
    val q = a / b
    if (q * b != a && ((a ^ b) >= 0)) q + 1 else q
  }
}
