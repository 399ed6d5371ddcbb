package graft.core

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

import graft.functions.{GatherPositions, Param}
import graft.operators.CacheTracker
import Shape.Shape

/** A batch of records with an N-dimensional, order-significant, dense
  * index — the Spark-native analog of the reference's `DataclassArray`
  * (`array_dataclass.py:164-214`).
  *
  * Design (SURVEY §7.1): the batch shape lives as driver-side metadata;
  * the data carries materialized dense index columns
  * `__idx0..__idxN: LongType`, because DataFrames are unordered.
  * Reshape / flatten / slice / newaxis are pure index arithmetic —
  * narrow transformations, no shuffle. Filter (boolean mask) is the one
  * op that needs a global re-index; it stages its rows and counts each
  * staged partition ([[DcaFrame.Staging]]), never a single-partition
  * window, so it survives 100-TB inputs (SURVEY §7.5.1).
  *
  * Each operation is one pass over the fields, as the reference's is one
  * numpy view or `tree_map`: a single projection that computes each
  * output `__idx*` column under its final name. A literal
  * integer-array gather explodes each row to the positions its key is
  * named at ([[graft.functions.GatherPositions]]) and [[broadcastTo]]
  * explodes a literal `[0, n)` per expanded axis, so neither joins.
  * [[zipJoin]] (on the shared batch index) and the distributed
  * [[gatherAxis]] (on the index frame's values) hash their smaller side
  * inside the other side's stage while it is small, and join in SQL
  * only at scale. Shape constants —
  * strides, dims, slice bounds, int indices, concat offsets — enter
  * generated code as [[graft.functions.Param]]s, read from the
  * compiled class's references, so an operation at a new shape reuses
  * the class compiled for the last one, as a numpy view costs no
  * compile.
  *
  * A 1-D frame built by [[DcaFrame.fromDF]] or [[mask]] carries the
  * [[DcaFrame.Staging]] handle of its staged cache, which knows the
  * dense-index range each cached partition holds, and its `df` is that
  * handle's identity window: the one read path from a cache position to
  * a dense index. A slice or int index of such a frame reads only the
  * cached partitions its index range overlaps, so its cost follows the
  * window, not the frame; a 1-D slice carries a borrowed view of the
  * same cache, so it slices the same way.
  *
  * Static fields (constant across the batch, untouched by every op —
  * `array_dataclass.py:192-198`) live in [[statics]].
  */
final case class DcaFrame(
    df: DataFrame,
    shape: Shape,
    arrayCols: Vector[String],
    statics: Map[String, Any] = Map.empty,
    staging: Option[DcaFrame.Staging] = None) {

  def ndim: Int = shape.length
  def size: Long = Shape.size(shape)
  /** len(p): length of the first batch dim (`array_dataclass.py:404-410`). */
  def length: Long = {
    require(ndim > 0, "len() of unsized object (scalar shape)")
    shape.head
  }
  /** bool(p): raises only when the FIRST dim is 0 on a non-scalar shape
    * (len(x) == 0) — e.g. shape (3,0) is truthy — matching the
    * reference's `__bool__` guard exactly (`array_dataclass.py:412-453`).
    */
  def nonEmptyOrThrow(): Boolean = {
    require(ndim == 0 || shape.head != 0,
      "The truth value of an empty array is ambiguous")
    true
  }

  def idxCols: Vector[String] = DcaFrame.idxColNames(ndim)
  private def idx(i: Int): Column = col(s"__idx$i")

  /** Copy for DERIVED frames (reshape/gather/mapField/zip/...): the
    * result rides on the parent's staged cache but carries no handle to
    * it, so later indexing takes the general path. Only a 1-D slice of a
    * staged frame keeps a (borrowed) handle — see [[apply]].
    */
  private def derived(df: DataFrame = df, shape: Shape = shape,
      arrayCols: Vector[String] = arrayCols,
      statics: Map[String, Any] = statics): DcaFrame =
    DcaFrame(df, shape, arrayCols, statics, staging = None)

  /** Linear (row-major) index expression over the current idx columns;
    * the strides are [[Param]]s (the last one is 1 for every shape).
    */
  def linearIndex: Column =
    if (ndim == 0) lit(0L)
    else {
      val st = Shape.strides(shape)
      (0 until ndim).map(i => if (i == ndim - 1) idx(i) else idx(i) * Param.col(st(i))).reduce(_ + _)
    }

  /** Row-major driver-side materialization (small data / tests only):
    * one collect of `__idx*` + payload, each row placed at its linear
    * index — a collect holds every row on the driver anyway, so a
    * distributed sort would only add a sampling job and a shuffle.
    * Enforces the dense-index contract: exactly [[size]] rows, each at a
    * distinct in-range index.
    */
  def collectOrdered(): Array[Row] = {
    val payload = payloadSchema
    val st = Shape.strides(shape)
    require(size <= Int.MaxValue, s"collectOrdered of $size rows")
    val rows = GraftSqlBridge.collectRows(df.select((idxCols ++ arrayCols).map(col): _*))
    require(rows.length == size, s"dense index broken: ${rows.length} rows for shape $shape")
    val out = new Array[Row](size.toInt)
    rows.foreach { r =>
      var (lin, inBounds, i) = (0L, true, 0)
      while (i < ndim) {
        val v = r.getLong(i)
        inBounds &&= v >= 0 && v < shape(i)
        lin += v * st(i)
        i += 1
      }
      require(inBounds && out(lin.toInt) == null, "dense index broken: index " +
        s"${r.toSeq.take(ndim).mkString("(", ", ", ")")} repeated or out of bounds for shape $shape")
      out(lin.toInt) = new GenericRowWithSchema(r.toSeq.drop(ndim).toArray, payload)
    }
    out
  }

  private def payloadSchema: StructType = StructType(arrayCols.map(n => df.schema(n)).toArray)

  /** Driver-local eager short-circuit (the toy-scale fast path,
    * BASELINE.md's honest-comparison gap): materialize the payload
    * row-major into a [[LocalDca]] and run the same index algebra
    * in-process at numpy-like constants — reshape O(1), slice/gather
    * array walks — then [[LocalDca.toFrame]] back when it outgrows the
    * driver. Guarded: refuses above `maxRows` so a fact-sized frame
    * can never silently collect.
    */
  def collectLocal(maxRows: Long = 4L << 20): LocalDca = {
    require(size <= maxRows,
      s"collectLocal refused: $size rows > maxRows $maxRows — " +
        "the distributed plans are the scale path")
    LocalDca(collectOrdered().toVector, payloadSchema, shape, statics)
  }

  // ---------------------------------------------------------------------
  // Shape algebra (S2-S5): pure index arithmetic, narrow, no shuffle.
  // ---------------------------------------------------------------------

  /** Re-factor the batch shape; `-1` infers one dim. Narrow — recomputes
    * `__idx*` from the linear index (`array_dataclass.py:363-369`).
    */
  def reshape(to: Long*): DcaFrame = reshapeTo(to)

  def reshapeTo(to: Seq[Long]): DcaFrame = {
    val target = Shape.resolveReshape(shape, to)
    if (target == shape) this
    else {
      // the linear index is computed once, under a reserved name, and
      // split by `div` / `%` over Param strides and dims
      require(!df.columns.contains("__graft_lin"),
        "__graft_lin is a reserved column name")
      val withLin = df.withColumn("__graft_lin", linearIndex)
      val newIdx = DcaFrame.unravel(col("__graft_lin"), target)
        .zipWithIndex.map { case (q, i) => q.as(s"__idx$i") }
      derived(df = withLin.select(newIdx ++ arrayCols.map(col): _*), shape = target)
    }
  }

  /** flatten = reshape((-1,)) (`array_dataclass.py:371-373`). */
  def flatten: DcaFrame = reshapeTo(Seq(-1L))

  /** einops-style reshape (S3, `array_dataclass.py:351-362`):
    * `reshape("a (b c) -> b a c", "c" -> 2)`. Unlike tuple reshape this
    * can PERMUTE axes; still pure index arithmetic — per-name indices
    * recovered by div/mod from the left groups, recombined per the
    * right groups. Narrow, no shuffle.
    */
  def reshapeEinops(pattern: String, axesLength: (String, Long)*): DcaFrame = {
    val p = Einops.expandEllipsis(Einops.parse(pattern), ndim)
    val (sizes, newShape) = Einops.resolve(p, shape, axesLength.toMap)
    // per-name index expression from the left structure
    val nameIdx: Map[String, Column] = p.left.zipWithIndex.flatMap { case (group, gi) =>
      group.zip(DcaFrame.unravel(idx(gi), group.map(sizes).toVector))
    }.toMap
    // new group index = linearization of member indices
    val newIdx = p.right.zipWithIndex.map { case (group, gi) =>
      val strides = group.map(sizes).scanRight(1L)(_ * _).tail
      group.zip(strides).zipWithIndex.map { case ((n, st), j) =>
        if (j == group.size - 1) nameIdx(n) else nameIdx(n) * Param.col(st)
      }.reduce(_ + _).as(s"__idx$gi")
    }
    derived(df = df.select(newIdx ++ arrayCols.map(col): _*), shape = newShape)
  }

  /** Expand the batch shape (dim-1/new-leading axes up), every payload
    * row replicated (`array_dataclass.py:375-380`): each expanded axis
    * of size n explodes the literal array `[0, n)` into its index — a
    * generator in the frame's own stage, no join.
    */
  def broadcastTo(target: Seq[Long]): DcaFrame = {
    val t = target.toVector
    require(t.length >= ndim, s"broadcast_to target rank ${t.length} < current $ndim")
    val pad = t.length - ndim
    val padded = Vector.fill[Long](pad)(1L) ++ shape
    padded.zip(t).zipWithIndex.foreach { case ((o, n), i) =>
      require(o == n || o == 1L, s"cannot broadcast dim $i: $o -> $n")
    }
    if (t == shape) this
    else {
      // target axis i >= pad keeps old axis i - pad when its size is
      // unchanged; any other axis of size n != 1 is a replicating range
      def kept(i: Int) = i >= pad && padded(i) == t(i)
      val ranges = t.indices.filter(i => !kept(i) && t(i) != 1L)
      val crossed = ranges.foldLeft(df)((d, i) =>
        d.select(col("*"), explode(typedlit((0L until t(i)).toArray)).as(s"__tidx$i")))
      val newIdx = t.indices.map { i =>
        (if (kept(i)) col(s"__idx${i - pad}") else if (t(i) == 1L) lit(0L) else col(s"__tidx$i"))
          .as(s"__idx$i")
      }
      derived(df = crossed.select(newIdx ++ arrayCols.map(col): _*), shape = t)
    }
  }

  // ---------------------------------------------------------------------
  // Indexing (S6-S8)
  // ---------------------------------------------------------------------

  /** numpy indexing on the batch dims: int / slice / ellipsis /
    * newaxis / integer-array (`array_dataclass.py:382-390`,
    * `:1006-1035`). Basic items are narrow (predicates + index remap,
    * no shuffle); integer-array items gather on their output axes
    * AFTER the basic items, as one [[gatherZip]] — numpy's
    * advanced-index semantics (`p[idx_arr, 2:5]` == `p[:, 2:5][idx_arr]`).
    *
    * On a staged 1-D frame (one carrying [[staging]]) a slice or int
    * item is served by the staged view alone, like numpy's basic
    * slicing returns a view: [[DcaFrame.Staging.window]] reads only
    * the cached partitions its positions overlap and emits the output
    * index itself, so no predicate or remap over per-call bounds
    * reaches codegen and a new window compiles no new class. A result
    * that is one 1-D slice carries the composed view as its own
    * (borrowed) [[staging]], so slices of slices, `p[i]` of a window and
    * [[iterFirstDim]] stay on this path.
    */
  def apply(items: Indexing.Ix*): DcaFrame = {
    val resolved = Indexing.resolve(items, shape)
    // (view, output length) when the staged view serves the one real item
    val viewed = staging.filter(_ => ndim == 1).flatMap { st =>
      resolved.collectFirst {
        case (_, Indexing.Resolved.Int(i))                  => (st.view(i, 1L), 1L)
        case (_, Indexing.Resolved.Slice(start, step, len)) => (st.view(start, step), len)
      }
    }
    var cur = viewed.fold(df) { case (v, len) => v.window(len) }
    var axis = 0          // input axis being consumed
    var outPos = 0        // output axis position
    val outIdx = Vector.newBuilder[Column]
    val gathers = Vector.newBuilder[(Int, Vector[Long])] // (output axis, indices)
    resolved.foreach {
      case (_, Indexing.Resolved.New) =>
        outIdx += lit(0L).as(s"__idx$outPos")
        outPos += 1
      case (_, Indexing.Resolved.Int(i)) =>
        if (viewed.isEmpty) cur = cur.filter(col(s"__idx$axis") === Param.col(i))
        axis += 1
      case (_, Indexing.Resolved.Gather(idxs)) =>
        // pass the axis through untouched here; gather applies below
        outIdx += col(s"__idx$axis").as(s"__idx$outPos")
        gathers += ((outPos, idxs))
        axis += 1
        outPos += 1
      case (_, Indexing.Resolved.Slice(_, _, _)) if viewed.isDefined =>
        outIdx += col(s"__idx$axis").as(s"__idx$outPos")
        axis += 1
        outPos += 1
      case (_, Indexing.Resolved.Slice(start, step, newLen)) =>
        val c = col(s"__idx$axis")
        // offset along the slice direction
        val off = if (step > 0) c - Param.col(start) else Param.col(start) - c
        val stepAbs = Param.col(math.abs(step))
        cur = cur.filter(off >= 0 && (off % stepAbs === 0) &&
          off < Param.col(newLen * math.abs(step)))
        // integral div (exact over the full long range)
        outIdx += call_function("div", off, stepAbs).as(s"__idx$outPos")
        axis += 1
        outPos += 1
    }
    // shape BEFORE the gathers apply: gather axes keep their full dim
    val interShape = Indexing.resultShape(resolved, gatherKeepsDim = true)
    val basic = viewed match {
      // one 1-D slice: the window is the result, its view the result's staging
      case Some((v, _)) if resolved.size == 1 && interShape.length == 1 =>
        copy(df = cur, shape = interShape, staging = Some(v))
      case _ =>
        derived(df = cur.select(outIdx.result() ++ arrayCols.map(col): _*), shape = interShape)
    }
    val gs = gathers.result()
    // numpy multi-advanced-index semantics: the index arrays broadcast
    // together and are applied DIAGONALLY (p[[a,b],[c,d]] picks
    // (a,c),(b,d) — array_dataclass_test.py:459-494). PLACEMENT follows
    // numpy's two-case rule: when the advanced items — bare ints COUNT
    // as advanced here — are separated by a slice/newaxis, the broadcast
    // result dims move to the FRONT of the result (p[arr, :, arr] and
    // even p[2, :, arr]); when they are all adjacent (an Int between two
    // arrays does not separate), the dims are inserted in place at the
    // first advanced position. An Int participates in the zip as a
    // scalar — already applied as a filter above, it contributes no
    // result dim, exactly numpy's () broadcast.
    if (gs.isEmpty) basic
    else {
      val advancedAt = resolved.zipWithIndex.collect {
        case ((_, Indexing.Resolved.Int(_)), i)    => i
        case ((_, Indexing.Resolved.Gather(_)), i) => i
      }
      val separated = advancedAt.size >= 2 &&
        resolved.slice(advancedAt.head + 1, advancedAt.last).exists {
          case (_, Indexing.Resolved.Slice(_, _, _)) => true
          case (_, Indexing.Resolved.New)            => true
          case _                                     => false
        }
      basic.gatherZip(gs.map(_._1), gs.map(_._2), toFront = separated)
    }
  }

  /** Diagonal (zipped) multi-axis gather: element k of the result takes
    * input index `lists(a)(k)` on each gathered axis `positions(a)` —
    * numpy's broadcast-and-zip semantics for multiple advanced indices.
    * Executed as ONE generator over the frame: each row explodes the
    * output positions its composite key is named at
    * ([[graft.functions.GatherPositions]]), so repeats replicate the
    * row and an unnamed key drops it — no join, no chain of per-axis
    * gathers (which would outer-product). Length-1 lists broadcast to
    * the common length.
    *
    * Placement: the zipped result dim replaces the gathered axes IN
    * PLACE (at the first gathered position — requires the positions be
    * adjacent) or, with `toFront`, lands at axis 0 with every
    * non-gathered axis following in order — numpy's rule for advanced
    * indices separated by a slice/newaxis.
    */
  private def gatherZip(positions: Vector[Int], lists: Vector[Vector[Long]],
                        toFront: Boolean = false): DcaFrame = {
    // numpy broadcast rule per dim: all non-1 lengths must agree (so
    // (0,) broadcasts with (1,) to (0,) — max() would wrongly reject it)
    val non1 = lists.map(_.length).filter(_ != 1).distinct
    require(non1.size <= 1,
      "shape mismatch: indexing arrays could not be broadcast together " +
        s"with lengths ${lists.map(_.length).mkString(", ")}")
    val len = non1.headOption.getOrElse(1)
    // guard the resolved-input precondition (Indexing.resolve validates
    // bounds and folds negatives); an unresolved index reaching the
    // lookup below would silently DROP rows instead of raising the
    // numpy IndexError contract gatherAxis documents
    positions.zip(lists).foreach { case (ax, l) =>
      l.foreach(i => require(i >= 0 && i < shape(ax),
        s"index $i is out of bounds for axis $ax with size ${shape(ax)} " +
          "(gatherZip requires resolved, in-bounds indices)"))
    }
    val expanded = lists.map(l => if (l.length == len) l else Vector.fill(len)(l.head))
    require(!df.columns.contains("__pos"), "__pos is a reserved column name")
    val table = GatherPositions.Table(positions.map(shape), expanded)
    val gathered = df.select(col("*"),
      explode(GatherPositions.col(positions.map(idx), table)).as("__pos"))
    val posSet = positions.toSet
    val kept = (0 until ndim).filterNot(posSet).toVector
    // in-place insertion point = number of kept axes before the first
    // gathered axis (with adjacent positions that is exactly
    // positions.head); toFront pins the zipped dim at axis 0
    val insertAt = if (toFront) 0 else {
      require(positions.zip(positions.tail).forall { case (a, b) => b == a + 1 },
        s"in-place gatherZip requires adjacent axes, got $positions")
      kept.count(_ < positions.head)
    }
    val keptBefore = kept.take(insertAt)
    val keptAfter = kept.drop(insertAt)
    val outIdx = keptBefore.zipWithIndex.map { case (ax, i) => col(s"__idx$ax").as(s"__idx$i") } ++
      Seq(col("__pos").as(s"__idx$insertAt")) ++
      keptAfter.zipWithIndex.map { case (ax, i) => col(s"__idx$ax").as(s"__idx${insertAt + 1 + i}") }
    val newShape = (keptBefore.map(shape) :+ len.toLong) ++ keptAfter.map(shape)
    derived(df = gathered.select(outIdx ++ arrayCols.map(col): _*), shape = newShape)
  }

  /** Boolean-mask selection — THE canonical filter (S7,
    * `array_dataclass.py:382-390`, `README.md:53`). The mask predicate
    * is evaluated per row over the full batch; the surviving payload is
    * staged in linear-index order ([[DcaFrame.denseIndex]]), and the
    * result is the 1-D identity window over that cache, never a global
    * window.
    *
    * A staged 1-D frame whose view steps forward ([[fromDF]]'s, a mask
    * result, or a `step > 0` slice of either) already yields its rows
    * in dense-position order, partition by partition, so its surviving
    * rows are staged as they come: one job counts them, and no range
    * sort or shuffle runs. Any other frame is sorted by its linear
    * index first; the sort key reads the index columns below the
    * payload projection, so the cache holds the payload alone.
    */
  def mask(pred: Column): DcaFrame = {
    val inOrder = ndim == 1 && staging.exists(_.step > 0)
    val (staged, n) = DcaFrame.denseIndex(df.filter(pred).select(arrayCols.map(col): _*),
      if (inOrder) Nil else Seq(linearIndex))
    copy(df = staged.window(n), shape = Vector(n), staging = Some(staged))
  }

  /** Integer-array gather along axis 0 (S8): `p[int_arr]` — one
    * generator over the frame that replicates each row to the
    * positions naming it, preserving the gather order and allowing
    * repeats.
    */
  def gather(indices: Seq[Long]): DcaFrame = gatherAxis(indices, 0)

  /** Driver-side integer-array gather along any axis: the one-axis,
    * in-place case of [[gatherZip]] after negative indices resolve, so
    * `p.gatherAxis(idxs, ax)` plans exactly like `p[..., idxs, ...]`.
    */
  def gatherAxis(indices: Seq[Long], axis: Int): DcaFrame = {
    require(ndim >= 1, "gather needs ndim >= 1")
    val ax = Shape.toAbsoluteAxis(axis, ndim)
    val dim = shape(ax)
    indices.zipWithIndex.foreach { case (i, k) =>
      require(i >= -dim && i < dim, s"gather index $i (pos $k) out of bounds for dim $dim") }
    gatherZip(Vector(ax), Vector(indices.map(i => if (i < 0) i + dim else i).toVector))
  }

  /** DISTRIBUTED integer-array gather along axis 0 (S8 at scale,
    * `array_dataclass_test.py:459-494` with arbitrary-size index
    * arrays): the index array is itself a frame — see [[gatherAxis]].
    */
  def gather(indices: DcaFrame, valueCol: String = null): DcaFrame =
    gatherAxis(indices, 0, valueCol)

  /** DISTRIBUTED integer-array gather along ANY axis: an equi-join of
    * self's `__idx{axis}` against the index frame's values, with the
    * index frame's own batch index becoming the output position(s) on
    * that axis. Repeats allowed, negative indices resolved per row;
    * out-of-bounds or NULL raises when the plan is evaluated (numpy
    * IndexError semantics — an inner join would drop silently). Note
    * the check is lazy: a partially-consumed result (e.g. under a
    * `limit`) may never evaluate the offending index rows.
    *
    * Result shape = `shape[:axis] ++ indices.shape ++ shape[axis+1:]`
    * — numpy's single-advanced-index rule `p[:, ..., arr, ...]`. A small
    * side is hashed inside the other side's stage; at scale the join is
    * SQL, broadcast or sort-merged on the key (see [[DcaFrame.keyJoin]]).
    *
    * @param indices frame whose single payload column (or `valueCol`)
    *                holds the gather indices
    */
  def gatherAxis(indices: DcaFrame, axis: Int, valueCol: String = null): DcaFrame = {
    require(ndim >= 1, "gather needs ndim >= 1")
    val ax = Shape.toAbsoluteAxis(axis, ndim)
    val vcol = Option(valueCol).getOrElse {
      require(indices.arrayCols.size == 1,
        s"index frame must have exactly one payload column (or pass valueCol); got ${indices.arrayCols}")
      indices.arrayCols.head
    }
    // integral index column only — a fractional type would be silently
    // truncated by the cast below
    indices.df.schema(vcol).dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: LongType => ()
      case other => throw new IllegalArgumentException(
        s"gather index column $vcol must be integral, got ${other.catalogString}")
    }
    val n = shape(ax)
    val m = indices.ndim
    (Seq("__gsrc") ++ (0 until m).map(i => s"__gpos$i")).foreach { r =>
      require(!df.columns.contains(r), s"$r is a reserved column name") }
    // bounds+null check fused INTO the join key (per-row raise_error),
    // not a separate eager job: one evaluation of the index plan, so a
    // nondeterministic upstream (sample/rand) cannot pass a pre-check
    // and then silently DROP rows in the equi-join. A NULL index would
    // otherwise evaluate the join predicate to NULL and vanish,
    // leaving the claimed shape larger than the actual row count.
    val checkedSrc = when(col(vcol).isNull || col(vcol) < -n || col(vcol) >= n,
        raise_error(format_string(
          s"gather index %s null or out of bounds for dim $n", col(vcol).cast("string"))))
      .otherwise(when(col(vcol) < 0, col(vcol) + n).otherwise(col(vcol)))
      .cast(LongType).as("__gsrc")
    val idxSide = indices.df.select(
      (0 until m).map(i => col(s"__idx$i").as(s"__gpos$i")) :+ checkedSrc: _*)
    val self = df.select((idxCols ++ arrayCols).map(col): _*)
    val w = self.columns.length
    // axes before ax unchanged; the index frame's m axes land at
    // ax..ax+m-1; self's axes after ax shift by m-1
    val out = (0 until ax).map(j => (s"__idx$j", j)) ++
      (0 until m).map(i => (s"__idx${ax + i}", w + i)) ++
      ((ax + 1) until ndim).map(j => (s"__idx${j + m - 1}", j)) ++
      arrayCols.indices.map(i => (arrayCols(i), ndim + i))
    val newShape = shape.take(ax) ++ indices.shape ++ shape.drop(ax + 1)
    val joined = DcaFrame.keyJoin(
      DcaFrame.JoinSide(self, HashProbeRDD.Key(Array(ax), Array(1L)), size),
      DcaFrame.JoinSide(idxSide, HashProbeRDD.Key(Array(m), Array(1L)), indices.size),
      out, Shape.size(newShape))(_.join(_, col(s"__idx$ax") === col("__gsrc")))
    derived(df = joined, shape = newShape)
  }

  /** Per-first-dim decomposition (S9) — a driver-boundary op. */
  def iterFirstDim(): Iterator[DcaFrame] = {
    require(ndim > 0, "iteration over a 0-d array")
    (0L until shape.head).iterator.map(i => apply(Indexing.Ix.I(i)))
  }

  // ---------------------------------------------------------------------
  // Projection / update (S11-S13)
  // ---------------------------------------------------------------------

  /** Elementwise fn over every array column (S11 `map_field`,
    * `array_dataclass.py:455-463`); pure projection, codegen-friendly.
    */
  def mapField(fn: Column => Column): DcaFrame =
    derived(df = df.select(idxCols.map(col) ++ arrayCols.map(n => fn(col(n)).as(n)): _*))

  /** `map_field` with structural recursion into nested dataclass
    * columns (S12 `_map_field`, `array_dataclass.py:740-770`; "Nested"
    * fixture): `fn` is applied to every LEAF (non-struct) field, struct
    * columns are rebuilt field-by-field — still a single projection, no
    * shuffle, and `withField`-free so the whole struct is rebuilt in
    * one codegen'd expression.
    */
  def mapFieldNested(fn: Column => Column): DcaFrame = {
    import org.apache.spark.sql.types.{StructType => ST}
    def rec(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
      case st: ST =>
        struct(st.fields.map(f => rec(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => fn(c)
    }
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    derived(df = df.select(idxCols.map(col) ++
      arrayCols.map(n => rec(col(n), types(n)).as(n)): _*))
  }

  /** Functional field update (S13 `replace`, `array_dataclass.py:467-494`). */
  def replaceField(name: String, value: Column): DcaFrame = {
    require(arrayCols.contains(name), s"unknown field $name")
    derived(df = df.select(idxCols.map(col) ++ arrayCols.map(n => (if (n == name) value else col(n)).as(n)): _*))
  }

  /** Replace a static field (never touches the data). */
  def replaceStatic(name: String, value: Any): DcaFrame =
    copy(statics = statics + (name -> value))

  /** Arbitrary per-element Scala function over the payload (V1's
    * general path — the analog of the reference's numpy loop,
    * `vectorization.py:333-347`). LAST RESORT by the custom-operator
    * preference order: it leaves whole-stage codegen (row-at-a-time
    * through an opaque closure); prefer Column expressions
    * ([[mapField]]/[[replaceField]]) whenever the body is expressible.
    * Distribution semantics are unchanged — narrow, per-partition.
    *
    * @param fn        payload Row => payload values (idx cols are
    *                  managed by the frame and not passed through fn)
    * @param newSchema schema of fn's output payload
    */
  def mapRows(fn: Row => Seq[Any], newSchema: StructType): DcaFrame = {
    val n = ndim
    val spark = df.sparkSession
    val outSchema = new StructType(
      (df.schema.fields.take(n) ++ newSchema.fields).toArray)
    val rdd = df.rdd.map { r =>
      Row.fromSeq(r.toSeq.take(n) ++ fn(Row.fromSeq(r.toSeq.drop(n))))
    }
    derived(df = spark.createDataFrame(rdd, outSchema),
      arrayCols = newSchema.fieldNames.toVector)
  }

  // ---------------------------------------------------------------------
  // Interop (I-ops): parquet round trip. The materialized index columns
  // ARE the serialized row identity/order (`array_dataclass.py:863-878`
  // pickle analog); shape is re-derived on load from the dense-index
  // invariant (per-axis max + 1).
  // ---------------------------------------------------------------------

  def saveParquet(path: String): Unit =
    df.select((idxCols ++ arrayCols).map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** Typed case-class view of the payload (I1-I3/I5: the Encoder is
    * the Spark analog of the reference's pytree/backend conversion
    * boundary). Row ORDER is not defined on the returned Dataset — the
    * batch index is the order; use [[collectTyped]] for an ordered
    * driver-side materialization or keep working through the frame.
    */
  def asDataset[T: org.apache.spark.sql.Encoder]: org.apache.spark.sql.Dataset[T] =
    df.select(arrayCols.map(col): _*).as[T]

  /** Ordered driver-side typed materialization (small data / tests):
    * the rows of [[collectOrdered]], decoded through a local relation.
    */
  def collectTyped[T: org.apache.spark.sql.Encoder](): Seq[T] =
    df.sparkSession.createDataFrame(collectOrdered().toSeq.asJava, payloadSchema).as[T]
      .collect().toSeq

  /** Release the staged cache this frame owns (the frame
    * [[DcaFrame.fromDF]]/[[mask]] built); a slice of it only borrows
    * the cache, and freeing the slice frees nothing. Pinning is
    * [[CacheTracker]]'s job, so this is the only cache a frame holds.
    * Every staged frame's `df`, the owner's included, is a window that
    * reads the cache directly, so after the owner's release neither it
    * NOR any frame derived from it may be used — a recomputed cache
    * could re-sample the range sort's bounds and mis-index, which the
    * window's per-partition size check turns into an error where it
    * reads a partition to its end.
    */
  def unpersist(): DcaFrame = {
    staging.filter(_.owned).foreach(s => CacheTracker.free(s.frame))
    copy(staging = None)
  }

  // ---------------------------------------------------------------------
  // Vectorize alignment (V2): join the other frame on the shared batch
  // index after broadcasting both to the joint shape.
  // ---------------------------------------------------------------------

  /** Align `other` against this frame per the reference's vectorize
    * broadcast rules (`vectorization.py:246-300`): front-aligned dims
    * equal-or-1, arg may carry extra trailing dims. Returns the aligned
    * frame pair broadcast to the joint batch shape; caller then zips
    * them with [[zipJoin]] (the dim-1 side was replicated by
    * [[broadcastTo]]'s generator, no join).
    */
  def alignForVectorize(other: DcaFrame): (DcaFrame, DcaFrame, Shape) = {
    val (joint, extra) = Shape.vectorizeBatch(shape, other.shape)
    val selfB = this.broadcastTo(joint)
    val otherB = other.broadcastTo(joint ++ extra)
    (selfB, otherB, joint)
  }

  /** Zip `other`, whose shape extends this frame's (`other.shape` =
    * `this.shape ++ extra`; equal shapes are `extra = ()`), on the
    * shared leading batch index — the executed form of V2 arg alignment
    * (`vectorization.py:246-300`): each self element is replicated
    * across its arg element's `extra` dims. Inner equi-join on the
    * shared `__idx*` prefix, keyed by its linear index (see
    * [[DcaFrame.keyJoin]]); the result has `other.shape` and carries
    * `other`'s payload after this frame's, a clashing name suffixed.
    */
  def zipJoin(other: DcaFrame, suffix: String = "_r"): DcaFrame = {
    require(other.shape.take(ndim) == shape && other.ndim >= ndim,
      s"zipJoin: ${other.shape} does not extend $shape")
    val rCols = other.arrayCols.map(n => if (arrayCols.contains(n)) n + suffix else n)
    val self = df.select((idxCols ++ arrayCols).map(col): _*)
    val rdf = other.df.select(other.idxCols.map(col) ++
      other.arrayCols.zip(rCols).map { case (o, n) => col(o).as(n) }: _*)
    val w = self.columns.length
    // the right side keeps __idx{ndim..}
    val out = other.idxCols.indices.map(j => (s"__idx$j", w + j)) ++
      arrayCols.indices.map(i => (arrayCols(i), ndim + i)) ++
      rCols.indices.map(i => (rCols(i), w + other.ndim + i))
    val key = HashProbeRDD.Key(Array.range(0, ndim), Shape.strides(shape).toArray)
    val joined = DcaFrame.keyJoin(DcaFrame.JoinSide(self, key, size),
      DcaFrame.JoinSide(rdf, key, other.size), out, other.size)(_.join(_, idxCols))
    derived(df = joined, shape = other.shape, arrayCols = arrayCols ++ rCols,
      statics = statics ++ other.statics)
  }

  /** V2 end-to-end: align `other` per the reference's vectorize
    * broadcast rules (leading dims broadcast, extra trailing dims
    * allowed) and zip on the batch index. Result shape =
    * joint ++ extra.
    */
  def vectorizeZip(other: DcaFrame, suffix: String = "_r"): DcaFrame = {
    val (selfB, otherB, _) = alignForVectorize(other)
    selfB.zipJoin(otherB, suffix)
  }
}

object DcaFrame {
  def idxColNames(ndim: Int): Vector[String] = (0 until ndim).map(i => s"__idx$i").toVector

  /** The staged cache behind a [[fromDF]]/[[DcaFrame.mask]] frame,
    * seen as an affine view: element `k` of the view is the cached row
    * at dense position `first + k * step`. `frame` is the persisted
    * payload in dense order and `offsets` the dense-position range of
    * each cached partition — partition p holds positions
    * `[offsets(p), offsets(p + 1))`, in cache order. The constructing
    * frame's handle is the identity view (`first = 0, step = 1`) and
    * [[owned]]: only it frees the cache, and its frame's `df` is
    * `window(n)`. [[view]] composes a slice into a borrowed handle over
    * the same cache, the way a numpy slice is an offset and stride over
    * the same buffer.
    */
  final class Staging(val frame: DataFrame, val offsets: Vector[Long],
      val first: Long = 0L, val step: Long = 1L, val owned: Boolean = true) {
    private lazy val cached = frame.queryExecution.toRdd

    /** Element `k` of the result is element `start + k * s` of this
      * view; borrowed, so freeing it frees nothing.
      */
    def view(start: Long, s: Long): Staging =
      new Staging(frame, offsets, first + start * step, step * s, owned = false)

    /** The first `len` elements of this view as a frame of `__idx0`
      * followed by the columns of `frame`, read from only the cached
      * partitions that overlap their positions and, within each, only
      * the positions in range and on the step; `__idx0` is the element
      * number `(pos - first) / step`. No per-call value enters a
      * generated expression. A lazy leaf whose statistics carry the
      * exact row count `len`: building it runs no job and pins nothing;
      * it reads the staged cache, so it dies with the owner's
      * [[DcaFrame.unpersist]] / the session sweep like any view.
      */
    def window(len: Long): DataFrame = {
      val last = first + (len - 1) * step
      val (lo, hi) = if (len <= 0) (0L, -1L) else (math.min(first, last), math.max(first, last))
      val kept = (0 until offsets.length - 1)
        .filter(p => offsets(p) <= hi && offsets(p + 1) > lo && offsets(p + 1) > offsets(p)).toArray
      val schema = StructType(StructField("__idx0", LongType, nullable = false) +: frame.schema.fields)
      val rows = new WindowRDD(cached, kept, offsets.toArray, lo, hi, first, step)
      GraftSqlBridge.sizedRddFrame(frame.sparkSession, schema, rows, math.max(0L, len))
    }
  }

  /** One side of a [[keyJoin]]: `rows` rows of `df`, each joined on `key`. */
  private final case class JoinSide(df: DataFrame, key: HashProbeRDD.Key, rows: Long) {
    def bytes: Long = rows * GraftSqlBridge.rowBytes(df.schema)

    /** The bytes one scan of `df` reads: more than [[bytes]] when it
      * reads staged windows, which read each cached partition they keep
      * from its start, however few of its rows they emit.
      */
    def scanBytes: Long = {
      val read = GraftSqlBridge.leafRdds(df).collect { case w: WindowRDD => w.rowsRead }.sum
      math.max(rows, read) * GraftSqlBridge.rowBytes(df.schema)
    }
  }

  /** The equi-join of two frames on their sides' keys, `rows` rows of
    * the columns `out` names, each with its ordinal in the joined row
    * (the left side's fields, then the right side's). `sqlJoin`'s output
    * must carry each picked field under its own name, once.
    *
    * The side smaller by exact bytes is the build side. When reading it
    * in every probe partition costs no more than one broadcast may ship
    * (`spark.sql.autoBroadcastJoinThreshold`; a staged window is charged
    * the cached rows it reads, not the rows it emits) and building either side's
    * RDD runs no job, the join runs in the probe side's own stage
    * ([[HashProbeRDD]]) under a leaf that knows its exact row count: one
    * job, one stage, no exchange. Otherwise `sqlJoin` plans it in SQL —
    * the scale path — with the build side broadcast when it alone fits
    * in one broadcast, else sort-merged; the exact sizes choose, not
    * Catalyst's estimates, which do not scale a replicating generator.
    */
  private def keyJoin(left: JoinSide, right: JoinSide, out: Seq[(String, Int)], rows: Long)(
      sqlJoin: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = left.df.sparkSession
    val threshold = GraftSqlBridge.broadcastThreshold(spark)
    val buildLeft = left.bytes <= right.bytes
    val (build, probe) = if (buildLeft) (left, right) else (right, left)
    val inStage = Seq(left, right).forall(s =>
      GraftSqlBridge.buildsWithoutJobs(s.df.queryExecution.executedPlan))
    lazy val probeRdd = probe.df.queryExecution.toRdd
    val joined = StructType(left.df.schema.fields ++ right.df.schema.fields)
    if (inStage && build.scanBytes * math.max(1, probeRdd.getNumPartitions) <= threshold) {
      val rdd = new HashProbeRDD(probeRdd, build.df.queryExecution.toRdd, probe.key, build.key,
        buildLeft, joined, out.map(_._2).toArray)
      val schema = StructType(out.map { case (n, i) => joined(i).copy(name = n) })
      GraftSqlBridge.sizedRddFrame(spark, schema, rdd, rows)
    } else {
      val fits = build.bytes <= threshold
      def hinted(s: JoinSide) = if (!fits) s.df.hint("merge") else if (s eq build) broadcast(s.df) else s.df
      sqlJoin(hinted(left), hinted(right)).select(out.map { case (n, i) => col(joined(i).name).as(n) }: _*)
    }
  }

  /** Construct from a DataFrame, adding a dense 1-D index in `sortCols`
    * order. Ordering is established by a range-repartition +
    * partition-local sort into a staged cache ([[denseIndex]]); the
    * frame's `df` is that cache's identity window, whose `__idx0` is
    * each row's cache position — no single-partition stage, so it
    * scales to arbitrarily large inputs. Building runs the range sort's
    * sampling job, its shuffle-map job and one job that fills the staged
    * cache and counts each partition's rows.
    *
    * `sortCols` MUST be a unique key: ties would make the assigned row
    * identity depend on partitioning, breaking the deterministic-order
    * contract every downstream op relies on (SURVEY §1.1 row identity).
    */
  def fromDF(df: DataFrame, sortCols: Seq[Column], arrayCols: Seq[String] = Nil,
             statics: Map[String, Any] = Map.empty): DcaFrame = {
    val cols = if (arrayCols.nonEmpty) arrayCols.toVector else df.columns.toVector
    val (staged, n) = denseIndex(df.select(cols.map(col): _*), sortCols)
    DcaFrame(staged.window(n), Vector(n), cols, statics, staging = Some(staged))
  }

  /** Build a 1-D frame from a typed Dataset; row identity comes from
    * `sortCols` (must be a unique key — see [[fromDF]]).
    */
  def fromDataset[T](ds: org.apache.spark.sql.Dataset[T], sortCols: Seq[Column]): DcaFrame =
    fromDF(ds.toDF(), sortCols)

  /** Statics-only frame — the analog of a dataclass with ONLY static
    * fields (`array_dataclass.py:939-952`, which injects a dummy array
    * field so `.shape` works): an index-only lattice of the requested
    * shape carrying no payload columns. All shape algebra (reshape,
    * broadcast, slice, stack, concat) works; `mapField` is a no-op.
    */
  def staticOnly(spark: SparkSession, shape: Shape,
                 statics: Map[String, Any] = Map.empty): DcaFrame = {
    val n = Shape.size(shape)
    val flat = spark.range(n).select(col("id").cast(LongType).as("__idx0"))
    DcaFrame(flat, Vector(n), Vector.empty, statics).reshapeTo(shape)
  }

  /** Local construction (tests / small data): rows in given order. */
  def fromLocal(spark: SparkSession, rows: Seq[Row], schema: StructType,
                shape: Shape = null): DcaFrame = {
    val withIdx = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) }
    val st = new StructType((new StructType().add("__idx0", LongType) ++ schema).toArray)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(withIdx, math.max(1, withIdx.size / 1000 + 1)), st)
    val base = DcaFrame(df, Vector(rows.size.toLong), schema.fieldNames.toVector)
    if (shape == null) base else base.reshapeTo(shape)
  }

  /** The row-major indices of linear index `lin` over `dims`: axis i
    * is `lin div strides(i) % dims(i)`, without the `div` on the last
    * axis (stride 1) or the `%` on the first (its quotient is already
    * below dims(0)). Integral `div`, exact over the full long range;
    * every constant is a [[Param]].
    */
  private[core] def unravel(lin: Column, dims: Shape): Vector[Column] = {
    val st = Shape.strides(dims)
    dims.indices.map { i =>
      val q = if (i == dims.length - 1) lin else call_function("div", lin, Param.col(st(i)))
      if (i == 0) q else q % Param.col(dims(i))
    }.toVector
  }

  /** Load a frame saved with [[DcaFrame.saveParquet]]: shape comes from
    * the dense-index invariant (max+1 per `__idx*` column; one agg job).
    */
  def loadParquet(spark: SparkSession, path: String): DcaFrame = {
    val df = spark.read.parquet(path)
    val idxNames = df.columns.filter(_.startsWith("__idx"))
      .sortBy(_.stripPrefix("__idx").toInt).toVector
    val payload = df.columns.filterNot(idxNames.contains).toVector
    val shape: Shape =
      if (idxNames.isEmpty) Vector.empty
      else {
        val maxes = df.agg(
          max(col(idxNames.head)).as("m0"),
          idxNames.tail.zipWithIndex.map { case (n, i) => max(col(n)).as(s"m${i + 1}") }: _*).head()
        idxNames.indices.map(i =>
          if (maxes.isNullAt(i)) 0L else maxes.getLong(i) + 1L).toVector
      }
    DcaFrame(df, shape, payload)
  }

  /** Stages `df` behind a dense 0..n-1 index: `df`'s rows,
    * range-partitioned and sorted within partitions by `sortCols`
    * (empty `sortCols` keep `df`'s own partition order), are
    * persisted, and their dense index is their position in the cache —
    * the scalable replacement for `row_number()` over a global window
    * (SURVEY §7.5.1). `sortCols` may read columns `df`'s final
    * projection dropped; the cache holds exactly `df`'s columns.
    *
    * The sorted input is persisted so the counting job and every
    * downstream job see ONE materialization (a re-executed range
    * shuffle could re-sample different partition bounds and silently
    * mis-index). One RDD job over the cache fills it and counts the
    * rows of each partition — a `groupBy` count would be a map job
    * plus a result job under AQE. This staged cache is the frame's
    * ONLY cache — it is returned as a [[Staging]] handle with the
    * per-partition offsets, carried on [[DcaFrame.staging]], pinned
    * through `CacheTracker`, and released via [[DcaFrame.unpersist]] or
    * the session sweep; [[Staging.window]] reads it.
    *
    * @return (the owned identity handle of the cache, total row count)
    */
  private[core] def denseIndex(df: DataFrame, sortCols: Seq[Column]): (Staging, Long) = {
    val sorted =
      if (sortCols.isEmpty) df
      else df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
    val staged = CacheTracker.persist(sorted)
    val cached = staged.queryExecution.toRdd
    val counts = staged.sparkSession.sparkContext.runJob(cached, CountRows, 0 until cached.getNumPartitions)
    // offsets(p) = first index of partition p; offsets(nPart) = total
    val offsets = counts.toVector.scanLeft(0L)(_ + _)
    (new Staging(staged, offsets), offsets.last)
  }

  /** A partition's row count, as a named function: Spark's closure
    * cleaner parses the class of every lambda a job is handed, and
    * skips a named function's.
    */
  private object CountRows extends ((TaskContext, Iterator[InternalRow]) => Long) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Long = rows.foldLeft(0L)((n, _) => n + 1)
  }

  /** Stack k same-shape frames along a NEW axis (M1, `ops.py:90-106`):
    * `unionByName` of the inputs, each tagged with its position on the
    * new axis — narrow, no shuffle. Static fields come from the first
    * element (matching the reference).
    */
  def stack(frames: Seq[DcaFrame], axis: Int = 0): DcaFrame = {
    require(frames.nonEmpty, "stack of empty sequence")
    val s0 = frames.head.shape
    require(frames.forall(_.shape == s0), s"stack shape mismatch: ${frames.map(_.shape)}")
    require(frames.forall(_.arrayCols == frames.head.arrayCols),
      "stack field mismatch (schema equality check, ops.py:63-71)")
    val ax = Shape.toAbsoluteAxisInsert(axis, s0.length)
    val tagged = frames.zipWithIndex.map { case (f, k) =>
      // new axis ax = k; old axis j -> new axis (j < ax ? j : j+1)
      val newIdx = (0 to s0.length).map { i =>
        (if (i == ax) lit(k.toLong) else col(s"__idx${if (i < ax) i else i - 1}")).as(s"__idx$i")
      }
      f.df.select(newIdx ++ f.arrayCols.map(col): _*)
    }
    val newShape = (s0.take(ax) :+ frames.size.toLong) ++ s0.drop(ax)
    DcaFrame(tagged.reduce(_ unionByName _), newShape, frames.head.arrayCols, frames.head.statics)
  }

  /** Concatenate along an EXISTING axis (M2, `ops.py:109-121`):
    * `unionByName` with a cumulative [[Param]] offset on that axis —
    * narrow.
    */
  def concat(frames: Seq[DcaFrame], axis: Int = 0): DcaFrame = {
    require(frames.nonEmpty, "concat of empty sequence")
    val h = frames.head
    val ax = Shape.toAbsoluteAxis(axis, h.shape.length)
    frames.foreach { f =>
      require(f.shape.length == h.shape.length &&
        f.shape.zipWithIndex.forall { case (d, i) => i == ax || d == h.shape(i) },
        s"concat shape mismatch on non-concat axis: ${frames.map(_.shape)}")
      require(f.arrayCols == h.arrayCols, "concat field mismatch")
    }
    val offsets = frames.map(_.shape(ax)).scanLeft(0L)(_ + _)
    val shifted = frames.zip(offsets).map { case (f, off) =>
      if (off == 0L) f.df
      else f.df.withColumn(s"__idx$ax", col(s"__idx$ax") + Param.col(off))
    }
    val newShape = h.shape.updated(ax, frames.map(_.shape(ax)).sum)
    DcaFrame(shifted.reduce(_ unionByName _), newShape, h.arrayCols, h.statics)
  }
}
