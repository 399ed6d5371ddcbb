package graft.core

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.types.{LongType, StructType}
import scala.collection.mutable.{ArrayBuffer, LongMap}

/** The rows of a staged window ([[DcaFrame.Staging.window]]): partition
  * `i` reads cached partition `p = kept(i)`, which holds dense positions
  * `[offsets(p), offsets(p + 1))`, and keeps the positions in `[lo, hi]`
  * that lie on the view's step from `first`, each as the row
  * `(element number, the cached row)`; the scan over this RDD projects
  * it into an `UnsafeRow`. One RDD over the kept partitions only, so a
  * window inside one partition is one task. A partition the window
  * reads to its end must hold exactly the rows its offsets say: a
  * recomputed block of another size would shift every position after it.
  */
private[core] final class WindowRDD(
    private var cached: RDD[InternalRow], kept: Array[Int], offsets: Array[Long],
    lo: Long, hi: Long, first: Long, step: Long)
    extends RDD[InternalRow](cached.context, Nil) {

  /** The cached rows a scan reads: each kept partition from its start
    * (a window skips the rows before `lo` by reading them) up to `hi`.
    */
  def rowsRead: Long = if (kept.isEmpty) 0L else hi + 1 - offsets(kept.head)

  override protected def getPartitions: Array[Partition] = {
    val parent = cached.partitions
    kept.indices.map(i => WindowRDD.Part(i, parent(kept(i))): Partition).toArray
  }

  override protected def getDependencies = Seq(new NarrowDependency(cached) {
    override def getParents(p: Int): Seq[Int] = Seq(kept(p))
  })

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val parent = split.asInstanceOf[WindowRDD.Part].parent
    val (start, end) = (offsets(parent.index), offsets(parent.index + 1))
    val in = cached.iterator(parent, context)
    def wrongSize(held: String) = new IllegalStateException(s"staged partition ${parent.index} " +
      s"holds $held rows, not the ${end - start} its offsets say: its cache was recomputed")
    val last = math.min(hi, end - 1)
    var pos = start // the position of the next cached row
    def read(): InternalRow = {
      if (!in.hasNext) throw wrongSize(s"${pos - start}")
      pos += 1
      in.next()
    }
    while (pos < lo) read()
    val idx = new SpecificInternalRow(Seq(LongType))
    val joined = new JoinedRow
    new Iterator[InternalRow] {
      def hasNext: Boolean = {
        while (pos <= last && (pos - first) % step != 0) read()
        if (pos <= last) true
        else if (last == end - 1 && in.hasNext) throw wrongSize(s"more than ${end - start}")
        else false
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("end of the window")
        idx.setLong(0, (pos - first) / step)
        joined(idx, read())
      }
    }
  }

  override def clearDependencies(): Unit = { super.clearDependencies(); cached = null }
}

private[core] object WindowRDD {
  final case class Part(index: Int, parent: Partition) extends Partition
}

/** A key-equality join of two row sets in the probe side's own stage,
  * as Spark's `CartesianRDD` pairs its parents: partition `p` first
  * reads EVERY partition of `build` into a `LongMap` from key to its
  * (copied) rows, in partition order, then streams probe partition `p`
  * and emits, for each probe row, one row per build row of the same
  * key, in build order — so the output order is deterministic. A key is
  * `sum(row(ords(i)) * strides(i))` over long columns.
  *
  * The output row is `out` (ordinals into the joined row, whose fields
  * are the left side's then the right side's; `buildLeft` says which
  * side `build` is) projected through `JoinedRow` + `UnsafeProjection`.
  * A probe side with no partitions still gets one partition that reads
  * the build side, so a check the build side's rows carry still runs.
  */
private[core] final class HashProbeRDD(
    private var probe: RDD[InternalRow], private var build: RDD[InternalRow],
    probeKey: HashProbeRDD.Key, buildKey: HashProbeRDD.Key, buildLeft: Boolean,
    joinedSchema: StructType, out: Array[Int])
    extends RDD[InternalRow](probe.context, Nil) {

  private val nProbe = probe.getNumPartitions
  private val nBuild = build.getNumPartitions

  override protected def getPartitions: Array[Partition] = {
    val (ps, bs) = (probe.partitions, build.partitions)
    Array.tabulate(math.max(1, nProbe))(p => HashProbeRDD.Part(p, ps.lift(p), bs): Partition)
  }

  override protected def getDependencies = Seq(
    new NarrowDependency(probe) {
      override def getParents(p: Int): Seq[Int] = if (p < nProbe) Seq(p) else Nil
    },
    new NarrowDependency(build) {
      override def getParents(p: Int): Seq[Int] = 0 until nBuild
    })

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val part = split.asInstanceOf[HashProbeRDD.Part]
    val table = LongMap.empty[ArrayBuffer[InternalRow]]
    part.build.foreach { b =>
      build.iterator(b, context).foreach { r =>
        table.getOrElseUpdate(buildKey(r), ArrayBuffer.empty) += r.copy()
      }
    }
    part.probe.fold(Iterator.empty[InternalRow]) { p =>
      val proj = UnsafeProjection.create(out.toSeq.map { i =>
        val f = joinedSchema(i)
        BoundReference(i, f.dataType, f.nullable)
      })
      val joined = new JoinedRow
      probe.iterator(p, context).flatMap { r =>
        table.get(probeKey(r)).fold(Iterator.empty[InternalRow]) { bs =>
          bs.iterator.map(b => proj(if (buildLeft) joined(b, r) else joined(r, b)))
        }
      }
    }
  }

  override def clearDependencies(): Unit = { super.clearDependencies(); probe = null; build = null }
}

private[core] object HashProbeRDD {
  final case class Part(index: Int, probe: Option[Partition], build: Array[Partition]) extends Partition

  /** The key of a row: `sum(row(ords(i)) * strides(i))` over long columns. */
  final case class Key(ords: Array[Int], strides: Array[Long]) {
    def apply(r: InternalRow): Long = {
      var k = 0L
      var i = 0
      while (i < ords.length) { k += r.getLong(ords(i)) * strides(i); i += 1 }
      k
    }
  }
}
