package graft.core

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.collection.mutable.{ArrayBuffer, LongMap}

/** The rows of a staged window ([[DcaFrame.Staging.window]]): partition
  * `i` reads cached partition `kept(i)`, whose first row sits at dense
  * position `starts(i)`, and keeps the positions in `[lo, hi]` that lie
  * on the view's step from `first`, each as the row `(element number,
  * the cached row's columns at ords)`. One RDD over the kept partitions
  * only, so a window inside one partition is one task.
  */
private[core] final class WindowRDD(
    private var cached: RDD[InternalRow], kept: Array[Int], starts: Array[Long],
    lo: Long, hi: Long, first: Long, step: Long, ords: Array[Int], types: Array[DataType])
    extends RDD[InternalRow](cached.context, Nil) {

  override protected def getPartitions: Array[Partition] = {
    val parent = cached.partitions
    kept.indices.map(i => WindowRDD.Part(i, parent(kept(i))): Partition).toArray
  }

  override protected def getDependencies = Seq(new NarrowDependency(cached) {
    override def getParents(p: Int): Seq[Int] = Seq(kept(p))
  })

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val part = split.asInstanceOf[WindowRDD.Part]
    val it = cached.iterator(part.parent, context)
    var pos = starts(part.index)
    while (pos < lo && it.hasNext) { it.next(); pos += 1 }
    it.takeWhile(_ => pos <= hi).flatMap { r =>
      val off = pos - first
      pos += 1
      if (off % step != 0) None
      else {
        val out = new GenericInternalRow(ords.length + 1)
        out.setLong(0, off / step)
        var k = 0
        while (k < ords.length) { out.update(k + 1, r.get(ords(k), types(k))); k += 1 }
        Some(out: InternalRow)
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
