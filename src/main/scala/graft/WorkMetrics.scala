package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Cumulative work counters captured by [[WorkMetricsListener]].
  * All byte fields come from Spark's own task metrics.
  */
final case class WorkSnap(
    tasks: Long,
    shuffleRead: Long,
    shuffleWrite: Long,
    memSpill: Long,
    diskSpill: Long,
    inputBytes: Long) {
  def -(o: WorkSnap): WorkSnap = WorkSnap(
    tasks - o.tasks,
    shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite,
    memSpill - o.memSpill,
    diskSpill - o.diskSpill,
    inputBytes - o.inputBytes)

  /** Plan-shape stability: task counts are exact functions of the
    * physical plan; shuffle/scan BYTES are too, up to compression-block
    * boundaries that move a few KB when range-partition sampling (seeded
    * by the in-JVM RDD id) redistributes rows — so bytes compare within
    * max(4 KB, 0.2%). Spill is EXCLUDED — it depends on transient memory
    * pressure, not the plan.
    */
  def closeTo(o: WorkSnap): Boolean = {
    def near(a: Long, b: Long): Boolean =
      math.abs(a - b) <= math.max(4096L, math.max(a, b) / 500)
    tasks == o.tasks && near(shuffleRead, o.shuffleRead) &&
      near(shuffleWrite, o.shuffleWrite) && near(inputBytes, o.inputBytes)
  }

  def json: String =
    s"""{"tasks":$tasks,"shuffle_read":$shuffleRead,"shuffle_write":$shuffleWrite,""" +
      s""""mem_spill":$memSpill,"disk_spill":$diskSpill,"input_bytes":$inputBytes}"""
}

/** One completed stage: wall seconds (-1 when Spark recorded no
  * submission or completion time), tasks, executor CPU and bytes.
  */
final case class StageRecord(
    stageId: Int,
    wallSec: Double,
    tasks: Int,
    cpuNanos: Long,
    inputBytes: Long,
    shuffleRead: Long,
    shuffleWrite: Long,
    name: String) {
  def line: String =
    f"[stage $stageId%3d] $wallSec%6.2fs tasks=$tasks%4d cpu=${cpuNanos / 1e9}%6.2fs " +
      f"input=$inputBytes%10d shufR=$shuffleRead%9d shufW=$shuffleWrite%9d  ${name.take(60)}"
}

/** Accumulates deterministic per-task work metrics so the bench can report
  * WHAT a query did (tasks scheduled, bytes shuffled/scanned/spilled) next
  * to how long it took. Wall-clock on this sandbox drifts ±40% with host
  * load (PROBES.md, rounds 13-14); shuffle bytes and task counts do not —
  * they separate real plan changes from drift.
  *
  * Snapshots are only meaningful after draining the async listener bus
  * ([[org.apache.spark.graft.BusFlush.drain]]); see [[snapshotAfterDrain]].
  */
final class WorkMetricsListener extends SparkListener {
  private val tasks = new LongAdder
  private val shufR = new LongAdder
  private val shufW = new LongAdder
  private val memSp = new LongAdder
  private val diskSp = new LongAdder
  private val input = new LongAdder
  private val stages = new ConcurrentLinkedQueue[StageRecord]

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      tasks.increment()
      shufR.add(m.shuffleReadMetrics.totalBytesRead)
      shufW.add(m.shuffleWriteMetrics.bytesWritten)
      memSp.add(m.memoryBytesSpilled)
      diskSp.add(m.diskBytesSpilled)
      input.add(m.inputMetrics.bytesRead)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield (b - a) / 1e3)
        .getOrElse(-1.0)
      stages.add(StageRecord(si.stageId, wall, si.numTasks, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, si.name))
    }
  }

  /** Stages completed since the previous call, oldest first. Call after
    * [[snapshotAfterDrain]] so every event up to the snapshot is in.
    */
  def takeStages(): Seq[StageRecord] =
    Iterator.continually(stages.poll()).takeWhile(_ != null).toList

  /** Drain pending listener events, then snapshot the running totals. */
  def snapshotAfterDrain(spark: SparkSession): WorkSnap = {
    org.apache.spark.graft.BusFlush.drain(spark.sparkContext)
    WorkSnap(tasks.sum, shufR.sum, shufW.sum, memSp.sum, diskSp.sum, input.sum)
  }
}

object WorkMetricsListener {
  /** Register a fresh listener on the session's context. */
  def install(spark: SparkSession): WorkMetricsListener = {
    val l = new WorkMetricsListener
    spark.sparkContext.addSparkListener(l)
    l
  }
}
