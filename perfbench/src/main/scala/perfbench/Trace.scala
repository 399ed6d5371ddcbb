package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Span nesting levels of the traced run. */
object Level {
  val Workload = 1
  val Operation = 2
  val Step = 3
  val Action = 4
  val Job = 5
  val Stage = 6
  val names: Map[Int, String] = Map(Workload -> "workload", Operation -> "operation",
    Step -> "step", Action -> "action", Job -> "job", Stage -> "stage")
}

/** One span; times are epoch microseconds. */
final case class Span(id: Long, var parent: Long, level: Int, name: String,
                      start: Long, var end: Long)

/** Epoch-microsecond clock on the driver: nanoTime-precise, aligned with
  * the epoch milliseconds Spark stamps on its listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** JVM-wide counters read on the driver at operation boundaries. */
object JvmCounters {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  def gcMs: Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Sum of the heap pools' peak usage since the last reset. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
  def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
  def compiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
  /** Bytes of cached RDD blocks (memory + disk) held right now. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}

/** In-memory tracer for one workload: driver spans (workload, operation,
  * step), Spark SQL executions (action), jobs and stages, plus per-op
  * counters from Spark's listener, its QueryExecutionListener, the
  * codegen metrics and the JVM. Nothing in the engine is instrumented:
  * the driver spans wrap public calls, and jobs find their span through
  * the `perfbench.span` local property set on the driver thread.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1L
  @volatile private var currentOp = -1L
  private var lastOp = -1L
  private val counters = mutable.Map.empty[(Long, String), Double]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stragglers = mutable.ArrayBuffer.empty[Double]
  private var cachedPeak = 0.0
  private var installed = false

  val PropKey = "perfbench.span"

  private def add(op: Long, k: String, v: Double): Unit = synchronized {
    counters((op, k)) = counters.getOrElse((op, k), 0.0) + v
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    JvmCounters.resetHeapPeak()
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    org.apache.spark.graft.BusFlush.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    sc.setLocalProperty(PropKey, null)
    installed = false
  }

  // ---- driver spans ------------------------------------------------------

  private def open(level: Int, name: String): Span = synchronized {
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(nextId, parent, level, name, Clock.nowUs, -1L)
    nextId += 1
    spans += s
    stack.push(s)
    sc.setLocalProperty(PropKey, s.id.toString)
    s
  }

  private def close(s: Span): Unit = synchronized {
    s.end = Clock.nowUs
    stack.pop()
    sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** A workload or step span around `body`. */
  def span[A](level: Int, name: String)(body: => A): A = {
    val s = open(level, name)
    try body finally close(s)
  }

  /** An operation span: counters inside are billed to it. After the
    * body (outside the span) the listener bus is drained so every event
    * of this operation is counted before the next one starts.
    */
  def op[A](name: String)(body: => A): A = {
    val gc0 = JvmCounters.gcMs
    val cms0 = JvmCounters.compileMs
    val cn0 = JvmCounters.compiles
    drainStaged()
    graft.queries.Staged.stagingByKey.clear()
    val s = open(Level.Operation, name)
    currentOp = s.id
    try body finally {
      close(s)
      org.apache.spark.graft.BusFlush.drain(sc)
      val id = s.id
      add(id, "jvm.gc_ms", JvmCounters.gcMs - gc0)
      add(id, "codegen.compile_ms", JvmCounters.compileMs - cms0)
      add(id, "codegen.compiles", JvmCounters.compiles - cn0)
      val builds = graft.queries.Staged.stagingByKey.size
      val accesses = drainStaged()
      add(id, "staged.builds", builds)
      add(id, "staged.accesses", accesses)
      add(id, "staged.build_s", graft.queries.Staged.stagingByKey.values.sum)
      cachedPeak = math.max(cachedPeak, JvmCounters.cachedMb(spark))
      currentOp = -1L
      lastOp = id
    }
  }

  private def drainStaged(): Int = {
    var n = 0
    while (graft.queries.Staged.accessLog.poll() != null) n += 1
    n
  }

  /** Add a counter to the last finished operation (driver side). */
  def countLast(k: String, v: Double): Unit = if (lastOp >= 0) add(lastOp, k, v)

  // ---- SparkListener -------------------------------------------------------

  private val JobBase = 1L << 40
  private val StageBase = 2L << 40
  private val ActionBase = 3L << 40

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
    val parent = prop.map(_.toLong).getOrElse(-1L)
    val id = JobBase + e.jobId
    spans += Span(id, parent, Level.Job, s"job ${e.jobId}", e.time * 1000, -1L)
    e.stageIds.foreach(sid => if (!stageJob.contains(sid)) stageJob(sid) = id)
    if (currentOp >= 0) add(currentOp, "sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val id = JobBase + e.jobId
    spans.reverseIterator.find(_.id == id).foreach(_.end = e.time * 1000)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (t0 <- i.submissionTime; t1 <- i.completionTime) {
      val id = StageBase + i.stageId * 64L + i.attemptNumber()
      spans += Span(id, stageJob.getOrElse(i.stageId, -1L), Level.Stage,
        s"stage ${i.stageId}.${i.attemptNumber()}", t0 * 1000, t1 * 1000)
      if (currentOp >= 0) add(currentOp, "sched.stages", 1)
    }
    stageTasks.remove((i.stageId, i.attemptNumber())).foreach { d =>
      if (d.size >= 2) {
        val sorted = d.sorted
        val med = sorted(sorted.size / 2)
        if (med > 0) stragglers += sorted.last.toDouble / med
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val op = currentOp
    if (m != null && op >= 0) {
      val info = e.taskInfo
      val dur = info.finishTime - info.launchTime
      add(op, "sched.tasks", 1)
      add(op, "sched.delay_ms", math.max(0L, dur - m.executorRunTime - m.resultSerializationTime))
      add(op, "exec.run_ms", m.executorRunTime)
      add(op, "exec.cpu_ms", m.executorCpuTime / 1e6)
      add(op, "exec.gc_ms", m.jvmGCTime)
      add(op, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add(op, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add(op, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add(op, "shuffle.spill_mb", m.diskBytesSpilled / 1e6)
      add(op, "io.input_mb", m.inputMetrics.bytesRead / 1e6)
      add(op, "io.output_mb", m.outputMetrics.bytesWritten / 1e6)
      synchronized {
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      spans += Span(ActionBase + s.executionId, -1L, Level.Action,
        s"sql ${s.executionId}", s.time * 1000, -1L)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      val id = ActionBase + s.executionId
      spans.reverseIterator.find(_.id == id).foreach(_.end = s.time * 1000)
    }
    case _ => ()
  }

  // ---- QueryExecutionListener ----------------------------------------------

  private def leaves(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case c: CommandResultExec => leaves(c.commandPhysicalPlan)
    case other => Iterator(other) ++ other.children.iterator.flatMap(leaves) ++
      other.subqueries.iterator.flatMap(leaves)
  }

  private def onQuery(qe: QueryExecution): Unit = {
    val op = currentOp
    if (op >= 0) {
      val ph = qe.tracker.phases
      add(op, "catalyst.actions", 1)
      add(op, "catalyst.analysis_ms", ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
      add(op, "catalyst.optimization_ms", ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0))
      add(op, "catalyst.planning_ms", ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0))
      leaves(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(m => add(op, "io.files_read", m.value.toDouble))
          add(op, "io.files_listed", s.relation.location.inputFiles.length.toDouble)
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(m => add(op, "io.files_written", m.value.toDouble))
        case _ => ()
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQuery(qe)

  // ---- report ----------------------------------------------------------------

  /** Link action and job spans into the tree, then compute per-op layer
    * metrics and per-level self times.
    */
  def report(): Report = synchronized {
    val slack = 2000L // us: listener times are whole milliseconds
    val driver = spans.filter(s => s.level <= Level.Step && s.end >= 0).toVector
    val actions = spans.filter(s => s.level == Level.Action && s.end >= 0).toVector
    def contains(p: Span, t: Long) = p.start - slack <= t && t <= p.end + slack
    actions.foreach { a =>
      val host = driver.filter(d => d.level >= Level.Operation && contains(d, a.start))
      a.parent = if (host.isEmpty) -1L else host.maxBy(_.start).id
    }
    val byId = spans.map(s => s.id -> s).toMap
    def under(s: Span, anc: Long): Boolean =
      s.id == anc || (s.parent > 0 && byId.get(s.parent).exists(p => under(p, anc)))
    spans.filter(s => s.level == Level.Job).foreach { j =>
      if (j.parent > 0) {
        val inner = actions.filter(a => a.parent > 0 && contains(a, j.start) &&
          byId.get(a.parent).exists(p => under(p, j.parent)))
        if (inner.nonEmpty) j.parent = inner.maxBy(_.start).id
      }
    }
    val kept = spans.filter(s => s.end >= s.start && (s.level == Level.Workload || s.parent > 0))
      .toVector
    def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      total + math.max(0L, curE - curS)
    }
    // the operation each span belongs to, through its parent chain
    def opOf(s: Span): Long = {
      var p: Option[Span] = Some(s)
      while (p.exists(_.level > Level.Operation)) p = p.flatMap(x => byId.get(x.parent))
      p.filter(_.level == Level.Operation).map(_.id).getOrElse(-1L)
    }
    val byOp = kept.filter(_.level > Level.Operation).groupBy(opOf)
    // self time of level L inside an operation = wall covered by spans of
    // level >= L minus wall covered by spans of level > L; the levels
    // then partition the operation's wall exactly
    val selfUs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    kept.filter(_.level == Level.Operation).foreach { o =>
      val inner = byOp.getOrElse(o.id, Vector.empty)
      def covered(l: Int) = union(inner.filter(_.level >= l)
        .map(k => (math.max(k.start, o.start), math.min(k.end, o.end))).filter(x => x._2 > x._1))
      val cov = (Level.Step to Level.Stage).map(l => l -> covered(l)).toMap + (Level.Stage + 1 -> 0L)
      selfUs(Level.Operation) += (o.end - o.start) - cov(Level.Step)
      (Level.Step to Level.Stage).foreach(l => selfUs(l) += cov(l) - cov(l + 1))
    }
    kept.filter(_.level == Level.Workload).foreach { w =>
      selfUs(Level.Workload) += (w.end - w.start) -
        kept.filter(o => o.level == Level.Operation && o.parent == w.id).map(o => o.end - o.start).sum
    }
    val ops = kept.filter(_.level == Level.Operation)
    // job gaps: driver time between consecutive jobs of one operation
    val jobsByOp = kept.filter(_.level == Level.Job).groupBy(opOf)
    val gapUs = ops.map { o =>
      val js = jobsByOp.getOrElse(o.id, Vector.empty).sortBy(_.start)
      var last = Long.MaxValue
      var gap = 0L
      js.foreach { j =>
        if (last != Long.MaxValue) gap += math.max(0L, j.start - last)
        last = if (last == Long.MaxValue) j.end else math.max(last, j.end)
      }
      gap
    }.sum
    val buildJobs = kept.count(j => j.level == Level.Job &&
      byId.get(j.parent).exists(_.name == "build"))
    val total = counters.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
    Report(kept, ops.size, ops.map(s => s.end - s.start).sum / 1000.0,
      selfUs.toMap.map { case (l, us) => l -> us / 1000.0 }, gapUs / 1000.0, buildJobs,
      total, if (stragglers.isEmpty) 1.0 else stragglers.sum / stragglers.size,
      cachedPeak, JvmCounters.heapPeakMb)
  }
}

/** What a traced phase measured. Times in ms unless named otherwise. */
final case class Report(spans: Vector[Span], nOps: Int, opWallMs: Double,
                        selfMs: Map[Int, Double], jobGapMs: Double, buildJobs: Int,
                        totals: Map[String, Double], stragglerRatio: Double,
                        cachedPeakMb: Double, heapPeakMb: Double) {
  def total(k: String): Double = totals.getOrElse(k, 0.0)
  def perOp(k: String): Double = if (nOps == 0) 0.0 else total(k) / nOps

  /** Mean wall of the step spans called `name`, in seconds. */
  def stepS(name: String): Double = {
    val s = spans.filter(x => x.level == Level.Step && x.name == name)
    if (s.isEmpty) 0.0 else s.map(x => x.end - x.start).sum / 1e6 / s.size
  }

  def json: String = {
    val sb = new StringBuilder("[")
    spans.sortBy(s => (s.start, s.level)).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"level":"${Level.names(s.level)}",""")
      sb.append(s""""name":"${s.name}","start_us":${s.start},"end_us":${s.end}}""")
    }
    sb.append("]\n").toString
  }
}
