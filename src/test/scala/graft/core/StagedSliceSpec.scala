package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.WorkMetricsListener
import Indexing.Ix

/** Slices and int indexes of a STAGED 1-D frame (one built by `fromDF`
  * or `mask`) read only the cached partitions their index range
  * overlaps. These cases pin the edges of that pruning — windows across
  * partition boundaries, empty and negative-step slices, `p[i]`,
  * `iterFirstDim` — against a `LocalDca` twin of the same rows, and its
  * cost: one task for a window inside one partition, a broadcast join
  * when two windows are zipped, nothing new pinned.
  */
class StagedSliceSpec extends SparkTestBase {
  private val n = 1000L
  private val schema = StructType(Seq("id", "v").map(StructField(_, LongType)))
  private def row(i: Long) = Row(i, i * 10 + 7)
  private val twin = LocalDca(Vector.tabulate(n.toInt)(i => row(i.toLong)), schema, Vector(n))

  /** 1000 rows range-partitioned into the session's 4 shuffle partitions. */
  private lazy val staged: DcaFrame = {
    val df = spark.range(0, n, 1, 3).select(col("id"), (col("id") * 10 + 7).as("v"))
    DcaFrame.fromDF(df, Seq(col("id")))
  }
  private def offsets = staged.staging.get.offsets

  private def same(got: DcaFrame, want: LocalDca, what: String): Unit = {
    assert(got.shape == want.shape, s"$what: shape ${got.shape} vs ${want.shape}")
    assert(got.collectOrdered().toSeq.map(_.toSeq) == want.rows.map(_.toSeq), s"$what: rows")
  }

  private def check(items: Ix*): Unit =
    same(staged(items: _*), twin(items: _*), items.mkString("[", ", ", "]"))

  private def tasksOf(action: => Unit): Long = {
    val wm = WorkMetricsListener.install(spark)
    try {
      val before = wm.snapshotAfterDrain(spark)
      action
      (wm.snapshotAfterDrain(spark) - before).tasks
    } finally spark.sparkContext.removeSparkListener(wm)
  }

  test("the staged frame has at least 4 non-empty cached partitions") {
    assert(offsets.length - 1 >= 4, offsets)
    assert(offsets.head == 0L && offsets.last == n)
    assert(offsets.zip(offsets.tail).forall { case (a, b) => b > a }, offsets)
  }

  test("windows that straddle a partition boundary, with ± steps") {
    offsets.tail.init.foreach { b =>
      check(Ix.S(Some(b - 3), Some(b + 3)))
      check(Ix.S(Some(b - 1), Some(b + 1)))
      check(Ix.S(Some(b - 5), Some(b + 6), 3))
      check(Ix.S(Some(b + 2), Some(b - 3), -1))
      check(Ix.S(Some(b + 4), Some(b - 5), -2))
    }
    // across every partition at once, and the whole frame reversed
    check(Ix.S(Some(1), Some(n - 1), 7))
    check(Ix.S(None, None, -1))
    check(Ix.S(Some(-10), None))
  }

  test("empty slices") {
    Seq(Ix.S(Some(5), Some(5)), Ix.S(Some(10), Some(2)), Ix.S(Some(2), Some(10), -1),
      Ix.S(Some(n + 5), None)).foreach { ix =>
      check(ix)
      assert(staged(ix).df.count() == 0L)
    }
  }

  test("p[i] and newaxis, on both sides of each boundary") {
    (offsets.tail.init.flatMap(b => Seq(b - 1, b)) ++ Seq(0L, n - 1, -1L, -n)).foreach { i =>
      check(Ix.I(i))
      check(Ix.NewAxis, Ix.I(i))
    }
    check(Ix.NewAxis, Ix.S(Some(offsets(1) - 2), Some(offsets(1) + 2)))
    check(Ix.S(Some(offsets(2) + 2), Some(offsets(2) - 2), -1), Ix.NewAxis)
  }

  test("iterFirstDim of a staged mask frame") {
    val m = staged.mask(col("id") % 97 === 0)
    val want = twin.mask(_.getLong(0) % 97 == 0)
    assert(m.staging.isDefined && m.shape == want.shape)
    val got = m.iterFirstDim().toSeq
    val exp = want.iterFirstDim().toSeq
    assert(got.size == exp.size)
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) => same(g, e, s"element $i") }
    same(m(Ix.S(Some(2), Some(9), 2)), want(Ix.S(Some(2), Some(9), 2)), "mask slice")
    m.unpersist()
  }

  test("a window inside one partition launches exactly 1 task") {
    val lo = offsets(1) + 10
    val w = staged(Ix.S(Some(lo), Some(lo + 50), 2))
    assert(tasksOf { w.df.collect(); () } == 1L)
    // the same window cut by a predicate over the whole view scans
    // every cached partition
    val full = staged.df.filter(col("__idx0").between(lo, lo + 49))
    assert(tasksOf { full.collect(); () } == offsets.length - 1)
    assert(tasksOf { staged(Ix.S(Some(3), Some(3))).df.collect(); () } == 0L)
  }

  test("zipping two windows plans a broadcast join and pins nothing new") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val a = staged(Ix.S(Some(offsets(1) - 20), Some(offsets(1) + 20))).reshape(4, -1)
    val b = staged(Ix.S(Some(100), Some(110))).reshape(1, -1)
    val (l, r, _) = a.alignForVectorize(b)
    val z = l.zipJoin(r)
    val want = {
      val x = twin(Ix.S(Some(offsets(1) - 20), Some(offsets(1) + 20))).reshape(4, -1)
      val y = twin(Ix.S(Some(100), Some(110))).reshape(1, -1).broadcastTo(x.shape)
      x.rows.zip(y.rows).map { case (p, q) => p.toSeq ++ q.toSeq }
    }
    assert(z.collectOrdered().toSeq.map(_.toSeq) == want)
    val plan = z.df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("hashpartitioning"), plan)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before)
  }
}
