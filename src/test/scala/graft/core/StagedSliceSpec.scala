package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import Indexing.Ix

/** Slices and int indexes of a STAGED 1-D frame (one built by `fromDF`
  * or `mask`) read only the cached partitions their index range
  * overlaps, and a 1-D slice is itself a view over the same cache.
  * These cases pin the edges of that pruning — windows across
  * partition boundaries, empty and negative-step slices, `p[i]`,
  * `iterFirstDim` — against a `LocalDca` twin of the same rows, and its
  * cost: one task for a window inside one partition, a broadcast join
  * when two windows are zipped, nothing new pinned, no class compiled
  * per window. A view borrows the cache: only its owner frees it.
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

  test("windows at new offsets, their ±step slices and iterFirstDim compile no class") {
    val len = 60L
    def win(s: Long) = staged(Ix.S(Some(s), Some(s + len)))
    def run(f: DcaFrame): Unit = { f.collectOrdered(); () }
    // warm-up: one window, one stride slice of it, and one p[i] (the
    // 0-d shape iterFirstDim yields)
    val w0 = win(7)
    run(w0); run(w0(Ix.S(Some(1), None, 3))); run(w0(Ix.I(2)))
    val added = compilesOf {
      (0 until 20).foreach { j =>
        val w = win(40 + 45 * j) // 40..955: inside and across partitions
        same(w, twin(Ix.S(Some(40 + 45 * j), Some(40 + 45 * j + len))), s"window $j")
        run(w(Ix.S(Some(1), None, 3)))
        run(w(Ix.S(None, None, -2)))
      }
      win(503).iterFirstDim().take(20).foreach(run)
    }
    assert(added == 0, s"the sweep compiled $added classes: per-window values reach codegen")
  }

  test("a view borrows its owner's cache: only the owner frees it") {
    def stored: Set[Int] = {
      org.apache.spark.graft.BusFlush.drain(spark.sparkContext)
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    }
    val before = stored
    // the same rows as `staged` from a different plan: persisting an
    // identical plan would share `staged`'s cache entry
    val owner = DcaFrame.fromDF(
      spark.range(0, n, 1, 2).select(col("id"), (col("id") * 10 + 7).as("v")), Seq(col("id")))
    val mine = stored -- before
    assert(mine.nonEmpty && owner.staging.get.owned)
    val outer = Ix.S(Some(100), Some(700))
    val inner = Ix.S(Some(450), Some(30), -3)
    val w = owner(outer)
    val ww = w(inner)
    assert(w.staging.exists(!_.owned) && ww.staging.exists(!_.owned))
    same(ww, twin(outer)(inner), "window of a window")
    w.unpersist()
    ww.unpersist()
    assert(mine.subsetOf(stored), "unpersist on a view freed its owner's cache")
    Seq(outer, inner, Ix.S(Some(999), None, -7)).foreach(ix => same(owner(ix), twin(ix), s"owner$ix"))
    same(owner(Ix.I(-1)), twin(Ix.I(-1)), "owner[-1]")
    // mask of a window owns a fresh cache of its own
    val m = w.mask(col("v") % 3 === 1)
    assert(m.staging.exists(_.owned) && !(m.staging.get.frame eq owner.staging.get.frame))
    val masked = stored -- before -- mine
    assert(masked.nonEmpty)
    same(m, twin(outer).mask(_.getLong(1) % 3 == 1), "mask of a window")
    m.unpersist()
    assert((stored & masked).isEmpty && mine.subsetOf(stored))
    owner.unpersist()
    assert((stored & mine).isEmpty, "the owner's unpersist left its cache")
  }
}
