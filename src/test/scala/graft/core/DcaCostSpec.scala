package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import Indexing.Ix

/** What a local DcaFrame operation costs, as numpy's views cost index
  * arithmetic only: over a staged frame, once one operation of a kind
  * has run, the same kind at new indices, shape, offset or target runs
  * exactly one job and compiles no class — no broadcast job, no join,
  * no shape constant in generated code. A mask of a staged forward view
  * stages its rows without a sort: one counting job plus the action's.
  * Every result is checked against its `LocalDca` twin.
  */
class DcaCostSpec extends SparkTestBase {
  private val n = 2000L
  private val schema = StructType(Seq("id", "v").map(StructField(_, LongType)))
  private val twin = LocalDca(Vector.tabulate(n.toInt)(i => Row(i.toLong, i * 10L + 7)), schema, Vector(n))

  /** 2000 rows range-partitioned into the session's 4 shuffle partitions. */
  private lazy val staged: DcaFrame = DcaFrame.fromDF(
    spark.range(0, n, 1, 3).select(col("id"), (col("id") * 10 + 7).as("v")), Seq(col("id")))

  private val len = 360L // divisible by every reshape factor below
  private def win(k: Int): Ix = Ix.S(Some(100L + 97L * k), Some(100L + 97L * k + len))

  private def same(got: DcaFrame, want: LocalDca, what: String): Unit = {
    assert(got.shape == want.shape, s"$what: shape ${got.shape} vs ${want.shape}")
    assert(got.collectOrdered().toSeq.map(_.toSeq) == want.rows.map(_.toSeq), s"$what: rows")
  }

  /** `op(0)` warms the kind up; then `op(k)` at fresh values runs one
    * job, compiles nothing and equals its twin.
    */
  private def oneJobNoCompile(what: String)(op: Int => (DcaFrame, LocalDca)): Unit = {
    op(0)._1.df.collect()
    (1 to 3).foreach { k =>
      val (f, want) = op(k)
      var jobs = -1L
      val compiled = compilesOf { jobs = jobsOf { f.df.collect(); () } }
      assert(jobs == 1L, s"$what #$k ran $jobs jobs")
      assert(compiled == 0L, s"$what #$k compiled $compiled classes")
      same(f, want, s"$what #$k")
    }
  }

  private def idxs(k: Int): Vector[Long] = Vector.tabulate(12)(j => (k * 31L + j * 53L) % (2 * len) - len)

  test("an int gather at fresh indices: one job, no compile") {
    oneJobNoCompile("int gather")(k => (staged(win(k)).gather(idxs(k)), twin(win(k)).gather(idxs(k))))
  }

  test("a mixed index at a fresh shape: one job, no compile") {
    val a = Vector(3L, 4L, 5L, 6L)
    oneJobNoCompile("mixed index") { k =>
      val items = Seq(Ix.A(idxs(k).map(_ % a(k))), Ix.S(Some(1L), None, 2L))
      (staged(win(k)).reshape(a(k), -1)(items: _*), twin(win(k)).reshape(a(k), -1)(items: _*))
    }
  }

  test("a reshape and an einops to a fresh shape: one job, no compile") {
    val a = Vector(2L, 3L, 4L, 8L)
    oneJobNoCompile("reshape")(k => (staged(win(k)).reshape(a(k), 5, -1), twin(win(k)).reshape(a(k), 5, -1)))
    val b = Vector((2L, 3L), (4L, 5L), (3L, 8L), (2L, 5L))
    val p = "x y z -> y (x z)"
    oneJobNoCompile("einops") { k =>
      (staged(win(k)).reshape(b(k)._1, b(k)._2, -1).reshapeEinops(p),
        twin(win(k)).reshape(b(k)._1, b(k)._2, -1).reshapeEinops(p))
    }
  }

  test("a concat at a fresh offset: one job, no compile") {
    oneJobNoCompile("concat") { k =>
      // the head's length is the tail's offset
      val (head, tail) = (Ix.S(Some(100L + 97L * k), Some(300L + 107L * k)), Ix.S(Some(1500L), Some(1540L)))
      (DcaFrame.concat(Seq(staged(head), staged(tail))), LocalDca.concat(Seq(twin(head), twin(tail))))
    }
  }

  test("a broadcastTo to a fresh target: one job, no compile") {
    oneJobNoCompile("broadcastTo") { k =>
      val q = 40L + 10L * k
      val slice = Ix.S(Some(300L + k), Some(300L + k + q))
      (staged(slice).reshape(1, q).broadcastTo(Seq(k + 2L, q)),
        twin(slice).reshape(1, q).broadcastTo(Seq(k + 2L, q)))
    }
  }

  test("a mask of a staged window: two jobs, no exchange") {
    val w = Ix.S(Some(150L), Some(1650L)) // across every cached partition
    var m: DcaFrame = null
    val jobs = jobsOf { m = staged(w).mask(col("v") % 3 === 1); m.df.collect(); () }
    assert(jobs == 2L, s"mask ran $jobs jobs")
    val plan = m.df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryRelation") && !plan.contains("Exchange"), plan)
    same(m, twin(w).mask(_.getLong(1) % 3 == 1), "mask of a window")
    m.unpersist()
  }

  test("a mask of a negative-step view sorts, and equals its twin") {
    val w = Ix.S(Some(1700L), Some(90L), -3)
    val m = staged(w).mask(col("v") % 4 === 3)
    same(m, twin(w).mask(_.getLong(1) % 4 == 3), "mask of a reversed view")
    m.unpersist()
  }
}
