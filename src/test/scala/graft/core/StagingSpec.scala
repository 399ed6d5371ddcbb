package graft.core

import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.expressions.{ElementAt, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import Indexing.Ix

/** A staged frame's dense index comes from its `Staging` alone: the
  * frame reads its cache through its identity window, so no plan over
  * it carries the cache's partition offsets, and a window that reads a
  * cached partition to its end checks that the partition holds the rows
  * its offsets say.
  */
class StagingSpec extends SparkTestBase {
  private val n = 1000L

  /** 1000 rows range-partitioned into the session's 4 shuffle partitions. */
  private lazy val staged: DcaFrame = DcaFrame.fromDF(
    spark.range(0, n, 1, 3).select(col("id"), (col("id") * 10 + 7).as("v")), Seq(col("id")))
  private def offsets = staged.staging.get.offsets

  test("a staged frame, its mask and a gather plan no partition-offset literal") {
    val m = staged.mask(col("v") % 3 === 1)
    Seq("fromDF" -> staged, "mask" -> m, "gather" -> staged.gather(Seq(5L, 999L, 5L))).foreach {
      case (what, f) =>
        val plan = f.df.queryExecution.optimizedPlan
        val exprs = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
        assert(!exprs.exists(_.isInstanceOf[ElementAt]), s"$what: element_at in\n$plan")
        val arrays = exprs.collect { case Literal(a: ArrayData, ArrayType(LongType, _)) => a.toLongArray().toSeq }
        assert(!arrays.exists(a => a == offsets.init || a == m.staging.get.offsets.init),
          s"$what: an offset literal in\n$plan")
    }
    assert(m.collectOrdered().map(_.getLong(0)).toSeq == (0L until n).filter(i => (i * 10 + 7) % 3 == 1))
    // a mask that sorts by its linear index stages the payload alone
    val sorted = staged.reshape(10, -1).mask(col("v") % 3 === 1)
    assert(sorted.staging.get.frame.columns.toSeq == Seq("id", "v"))
    assert(sorted.collectOrdered().toSeq == m.collectOrdered().toSeq)
    Seq(m, sorted).foreach(_.unpersist())
  }

  test("a join charges a staged window the cached rows it reads, not the rows it emits") {
    assert(offsets(1) > 100, offsets)
    // ten rows at the head of partition 0, and its last ten: the second
    // window reads the whole partition to emit them
    val head = Ix.S(Some(0L), Some(10L))
    val deep = Ix.S(Some(offsets(1) - 10), Some(offsets(1)))
    def plan(f: DcaFrame) = f.df.queryExecution.executedPlan.toString
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    // 20 rows of (__idx0, id, v) fit; the rows before the deep window do not
    spark.conf.set(key, (20 * 32).toString)
    try {
      // equal sizes: the left side is the build side
      val deepBuild = staged(deep).zipJoin(staged(head))
      val headBuild = staged(head).zipJoin(staged(deep))
      assert(plan(deepBuild).contains("Join"), plan(deepBuild))
      assert(!plan(headBuild).contains("Join"), plan(headBuild))
      val pairs = (0L until 10L).map(i => (Seq(offsets(1) - 10 + i, (offsets(1) - 10 + i) * 10 + 7), Seq(i, i * 10 + 7)))
      assert(deepBuild.collectOrdered().toSeq.map(_.toSeq) == pairs.map { case (d, h) => d ++ h })
      assert(headBuild.collectOrdered().toSeq.map(_.toSeq) == pairs.map { case (d, h) => h ++ d })
    } finally spark.conf.set(key, old)
  }

  test("a window reading a partition to its end checks its size") {
    val st = staged.staging.get
    assert(offsets.length - 1 >= 2, offsets)
    // move the first boundary one row up: partition 0 holds one row
    // fewer than these offsets say, partition 1 one more
    val wrongOffsets = offsets.updated(1, offsets(1) + 1)
    val wrong = new DcaFrame.Staging(st.frame, wrongOffsets)
    val e = intercept[SparkException](wrong.window(n).collect())
    assert(e.getMessage.contains("its offsets say"), e.getMessage)
    // a window that stops inside partition 0 never reaches its end
    assert(wrong.window(offsets(1) - 1).collect().length == offsets(1) - 1)
    // the last position of each partition, by the wrong offsets
    Seq(0, 1).foreach { p =>
      val err = intercept[SparkException](wrong.view(wrongOffsets(p + 1) - 1, 1).window(1).collect())
      assert(err.getMessage.contains(s"staged partition $p holds"), err.getMessage)
    }
    // partition 1 holds a row past its end, and the error counts the rows it expected
    val more = intercept[SparkException](wrong.view(wrongOffsets(1), 1).window(wrongOffsets(2) - wrongOffsets(1)).collect())
    assert(more.getMessage.contains(s"holds more than ${wrongOffsets(2) - wrongOffsets(1)} rows"), more.getMessage)
    // the true offsets read every row at its position
    assert(st.window(n).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until n).map(i => (i, i)))
  }
}
