package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import Indexing.Ix

/** `zipJoin` and the frame `gatherAxis` give the same rows on both of
  * their paths — the in-stage hash join a small side takes, and the SQL
  * join with `spark.sql.autoBroadcastJoinThreshold` at -1 — and equal
  * their `LocalDca` twins: equal and extended shapes for a zip; axis 0
  * and 1, 1-D and 2-D index frames, negative and repeated indices for a
  * gather; a NULL or out-of-bounds index raises on either path. The SQL
  * path picks its broadcast side by exact size.
  */
class DcaJoinSpec extends SparkTestBase {
  private val n = 2000L
  private val schema = StructType(Seq("id", "v").map(StructField(_, LongType)))
  private val twin = LocalDca(Vector.tabulate(n.toInt)(i => Row(i.toLong, i * 10L + 7)), schema, Vector(n))
  private val zipSchema = StructType(schema.fields ++ schema.fields.map(f => f.copy(name = f.name + "_r")))

  /** 2000 rows range-partitioned into the session's 4 shuffle partitions. */
  private lazy val staged: DcaFrame = DcaFrame.fromDF(
    spark.range(0, n, 1, 3).select(col("id"), (col("id") * 10 + 7).as("v")), Seq(col("id")))
  private def offsets = staged.staging.get.offsets

  private def ixFrame(ix: Seq[Long], shape: Long*): DcaFrame = DcaFrame.fromLocal(spark,
    ix.map(Row(_)), StructType(Seq(StructField("i", LongType))), if (shape.isEmpty) null else shape.toVector)

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, old)
  }

  private def plan(f: DcaFrame): String = f.df.queryExecution.executedPlan.toString

  private def same(got: DcaFrame, want: LocalDca, what: String): Unit = {
    assert(got.shape == want.shape, s"$what: shape ${got.shape} vs ${want.shape}")
    assert(got.collectOrdered().toSeq.map(_.toSeq) == want.rows.map(_.toSeq), s"$what: rows")
  }

  /** `f` built on the in-stage path and on the SQL path equals `want`. */
  private def bothPaths(what: String)(f: => DcaFrame, want: LocalDca): Unit = {
    val inStage = f
    assert(!plan(inStage).contains("Join"), s"$what in-stage: ${plan(inStage)}")
    same(inStage, want, s"$what in-stage")
    withThreshold(-1) {
      val sql = f
      assert(plan(sql).contains("SortMergeJoin"), s"$what SQL: ${plan(sql)}")
      same(sql, want, s"$what SQL")
    }
  }

  private def msgs(e: Throwable): Iterator[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))

  test("zipJoin of equal shapes: in-stage and SQL paths equal the twin") {
    val (a, b) = (Ix.S(Some(100L), Some(220L)), Ix.S(Some(offsets(1) - 60), Some(offsets(1) + 60)))
    val (x, y) = (twin(a).reshape(4, -1), twin(b).reshape(4, -1))
    bothPaths("equal shapes")(staged(a).reshape(4, -1).zipJoin(staged(b).reshape(4, -1)),
      LocalDca(x.rows.zip(y.rows).map { case (p, q) => Row.fromSeq(p.toSeq ++ q.toSeq) }, zipSchema, x.shape))
  }

  test("zipJoin onto extra trailing dims: in-stage and SQL paths equal the twin") {
    val (a, b) = (Ix.S(Some(100L), Some(140L)), Ix.S(Some(offsets(2) - 50), Some(offsets(2) + 70)))
    val (x, y) = (twin(a).reshape(4, 10), twin(b).reshape(4, 10, 3))
    val rows = y.rows.zipWithIndex.map { case (q, lin) => Row.fromSeq(x.rows(lin / 3).toSeq ++ q.toSeq) }
    bothPaths("extra dims")(staged(a).reshape(4, 10).zipJoin(staged(b).reshape(4, 10, 3)),
      LocalDca(rows, zipSchema, y.shape))
  }

  test("a frame gather on axis 0, negative and repeated indices, 1-D and 2-D index frames") {
    val (w, ix) = (Ix.S(Some(300L), Some(420L)), Seq(5L, -1L, 5L, 0L, -120L, 7L))
    bothPaths("axis 0, 1-D")(staged(w).gather(ixFrame(ix)), twin(w).gather(ix))
    bothPaths("axis 0, 2-D")(staged(w).gather(ixFrame(ix, 2, 3)), twin(w).gather(ix).reshape(2, 3))
  }

  test("a frame gather on axis 1, 1-D and 2-D index frames") {
    val (w, ix) = (Ix.S(Some(offsets(1) - 70), Some(offsets(1) + 50)), Seq(3L, -1L, 3L, 0L, 29L, -30L))
    def src = staged(w).reshape(4, 30)
    val picked = twin(w).reshape(4, 30)(Ix.All, Ix.A(ix))
    bothPaths("axis 1, 1-D")(src.gatherAxis(ixFrame(ix), 1), picked)
    bothPaths("axis 1, 2-D")(src.gatherAxis(ixFrame(ix, 3, 2), 1), picked.reshape(4, 3, 2))
  }

  test("a NULL or out-of-bounds gather index raises on either path") {
    val nullable = StructType(Seq(StructField("i", LongType, nullable = true)))
    val bad = Seq(
      "null" -> DcaFrame.fromLocal(spark, Seq(Row(1L), Row(null)), nullable),
      "too large" -> ixFrame(Seq(0L, 120L)),
      "too negative" -> ixFrame(Seq(-121L, 3L)))
    val w = Ix.S(Some(300L), Some(420L))
    Seq(10L << 20, -1L).foreach { t =>
      withThreshold(t) {
        bad.foreach { case (what, ix) =>
          val e = intercept[Exception](staged(w).gather(ix).collectOrdered())
          assert(msgs(e).exists(_.contains("null or out of bounds for dim 120")), s"$what at $t: $e")
        }
      }
    }
  }

  test("the SQL path broadcasts the side that is small by exact size, not the replicated one") {
    // the replicated side is 1000 rows of 40 bytes over 2 partitions,
    // against a Catalyst estimate of its 20 source rows; the other side
    // is 1000 rows of 32 bytes — small enough to broadcast once, too big
    // to read in both probe partitions
    val w = Ix.S(Some(offsets(1) - 10), Some(offsets(1) + 10))
    val self = DcaFrame.fromLocal(spark, (0L until 1000L).map(Row(_)),
      StructType(Seq(StructField("u", LongType)))).reshape(50, 20)
    val z = withThreshold(40000L)(self.zipJoin(staged(w).reshape(1, 20).broadcastTo(Seq(50L, 20L))))
    val want = twin(w).reshape(1, 20).broadcastTo(Seq(50L, 20L)).rows.zipWithIndex
      .map { case (q, i) => (i.toLong +: q.toSeq).toSeq }
    assert(z.collectOrdered().toSeq.map(_.toSeq) == want)
    val p = plan(z)
    assert(p.contains("BroadcastHashJoin") && p.contains("BuildLeft"), p)
  }
}
