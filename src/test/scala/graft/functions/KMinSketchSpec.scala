package graft.functions

import org.apache.spark.sql.functions._
import graft.core.SparkTestBase

/** The native kmin_sketch TypedImperativeAggregate must produce the
  * EXACT buffer the typed KMinAgg reference fold produces (the
  * streaming twin shares that fold's insert rule, so this equality is
  * what keeps batch-native == typed == streaming provable).
  */
class KMinSketchSpec extends SparkTestBase {
  import spark.implicits._

  test("kmin_sketch == the KMinAgg.insert reference fold (dups, groups, k cutoffs)") {
    val rnd = new scala.util.Random(7)
    // heavy duplication + values straddling the k-th min
    val rows = (1 to 5000).map { i =>
      (s"g${i % 3}", math.abs(rnd.nextLong()) % 400)
    }
    for (k <- Seq(1, 16, 64)) {
      val got = rows.toDF("g", "h")
        .groupBy("g")
        .agg(KMinSketch.col(col("h"), k).as("mins"))
        .as[(String, Seq[Long])].collect().toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).foldLeft(List.empty[Long])(
          (buf, h) => KMinAggTestAccess.insert(k, buf, h))
      }
      assert(got.keySet == want.keySet)
      want.foreach { case (g, w) => assert(got(g) == w, s"g=$g k=$k") }
    }
  }

  test("kmin_sketch survives a shuffle merge (repartitioned input, one group)") {
    val k = 32
    val vals = (1L to 1000L).map(i => (i * 37) % 211)
    val got = vals.toDF("h").repartition(13)
      .agg(KMinSketch.col(col("h"), k).as("mins"))
      .as[Seq[Long]].head()
    val want = vals.distinct.sorted.take(k)
    assert(got == want)
  }

  test("nulls are ignored; empty input yields an empty buffer") {
    val got = Seq[Option[Long]](None, Some(5L), None, Some(3L))
      .toDF("h")
      .agg(KMinSketch.col(col("h"), 8).as("mins"))
      .as[Seq[Long]].head()
    assert(got == Seq(3L, 5L))
    val empty = Seq.empty[Long].toDF("h")
      .agg(KMinSketch.col(col("h"), 8).as("mins"))
      .as[Seq[Long]].head()
    assert(empty == Seq.empty[Long])
  }
}

/** Test-only bridge to the private reference insert rule. */
object KMinAggTestAccess {
  def insert(k: Int, buf: List[Long], h: Long): List[Long] =
    KMinAgg.insert(k, buf, h)
}
