package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SparkTestBase
import graft.operators.{Clustering, Dedup, QualityModel, Similarity, TextOps}

/** Library operators build the native kernels as Columns, so they
  * resolve in a session whose function registry never saw
  * [[VectorExpressions.register]]: `newSession()` starts from the
  * built-in registry alone. Each operator below gives the same rows
  * there as on a registered session.
  */
class FreshSessionSpec extends SparkTestBase {
  private lazy val registered: SparkSession = { VectorExpressions.register(spark); spark }
  private lazy val fresh: SparkSession = spark.newSession()

  private val texts = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "a completely different sentence about data pipelines"),
    (4L, "solo"))

  private def docs(s: SparkSession): DataFrame =
    s.createDataFrame(texts).toDF("doc_id", "text")

  private def vectors(s: SparkSession): DataFrame =
    s.createDataFrame((0 until 40).map { id =>
      (id.toLong, (0 until 8).map(i => math.sin((id % 4) * 17.0 + i + 0.01 * id).toFloat))
    }).toDF("vec_id", "embedding")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `op` gives the same non-empty rows on the fresh and the
    * registered session.
    */
  private def sameOnBoth(op: SparkSession => DataFrame): Unit = {
    val got = rows(op(fresh))
    assert(got.nonEmpty)
    assert(got == rows(op(registered)))
  }

  test("QualityModel.score") {
    sameOnBoth(s => QualityModel.score(docs(s), "doc_id", "text",
      QualityModel.syntheticWeights(s, 64), 64))
  }

  test("Dedup.windowHashTable") {
    sameOnBoth(s => Dedup.windowHashTable(docs(s), "doc_id", "text", 3))
  }

  test("Dedup.signatures under both hash families") {
    Seq("xxhash64", "portable60").foreach { family =>
      sameOnBoth(s => Dedup.signatures(
        docs(s).select(col("doc_id"), TextOps.shingles(col("text"), 3).as("sh")),
        "doc_id", "sh", 16, family))
    }
  }

  test("Similarity.bruteForceTopK") {
    sameOnBoth { s =>
      val v = vectors(s)
      Similarity.bruteForceTopK(v, v.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")), 5)
    }
  }

  test("Clustering.kmeansAssign") {
    sameOnBoth(s => Clustering.kmeansAssign(vectors(s), "vec_id", "embedding", k = 4, iters = 2))
  }

  test("KMinSketch.col and TopKSketch.col aggregates") {
    sameOnBoth(s => s.range(200).select((col("id") % 3).as("g"), col("id"),
        (col("id") * 7 % 31).as("h"))
      .groupBy("g")
      .agg(KMinSketch.col(col("h"), 5).as("mins"),
        TopKSketch.col(col("id"), col("h").cast("double"), 3).as("top")))
  }

  test("no graft function is registered in the fresh session") {
    val registry = fresh.sessionState.functionRegistry
    VectorExpressions.functions.foreach { case (id, _, _) => assert(!registry.functionExists(id), id) }
  }
}
