package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PolyHash

/** Model-based quality filtering: a fastText-style linear classifier
  * over hashed bag-of-ngram features, run as pure relational inference
  * — the "quality classifier" stage of a CCNet/C4-style curation
  * pipeline, without shipping a trained model.
  *
  * Features are occurrence-preserving word unigrams + bigrams, hashed
  * into `buckets` slots with the engine-portable polynomial hash
  * ([[graft.functions.PolyHash]]); the model is a (bucket, weight)
  * table; the score is the sum of matched weights. At corpus scale the
  * weight table is dimension-sized (buckets << corpus), so it
  * BROADCASTS and inference is scan-side: explode → hash → broadcast
  * hash join → one map-side-combining per-doc aggregation. No shuffle
  * of text, no UDFs, fully codegen'd except the ngram HOF.
  *
  * Reference scope: model-based filtering is north-star pipeline work;
  * the reference library has no text ops (SURVEY.md §2.6).
  */
object QualityModel {

  /** Deterministic stand-in weight table: bucket → integer weight in
    * [-1000, 1000] via the Knuth mix. A real deployment loads trained
    * weights; the PLAN is identical either way (a tiny broadcast dim
    * table), which is what the scale design cares about.
    */
  def syntheticWeights(spark: SparkSession, buckets: Int): DataFrame =
    spark.range(buckets.toLong).select(col("id").as("bucket"),
      (TextOps.knuthMix(col("id")) % 2001L - 1000L).as("w"))

  /** Score every document against the (bucket, w) weight table.
    * Output: (idCol, n_feats, score, keep) — keep = score > 0.
    * `weights` must cover every bucket in [0, buckets) exactly once
    * (the inner join is then total).
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
            weights: DataFrame, buckets: Int): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    // unigrams ++ bigrams, occurrence-preserving (a bag, not a set —
    // fastText counts repeats). ngrams let-binds its own split.
    val feats = docs.select(col(idCol).as("__id"),
      explode(concat(TextOps.words(text), TextOps.ngrams(text, 2))).as("__f"))
    val bucketed = feats.select(col("__id"),
      pmod(PolyHash.col(col("__f")), lit(buckets.toLong)).as("bucket"))
    bucketed.join(broadcast(weights), "bucket")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_feats"), sum("w").as("score"))
      .select(col("__id").as(idCol), col("n_feats"), col("score"),
        when(col("score") > 0, 1L).otherwise(0L).as("keep"))
  }
}
