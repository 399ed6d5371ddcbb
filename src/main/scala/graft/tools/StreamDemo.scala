package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** End-to-end Structured Streaming demo over the events parquet via the
  * FILE source (readStream → watermarked window agg → writeStream),
  * processing everything available then stopping (Trigger.AvailableNow).
  *
  *   sbt "runMain graft.tools.StreamDemo /root/testdata/sf0.001"
  *
  * The same pipeline pointed at a growing directory (or Kafka) runs
  * unmodified as a continuous job — that is the point of declaring it
  * through readStream.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session()

    // file streaming source needs an explicit schema (ts = micros NTZ)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

    // the file source needs a DIRECTORY; glob-filter to the events table
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ets", col("ts").cast("timestamp"))
      .withWatermark("ets", "30 minutes")
      .groupBy(window(col("ets"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    val q = stream.writeStream
      .format("memory").queryName("win_counts")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("win_counts")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("wstart"),
        col("event_type"), col("n"))
      .orderBy("wstart", "event_type")
    val rows = out.collect()
    println(s"[stream-demo] windows=${rows.length}")
    rows.take(8).foreach(r => println(s"[stream-demo] $r"))

    // second pipeline: STREAMING NEAR-DUP over the documents table via
    // the same file source — per-row minhash+banding, stateful bucket
    // pairing, exact-verify of the emitted candidates batch-side
    // (the d2 contract: candidates at LSH recall, verified output)
    import spark.implicits._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docStream = spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id").as("docId"),
        (col("doc_id") * 1000000L).as("tsUs"), col("text"))
      .as[graft.streaming.EventStream.DocEvent]
    val nd = graft.streaming.EventStream.nearDupCandidates(spark, docStream)
      .writeStream.format("memory").queryName("nd_pairs")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    nd.awaitTermination()
    val cands = spark.table("nd_pairs")
      .select(col("docA").as("doc_a"), col("docB").as("doc_b")).distinct()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), graft.operators.TextOps.shingles(col("text"), 3).as("__sh"))
    val verified = graft.operators.Dedup.verifyJaccard(
      cands, docs, "doc_id", "__sh", num = 2, den = 5).count()
    println(s"[stream-demo] neardup candidates=${cands.count()} verified=$verified")

    // third pipeline: the DURABLE sink path — writeStream to parquet
    // with a checkpointLocation (exactly-once file sink via the commit
    // log; the memory sink above is a test surface, THIS is how a
    // production job lands results in the lake). Re-read and count to
    // prove the committed output is a plain readable table.
    val outDir = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_sink_ck_").toString
    val fileQ = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ets", col("ts").cast("timestamp"))
      .withWatermark("ets", "30 minutes")
      .groupBy(window(col("ets"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode("append") // file sink: finalized windows only
      .trigger(Trigger.AvailableNow()).start()
    fileQ.awaitTermination()
    val landed = spark.read.parquet(outDir).count()
    println(s"[stream-demo] parquet-sink rows=$landed (finalized windows only)")
    spark.stop()
  }
}
