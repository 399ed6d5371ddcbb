package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._
import graft.core.SparkTestBase

class GraftIOSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", DoubleType)))

  test("manifest write/read: range query opens only intersecting files, result identical") {
    val base = Files.createTempDirectory("graft_manifest").toFile.getAbsolutePath
    val df = (0L until 1000L).map(i => (i, s"row$i")).toDF("k", "payload")
    GraftIO.writeWithManifest(df, s"$base/t", "k", nFiles = 8)
    // manifest: one entry per file, ranges cover all rows
    val mf = spark.read.parquet(s"$base/t/_manifest")
      .as[(String, Long, Long, Long)].collect()
    assert(mf.length == 8 && mf.map(_._4).sum == 1000L)
    // range-partitioned + sorted => per-file ranges are disjoint, so a
    // narrow range hits few files
    val kept = GraftIO.prunedFiles(spark, s"$base/t", 100L, 199L)
    assert(kept.nonEmpty && kept.length <= 2,
      s"expected <=2 files for a 10% range over 8 range-partitioned files, got ${kept.length}")
    // pruned read == full scan + filter, exactly
    val pruned = GraftIO.readPruned(spark, s"$base/t", "k", 100L, 199L)
      .as[(Long, String)].collect().toSet
    val full = spark.read.parquet(s"$base/t")
      .filter($"k" >= 100L && $"k" <= 199L)
      .as[(Long, String)].collect().toSet
    assert(pruned == full && pruned.size == 100)
    // empty intersection: no files opened, schema preserved, zero rows
    assert(GraftIO.prunedFiles(spark, s"$base/t", 5000L, 6000L).isEmpty)
    assert(GraftIO.readPruned(spark, s"$base/t", "k", 5000L, 6000L).count() == 0)
  }

  test("csv and json round-trip with explicit schema; partitioned parquet prunes") {
    val base = Files.createTempDirectory("graft_io").toFile.getAbsolutePath
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5)).toDF("id", "name", "v")

    GraftIO.writeCsv(df, s"$base/csv")
    val csv = GraftIO.readCsv(spark, s"$base/csv", schema)
    assert(csv.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5)))

    df.write.json(s"$base/json")
    val json = spark.read.option("mode", "FAILFAST").schema(schema).json(s"$base/json")
    assert(json.count() == 3)

    df.write.partitionBy("name").parquet(s"$base/pq")
    val pruned = spark.read.parquet(s"$base/pq").filter($"name" === "a")
    assert(pruned.count() == 2)
    // partition pruning visible in the scan (PartitionFilters on name)
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("name"), plan.take(500))
  }

  test("bucketed tables join and aggregate with ZERO exchanges") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      GraftIO.writeBucketed(
        spark.range(1000).selectExpr("id % 100 AS k", "id AS v"),
        "t_li_bkt", "k", buckets = 4)
      GraftIO.writeBucketed(
        spark.range(100).selectExpr("id AS k2", "id * 10 AS w"),
        "t_ord_bkt", "k2", buckets = 4)
      val j = spark.table("t_li_bkt")
        .join(spark.table("t_ord_bkt"), col("k") === col("k2"))
        .groupBy("k").agg(count(lit(1)).as("n"), sum("w").as("sw"))
      val rows = j.collect()
      assert(rows.length == 100)
      assert(rows.forall(r => r.getLong(1) == 10 && r.getLong(2) == r.getLong(0) * 100))
      // join AND aggregation both reuse the bucket partitioning: not a
      // single shuffle anywhere in the executed plan
      val plan = j.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(800))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compact rewrites a small-file mess into size-targeted files") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_compact").toFile.getAbsolutePath
    // 64 tiny files
    spark.range(10000).selectExpr("id", "id % 7 AS k")
      .repartition(64).write.parquet(s"$base/src")
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/src") == 64)
    val srcBytes = new java.io.File(s"$base/src").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val n = GraftIO.compact(spark, s"$base/src", s"$base/dst",
      targetFileBytes = srcBytes / 4)
    // ~4-5 depending on listing overhead (_SUCCESS, local-FS checksums)
    assert(n >= 4 && n <= 6, s"expected ~bytes/(bytes/4) files, got $n")
    assert(parquetFiles(s"$base/dst") == n)
    // content survives exactly
    assert(spark.read.parquet(s"$base/dst").count() == 10000)
    assert(spark.read.parquet(s"$base/dst").agg(org.apache.spark.sql.functions.sum("id"))
      .head.getLong(0) == 10000L * 9999 / 2)
    // sorted variant restores clustering: each output file covers a
    // narrow id range (min-max spans don't overlap across files)
    GraftIO.compact(spark, s"$base/src", s"$base/sorted",
      targetFileBytes = srcBytes / 4, sortCols = Seq("id"))
    val spans = new java.io.File(s"$base/sorted").listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val d = spark.read.parquet(f.getAbsolutePath)
        val r = d.agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).head
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    assert(spans.sliding(2).forall {
      case Array((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, spans.mkString(", "))
    // in-place refusal
    intercept[IllegalArgumentException] {
      GraftIO.compact(spark, s"$base/src", s"$base/src")
    }
  }

  test("orc round-trips with partition pruning, like parquet") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_io_orc").toFile.getAbsolutePath
    val df = spark.range(100).selectExpr("id", "CAST(id % 4 AS INT) AS part")
    df.write.partitionBy("part").orc(s"$base/t")
    val back = spark.read.orc(s"$base/t")
    assert(back.count() == 100)
    val pruned = back.filter(col("part") === 2)
    assert(pruned.count() == 25)
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("part"), plan.take(500))
  }

  test("text source: line mode and whole-file mode round-trip") {
    val dir = Files.createTempDirectory("graft_text").toFile.getAbsolutePath
    Seq("line one", "line two", "line three").toDF("value").write.mode("overwrite").text(dir)
    assert(spark.read.text(dir).as[String].collect().sorted.toSeq ==
      Seq("line one", "line three", "line two"))
    // whole-file: every written part becomes ONE document row whose
    // text contains its lines (doc-per-file corpus ingestion)
    val whole = spark.read.option("wholetext", "true").text(dir).as[String].collect()
    assert(whole.mkString("\n").split("\n").count(_.nonEmpty) == 3)
  }

  test("binaryFile source feeds the multimodal decoders end-to-end") {
    import graft.operators.Multimodal
    val dir = Files.createTempDirectory("graft_blobs")
    Files.write(dir.resolve("a.png"), Multimodal.encodePng(24, 9, seed = 1L))
    Files.write(dir.resolve("b.png"), Multimodal.encodePng(7, 31, seed = 2L))
    Files.write(dir.resolve("notes.txt"), "not an image".getBytes("UTF-8"))
    // glob filters to the media extension; content decodes for real
    val blobs = GraftIO.readBinaryFiles(spark, dir.toFile.getAbsolutePath, "*.png")
      .selectExpr("cast(0L as long)", "content")
      .as[(Long, Array[Byte])]
    val dims = Multimodal.decodeAll(spark, blobs).collect()
      .map(m => (m.width, m.height)).toSet
    assert(dims == Set((24, 9), (7, 31)))
    // the size guard drops oversized blobs at the scan
    assert(GraftIO.readBinaryFiles(spark, dir.toFile.getAbsolutePath, "*.png",
      maxBytes = 10L).count() == 0)
  }

  test("schema-evolution read unions drifted file schemas") {
    val dir = Files.createTempDirectory("graft_io_evolve").toFile.getAbsolutePath
    // old producer: (id, v); new producer adds a quality column
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.parquet(s"$dir/batch=old")
    Seq((3L, 30L, 0.9)).toDF("id", "v", "quality")
      .write.parquet(s"$dir/batch=new")
    val merged = GraftIO.readParquetEvolving(spark, dir)
    assert(merged.columns.toSet == Set("id", "v", "quality", "batch"))
    val rows = merged.select("id", "quality").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(0.9)))
  }

  test("FAILFAST surfaces malformed csv rows instead of silent nulls") {
    val base = Files.createTempDirectory("graft_io_bad").toFile.getAbsolutePath
    Files.writeString(java.nio.file.Paths.get(s"$base/bad.csv"), "id,name,v\nnot_a_long,a,1.5\n")
    intercept[Exception] {
      GraftIO.readCsv(spark, s"$base/bad.csv", schema).collect()
    }
  }
}
