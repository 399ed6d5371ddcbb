// One-order-of-magnitude scale step: replicate the sf0.1 testdata 10x
// into target/sf1 so the full bench suite can be measured at sf1
// (PROBES.md records the per-query scaling factors).
//
//   sbt "runMain graft.tools.ScaleUp"                    # sf0.1 -> target/sf1
//   sbt "runMain graft.tools.ScaleUp <src> <dst> <n>"    # explicit
//
// Replication is NOT naive row copying — naive copies would poison the
// similarity operators (every doc would gain n-1 exact duplicates,
// planting n² cross-copy dup cliques and recording a phantom
// super-linear candidate blow-up that is a DATA artifact, not an
// operator property). Instead:
//   * fact/dim keys shift by copy * 1e9, consistently across tables, so
//     join cardinalities per copy match sf0.1 exactly;
//   * document text gets a per-copy vocabulary remap (every token
//     suffixed with the copy index) — copies share NO shingles, so
//     near-dup structure per copy is identical to sf0.1 and cross-copy
//     similarity is zero;
//   * embeddings circular-shift by the copy index — norms and per-dim
//     distributions preserved, cross-copy cosine uncorrelated;
//   * region/nation stay dimension-sized (one copy), like a real 10x
//     corpus growth;
//   * value distributions (acctbal, dates, event ts) are untouched, so
//     distinct-value domains stay bounded — matching how a real corpus
//     scales (more rows, same value domains).
package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val OFF = 1000000000L
    val spark = graft.Harness.session()

    val cIdx = spark.range(copies.toLong).withColumnRenamed("id", "__c")

    // Fact tables land as 32 hash-partitioned FILES: a real 10x corpus
    // arrives as proportionally more files/row groups, while the naive
    // single-file single-row-group layout pins every scan's map side
    // to ONE task regardless of cores (Spark cannot split inside a row
    // group) — the round-13 adjudication found the whole decode/text
    // family running single-threaded at sf1 because of it. Dimension
    // tables stay one file, like production.
    def rep(name: String, splitKey: String = null)(f: (DataFrame, Column) => DataFrame): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      val out = f(df.crossJoin(cIdx), col("__c")).drop("__c")
      val laid = if (splitKey == null) out.coalesce(1)
        else out.repartition(32, col(splitKey))
      laid.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name -> $dst")
    }
    def shift(df: DataFrame, c: Column, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + c * OFF))

    rep("region")((d, c) => d.filter(c === 0))
    rep("nation")((d, c) => d.filter(c === 0))
    rep("customer", "c_custkey")((d, c) => shift(d, c, "c_custkey"))
    rep("supplier", "s_suppkey")((d, c) => shift(d, c, "s_suppkey"))
    rep("part", "p_partkey")((d, c) => shift(d, c, "p_partkey"))
    rep("orders", "o_orderkey")((d, c) => shift(d, c, "o_orderkey", "o_custkey"))
    rep("lineitem", "l_orderkey")((d, c) => shift(d, c, "l_orderkey", "l_partkey", "l_suppkey"))
    rep("events", "event_id")((d, c) => shift(d, c, "event_id", "user_id"))
    rep("documents", "doc_id") { (d, c) =>
      val t = shift(d, c, "doc_id")
        .withColumn("text", when(c === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1x"), c))))
      t.withColumn("n_chars", length(col("text")).cast("long"))
    }
    rep("embeddings", "vec_id") { (d, c) =>
      val n = size(col("embedding"))
      shift(d, c, "vec_id").withColumn("embedding",
        when(c === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), c.cast("int") + 1, n - c.cast("int")),
          slice(col("embedding"), lit(1), c.cast("int")))))
    }
    spark.stop()
  }
}
