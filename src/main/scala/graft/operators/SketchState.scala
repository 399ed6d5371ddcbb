package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PolyHash

/** Mergeable per-key distinct-count sketch state (portable HLL —
  * Flajolet et al. 2007 HyperLogLog with the Heule et al. 2013
  * small-range linear-counting correction), maintained as a plain
  * RELATIONAL table of (keys..., bucket, M) registers.
  *
  * The point of the register-table representation: incremental
  * maintenance is ordinary SQL. Appending a batch = union + `max(M)`
  * per (key, bucket) — associative, commutative, idempotent — so a
  * 100 TB pipeline keeps yesterday's registers as a table, merges
  * today's delta, and never rescans history. The estimate is a
  * dimension-sized aggregation over ≤ 2^p registers per key.
  *
  * Hashing is the engine-portable scrambled polynomial
  * ([[graft.functions.KMinAgg.scramble]] ∘ poly_hash), so a DuckDB
  * oracle rebuilds identical registers — same contract as the q37
  * portable-HLL query, which delegates here.
  */
object SketchState {

  /** Register table (keys..., bucket, M) over the pre-hashed values in
    * `hvCol` (non-negative 60-bit portable hashes). Map-side-combining
    * max per (keys, bucket): ≤ 2^p groups per key regardless of input
    * size.
    */
  def hllRegisters(hashed: DataFrame, keys: Seq[String], hvCol: String,
                   p: Int, maxRho: Int): DataFrame = {
    val m = 1 << p
    hashed
      .select(keys.map(col) :+ (col(hvCol) % m).as("bucket") :+
        shiftright(col(hvCol), p).as("x"): _*)
      .select(keys.map(col) :+ col("bucket") :+
        when(col("x") === 0, lit(maxRho))
          .otherwise(bit_count(col("x").bitwiseAND(-col("x")) - 1) + 1).as("rho"): _*)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max("rho").as("M"))
  }

  /** Merge register tables: union + register-wise max. The HLL merge
    * law — merge(build(A), build(B)) == build(A ∪ B) exactly.
    */
  def mergeRegisters(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max("M").as("M"))

  /** Count-Min sketch cell table (r, bucket, c) over a term column:
    * d=|bases| portable polynomial hashes into w buckets, ONE
    * map-side-combining aggregation — ≤ d·w cells per partition before
    * the exchange regardless of corpus size. The ONE Scala rendering
    * shared by the batch heavy-hitters query (t7) and the streaming
    * sketch maintenance path; works unchanged on a STREAMING input in
    * Update mode (cells are a pure running aggregation).
    */
  def cmsCells(terms: DataFrame, termCol: String,
               bases: Seq[Int], w: Int): DataFrame = {
    val bucketExprs = array(bases.map(b =>
      pmod(PolyHash.col(col(termCol), b.toLong), lit(w.toLong))): _*)
    terms.select(posexplode(bucketExprs))
      .toDF("r", "bucket")
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
  }

  /** (keys..., est_distinct BIGINT) from a register table — raw HLL
    * estimate with linear counting below 2.5·m (the standard
    * small-range correction).
    */
  def estimateDistinct(regs: DataFrame, keys: Seq[String], p: Int, g: Int): DataFrame = {
    val m = 1 << p
    val grouped = regs.groupBy(keys.map(col): _*).agg(
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), $g - M)")).as("s_present"),
      count(lit(1)).as("nb"))
    val withS = grouped.select(keys.map(col) :+
      (col("s_present") + (lit(m.toLong) - col("nb")) * lit(1L << g)).as("S") :+
      (lit(m.toLong) - col("nb")).as("V"): _*)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val rawEst = alpha * lit((m.toDouble * m.toDouble) * (1L << g).toDouble) /
      col("S").cast("double")
    val lcEst = lit(m.toDouble) * log(lit(m.toDouble) / col("V").cast("double"))
    val est = when(rawEst <= lit(2.5 * m) && col("V") > 0, lcEst).otherwise(rawEst)
    withS.select(keys.map(col) :+ floor(est).cast("long").as("est_distinct"): _*)
  }
}
