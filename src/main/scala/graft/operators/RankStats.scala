package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact-rank machinery: the scale-safe replacement for
  * `row_number().over(Window.orderBy(...))`, which funnels the ENTIRE
  * input through one task (a no-partitionBy window executes in a
  * single partition however large its input).
  *
  * Shape — the two-level prefix sum documented at Relational.q23b:
  *
  *   1. contract the input to a value histogram: `groupBy(value)` with
  *      map-side combine — one keyed shuffle, never wider than
  *      |distinct values|;
  *   2. bucket the value domain into <= nBuckets coarse ranges; the
  *      within-bucket cumulative sums run as windows PARTITIONED by
  *      bucket (parallel across the cluster);
  *   3. the only cross-bucket stage is a cumulative sum over the
  *      <= nBuckets per-bucket totals — bounded by construction,
  *      independent of data volume;
  *   4. offsets join back keyed on (group, bucket) — co-partitioned
  *      with the histogram, no broadcast of anything data-sized.
  *
  * At 100 TB this is the difference between a rank stage pinned to one
  * executor task and one that scales with the cluster.
  */
object RankStats {

  /** Cumulative value histogram per group: one output row per distinct
    * (groupCols..., valueCol) carrying `cnt` = rows with that exact
    * value and `cum` = rows at-or-before it in the requested order
    * (value <= v when ascending, >= v when descending), both within
    * the group. `cum` is therefore the rank of the LAST row of the
    * value's tie block and `cum - cnt + 1` the rank of its first —
    * enough to answer any exact value-at-rank / rank-of-value query
    * without ranking individual rows.
    *
    * `valueCol` must be integral (it is bucketed in its own domain).
    * `bounds` short-circuits the (lo, hi) domain probe when the caller
    * already holds them; when absent they are collected via a 1-row
    * map-side-combining min/max — a 2-value driver boundary.
    *
    * `weightCol` generalizes the histogram from row counts to WEIGHTED
    * mass: `cnt` becomes sum(weight) at the value and `cum` the
    * cumulative weight at-or-before it — the peer-inclusive cumulative
    * a `sum(w) OVER (PARTITION BY g ORDER BY v)` RANGE-frame window
    * computes, at histogram size instead of fact size (the q108
    * weighted-median rewrite). Weights must be integral and
    * non-negative for the rank arithmetic above to stay exact.
    */
  def cumulativeHistogram(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      ascending: Boolean = true,
      nBuckets: Int = 4096,
      bounds: Option[(Long, Long)] = None,
      weightCol: Option[String] = None,
      persistHist: Boolean = false): DataFrame = {
    val gs = groupCols.map(col)
    val (lo, hi) = bounds.getOrElse {
      val r = df
        .agg(min(col(valueCol)).cast("long"), max(col(valueCol)).cast("long"))
        .head
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    }
    // hi - lo can exceed Long range when the domain spans both extremes
    // (generic integral API); BigInt keeps the one-time driver-side
    // division exact. Clamp BEFORE converting: at nBuckets <= 2 the
    // exact width can itself exceed Long (2^64/2 + 1), and .toLong
    // would wrap to a tiny/negative width that breaks bucket
    // monotonicity — a Long.MaxValue width still yields <= 3 ordered
    // buckets, which is all such a degenerate nBuckets can ask for.
    val width = ((BigInt(hi) - BigInt(lo)) / nBuckets + 1)
      .min(BigInt(Long.MaxValue)).toLong.max(1L)
    // Divide-then-subtract, not subtract-then-divide: `v - lo` wraps for
    // domains spanning both Long extremes, while `v DIV width` is defined
    // for every Long and truncating division is monotone in v — buckets
    // stay ordered and bounded (<= nBuckets + 2, the step astride zero
    // only merges).
    val bucketOff = lo / width
    val mass = weightCol match {
      case Some(w) => sum(col(w)).as("cnt")
      case None    => count(lit(1)).as("cnt")
    }
    val hist = df
      .groupBy((gs :+ col(valueCol)): _*)
      .agg(mass)
      .withColumn("__bucket",
        expr(s"(CAST(`$valueCol` AS BIGINT) DIV ${width}L) - ${bucketOff}L"))
    val vOrd = if (ascending) col(valueCol).asc else col(valueCol).desc
    val bOrd = if (ascending) col("__bucket").asc else col("__bucket").desc
    val inWin = Window
      .partitionBy((gs :+ col("__bucket")): _*)
      .orderBy(vOrd)
      .rowsBetween(Window.unboundedPreceding, 0)
    // persistHist (r15): `hist` feeds BOTH the in-bucket window branch
    // and the bucket-totals branch of the final join, and exchange
    // reuse does NOT deduplicate the branches — the whole (group,
    // value) aggregation pipeline executes twice (measured on q115:
    // two identical 5.2 MB agg map stages, statically and under AQE).
    // A persist (tracked, session-released) dedupes it, but pays cache
    // fill + partition-fan-out: it WINS only when the histogram is
    // large (q115's near-row-distinct prices: shuffle −45%, warm wall
    // −26%) and LOSES on small histograms (t51 +53% wall, q116 +3.5%
    // shuffle) — so the caller opts in where the value domain is known
    // near-fact-sized. At 100 TB the opted-in case is the materialized
    // histogram table a rank service would keep anyway.
    val histC = if (persistHist)
      CacheTracker.persist(hist)
    else hist
    val withIn = histC.withColumn("__cumIn", sum("cnt").over(inWin))
    val totals = histC
      .groupBy((gs :+ col("__bucket")): _*)
      .agg(sum("cnt").as("__btot"))
    // the ONLY cross-bucket stage: <= nBuckets rows per group. With no
    // groupCols this is a no-partitionBy window over the bucket-total
    // table — bounded by nBuckets, never by data volume (the property
    // ScaleSpec's global window guard audits per consumer).
    val offWin = Window
      .partitionBy(gs: _*)
      .orderBy(bOrd)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__off", coalesce(sum("__btot").over(offWin), lit(0L)))
      .drop("__btot")
    withIn
      .join(offsets, groupCols :+ "__bucket")
      .withColumn("cum", (col("__off") + col("__cumIn")).cast("long"))
      .select((gs :+ col(valueCol) :+ col("cnt") :+ col("cum")): _*)
  }

  /** Exact `row_number() OVER (ORDER BY value ASC|DESC, tie ASC)`
    * appended to `df` as long column `rankName`, with NO single-task
    * stage: rank = (#rows strictly ordered before this value) +
    * (position of `tie` inside the value's tie block), both read off
    * [[cumulativeHistogram]]s and joined back on their natural keys.
    * `tieCol` must be unique per row within a value block (a key
    * column) for row_number semantics to hold.
    */
  def rowNumberByValue(
      df: DataFrame,
      valueCol: String,
      tieCol: String,
      rankName: String,
      ascendingValue: Boolean = false,
      nBuckets: Int = 4096,
      valueBounds: Option[(Long, Long)] = None,
      tieBounds: Option[(Long, Long)] = None): DataFrame = {
    val byV =
      cumulativeHistogram(df, Seq.empty, valueCol, ascendingValue, nBuckets,
          valueBounds)
        .select(col(valueCol), col("cnt").as("__vcnt"), col("cum").as("__vcum"))
    val byTie =
      cumulativeHistogram(df, Seq(valueCol), tieCol, ascending = true,
          nBuckets, tieBounds)
        .select(col(valueCol), col(tieCol), col("cum").as("__tcum"))
    df.join(byV, Seq(valueCol))
      .join(byTie, Seq(valueCol, tieCol))
      .withColumn(rankName, col("__vcum") - col("__vcnt") + col("__tcum"))
      .drop("__vcnt", "__vcum", "__tcum")
  }

  /** SQL expression string reproducing `ntile(tiles)` from a 1-based
    * rank column: with n rows, the first n % tiles buckets take
    * ceil(n/tiles) rows and the rest floor(n/tiles) — the standard
    * assignment both Spark and DuckDB implement. All integer DIV
    * (exact), so a rank from [[rowNumberByValue]] yields the bucket
    * the window function would have assigned, bit for bit.
    */
  def ntileExprFromRank(rankCol: String, n: Long, tiles: Long): String = {
    val q = n / tiles; val rem = n % tiles; val cut = (q + 1) * rem
    s"CAST(CASE WHEN $rankCol <= ${cut}L THEN ($rankCol - 1) DIV ${q + 1}L + 1 " +
      s"ELSE ${rem}L + ($rankCol - ${cut}L - 1) DIV ${math.max(q, 1L)}L + 1 " +
      s"END AS BIGINT)"
  }
}
