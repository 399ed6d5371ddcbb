package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, First, Last}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** Backward as-of join — an operator Spark lacks natively (SURVEY §2.6
  * joins row): for each left row, attach the LATEST right row whose time
  * is <= the left time, per key.
  *
  * Implementation is the scalable union+running-window plan, not a range
  * join: tag both sides, union, then `last(value, ignoreNulls)` over a
  * running frame ordered by (time, tag). One shuffle on the key, linear
  * work per partition, no candidate-pair explosion — the plan you want
  * at 100 TB (a theta/range join would rescan right per left row; AQE
  * cannot save it).
  *
  * The right row's values travel as ONE struct, so the window fill is
  * atomic: a right row with NULLs in some value columns can never be
  * "torn" across two different right rows.
  *
  * Ties: a right row at exactly the left time IS matched (tag orders
  * right before left). Multiple right rows per (key, time) are a caller
  * contract (deterministic output requires one row per (key, time));
  * pass `dedupRightBy` to have the operator enforce it with a max_by
  * tie-break instead.
  *
  * Every fill — backward AND forward — is a RUNNING frame
  * (unboundedPreceding → currentRow): Spark evaluates those
  * incrementally, O(rows) per key group. The forward fill gets its
  * running frame by ordering time DESCENDING, never a FOLLOWING frame
  * (Spark's UnboundedFollowingWindowFunctionFrame re-aggregates the
  * partition suffix per row — O(k²) on a hot key with k rows).
  */
object AsOfJoin {

  /** @param left         left (probe) side
    * @param right        right (reference) side; one row per (key, time)
    * @param leftKey      join key column on left
    * @param rightKey     join key column on right
    * @param leftTime     event-time column on left
    * @param rightTime    event-time column on right
    * @param valueCols    right-side columns to attach (must not clash
    *                     with left column names)
    * @param inner        true drops left rows with no earlier right row
    * @param dedupRightBy when Some(ord), pre-collapse duplicate right
    *                     (key, time) rows keeping the one maximizing
    *                     `ord` (max_by); `ord` should itself be unique
    *                     within a (key, time) group or the pick among
    *                     ord-ties is undefined. Costs one extra
    *                     (key, time) shuffle — only pay it when the
    *                     right side can actually carry duplicates.
    */
  def backward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      valueCols: Seq[String],
      inner: Boolean = true,
      dedupRightBy: Option[Column] = None,
      toleranceUs: Option[Long] = None): DataFrame = {

    val leftCols = left.columns.toSeq
    val unioned = tagAndUnion(left, right, leftKey, rightKey, leftTime, rightTime,
      valueCols, rightTag = 0, dedupRightBy) // right sorts BEFORE an equal-time left row
    val w = Window.partitionBy("__k").orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = unioned.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
    selectMatched(filled, leftCols, valueCols, inner, toleranceUs)
  }

  /** Forward as-of join: for each left row, attach the EARLIEST right
    * row whose time is >= the left time, per key. Same union+window
    * plan as [[backward]], mirrored by ordering time DESCENDING so the
    * fill is still a running `last(value, ignoreNulls)` — incremental
    * O(k) per key group, robust to hot keys (a FOLLOWING-frame
    * formulation would re-aggregate the suffix per row, O(k²)). A right
    * row at exactly the left time IS matched (in the descending order,
    * tag 2 puts it before the equal-time left row).
    */
  def forward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      valueCols: Seq[String],
      inner: Boolean = true,
      dedupRightBy: Option[Column] = None,
      toleranceUs: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val unioned = tagAndUnion(left, right, leftKey, rightKey, leftTime, rightTime,
      valueCols, rightTag = 2, dedupRightBy)
    // descending traversal: rows with time >= current come first, so the
    // running last(ignoreNulls) is the nearest right row at-or-after
    val w = Window.partitionBy("__k").orderBy(col("__t").desc, col("__tag").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = unioned.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
    selectMatched(filled, leftCols, valueCols, inner, toleranceUs)
  }

  /** Nearest as-of join: the closer of the backward and forward
    * matches; an exact distance tie resolves BACKWARD (and a right row
    * at exactly the left time is a zero-distance backward match).
    * Distances compare in integer microseconds — no float boundary
    * wobble — so the times must be temporal (date or timestamp).
    *
    * One shuffle, two sorts: the backward fill runs over the ascending
    * (time, tag) order, the forward fill over the descending order.
    * The second in-partition sort (no second exchange — both windows
    * partition by the same key) buys incremental O(k)-per-key fills;
    * the single-sort alternative needs a FOLLOWING frame whose O(k²)
    * re-aggregation collapses on hot keys.
    */
  def nearest(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      valueCols: Seq[String],
      inner: Boolean = true,
      dedupRightBy: Option[Column] = None,
      toleranceUs: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val unioned = tagAndUnion(left, right, leftKey, rightKey, leftTime, rightTime,
      valueCols, rightTag = 0, dedupRightBy)
    selectMatched(fillNearest(unioned), leftCols, valueCols, inner, toleranceUs)
  }

  // ---- aggregated-right variants ----------------------------------
  //
  // The common call shape is `right.groupBy(key, time).agg(...)` followed
  // by backward/forward/nearest — which pays a dedicated Exchange for the
  // pre-aggregation (near-useless map-side partials when (key, time) is
  // almost unique, so effectively a full extra shuffle of the right
  // table) before the union's own key shuffle. These variants fold the
  // per-(key, time) aggregation INTO the join's shuffle: raw right rows
  // ride the single union Exchange, and the group aggregate runs as an
  // unbounded-frame window over (key, time) whose required sort order is
  // EXACTLY the fill window's — so backward/forward plan ONE Exchange
  // and ONE Sort for the whole join (nearest keeps its second,
  // direction-mirrored sort). At fact scale this removes a full shuffle
  // of the right table from the plan.
  //
  // Contract: each agg must IGNORE NULLS over its right-side input
  // columns (max/min/sum/avg/count(col) — not count(*)/count(lit)),
  // because left rows that share a (key, time) group with right rows
  // enter the window group carrying nulls in the right columns. Each
  // agg must also be ORDER-INSENSITIVE: right rows of one (key, time)
  // group reach the group window in no defined order, so first/last/
  // collect_list would answer with whichever row the shuffle delivered
  // first. Those three are rejected up front (tagAndUnionRaw).

  /** [[backward]] with the right side aggregated per (key, time) on the
    * join's own shuffle. `aggs` are (outputName, aggregateColumn) over
    * `rightRaw`'s columns; semantically identical to
    * `backward(left, rightRaw.groupBy(rightKey, rightTime).agg(aggs), ...)`.
    */
  def backwardAgg(
      left: DataFrame, rightRaw: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      aggs: Seq[(String, Column)],
      inner: Boolean = true,
      toleranceUs: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val (unioned, valueNames) = tagAndUnionRaw(left, rightRaw, leftKey, rightKey,
      leftTime, rightTime, aggs)
    // group window ordered by __tag: its required sort (k, t, tag) is the
    // fill window's — one Sort serves both
    val wg = Window.partitionBy(col("__k"), col("__t")).orderBy(col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withRv = packRv(unioned, aggs, wg)
    val w = Window.partitionBy("__k").orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = withRv.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
    selectMatched(filled, leftCols, valueNames, inner, toleranceUs)
  }

  /** [[forward]] with the right side aggregated per (key, time) on the
    * join's own shuffle. The forward traversal sorts on NEGATED
    * microseconds (`__s`) so both windows stay ascending-compatible and
    * the whole join still plans one Exchange + one Sort; the running
    * `last(ignoreNulls)` over `__s` ascending is the nearest right row
    * at-or-after the left time (right sorts before an equal-time left
    * row, so an exact-time match IS taken, like [[forward]]).
    */
  def forwardAgg(
      left: DataFrame, rightRaw: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      aggs: Seq[(String, Column)],
      inner: Boolean = true,
      toleranceUs: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val (unioned0, valueNames) = tagAndUnionRaw(left, rightRaw, leftKey, rightKey,
      leftTime, rightTime, aggs)
    val unioned = unioned0.withColumn("__s", -us(col("__t")))
    val wg = Window.partitionBy(col("__k"), col("__s")).orderBy(col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withRv = packRv(unioned, aggs, wg)
    val w = Window.partitionBy("__k").orderBy(col("__s"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = withRv.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
    selectMatched(filled, leftCols, valueNames, inner, toleranceUs)
  }

  /** [[nearest]] with the right side aggregated per (key, time) on the
    * join's shuffle: the group window shares the backward fill's sort;
    * only the forward fill pays the second (mirrored, in-partition)
    * sort. Tie-breaks are identical to [[nearest]]: exact-distance ties
    * resolve backward, and an equal-time right row is forward-invisible
    * (it is already the zero-distance backward match).
    */
  def nearestAgg(
      left: DataFrame, rightRaw: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      aggs: Seq[(String, Column)],
      inner: Boolean = true,
      toleranceUs: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val (unioned, valueNames) = tagAndUnionRaw(left, rightRaw, leftKey, rightKey,
      leftTime, rightTime, aggs)
    val wg = Window.partitionBy(col("__k"), col("__t")).orderBy(col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    selectMatched(fillNearest(packRv(unioned, aggs, wg)), leftCols, valueNames, inner, toleranceUs)
  }

  /** Union left (tag 1, full payload) with RAW right rows (tag 0): key,
    * time, the original right time (`__rt`, pre-coercion, for the
    * asof_time struct field) and every right column the aggs read.
    * Returns the union plus the agg output names.
    */
  private def tagAndUnionRaw(
      left: DataFrame, rightRaw: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      aggs: Seq[(String, Column)]): (DataFrame, Seq[String]) = {
    val leftCols = left.columns.toSeq
    val valueNames = aggs.map(_._1)
    require(valueNames.forall(!leftCols.contains(_)),
      s"agg names ${valueNames.filter(leftCols.contains)} clash with left columns")
    require(!leftCols.contains("asof_time"), "left must not already have an asof_time column")
    require(!valueNames.contains("asof_time"), "asof_time is reserved for the matched right time")
    val reserved = Seq("__k", "__t", "__tag", "__rv", "__rt", "__s")
    require(leftCols.intersect(reserved).isEmpty, s"left uses reserved columns")
    val rawCols = rightRaw.columns.toSeq.filterNot(c => c == rightKey || c == rightTime)
    require(rawCols.intersect(reserved).isEmpty,
      s"right uses reserved columns ${rawCols.intersect(reserved)} (rename them first)")
    require(rawCols.intersect(leftCols).isEmpty,
      s"right columns ${rawCols.intersect(leftCols)} clash with left columns " +
        "(project the right side first)")
    def orderSensitive(agg: Column): Boolean = GraftSqlBridge.resolvedAgg(rightRaw, agg).exists {
      case _: First | _: Last | _: CollectList => true
      case _ => false
    }
    val unordered = aggs.collect { case (n, c) if orderSensitive(c) => n }
    require(unordered.isEmpty,
      s"aggs ${unordered.mkString(", ")} are order-sensitive (first/last/collect_list): " +
        "right rows of a (key, time) group have no order")
    val l = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTime))
      .withColumn("__tag", lit(1))
    val r = rightRaw.select(
      col(rightKey).as("__k") +: col(rightTime).as("__t") +: lit(0).as("__tag") +:
        col(rightTime).as("__rt") +: rawCols.map(col): _*)
    // pin the shuffle to __k HERE: left to EnsureRequirements, the group
    // window (clustering (__k, __t/__s)) would get a hashpartitioning on
    // BOTH keys and the fill window (clustering __k) would then re-shuffle
    // the whole union; hashpartitioning(__k) satisfies both windows, so
    // the explicit repartition is the join's only Exchange (no partition
    // count given — AQE coalescing stays free to size it)
    (l.unionByName(r, allowMissingColumns = true).repartition(col("__k")),
      valueNames)
  }

  /** Time in integer microseconds: as-of distances compare exactly. */
  private def us(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Set `__rv` to the nearer of its backward and forward fills; an
    * exact distance tie resolves backward. In the descending pass the
    * strict `__tag` ordering (right tag 0 sorts AFTER left tag 1) keeps
    * an equal-time right row forward-invisible — it is already the
    * zero-distance backward match.
    */
  private def fillNearest(unioned: DataFrame): DataFrame = {
    val back = last(col("__rv"), ignoreNulls = true)
      .over(Window.partitionBy("__k").orderBy(col("__t"), col("__tag"))
        .rowsBetween(Window.unboundedPreceding, 0))
    val fwd = last(col("__rv"), ignoreNulls = true)
      .over(Window.partitionBy("__k").orderBy(col("__t").desc, col("__tag").desc)
        .rowsBetween(Window.unboundedPreceding, 0))
    unioned.withColumn("__b", back).withColumn("__f", fwd)
      .withColumn("__rv",
        when(col("__b").isNull, col("__f"))
          .when(col("__f").isNull, col("__b"))
          .when(us(col("__t")) - us(col("__b.asof_time")) <=
            us(col("__f.asof_time")) - us(col("__t")), col("__b"))
          .otherwise(col("__f")))
  }

  /** Evaluate the per-(key, time) aggs over the group window and pack
    * them into the atomic `__rv` struct on right rows only.
    */
  private def packRv(unioned: DataFrame, aggs: Seq[(String, Column)],
      wg: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    // all aggs in ONE projection under internal names — a sequential
    // withColumn chain would let an agg's output name shadow a raw right
    // column that a LATER agg still reads
    val withVals = unioned.select(
      col("*") +: aggs.map { case (n, c) => c.over(wg).as(s"__agg_$n") }: _*)
    withVals.withColumn("__rv",
      when(col("__tag") === 0,
        struct(col("__rt").as("asof_time") +:
          aggs.map { case (n, _) => col(s"__agg_$n").as(n) }: _*)))
  }

  /** Shared output tail: optional tolerance gate (a match farther than
    * `toleranceUs` microseconds from the left time counts as NO match —
    * the standard max-lookback/lookahead contract of time-series as-of
    * APIs; |distance| works unchanged for all three directions), then
    * inner-filter on the matched struct, keep only left rows, unpack
    * `__rv` next to the left payload.
    */
  private def selectMatched(filled0: DataFrame, leftCols: Seq[String],
      valueCols: Seq[String], inner: Boolean,
      toleranceUs: Option[Long] = None): DataFrame = {
    val filled = toleranceUs match {
      case None => filled0
      case Some(tol) => filled0.withColumn("__rv",
        when(col("__rv").isNotNull &&
          abs(us(col("__t")) - us(col("__rv.asof_time"))) <= tol, col("__rv")))
    }
    val matchedOnly = if (inner) filled.filter(col("__rv").isNotNull) else filled
    matchedOnly.filter(col("__tag") === 1)
      .select(leftCols.map(col) ++
        (col("__rv.asof_time").as("asof_time") +:
          valueCols.map(c => col(s"__rv.$c").as(c))): _*)
  }

  /** Shared tagged union: left rides with tag 1 and its full payload;
    * right contributes (key, time, rightTag) plus its values packed as
    * the atomic `__rv` struct.
    */
  private def tagAndUnion(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      valueCols: Seq[String], rightTag: Int,
      dedupRightBy: Option[Column] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    require(valueCols.forall(!leftCols.contains(_)),
      s"valueCols ${valueCols.filter(leftCols.contains)} clash with left columns")
    require(!leftCols.contains("asof_time"), "left must not already have an asof_time column")
    require(!valueCols.contains("asof_time"), "asof_time is reserved for the matched right time")
    require(!leftCols.contains("__rv"), "__rv is a reserved column name")
    val l = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTime))
      .withColumn("__tag", lit(1))
    // optional enforcement of the one-row-per-(key,time) contract: keep
    // the duplicate maximizing the tie-break (max_by; partial-aggregates
    // map-side, one (key,time) shuffle)
    val rightDeduped = dedupRightBy match {
      case None => right
      case Some(ord) =>
        right.groupBy(col(rightKey), col(rightTime))
          .agg(max_by(struct(valueCols.map(col): _*), ord).as("__vals"))
          .select(col(rightKey) +: col(rightTime) +:
            valueCols.map(c => col(s"__vals.$c").as(c)): _*)
    }
    val r = rightDeduped.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"), lit(rightTag).as("__tag"),
      struct((col(rightTime).as("asof_time") +: valueCols.map(col)): _*).as("__rv"))
    l.unionByName(r, allowMissingColumns = true)
  }
}
