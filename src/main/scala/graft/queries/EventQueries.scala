package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{KMinSketch, PolyHash}
import graft.operators.AsOfJoin
import QueryDef.{table, cents}

/** Event-stream operators over the `events` table: as-of join and
  * gap-based sessionization (the batch mirror of the streaming module's
  * stateful sessionizer).
  */
object EventQueries {

  /** events with microsecond-exact `ets` timestamp (eventsRaw's nanos
    * long truncated to micros — exact for micros-sourced data) shifted
    * back 29 years to overlap the orders date range.
    */
  private def eventsShifted(s: SparkSession, dir: String): DataFrame =
    Relational.eventsRaw(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        cents(col("value")).as("value_c"),
        (timestamp_micros(expr("ts div 1000")) - expr("INTERVAL 29 YEARS")).as("ets"))

  val defs: Map[String, QueryDef] = Map(

    // ---- inter-arrival time quantiles -------------------------------
    // Per event type, EXACT p50/p90/p99/max of the gaps (whole
    // seconds) between consecutive events — the ops/capacity metric
    // behind timeout tuning and liveness alerts. t19's value-histogram
    // trick on a NEW signal: one per-type lag window produces the
    // gaps, the only full-data agg is the (type, gap) count, and the
    // cumulative/nearest-rank windows run over the histogram (bounded
    // by the gap-value domain, never a distributed sort of raw gaps);
    // rank rule is the integer cross-multiply.
    "q77_interarrival_quantiles" -> QueryDef(
      (s, dir) => {
        // The lag runs per (event_type, HOUR bucket) — time-bounded
        // parallelism (types × hours partitions) instead of the ~10-way
        // ceiling a bare event_type partition pins the raw-event sort
        // to (the r13 plan-audit flag). The one gap each bucket cannot
        // see (its first event's) is stitched from the per-bucket spine:
        // last ts of the nearest preceding non-empty bucket, a window
        // over types × hours rows, never over raw events.
        val BktNs = 3600000000000L // 1 hour
        // ev feeds TWO consumers (the bucketed lag, the per-bucket
        // spine) — persist the narrow projection so the scan +
        // timestamp normalization run once (r13's multi-consumer
        // persist discipline)
        val ev = graft.operators.CacheTracker.persist(
          Relational.eventsRaw(s, dir)
            .select(col("event_type"), col("ts"), col("event_id"))
            .withColumn("bkt", expr(s"ts div ${BktNs}L")))
        val wIn = Window.partitionBy("event_type", "bkt").orderBy("ts", "event_id")
        val lagged = ev.withColumn("prev", lag("ts", 1).over(wIn))
        val lastPer = ev.groupBy("event_type", "bkt")
          .agg(max(struct(col("ts"), col("event_id"))).as("m"))
          .select(col("event_type"), col("bkt"), col("m.ts").as("last_ts"))
        val prevLast = lastPer
          .withColumn("prev_ts", lag("last_ts", 1)
            .over(Window.partitionBy("event_type").orderBy("bkt")))
          .select(col("event_type"), col("bkt"), col("prev_ts"))
        val gaps = lagged
          .join(broadcast(prevLast), Seq("event_type", "bkt"))
          .withColumn("base", coalesce(col("prev"), col("prev_ts")))
          .filter(col("base").isNotNull)
          .select(col("event_type"),
            expr("(ts - base) div 1000000000").as("gap_s"))
        val hist = gaps.groupBy("event_type", "gap_s").agg(count(lit(1)).as("c"))
        val cum = hist
          .withColumn("cum", sum("c").over(Window.partitionBy("event_type")
            .orderBy("gap_s").rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("total", sum("c").over(Window.partitionBy("event_type")))
        cum.groupBy("event_type").agg(
          sum("c").as("n_gaps"),
          min(when(col("cum") * 2 >= col("total"), col("gap_s"))).as("p50_s"),
          min(when(col("cum") * 10 >= col("total") * 9, col("gap_s"))).as("p90_s"),
          min(when(col("cum") * 100 >= col("total") * 99, col("gap_s"))).as("p99_s"),
          max("gap_s").as("max_s"))
          .orderBy("event_type")
      },
      Some("""WITH g AS (
             |  SELECT event_type,
             |    (epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY event_type
             |      ORDER BY ts, event_id)) // 1000000000 AS gap_s
             |  FROM events),
             |h AS (SELECT event_type, gap_s, count(*) AS c
             |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2),
             |cum AS (SELECT event_type, gap_s, c,
             |    sum(c) OVER (PARTITION BY event_type ORDER BY gap_s
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(c) OVER (PARTITION BY event_type) AS total
             |  FROM h)
             |SELECT event_type, CAST(sum(c) AS BIGINT) AS n_gaps,
             |  CAST(min(CASE WHEN cum * 2 >= total THEN gap_s END) AS BIGINT)
             |    AS p50_s,
             |  CAST(min(CASE WHEN cum * 10 >= total * 9 THEN gap_s END) AS BIGINT)
             |    AS p90_s,
             |  CAST(min(CASE WHEN cum * 100 >= total * 99 THEN gap_s END) AS BIGINT)
             |    AS p99_s,
             |  CAST(max(gap_s) AS BIGINT) AS max_s
             |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- per-type linear trend fit (exact-integer OLS) --------------
    // Least-squares slope/intercept over each type's hourly counts —
    // trend detection and one-step forecast with ZERO floats: with
    // x = hour − min_hour (per type) and y = count, the closed-form
    // OLS terms (n·Σxy − Σx·Σy, n·Σx² − (Σx)²) are exact BIGINT
    // products (bound: safe to ~1e5 hours/type · 1e6 events/hour),
    // so slope permille and the next-hour forecast are engine-exact
    // integer division — no float regression library on either side.
    // Shape: one map-side-combining (type, hour) count, a broadcast
    // per-type min-hour join, one dimension-sized moment agg.
    "q72_trend_fit" -> QueryDef(
      (s, dir) => {
        val HourNs = 3600000000000L
        val hourly = Relational.eventsRaw(s, dir)
          .groupBy(col("event_type"), expr(s"ts div $HourNs").as("hr"))
          .agg(count(lit(1)).as("y"))
        val mins = hourly.groupBy("event_type").agg(min("hr").as("hr0"))
        val pts = hourly.join(broadcast(mins), "event_type")
          .select(col("event_type"), (col("hr") - col("hr0")).as("x"), col("y"))
        pts.groupBy("event_type")
          .agg(count(lit(1)).as("n_pts"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"), max("x").as("xmax"))
          .filter(col("n_pts") * col("sxx") - col("sx") * col("sx") =!= 0)
          .select(col("event_type"), col("n_pts"),
            expr("(n_pts * sxy - sx * sy) * 1000 DIV (n_pts * sxx - sx * sx)")
              .as("slope_permille"),
            expr("""((sy * sxx - sx * sxy) + (n_pts * sxy - sx * sy) * (xmax + 1))
                   | DIV (n_pts * sxx - sx * sx)""".stripMargin)
              .as("forecast_next"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (SELECT event_type,
             |    epoch_ns(ts) // 3600000000000 AS hr, count(*) AS y
             |  FROM events GROUP BY 1, 2),
             |pts AS (SELECT h.event_type, h.hr - m.hr0 AS x, y
             |  FROM hourly h JOIN (SELECT event_type, min(hr) AS hr0
             |    FROM hourly GROUP BY 1) m USING (event_type)),
             |mo AS (SELECT event_type, count(*) AS n_pts,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(max(x) AS BIGINT) AS xmax
             |  FROM pts GROUP BY 1)
             |SELECT event_type, n_pts,
             |  CAST((n_pts * sxy - sx * sy) * 1000
             |    // (n_pts * sxx - sx * sx) AS BIGINT) AS slope_permille,
             |  CAST(((sy * sxx - sx * sxy) + (n_pts * sxy - sx * sy) * (xmax + 1))
             |    // (n_pts * sxx - sx * sx) AS BIGINT) AS forecast_next
             |FROM mo WHERE n_pts * sxx - sx * sx <> 0
             |ORDER BY 1""".stripMargin)),

    // ---- CUSUM changepoint detection --------------------------------
    // Per type, the hour where the cumulative deviation from the
    // type's own mean peaks in magnitude — the classic level-shift
    // detector (q61 flags rate SPIKES vs a trailing window; CUSUM
    // finds WHERE the level changed). All exact integer: mean is the
    // documented floor, the running sum is one per-type window over
    // the dimension-sized hourly table, the peak is an argmax struct
    // with earliest-hour tie-break.
    "q73_cusum_changepoint" -> QueryDef(
      (s, dir) => {
        val HourNs = 3600000000000L
        val hourly = Relational.eventsRaw(s, dir)
          .groupBy(col("event_type"), expr(s"ts div $HourNs").as("hr"))
          .agg(count(lit(1)).as("y"))
        val means = hourly.groupBy("event_type")
          .agg(expr("sum(y) DIV count(1)").as("mean_y"))
        val w = Window.partitionBy("event_type").orderBy("hr")
          .rowsBetween(Window.unboundedPreceding, 0)
        hourly.join(broadcast(means), "event_type")
          .withColumn("cusum", sum(col("y") - col("mean_y")).over(w))
          .groupBy("event_type")
          .agg(max(struct(abs(col("cusum")).as("a"), (-col("hr")).as("nh"),
            col("cusum").as("c"))).as("pk"))
          .select(col("event_type"), (-col("pk.nh")).as("cp_hr"),
            col("pk.a").as("cusum_peak_abs"),
            signum(col("pk.c")).cast("long").as("direction"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (SELECT event_type,
             |    epoch_ns(ts) // 3600000000000 AS hr, count(*) AS y
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type, sum(y) // count(*) AS mean_y
             |  FROM hourly GROUP BY 1),
             |cu AS (SELECT h.event_type, hr,
             |    sum(y - mean_y) OVER (PARTITION BY h.event_type ORDER BY hr
             |      ROWS UNBOUNDED PRECEDING) AS cusum
             |  FROM hourly h JOIN m USING (event_type)),
             |pk AS (SELECT event_type, hr, cusum, abs(cusum) AS a,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY abs(cusum) DESC, hr) AS rn
             |  FROM cu)
             |SELECT event_type, CAST(hr AS BIGINT) AS cp_hr,
             |  CAST(a AS BIGINT) AS cusum_peak_abs,
             |  CAST(CASE WHEN cusum > 0 THEN 1 WHEN cusum < 0 THEN -1 ELSE 0 END
             |    AS BIGINT) AS direction
             |FROM pk WHERE rn = 1 ORDER BY 1""".stripMargin)),

    // ---- seasonal baseline profile + deviation census ---------------
    // Day-of-week × hour-of-day traffic profile with a same-slot
    // deviation count — the seasonality complement of q61's trailing-
    // window anomaly rule (a Monday-9am spike is normal against Monday
    // 9am, anomalous against the trailing hour). Two-level shape: the
    // only full-data agg is the per-hour count (map-side-combining on
    // the time bucket); the 168-slot profile broadcasts back onto the
    // per-hour table for the deviation census (n ≥ 2·mean high,
    // 2n ≤ mean low — exact integer, floor-mean documented). Epoch
    // day 0 is a Thursday: dow = (day + 4) % 7 puts Sunday at 0.
    "q71_seasonal_profile" -> QueryDef(
      (s, dir) => {
        val HourNs = 3600000000000L
        val hours = Relational.eventsRaw(s, dir)
          .select(expr(s"ts div $HourNs").as("hr"))
          .groupBy("hr").agg(count(lit(1)).as("n"))
          .withColumn("dow", expr("(hr DIV 24 + 4) % 7"))
          .withColumn("hod", expr("hr % 24"))
        val profile = hours.groupBy("dow", "hod")
          .agg(count(lit(1)).as("n_hours"),
            expr("sum(n) DIV count(1)").as("mean_n"))
        hours.join(broadcast(profile), Seq("dow", "hod"))
          .groupBy("dow", "hod")
          .agg(max("n_hours").as("n_hours"), max("mean_n").as("mean_n"),
            count(when(col("n") >= col("mean_n") * 2, 1)).as("n_high"),
            count(when(col("n") * 2 <= col("mean_n"), 1)).as("n_low"))
          .orderBy("dow", "hod")
      },
      Some("""WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hr,
             |    count(*) AS n
             |  FROM events GROUP BY 1),
             |hh AS (SELECT hr, n, (hr // 24 + 4) % 7 AS dow, hr % 24 AS hod
             |  FROM h),
             |p AS (SELECT dow, hod, count(*) AS n_hours,
             |    sum(n) // count(*) AS mean_n
             |  FROM hh GROUP BY 1, 2)
             |SELECT dow, hod, CAST(max(p.n_hours) AS BIGINT) AS n_hours,
             |  CAST(max(p.mean_n) AS BIGINT) AS mean_n,
             |  CAST(count(CASE WHEN hh.n >= 2 * p.mean_n THEN 1 END) AS BIGINT)
             |    AS n_high,
             |  CAST(count(CASE WHEN hh.n * 2 <= p.mean_n THEN 1 END) AS BIGINT)
             |    AS n_low
             |FROM p JOIN hh USING (dow, hod)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- rolling 7-day active users (sliding-window DISTINCT) -------
    // For every window-end day: distinct users active in the trailing
    // 7 days (WAU), that day's distinct users (DAU), and the
    // DAU/WAU stickiness permille — the product-analytics staple whose
    // naive form is a per-day range self-join. Scale shape: the
    // activity table collapses to DISTINCT (day, user) ONCE (the only
    // full-data agg), then each row EXPLODES into the ≤7 windows it
    // belongs to — a constant-factor narrow expansion replacing the
    // range join — and a second distinct+count per window end. Leading
    // windows (< 7 days of history) are partial by documented
    // convention; both engines emit them identically. Window ends
    // clamp to the corpus max day (1-row broadcast).
    "q70_rolling_wau" -> QueryDef(
      (s, dir) => {
        val DayNs = 86400000000000L
        val du = Relational.eventsRaw(s, dir)
          .select(expr(s"ts div $DayNs").as("day"), col("user_id"))
          .distinct()
        val dau = du.groupBy(col("day").as("w")).agg(count(lit(1)).as("dau"))
        val mx = du.agg(max("day").as("max_day"))
        val wau = du
          .select(explode(sequence(col("day"), col("day") + 6)).as("w"), col("user_id"))
          .distinct()
          .groupBy("w").agg(count(lit(1)).as("wau"))
        wau.crossJoin(broadcast(mx))
          .filter(col("w") <= col("max_day"))
          .join(dau, "w")
          .select(col("w").as("window_end_day"), col("dau"), col("wau"),
            expr("dau * 1000 DIV wau").as("stickiness_permille"))
          .orderBy("window_end_day")
      },
      Some("""WITH du AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day,
             |    user_id
             |  FROM events),
             |dau AS (SELECT day AS w, count(*) AS dau FROM du GROUP BY 1),
             |mx AS (SELECT max(day) AS max_day FROM du),
             |wu AS (SELECT DISTINCT day + o AS w, user_id
             |  FROM du, UNNEST(range(0, 7)) AS t(o)),
             |wau AS (SELECT w, count(*) AS wau FROM wu GROUP BY 1)
             |SELECT w AS window_end_day, dau, wau,
             |  CAST(dau * 1000 // wau AS BIGINT) AS stickiness_permille
             |FROM wau JOIN dau USING (w) CROSS JOIN mx
             |WHERE w <= max_day
             |ORDER BY 1""".stripMargin)),

    // ---- first-order Markov transition matrix -----------------------
    // Per-user event sequences folded into (prev_type → next_type)
    // transition counts + permille transition probabilities — the
    // sequence-analytics primitive behind next-action prediction and
    // journey analysis. ONE window (partitioned by user, ordered by the
    // (ts, event_id) total order — ties in ts cannot flip a
    // transition) produces the lagged pairs; counts and the per-source
    // normalizer are map-side-combining aggs over the |types|²-sized
    // pair domain. Scale: the window sorts within user partitions
    // (bounded per-user event counts), never globally; the output is
    // dimension-sized. Probability is exact integer permille
    // (c·1000 DIV c_src), identical on both engines.
    "q68_markov_transitions" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val trans = Relational.eventsRaw(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull)
        val counts = trans.groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n_trans"))
        val srcTotals = counts.groupBy("prev_type")
          .agg(sum("n_trans").as("n_src"))
        counts.join(srcTotals, "prev_type")
          .select(col("prev_type"), col("next_type"), col("n_trans"),
            expr("CAST(n_trans * 1000 DIV n_src AS BIGINT)").as("p_permille"))
          .orderBy("prev_type", "next_type")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |counts AS (
             |  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
             |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
             |src AS (SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_src
             |  FROM counts GROUP BY 1)
             |SELECT prev_type, next_type, n_trans,
             |  CAST(n_trans * 1000 // n_src AS BIGINT) AS p_permille
             |FROM counts JOIN src USING (prev_type)
             |ORDER BY 1, 2""".stripMargin)),

    // semi-structured props extraction (regex on both engines — the
    // DuckDB json extension is not guaranteed offline) + per-type agg
    "q21_props_extract" -> QueryDef(
      (s, dir) => Relational.eventsRaw(s, dir)
        .select(col("event_type"),
          regexp_extract(col("props"), "[0-9]+", 0).cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("k_sum"),
          min("k").as("k_min"), max("k").as("k_max"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS k_sum,
             |  CAST(min(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS k_min,
             |  CAST(max(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS k_max
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q21's idiomatic twin: NATIVE JSON parsing of the semi-structured
    // props column via from_json with an explicit schema (codegen'd
    // JacksonParser, no regex fragility; the production path when props
    // is actual JSON, not merely regex-extractable). Same aggregate as
    // q21, so the two parses cross-check each other; PERMISSIVE nulls
    // on malformed rows are counted explicitly rather than dropped.
    "q21b_json_extract" -> QueryDef(
      (s, dir) => {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))
        Relational.eventsRaw(s, dir)
          .select(col("event_type"),
            from_json(col("props"), schema).getField("k").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("k").as("k_sum"),
            count(when(col("k").isNull, 1)).as("n_bad"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
             |  CAST(count(CASE WHEN props->>'$.k' IS NULL THEN 1 END) AS BIGINT) AS n_bad
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Backward as-of join: each event picks the latest order (per
    // customer) at-or-before its time. Right side pre-deduplicated to
    // one row per (custkey, orderdate) for determinism.
    "q17_asof_join" -> QueryDef(
      (s, dir) => {
        val ev = eventsShifted(s, dir)
        // aggregated-right form (r15): the per-(custkey, orderdate) dedup
        // aggregate rides the join's own key shuffle as a group window —
        // one Exchange + one Sort for the whole as-of join instead of a
        // dedicated orders pre-aggregation Exchange (near-zero map-side
        // reduction: (custkey, orderdate) is almost unique) plus the
        // union Exchange. Semantics identical (OperatorSpec pins it).
        val r = table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
        AsOfJoin.backwardAgg(ev, r,
            leftKey = "user_id", rightKey = "o_custkey",
            leftTime = "ets", rightTime = "o_orderdate",
            aggs = Seq(
              "o_orderkey" -> max(col("o_orderkey")),
              "total_c" -> sum(cents(col("o_totalprice")))))
          .select(col("event_id"), col("user_id"), col("o_orderkey"), col("total_c"),
            date_format(col("asof_time"), "yyyy-MM-dd").as("asof_date"))
        // no trailing orderBy (r15): the gate compare is order-
        // insensitive and a global sort of the event-sized join output
        // pays the range exchange's sampling re-execution plus a full
        // re-shuffle (the q35/t9 plan-audit class)
      },
      Some("""WITH r AS (
             |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
             |  FROM orders GROUP BY 1, 2),
             |     l AS (
             |  SELECT event_id, user_id,
             |    make_timestamp(epoch_us(ts)) - INTERVAL 29 YEAR AS ets
             |  FROM events)
             |SELECT l.event_id, l.user_id, r.o_orderkey, r.total_c,
             |  strftime(r.o_orderdate, '%Y-%m-%d') AS asof_date
             |FROM l ASOF JOIN r ON l.user_id = r.o_custkey AND l.ets >= r.o_orderdate
             |ORDER BY l.event_id""".stripMargin)),

    // Forward as-of join: each event picks the EARLIEST order (per
    // customer) at-or-after its time — the "next scheduled action"
    // lookup. Same right-side dedup as q17; DuckDB mirrors it natively
    // (ASOF JOIN with <=).
    "q39_asof_forward" -> QueryDef(
      (s, dir) => {
        val ev = eventsShifted(s, dir)
        // aggregated-right form (r15) — see q17; the forward fill sorts
        // on negated microseconds so the join still plans one Sort
        val r = table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
        AsOfJoin.forwardAgg(ev, r,
            leftKey = "user_id", rightKey = "o_custkey",
            leftTime = "ets", rightTime = "o_orderdate",
            aggs = Seq(
              "o_orderkey" -> max(col("o_orderkey")),
              "total_c" -> sum(cents(col("o_totalprice")))))
          .select(col("event_id"), col("user_id"), col("o_orderkey"), col("total_c"),
            date_format(col("asof_time"), "yyyy-MM-dd").as("asof_date"))
        // no trailing orderBy (r15): the gate compare is order-
        // insensitive and a global sort of the event-sized join output
        // pays the range exchange's sampling re-execution plus a full
        // re-shuffle (the q35/t9 plan-audit class)
      },
      Some("""WITH r AS (
             |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
             |  FROM orders GROUP BY 1, 2),
             |     l AS (
             |  SELECT event_id, user_id,
             |    make_timestamp(epoch_us(ts)) - INTERVAL 29 YEAR AS ets
             |  FROM events)
             |SELECT l.event_id, l.user_id, r.o_orderkey, r.total_c,
             |  strftime(r.o_orderdate, '%Y-%m-%d') AS asof_date
             |FROM l ASOF JOIN r ON l.user_id = r.o_custkey AND l.ets <= r.o_orderdate
             |ORDER BY l.event_id""".stripMargin)),

    // Nearest as-of join: the closer of the backward/forward matches,
    // exact distance ties resolving backward. Distances compare in
    // integer MICROSECONDS on both engines (a float comparison could
    // flip an equidistant pair). Oracle composes DuckDB's two
    // directional ASOF joins with the same integer tie-break.
    "q40_asof_nearest" -> QueryDef(
      (s, dir) => {
        val ev = eventsShifted(s, dir)
        // aggregated-right form (r15) — see q17; the dedup aggregate
        // shares the backward fill's sort, only the forward fill pays
        // the second (in-partition) sort
        val r = table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
        AsOfJoin.nearestAgg(ev, r,
            leftKey = "user_id", rightKey = "o_custkey",
            leftTime = "ets", rightTime = "o_orderdate",
            aggs = Seq(
              "o_orderkey" -> max(col("o_orderkey")),
              "total_c" -> sum(cents(col("o_totalprice")))))
          .select(col("event_id"), col("user_id"), col("o_orderkey"), col("total_c"),
            date_format(col("asof_time"), "yyyy-MM-dd").as("asof_date"))
        // no trailing orderBy (r15): the gate compare is order-
        // insensitive and a global sort of the event-sized join output
        // pays the range exchange's sampling re-execution plus a full
        // re-shuffle (the q35/t9 plan-audit class)
      },
      Some("""WITH r AS (
             |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
             |  FROM orders GROUP BY 1, 2),
             |     l AS (
             |  SELECT event_id, user_id,
             |    make_timestamp(epoch_us(ts)) - INTERVAL 29 YEAR AS ets
             |  FROM events),
             |     b AS (
             |  SELECT l.event_id, l.user_id, l.ets, r.o_orderkey AS b_key,
             |    r.total_c AS b_tot, r.o_orderdate AS b_d
             |  FROM l ASOF LEFT JOIN r ON l.user_id = r.o_custkey AND l.ets >= r.o_orderdate),
             |     f AS (
             |  SELECT l.event_id, r.o_orderkey AS f_key, r.total_c AS f_tot,
             |    r.o_orderdate AS f_d
             |  FROM l ASOF LEFT JOIN r ON l.user_id = r.o_custkey AND l.ets <= r.o_orderdate),
             |     j AS (
             |  SELECT b.event_id, b.user_id, b.ets, b_key, b_tot, b_d, f_key, f_tot, f_d,
             |    CASE WHEN b_key IS NULL THEN FALSE
             |         WHEN f_key IS NULL THEN TRUE
             |         WHEN epoch_us(b.ets) - epoch_us(CAST(b_d AS TIMESTAMP))
             |           <= epoch_us(CAST(f_d AS TIMESTAMP)) - epoch_us(b.ets) THEN TRUE
             |         ELSE FALSE END AS pick_b
             |  FROM b JOIN f USING (event_id))
             |SELECT event_id, user_id,
             |  CASE WHEN pick_b THEN b_key ELSE f_key END AS o_orderkey,
             |  CASE WHEN pick_b THEN b_tot ELSE f_tot END AS total_c,
             |  strftime(CASE WHEN pick_b THEN b_d ELSE f_d END, '%Y-%m-%d') AS asof_date
             |FROM j WHERE b_key IS NOT NULL OR f_key IS NOT NULL
             |ORDER BY event_id""".stripMargin)),

    // Gap-based sessionization (30-min inactivity): lag + running sum of
    // session-start flags — one shuffle on user_id; the batch mirror of
    // streaming flatMapGroupsWithState sessionization.
    // Ordered-sequence funnel (view → click → purchase, strictly
    // increasing time per user): the event-analytics staple. ONE
    // exchange + one per-user sort, then running-min windows express
    // the state machine — a click counts only after the user's first
    // view, a purchase only after the first qualifying click; no
    // self-joins, no per-user collect (hot-user bound = the same
    // per-user sort q18's sessionizer already carries). Output: one
    // audit row with per-stage user counts + integer conversion.
    "q52_funnel" -> QueryDef(
      (s, dir) => {
        val ev = Relational.eventsRaw(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"),
            expr("ts div 1000").as("t_us"))
        graft.operators.Funnel.report(ev, "user_id", "event_type", "t_us",
            "event_id", Seq("view", "click", "purchase"))
          .select(col("n_users"), col("n_stage1").as("n_view"),
            col("n_stage2").as("n_view_click"), col("n_stage3").as("n_funnel"),
            col("conv_permille"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us
             |  FROM events),
             |st AS (
             |  SELECT *, min(CASE WHEN event_type = 'view' THEN t_us END)
             |      OVER w AS mv
             |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |st2 AS (
             |  SELECT *, CASE WHEN event_type = 'click' AND t_us > mv
             |    THEN t_us END AS qc
             |  FROM st),
             |st3 AS (
             |  SELECT *, min(qc) OVER w AS mqc
             |  FROM st2 WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |st4 AS (
             |  SELECT *, CASE WHEN event_type = 'purchase' AND t_us > mqc
             |    THEN t_us END AS qp
             |  FROM st3),
             |pu AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type = 'view' THEN t_us END) AS s1,
             |    min(qc) AS s2, min(qp) AS s3
             |  FROM st4 GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_users,
             |  CAST(count(s1) AS BIGINT) AS n_view,
             |  CAST(count(s2) AS BIGINT) AS n_view_click,
             |  CAST(count(s3) AS BIGINT) AS n_funnel,
             |  CAST((1000 * count(s3)) // count(s1) AS BIGINT) AS conv_permille
             |FROM pu""".stripMargin)),

    // Cohort retention (the other event-analytics staple): users
    // cohorted by first-signup week, activity bucketed by week, output
    // = the (cohort_week, week_offset, n_users) retention triangle.
    // Scale shape: one map-side min-agg for cohorts, one distinct on
    // (user, week) — both keyed small —, a user-keyed join, and a
    // dimension-sized final agg; no windows, no per-user state.
    "q53_retention" -> QueryDef(
      (s, dir) => {
        val WeekUs = 7L * 86400L * 1000000L
        val ev = Relational.eventsRaw(s, dir)
          .select(col("user_id"), col("event_type"),
            (expr("ts div 1000") / WeekUs).cast("long").as("wk"))
        val cohorts = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("wk").as("cohort_wk"))
        val active = ev.select("user_id", "wk").distinct()
        active.join(cohorts, "user_id")
          .filter(col("wk") >= col("cohort_wk"))
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_wk", "offset_wk")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type,
             |    epoch_us(ts) // (CAST(7 AS BIGINT) * 86400 * 1000000) AS wk
             |  FROM events),
             |cohorts AS (
             |  SELECT user_id, min(wk) AS cohort_wk FROM ev
             |  WHERE event_type = 'signup' GROUP BY 1),
             |active AS (SELECT DISTINCT user_id, wk FROM ev)
             |SELECT c.cohort_wk AS cohort_wk,
             |  CAST(a.wk - c.cohort_wk AS BIGINT) AS offset_wk,
             |  CAST(count(*) AS BIGINT) AS n_users
             |FROM active a JOIN cohorts c USING (user_id)
             |WHERE a.wk >= c.cohort_wk
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    "q18_sessionize" -> QueryDef(
      (s, dir) => {
        val ev = Relational.eventsRaw(s, dir)
          .select(col("event_id"), col("user_id"), cents(col("value")).as("value_c"),
            expr("ts div 1000").as("t_us"))
        val wOrd = Window.partitionBy("user_id").orderBy("t_us", "event_id")
        val sess = ev
          .withColumn("prev_t", lag("t_us", 1).over(wOrd))
          .withColumn("new_sess",
            when(col("prev_t").isNull || col("t_us") - col("prev_t") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum("new_sess").over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        sess.groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"), sum("value_c").as("value_c"),
            min("t_us").as("start_us"), max("t_us").as("end_us"))
          .select(col("user_id"), col("session_id"), col("n_events"), col("value_c"),
            ((col("end_us") - col("start_us")) / lit(1000000L)).cast("long").as("dur_s"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, CAST(round(value*100) AS BIGINT) AS value_c,
             |    epoch_us(ts) AS t_us
             |  FROM events),
             |     flagged AS (
             |  SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
             |      OR t_us - lag(t_us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
             |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
             |     sess AS (
             |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM flagged)
             |SELECT user_id, session_id, count(*) AS n_events,
             |  CAST(sum(value_c) AS BIGINT) AS value_c,
             |  CAST((max(t_us) - min(t_us)) // 1000000 AS BIGINT) AS dur_s
             |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- landing-type bounce report ---------------------------------
    // Per LANDING event type (the session's first event under the
    // (t_us, event_id) total order): session count, single-event
    // bounce count, bounce permille, and events-per-session milli —
    // the product-analytics rollup built on q18's gap-sessionization
    // chain (same 30-min rule, same one-window shape; the landing
    // type rides the session min-struct, so no second sort). Exact
    // integer throughout.
    "q74_bounce_report" -> QueryDef(
      (s, dir) => {
        val ev = Relational.eventsRaw(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("ts div 1000").as("t_us"))
        val wOrd = Window.partitionBy("user_id").orderBy("t_us", "event_id")
        val sess = ev
          .withColumn("prev_t", lag("t_us", 1).over(wOrd))
          .withColumn("new_sess",
            when(col("prev_t").isNull || col("t_us") - col("prev_t") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum("new_sess").over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        sess.groupBy("user_id", "session_id")
          .agg(min(struct(col("t_us"), col("event_id"), col("event_type"))).as("first"),
            count(lit(1)).as("n_events"))
          .select(col("first.event_type").as("landing"), col("n_events"))
          .groupBy("landing")
          .agg(count(lit(1)).as("n_sessions"),
            count(when(col("n_events") === 1, 1)).as("n_bounces"),
            sum("n_events").as("total_events"))
          .select(col("landing"), col("n_sessions"), col("n_bounces"),
            expr("n_bounces * 1000 DIV n_sessions").as("bounce_permille"),
            expr("total_events * 1000 DIV n_sessions").as("events_per_session_milli"))
          .orderBy("landing")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
             |  FROM events),
             |flagged AS (
             |  SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
             |      OR t_us - lag(t_us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END
             |    AS new_sess
             |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
             |sess AS (
             |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
             |    ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM flagged),
             |ranked AS (
             |  SELECT user_id, session_id, event_type,
             |    row_number() OVER (PARTITION BY user_id, session_id
             |      ORDER BY t_us, event_id) AS rn,
             |    count(*) OVER (PARTITION BY user_id, session_id) AS n_events
             |  FROM sess),
             |per_sess AS (SELECT event_type AS landing, n_events
             |  FROM ranked WHERE rn = 1)
             |SELECT landing, count(*) AS n_sessions,
             |  CAST(count(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT) AS n_bounces,
             |  CAST(count(CASE WHEN n_events = 1 THEN 1 END) * 1000 // count(*)
             |    AS BIGINT) AS bounce_permille,
             |  CAST(sum(n_events) * 1000 // count(*) AS BIGINT)
             |    AS events_per_session_milli
             |FROM per_sess GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Native session_window twin of q18: Spark's built-in session
    // windows (one hash-agg with window merging — no lag/cumsum window
    // pair, the shape Structured Streaming state uses). Boundary
    // semantics differ from q18 BY DESIGN: the built-in merges events
    // strictly closer than the gap ([t, t+gap) overlap), so an exact
    // 30-min gap STARTS a session here and continues one in q18 — the
    // oracle mirrors `>=`.
    "q46_session_window" -> QueryDef(
      (s, dir) => {
        val ev = Relational.eventsRaw(s, dir)
          .select(col("user_id"), cents(col("value")).as("value_c"),
            expr("ts div 1000").as("t_us"))
          .withColumn("tss", timestamp_micros(col("t_us")))
        ev.groupBy(col("user_id"), session_window(col("tss"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"), sum("value_c").as("value_c"))
          .select(col("user_id"),
            unix_micros(col("w.start")).as("start_us"),
            unix_micros(col("w.end")).as("end_us"),
            col("n_events"), col("value_c"))
          .orderBy("user_id", "start_us")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS value_c,
             |    epoch_us(ts) AS t_us
             |  FROM events),
             |     flagged AS (
             |  SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
             |      OR t_us - lag(t_us) OVER w >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
             |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
             |     sess AS (
             |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY t_us
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM flagged)
             |SELECT user_id, CAST(min(t_us) AS BIGINT) AS start_us,
             |  CAST(max(t_us) + 1800 * 1000000 AS BIGINT) AS end_us,
             |  count(*) AS n_events, CAST(sum(value_c) AS BIGINT) AS value_c
             |FROM sess GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin)),

    // Sliding (hop) event-time windows in BATCH via the native window()
    // generator: 1-hour windows every 30 min, so each event lands in
    // exactly two windows — the batch twin of EventStream's sliding
    // aggregation. The oracle derives both covering window starts
    // arithmetically (starts are epoch-aligned multiples of the slide,
    // matching Spark's alignment).
    "q49_hop_window" -> QueryDef(
      (s, dir) => {
        val ev = Relational.eventsRaw(s, dir)
          .select(col("event_type"), cents(col("value")).as("v"),
            timestamp_micros(expr("ts div 1000")).as("tss"))
        ev.groupBy(window(col("tss"), "1 hour", "30 minutes").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("v").as("value_c"))
          .select(unix_micros(col("w.start")).as("wstart_us"),
            col("event_type"), col("n"), col("value_c"))
          .orderBy("wstart_us", "event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS v,
             |    epoch_us(ts) AS t_us
             |  FROM events),
             |hop AS (
             |  SELECT ((t_us // 1800000000) - j) * 1800000000 AS wstart_us,
             |    event_type, v
             |  FROM ev CROSS JOIN UNNEST([0, 1]) AS t(j))
             |SELECT CAST(wstart_us AS BIGINT) AS wstart_us, event_type,
             |  count(*) AS n, CAST(sum(v) AS BIGINT) AS value_c
             |FROM hop GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Time-series resample + forward fill: daily per-user totals on a
    // dense day grid over each user's span, gaps carrying the last
    // observation forward — the feature-engineering gap-filler. Shape:
    // one (user, day) agg, a narrow sequence-explode for the grid, one
    // left join, and a per-user running window (partition size bounded
    // by the span, never the corpus) — no as-of machinery needed when
    // the grid is dense.
    "q47_resample_ffill" -> QueryDef(
      (s, dir) => {
        val ev = Relational.eventsRaw(s, dir)
          .select(col("user_id"), expr("ts div 86400000000000").as("day"),
            cents(col("value")).as("v"))
        val daily = ev.groupBy("user_id", "day").agg(sum("v").as("day_v"))
        val grid = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
        val wFill = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        grid.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            last("day_v", ignoreNulls = true).over(wFill).as("value_c"),
            when(col("day_v").isNotNull, 1L).otherwise(0L).as("observed"))
          .orderBy("user_id", "day")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(round(value*100) AS BIGINT) AS v
             |  FROM events),
             |daily AS (SELECT user_id, day, sum(v) AS day_v FROM ev GROUP BY 1, 2),
             |grid AS (SELECT user_id, unnest(range(min(day), max(day) + 1)) AS day
             |         FROM daily GROUP BY user_id),
             |j AS (SELECT g.user_id, g.day, d.day_v
             |      FROM grid g LEFT JOIN daily d USING (user_id, day))
             |SELECT user_id, CAST(day AS BIGINT) AS day,
             |  CAST(last_value(day_v IGNORE NULLS) OVER (PARTITION BY user_id
             |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS value_c,
             |  CAST(CASE WHEN day_v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed
             |FROM j ORDER BY 1, 2""".stripMargin)),

    // Last-touch attribution: every purchase is credited to the user's
    // most recent PRECEDING non-purchase event type (the marketing
    // channel); purchases with no prior touch are 'direct'. Shape: one
    // exchange + one per-user sort (the same per-user window q18/q52
    // already carry), then a dimension-sized channel aggregate — no
    // self-joins, no per-user collect. The frame excludes the current
    // row, so a purchase can never attribute to itself.
    "q60_attribution" -> QueryDef(
      (s, dir) => {
        val ev = Relational.eventsRaw(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            cents(col("value")).as("value_c"), expr("ts div 1000").as("t_us"))
        val wPrev = Window.partitionBy("user_id").orderBy("t_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        ev.withColumn("touch",
            last(when(col("event_type") =!= "purchase", col("event_type")),
              ignoreNulls = true).over(wPrev))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
          .agg(count(lit(1)).as("n_purchases"), sum("value_c").as("value_c"))
          .orderBy("channel")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, event_type,
             |    CAST(round(value*100) AS BIGINT) AS value_c, epoch_us(ts) AS t_us
             |  FROM events),
             |touched AS (
             |  SELECT *, last_value(CASE WHEN event_type <> 'purchase'
             |      THEN event_type END IGNORE NULLS) OVER (
             |    PARTITION BY user_id ORDER BY t_us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
             |  FROM ev)
             |SELECT coalesce(touch, 'direct') AS channel,
             |  count(*) AS n_purchases, CAST(sum(value_c) AS BIGINT) AS value_c
             |FROM touched WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Multi-touch (linear) attribution — q60's share-the-credit
    // sibling: each purchase's value splits across ALL its preceding
    // touches in proportion to per-channel touch counts. The scale
    // design: the naive plan pairs every purchase with every preceding
    // touch (a per-user self-join whose output is O(purchases×touches)
    // per user); because credit aggregates BY CHANNEL, per-channel
    // preceding counts from one window pass carry the same information
    // — four count-windows over ONE per-user sort, zero joins. Credit
    // = value·cnt_ch DIV n_tot in exact integer (truncation toward the
    // purchase row's unallocated remainder, documented); purchases
    // with no prior touch credit 'direct' in full.
    "q64_multitouch_attribution" -> QueryDef(
      (s, dir) => {
        val channels = Seq("view", "click", "signup", "error")
        val ev = Relational.eventsRaw(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            cents(col("value")).as("value_c"), expr("ts div 1000").as("t_us"))
        val wPrev = Window.partitionBy("user_id").orderBy("t_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val counted = channels.foldLeft(ev) { (df, ch) =>
          df.withColumn(s"cnt_$ch",
            count(when(col("event_type") === ch, 1)).over(wPrev))
        }.withColumn("n_tot", channels.map(ch => col(s"cnt_$ch"))
          .reduce(_ + _))
        val p = counted.filter(col("event_type") === "purchase")
        val aggs = channels.flatMap { ch =>
          Seq(sum(when(col("n_tot") > 0,
                expr(s"value_c * cnt_$ch DIV n_tot")).otherwise(0L))
              .as(s"credit_$ch"),
            count(when(col(s"cnt_$ch") > 0, 1)).as(s"np_$ch"))
        } ++ Seq(
          sum(when(col("n_tot") === 0, col("value_c")).otherwise(0L))
            .as("credit_direct"),
          count(when(col("n_tot") === 0, 1)).as("np_direct"))
        val wide = p.agg(aggs.head, aggs.tail: _*)
        val stackArgs = (channels :+ "direct")
          .map(ch => s"'$ch', np_$ch, credit_$ch").mkString(", ")
        wide.select(expr(
            s"stack(${channels.size + 1}, $stackArgs) AS (channel, n_purchases, credit_c)"))
          .select(col("channel"), col("n_purchases").cast("long"),
            col("credit_c").cast("long"))
          .orderBy("channel")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, event_type,
             |    CAST(round(value*100) AS BIGINT) AS value_c, epoch_us(ts) AS t_us
             |  FROM events),
             |counted AS (
             |  SELECT *,
             |    count(CASE WHEN event_type = 'view' THEN 1 END) OVER w AS cnt_view,
             |    count(CASE WHEN event_type = 'click' THEN 1 END) OVER w AS cnt_click,
             |    count(CASE WHEN event_type = 'signup' THEN 1 END) OVER w AS cnt_signup,
             |    count(CASE WHEN event_type = 'error' THEN 1 END) OVER w AS cnt_error
             |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |p AS (
             |  SELECT *, cnt_view + cnt_click + cnt_signup + cnt_error AS n_tot
             |  FROM counted WHERE event_type = 'purchase'),
             |wide AS (
             |  SELECT
             |    sum(CASE WHEN n_tot > 0 THEN value_c * cnt_view // n_tot ELSE 0 END) AS credit_view,
             |    count(CASE WHEN cnt_view > 0 THEN 1 END) AS np_view,
             |    sum(CASE WHEN n_tot > 0 THEN value_c * cnt_click // n_tot ELSE 0 END) AS credit_click,
             |    count(CASE WHEN cnt_click > 0 THEN 1 END) AS np_click,
             |    sum(CASE WHEN n_tot > 0 THEN value_c * cnt_signup // n_tot ELSE 0 END) AS credit_signup,
             |    count(CASE WHEN cnt_signup > 0 THEN 1 END) AS np_signup,
             |    sum(CASE WHEN n_tot > 0 THEN value_c * cnt_error // n_tot ELSE 0 END) AS credit_error,
             |    count(CASE WHEN cnt_error > 0 THEN 1 END) AS np_error,
             |    sum(CASE WHEN n_tot = 0 THEN value_c ELSE 0 END) AS credit_direct,
             |    count(CASE WHEN n_tot = 0 THEN 1 END) AS np_direct
             |  FROM p)
             |SELECT u.channel, CAST(u.n_purchases AS BIGINT) AS n_purchases,
             |  CAST(u.credit_c AS BIGINT) AS credit_c
             |FROM wide, LATERAL (VALUES
             |  ('view', np_view, credit_view),
             |  ('click', np_click, credit_click),
             |  ('signup', np_signup, credit_signup),
             |  ('error', np_error, credit_error),
             |  ('direct', np_direct, credit_direct))
             |  AS u(channel, n_purchases, credit_c)
             |ORDER BY u.channel""".stripMargin)),

    // Hourly rate-anomaly detection in EXACT integer arithmetic: an
    // (event_type, hour) is a spike when its count exceeds 150% of the
    // trailing-24h average, i.e. n * trail_n * 100 > trail_sum * 150
    // (cross-multiplied — no float division, so the flag is
    // engine-portable). The only full-data op is the map-side-combining
    // (type, hour) count; the trailing RANGE window then runs over the
    // dimension-sized hourly histogram (8,760 rows/type/year — t19's
    // histogram-first discipline), never over raw events. A value-RANGE
    // frame (not ROWS) keeps the trailing average honest across silent
    // hours with no row. trail_n >= 6 suppresses cold-start flags.
    "q61_rate_anomaly" -> QueryDef(
      (s, dir) => {
        val hourly = Relational.eventsRaw(s, dir)
          .select(col("event_type"), expr("ts div 3600000000000").as("hr"))
          .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
        val wTrail = Window.partitionBy("event_type").orderBy("hr")
          .rangeBetween(-24, -1)
        hourly
          .withColumn("trail_n", count(lit(1)).over(wTrail))
          .withColumn("trail_sum", sum("n").over(wTrail))
          .filter(col("trail_n") >= 6 &&
            col("n") * col("trail_n") * 100L > col("trail_sum") * 150L)
          .select(col("event_type"), col("hr"), col("n"),
            col("trail_n"), col("trail_sum"))
          .orderBy("event_type", "hr")
      },
      Some("""WITH hourly AS (
             |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |trailed AS (
             |  SELECT *, count(*) OVER w AS trail_n, sum(n) OVER w AS trail_sum
             |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hr
             |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
             |SELECT event_type, CAST(hr AS BIGINT) AS hr, n,
             |  trail_n, CAST(trail_sum AS BIGINT) AS trail_sum
             |FROM trailed
             |WHERE trail_n >= 6 AND n * trail_n * 100 > trail_sum * 150
             |ORDER BY 1, 2""".stripMargin)),

    // ---- sequence pattern with NEGATION (A then B with no C between) -
    // The MATCH_RECOGNIZE shape q52's funnel cannot express: a
    // conversion counts only when a view precedes the purchase with NO
    // error in between. No self-join and no per-row pattern automaton:
    // negation becomes COUNTER EQUALITY — errBefore(e) = running count
    // of errors strictly before e in the user's timeline, and the span
    // (view, purchase) is error-free iff both endpoints see the same
    // counter. One per-user sort serves both windows (the q18/q52/q60
    // exchange); per-user state is two running values, so a hot user
    // streams through one partition's sort rather than exploding a
    // join. Output is per-user, dimension-sized.
    "q81_absence_pattern" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Relational.eventsRaw(s, dir)
          .select(col("user_id"), expr("ts div 1000").as("tsu"),
            col("event_id"), col("event_type"))
          .withColumn("err_before", coalesce(
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).over(w),
            lit(0L)))
          .withColumn("last_view_err", last(
            when(col("event_type") === "view", col("err_before")),
            ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("last_view_err").isNotNull.cast("long")).as("n_with_view"),
            sum((col("last_view_err") === col("err_before")).cast("long"))
              .as("n_clean"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type
             |  FROM events),
             |m1 AS (
             |  SELECT *,
             |    coalesce(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      OVER w, 0) AS err_before
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |m2 AS (
             |  SELECT *,
             |    last_value(CASE WHEN event_type = 'view' THEN err_before END
             |      IGNORE NULLS) OVER w AS last_view_err
             |  FROM m1
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
             |SELECT user_id, count(*) AS n_purchases,
             |  CAST(sum(CASE WHEN last_view_err IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_with_view,
             |  CAST(sum(CASE WHEN last_view_err = err_before THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_clean
             |FROM m2 WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- debounce / rapid-fire suppression --------------------------
    // The ingest hygiene rule telemetry pipelines apply before
    // sessionization: drop an event arriving within 5 s of the
    // previous SAME (user, type) event (double-clicks, retry storms).
    // ONE per-(user, type) lag window — same exchange q18's session
    // chain uses — and exact nanos integer arithmetic; the per-type
    // summary carries an id checksum so the oracle verifies WHICH
    // events survived, not just how many.
    "q96_debounce" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy("ts", "event_id")
        Relational.eventsRaw(s, dir)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("prev", lag("ts", 1).over(w))
          .withColumn("keep",
            col("prev").isNull || col("ts") - col("prev") > lit(5000000000L))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), col("event_id")).otherwise(0L))
              .as("kept_id_sum"))
          .orderBy("event_type")
      },
      Some("""WITH d AS (
             |  SELECT user_id, event_type, event_id,
             |    epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
             |      PARTITION BY user_id, event_type ORDER BY ts, event_id)
             |      AS gap
             |  FROM events)
             |SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CASE WHEN gap IS NULL OR gap > 5000000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(sum(CASE WHEN gap IS NULL OR gap > 5000000000
             |    THEN event_id ELSE 0 END) AS BIGINT) AS kept_id_sum
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- rolling distinct users via MERGEABLE sketches --------------
    // q70's exact rolling WAU explodes every (day, user) membership
    // into each window — exact, but the shuffle carries |window| copies
    // of the membership table. This is the 100 TB alternative: ONE
    // bottom-k KMV sketch per day (KMinListAgg — built once, k longs),
    // then each 7-day window MERGES the daily sketches (flatten →
    // distinct → sort → take k: min-k of a union of min-k lists IS the
    // union's min-k, so the merge is lossless by construction) and
    // estimates with q33's exact integer formula. Shuffle volume per
    // window: 7·k longs instead of the membership fan-out. The oracle
    // recomputes each window's bottom-k straight from the raw span —
    // merge(build(d₁),…,build(d₇)) == build(d₁∪…∪d₇), checked
    // bit-for-bit.
    "q97_rolling_distinct_sketch" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val k = 64
        // native kmin_sketch (q33's aggregate) — same sorted-distinct
        // <= k buffer the typed KMinListAgg fold produces
        val perDay = Relational.eventsRaw(s, dir)
          .select(expr("ts div 86400000000000").as("day"),
            graft.functions.KMinAgg.scramble(
              PolyHash.col(col("user_id").cast("string"))).as("hv"))
          .groupBy("day")
          .agg(KMinSketch.col(col("hv"), k).as("mins"))
        val realDays = perDay.select(col("day").as("tday"))
        perDay
          .withColumn("tday", explode(sequence(col("day"), col("day") + 6)))
          .join(realDays.distinct(), "tday")
          .groupBy("tday")
          .agg(count(lit(1)).as("n_days_merged"),
            flatten(collect_list(col("mins"))).as("all"))
          .withColumn("m", expr(s"slice(array_sort(array_distinct(all)), 1, $k)"))
          .select(col("tday").as("day"), col("n_days_merged"),
            when(size(col("m")) < k, size(col("m")).cast("long"))
              .otherwise(expr(s"CAST(${k - 1} AS BIGINT) * 1000000007 DIV element_at(m, $k)"))
              .as("est_distinct"))
          .orderBy("day")
      },
      Some(s"""WITH ${QueryDef.scrambledHashCtes(
               "(SELECT epoch_ns(ts) // 86400000000000 AS day, user_id FROM events)",
               Seq("day"), "CAST(user_id AS VARCHAR)", dedupFinal = true)},
             |days AS (SELECT DISTINCT day FROM h),
             |win AS (
             |  SELECT DISTINCT d.day AS tday, h.hv, h.day AS srcday
             |  FROM days d JOIN h ON h.day BETWEEN d.day - 6 AND d.day),
             |r AS (
             |  SELECT tday, hv,
             |    row_number() OVER (PARTITION BY tday ORDER BY hv) AS rn,
             |    count(*) OVER (PARTITION BY tday) AS nd
             |  FROM (SELECT DISTINCT tday, hv FROM win)),
             |nm AS (
             |  SELECT tday, count(DISTINCT srcday) AS n_days_merged FROM win
             |  GROUP BY 1)
             |SELECT r.tday AS day, nm.n_days_merged,
             |  CAST(CASE WHEN max(nd) < 64 THEN max(nd)
             |    ELSE (CAST(63 AS BIGINT) * 1000000007)
             |      // max(CASE WHEN rn = 64 THEN hv END) END AS BIGINT)
             |    AS est_distinct
             |FROM r JOIN nm ON nm.tday = r.tday
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // ---- rolling EXACT quantiles via mergeable histograms -----------
    // q97's sibling for quantiles: value histograms are mergeable
    // state (histogram addition is exact — unlike quantiles
    // themselves), so each day aggregates ONCE into a (day, value_c)
    // count table and every 7-day window sums the daily histograms it
    // covers; p50/p90 come from t19's cumulative nearest-rank rule
    // over the merged histogram. Shuffle per window: the value-domain-
    // bounded histogram, never the raw rows — the windowed-percentile
    // latency dashboard at 100 TB.
    "q102_rolling_quantile" -> QueryDef(
      (s, dir) => {
        val daily = Relational.eventsRaw(s, dir)
          .select(expr("ts div 86400000000000").as("day"),
            cents(col("value")).as("v"))
          .groupBy("day", "v").agg(count(lit(1)).as("c"))
        val realDays = daily.select(col("day").as("tday")).distinct()
        val merged = daily
          .withColumn("tday", explode(sequence(col("day"), col("day") + 6)))
          .join(realDays, "tday")
          .groupBy("tday", "v").agg(sum("c").as("c"))
        val wOrd = Window.partitionBy("tday").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy("tday")
        merged
          .withColumn("cum", sum("c").over(wOrd))
          .withColumn("total", sum("c").over(wAll))
          .groupBy(col("tday").as("day"))
          .agg(sum("c").as("n_values"),
            min(when(col("cum") * 2 >= col("total"), col("v"))).as("p50_c"),
            min(when(col("cum") * 10 >= col("total") * 9, col("v"))).as("p90_c"),
            max("v").as("max_c"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(round(value * 100) AS BIGINT) AS v, count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |days AS (SELECT DISTINCT day AS tday FROM daily),
             |merged AS (
             |  SELECT d.tday, daily.v, sum(daily.c) AS c
             |  FROM days d JOIN daily ON daily.day BETWEEN d.tday - 6 AND d.tday
             |  GROUP BY 1, 2),
             |cum AS (
             |  SELECT tday, v, c,
             |    sum(c) OVER (PARTITION BY tday ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(c) OVER (PARTITION BY tday) AS total
             |  FROM merged)
             |SELECT tday AS day, CAST(sum(c) AS BIGINT) AS n_values,
             |  CAST(min(CASE WHEN cum * 2 >= total THEN v END) AS BIGINT)
             |    AS p50_c,
             |  CAST(min(CASE WHEN cum * 10 >= total * 9 THEN v END) AS BIGINT)
             |    AS p90_c,
             |  CAST(max(v) AS BIGINT) AS max_c
             |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- temporal-split next-event prediction eval ------------------
    // q68's model-eval half, done the leakage-free way: transition
    // counts TRAIN on the first half of the time axis, the argmax
    // next-event predictor is scored on the second half — the temporal
    // split every production sequence model needs (a random split
    // would leak future behavior into training; t22's group-split
    // argument on the time axis). All exact integers: the cutoff is a
    // scalar-subquery midpoint, the predictor is a rank-1 row per
    // prev-type, accuracy is integer permille.
    "q103_markov_eval" -> QueryDef(
      (s, dir) => {
        // note (r14): CTE inlining looks like it re-executes `pairs`
        // per consumer, but the three consumers share one window
        // exchange (ReusedExchange) — a materialize-once rewrite was
        // measured SLOWER (persist write > the post-exchange replays)
        Relational.eventsRaw(s, dir).createOrReplaceTempView("graft_q103_ev")
        s.sql("""WITH seq AS (
                |  SELECT user_id, ts DIV 86400000000000 AS day, event_id,
                |    event_type,
                |    lag(event_type) OVER (PARTITION BY user_id
                |      ORDER BY ts, event_id) AS prev_type
                |  FROM graft_q103_ev),
                |pairs AS (
                |  SELECT day, prev_type, event_type AS next_type
                |  FROM seq WHERE prev_type IS NOT NULL),
                |cut AS (SELECT (min(day) + max(day)) DIV 2 AS d FROM pairs),
                |train AS (
                |  SELECT prev_type, next_type, count(*) AS n FROM pairs
                |  WHERE day < (SELECT d FROM cut) GROUP BY 1, 2),
                |model AS (
                |  SELECT prev_type, next_type AS pred FROM (
                |    SELECT prev_type, next_type, row_number() OVER
                |      (PARTITION BY prev_type ORDER BY n DESC, next_type) AS rn
                |    FROM train) WHERE rn = 1),
                |ev2 AS (
                |  SELECT prev_type, next_type FROM pairs
                |  WHERE day >= (SELECT d FROM cut))
                |SELECT e.prev_type, count(*) AS n_eval,
                |  CAST(sum(CASE WHEN m.pred = e.next_type THEN 1 ELSE 0 END)
                |    AS BIGINT) AS n_correct,
                |  1000 * CAST(sum(CASE WHEN m.pred = e.next_type THEN 1
                |    ELSE 0 END) AS BIGINT) DIV count(*) AS acc_permille
                |FROM ev2 e LEFT JOIN model m ON e.prev_type = m.prev_type
                |GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""WITH seq AS (
             |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             |    event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |pairs AS (
             |  SELECT day, prev_type, event_type AS next_type
             |  FROM seq WHERE prev_type IS NOT NULL),
             |cut AS (SELECT (min(day) + max(day)) // 2 AS d FROM pairs),
             |train AS (
             |  SELECT prev_type, next_type, count(*) AS n FROM pairs
             |  WHERE day < (SELECT d FROM cut) GROUP BY 1, 2),
             |model AS (
             |  SELECT prev_type, next_type AS pred FROM (
             |    SELECT prev_type, next_type, row_number() OVER
             |      (PARTITION BY prev_type ORDER BY n DESC, next_type) AS rn
             |    FROM train) WHERE rn = 1),
             |ev2 AS (
             |  SELECT prev_type, next_type FROM pairs
             |  WHERE day >= (SELECT d FROM cut))
             |SELECT e.prev_type, count(*) AS n_eval,
             |  CAST(sum(CASE WHEN m.pred = e.next_type THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_correct,
             |  (1000 * CAST(sum(CASE WHEN m.pred = e.next_type THEN 1
             |    ELSE 0 END) AS BIGINT)) // count(*) AS acc_permille
             |FROM ev2 e LEFT JOIN model m ON e.prev_type = m.prev_type
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- single-source shortest path (Bellman-Ford class) ----------
    // Cheapest journey from 'signup' to every event type on the
    // transition graph, cost = 1e9 DIV transition-count (rare hop =
    // costly hop). The q57 discipline: the DISTRIBUTED stage is the
    // full-scan contraction to a ≤|types|² edge table
    // (Staged.eventEdges, persisted); the recursion then enumerates
    // simple paths over that contracted graph — revisit-pruned via the
    // path array, so walk count is bounded by the type vocabulary, not
    // the corpus — and the outer min folds them per destination
    // (aggregates are ILLEGAL over recursive references in both
    // engines, so min-per-round relaxation cannot live inside the
    // loop). Exact integers end to end; the oracle replays contraction,
    // walk, and fold identically.
    "q104_shortest_path" -> QueryDef(
      (s, dir) => {
        Staged.eventEdges(s, dir).createOrReplaceTempView("graft_q104_edges")
        s.sql("""WITH RECURSIVE nodes AS (
                |  SELECT DISTINCT node FROM (
                |    SELECT src AS node FROM graft_q104_edges
                |    UNION ALL SELECT dst AS node FROM graft_q104_edges) u),
                |walk(node, total, path) AS (
                |  SELECT 'signup', CAST(0 AS BIGINT), array('signup')
                |  UNION ALL
                |  SELECT e.dst, w.total + e.cost, array_append(w.path, e.dst)
                |  FROM walk w JOIN graft_q104_edges e ON w.node = e.src
                |  WHERE NOT array_contains(w.path, e.dst))
                |SELECT n.node, min(w.total) AS min_cost,
                |  count(w.node) AS n_paths,
                |  (min(w.total) IS NOT NULL) AS reached
                |FROM nodes n LEFT JOIN walk w ON n.node = w.node
                |GROUP BY n.node ORDER BY n.node""".stripMargin)
      },
      Some("""WITH RECURSIVE seq AS (
             |  SELECT event_type, lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |edges AS (
             |  SELECT prev_type AS src, event_type AS dst,
             |    1000000000 // count(*) AS cost
             |  FROM seq WHERE prev_type IS NOT NULL AND prev_type <> event_type
             |  GROUP BY 1, 2),
             |nodes AS (
             |  SELECT DISTINCT node FROM (
             |    SELECT src AS node FROM edges
             |    UNION ALL SELECT dst AS node FROM edges) u),
             |walk(node, total, path) AS (
             |  SELECT 'signup', CAST(0 AS BIGINT), ['signup']
             |  UNION ALL
             |  SELECT e.dst, w.total + e.cost, list_append(w.path, e.dst)
             |  FROM walk w JOIN edges e ON w.node = e.src
             |  WHERE NOT list_contains(w.path, e.dst))
             |SELECT n.node, CAST(min(w.total) AS BIGINT) AS min_cost,
             |  CAST(count(w.node) AS BIGINT) AS n_paths,
             |  (min(w.total) IS NOT NULL) AS reached
             |FROM nodes n LEFT JOIN walk w ON n.node = w.node
             |GROUP BY n.node ORDER BY n.node""".stripMargin)),

    // ---- time-decay multi-touch attribution -------------------------
    // q64's third sibling: credit decays with the touch→purchase gap,
    // weight = 1000 >> (Δt DIV 30min) — integer shifts, EXACT on both
    // engines, halving per half-life like the exponential model ad
    // systems bill on. Unlike q64's prefix counts the weight depends
    // on BOTH rows, so the shape is the bounded touchpoint range-join:
    // purchases ⋈ preceding touches within 10 half-lives (beyond that
    // the shifted weight is exactly 0, so the lookback cap drops only
    // zero-credit rows — the cap IS the semantics, and it is what
    // bounds the per-user fanout at any scale). Purchases with no
    // in-window touch credit 'direct'.
    "q112_decay_attribution" -> QueryDef(
      (s, dir) => {
        val H = 1800L * 1000000L // 30-minute half-life, µs
        val channels = Seq("click", "error", "signup", "view")
        val ev = Relational.eventsRaw(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            cents(col("value")).as("value_c"), expr("ts div 1000").as("t_us"))
        val touches = ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id").as("t_uid"),
            col("event_type").as("channel"), col("t_us").as("tt"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("pid"),
            col("value_c"), col("t_us").as("pt"))
        val j = purchases.join(touches,
          col("user_id") === col("t_uid") && col("tt") < col("pt") &&
            col("pt") - col("tt") < lit(10L * H))
          .withColumn("w",
            expr(s"shiftright(1000, CAST((pt - tt) DIV ${H}L AS INT))"))
        val chSums = channels.map(ch =>
          sum(when(col("channel") === ch, col("w")).otherwise(0)).cast("long")
            .as(s"w_$ch"))
        val perP = j.groupBy("pid")
          .agg(sum("w").cast("long").as("wtot"), chSums: _*)
        val wide = purchases.join(perP, Seq("pid"), "left")
        val aggs = channels.flatMap { ch =>
          Seq(count(when(col(s"w_$ch") > 0, 1)).as(s"np_$ch"),
            sum(when(col("wtot").isNotNull,
              expr(s"value_c * w_$ch DIV wtot")).otherwise(0L))
              .as(s"credit_$ch"))
        } ++ Seq(
          count(when(col("wtot").isNull, 1)).as("np_direct"),
          sum(when(col("wtot").isNull, col("value_c")).otherwise(0L))
            .as("credit_direct"))
        val wideAgg = wide.agg(aggs.head, aggs.tail: _*)
        val stackArgs = (channels :+ "direct")
          .map(ch => s"'$ch', np_$ch, credit_$ch").mkString(", ")
        wideAgg.select(expr(
            s"stack(${channels.size + 1}, $stackArgs) AS (channel, n_purchases, credit_c)"))
          .orderBy("channel")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type,
             |    CAST(round(value * 100) AS BIGINT) AS value_c,
             |    epoch_us(ts) AS t_us FROM events),
             |t AS (SELECT user_id AS t_uid, event_type AS channel, t_us AS tt
             |  FROM ev WHERE event_type <> 'purchase'),
             |p AS (SELECT user_id, event_id AS pid, value_c, t_us AS pt
             |  FROM ev WHERE event_type = 'purchase'),
             |j AS (SELECT p.pid, t.channel,
             |    (1000 >> CAST((p.pt - t.tt) // 1800000000 AS INTEGER)) AS w
             |  FROM p JOIN t ON p.user_id = t.t_uid AND t.tt < p.pt
             |    AND p.pt - t.tt < 18000000000),
             |per AS (SELECT pid, CAST(sum(w) AS BIGINT) AS wtot,
             |    CAST(sum(CASE WHEN channel = 'click' THEN w ELSE 0 END) AS BIGINT) AS w_click,
             |    CAST(sum(CASE WHEN channel = 'error' THEN w ELSE 0 END) AS BIGINT) AS w_error,
             |    CAST(sum(CASE WHEN channel = 'signup' THEN w ELSE 0 END) AS BIGINT) AS w_signup,
             |    CAST(sum(CASE WHEN channel = 'view' THEN w ELSE 0 END) AS BIGINT) AS w_view
             |  FROM j GROUP BY 1),
             |wide AS (SELECT p.pid, p.value_c, per.wtot,
             |    per.w_click, per.w_error, per.w_signup, per.w_view
             |  FROM p LEFT JOIN per USING (pid))
             |SELECT channel, n_purchases, credit_c FROM (
             |  SELECT 'click' AS channel,
             |    count(CASE WHEN w_click > 0 THEN 1 END) AS n_purchases,
             |    CAST(sum(CASE WHEN wtot IS NOT NULL
             |      THEN value_c * w_click // wtot ELSE 0 END) AS BIGINT) AS credit_c
             |  FROM wide
             |  UNION ALL SELECT 'error',
             |    count(CASE WHEN w_error > 0 THEN 1 END),
             |    CAST(sum(CASE WHEN wtot IS NOT NULL
             |      THEN value_c * w_error // wtot ELSE 0 END) AS BIGINT) FROM wide
             |  UNION ALL SELECT 'signup',
             |    count(CASE WHEN w_signup > 0 THEN 1 END),
             |    CAST(sum(CASE WHEN wtot IS NOT NULL
             |      THEN value_c * w_signup // wtot ELSE 0 END) AS BIGINT) FROM wide
             |  UNION ALL SELECT 'view',
             |    count(CASE WHEN w_view > 0 THEN 1 END),
             |    CAST(sum(CASE WHEN wtot IS NOT NULL
             |      THEN value_c * w_view // wtot ELSE 0 END) AS BIGINT) FROM wide
             |  UNION ALL SELECT 'direct',
             |    count(CASE WHEN wtot IS NULL THEN 1 END),
             |    CAST(sum(CASE WHEN wtot IS NULL THEN value_c ELSE 0 END)
             |      AS BIGINT) FROM wide) u
             |ORDER BY channel""".stripMargin)),

    // ---- sequential pattern mining: top within-session trigrams -----
    // The 10 most frequent 3-event journeys, counted WITHIN q18's
    // 30-minute gap sessions (a trigram never spans a session break —
    // the difference from q68's global bigram transitions). Shape: one
    // per-user exchange serves both the gap-flag window and (after the
    // session-id prefix sum) the two leads; the trigram groupBy then
    // contracts to ≤|types|³ rows before the top-10 cut under a total
    // order. Scale: the only data-sized shuffle is the per-user
    // window's — counting and ranking ride on the contracted table.
    "q106_top_paths" -> QueryDef(
      (s, dir) => {
        val ev = Relational.eventsRaw(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("ts div 1000").as("t_us"))
        val wOrd = Window.partitionBy("user_id").orderBy("t_us", "event_id")
        val sess = ev
          .withColumn("prev_t", lag("t_us", 1).over(wOrd))
          .withColumn("new_sess",
            when(col("prev_t").isNull ||
              col("t_us") - col("prev_t") > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("session_id", sum("new_sess").over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        val wSess = Window.partitionBy("user_id", "session_id")
          .orderBy("t_us", "event_id")
        sess
          .withColumn("e2", lead("event_type", 1).over(wSess))
          .withColumn("e3", lead("event_type", 2).over(wSess))
          .filter(col("e2").isNotNull && col("e3").isNotNull)
          .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
          .limit(10)
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
             |  FROM events),
             |flagged AS (
             |  SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
             |      OR t_us - lag(t_us) OVER w > 1800 * 1000000
             |    THEN 1 ELSE 0 END AS new_sess
             |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
             |sess AS (
             |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
             |    ORDER BY t_us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM flagged),
             |trig AS (
             |  SELECT event_type AS e1,
             |    lead(event_type, 1) OVER w2 AS e2,
             |    lead(event_type, 2) OVER w2 AS e3
             |  FROM sess WINDOW w2 AS (PARTITION BY user_id, session_id
             |    ORDER BY t_us, event_id))
             |SELECT e1, e2, e3, count(*) AS n
             |FROM trig WHERE e2 IS NOT NULL AND e3 IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY n DESC, e1, e2, e3 LIMIT 10""".stripMargin))
  )
}
