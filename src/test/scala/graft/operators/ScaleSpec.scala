package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.core.{DcaFrame, SparkTestBase}

/** Scale-mechanics tests: salted skew join equivalence, bucketed
  * (shuffle-free) joins, parquet round trip of DcaFrame identity.
  */
class SkewJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("salted join returns exactly the plain join result under skew") {
    // hot key 1 dominates the left side
    val left = ((1 to 500).map(i => (1L, i)) ++ Seq((2L, 0), (3L, 0)))
      .toDF("k", "payload")
    val right = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("k", "v")
    val plain = left.join(right, "k").select("k", "payload", "v")
      .as[(Long, Int, String)].collect().sorted.toSeq
    val salted = SkewJoin.salted(left, right, "k", salts = 8)
      .select("k", "payload", "v").as[(Long, Int, String)].collect().sorted.toSeq
    assert(salted == plain && plain.size == 501)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // the automatic complement of the manual salted join: on a hot-key
    // shuffle, AQE's OptimizeSkewedJoin must split the oversized
    // partition into parallel subtasks (visible as a `skewed` AQE
    // shuffle read in the FINAL adaptive plan — only known after
    // execution). Thresholds are lowered so a local fixture trips the
    // same machinery a 100-TB hot key would.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(0, 300000)
        .select(when(col("id") < 280000, lit(1L)).otherwise(col("id")).as("k"),
          concat(lit("payload-"), col("id")).as("p"))
      val right = spark.range(0, 2000).select(col("id").as("k"),
        lit("dim").as("v"))
      val joined = left.join(right, "k")
      // execute THIS QueryExecution (count() would plan a fresh one and
      // the adaptive plan would never finalize); hot rows (k=1) all
      // match, tail keys exceed the dim's range, so matches = hot only
      assert(joined.collect().length == 280000)
      val finalPlan = joined.queryExecution.executedPlan.toString()
      assert(finalPlan.contains("skewed"),
        s"AQE did not mark/split the skewed partition:\n${finalPlan.take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter injects into a selective shuffle join and preserves results") {
    // the 100 TB shuffle-join complement of DPP: when the dim side is
    // selective, Spark builds a bloom filter over its join keys at
    // runtime and applies might_contain on the fact side BEFORE the
    // exchange — fact rows with no partner die scan-side instead of
    // shuffling. Default thresholds (10 GB application-side scan) are
    // production-sized, so a local fixture needs them lowered; the
    // assertion is the same machinery a real cluster fires.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val dir = "/root/testdata/sf0.001"
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val rows = j.collect()
      val plan = j.queryExecution.executedPlan.toString()
      assert(plan.contains("bloom_filter_agg") && plan.contains("might_contain"),
        s"no runtime bloom filter in plan:\n${plan.take(1500)}")
      // correctness unchanged: same count as the un-filtered-join plan
      val expected = spark.read.parquet(s"$dir/lineitem.parquet")
        .join(spark.read.parquet(s"$dir/orders.parquet")
          .filter(col("o_orderpriority") === "1-URGENT"), expr("l_orderkey = o_orderkey"))
        .count()
      assert(rows.length == 1 && rows.head.getLong(1) == expected)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** Plan-shape regression guards for the sketch/sampling queries: the
  * properties that make them 100 TB-viable must stay visible in the
  * physical plan, not just hold by accident.
  */
class PlanShapeSpec extends SparkTestBase {
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project,
    Window => LWindow}
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.sql.execution.columnar.InMemoryRelation

  private val sf = "/root/testdata/sf0.001"

  /** The no-partitionBy windows in `plan` whose input is neither an
    * Aggregate contraction nor a cached one. A persist/localCheckpoint
    * on the contracted input substitutes an InMemoryRelation/LogicalRDD
    * leaf for the Aggregate the detector would otherwise see (r14:
    * q116's persisted histogram), so such a leaf counts — but only as
    * the window's OWN input, reached through Project and Filter alone.
    * A cached leaf further down (one side of a join, say; every staged
    * DcaFrame window is a LogicalRDD leaf) bounds nothing.
    */
  private def windowsOverScan(plan: LogicalPlan): Seq[LWindow] = {
    def cachedInput(p: LogicalPlan): Boolean = p match {
      case _: InMemoryRelation | _: LogicalRDD => true
      case Project(_, child)                   => cachedInput(child)
      case Filter(_, child)                    => cachedInput(child)
      case _                                   => false
    }
    plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst { case a: Aggregate => a }.isEmpty && !cachedInput(w.child) => w
    }
  }

  test("q38 stratified sample: the hash-threshold filter runs scan-side") {
    // static plan is the right surface here: DataFilters placement is
    // decided at planning time (running the query would build its own
    // separate QueryExecution and change nothing in this assertion)
    val df = graft.SparkEntry.queries("q38_stratified_sample")(spark, sf)
    // the Bernoulli keep-test must sit in the scan stage's data
    // filters — a post-shuffle filter would ship the dropped rows
    val plan = df.queryExecution.executedPlan.toString()
    assert("DataFilters: \\[[^\\]]*poly_hash".r.findFirstIn(plan).isDefined,
      plan.take(800))
  }

  test("t7 count-min: the candidate estimate join broadcasts") {
    val df = graft.SparkEntry.queries("t7_cms_heavy_hitters")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("d8 contamination: the eval gram set joins as an explicit broadcast") {
    // the 100 TB property: training-side grams never enter an exchange —
    // the gram join must be a broadcast, planned as such STATICALLY
    // (an AQE runtime demotion to shuffle would ship the corpus grams)
    val df = graft.SparkEntry.queries("d8_contamination")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // and the split predicates reach the scan (partition the corpus
    // read, not a post-scan filter stage)
    assert("DataFilters: \\[[^\\]]*% 50\\)".r.findFirstIn(plan).isDefined,
      plan.take(800))
  }

  test("q79 unpivot is an Expand, not a union of scans") {
    // the scale property: wide->long must read the table ONCE; N
    // single-column scans unioned would multiply the 100-TB read by N
    val df = graft.SparkEntry.queries("q79_unpivot")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Expand"), plan.take(800))
    assert(!plan.contains("Union"), plan.take(800))
    // no shuffle before the presentation sort: Expand is narrow
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty, plan.take(800))
  }

  test("q80 CDC compaction aggregates partially map-side (no window over the log)") {
    val df = graft.SparkEntry.queries("q80_cdc_compaction")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    // skew-safety: the last-writer-wins rule must be a two-phase hash
    // agg (partial max(struct) before the exchange), never a Window
    // (a hot key would serialize a per-key sort)
    assert(!plan.contains("Window"), plan.take(800))
    assert("HashAggregate.*partial_max|partial_max".r.findFirstIn(plan).isDefined
      || plan.contains("ObjectHashAggregate"), plan.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(800))
  }

  test("q78 SCD2 build plans ONE key exchange for its whole window chain") {
    // lag-filter, row_number, and lead share the same (key, date, tiebreak)
    // sort — Spark must plan a single hashpartitioning exchange, not one
    // per window
    val df = graft.SparkEntry.queries("q78_scd2_build")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(800))
  }

  test("q84 plans a runtime dynamicpruning subquery on the fact scan") {
    // the 100-TB property: the partition filter must be RUNTIME-driven
    // (dim rows aren't knowable at plan time) — a plan without
    // dynamicpruning scans every fact partition
    val df = graft.SparkEntry.queries("q84_dpp_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"), plan.take(1200))
  }

  test("sim13 filtered ANN: the metadata predicate reaches the parquet scan") {
    // the filtered-vector-search scale property: label pruning happens
    // in the scan stage (row groups with no label=3 never decompress),
    // not after the scoring projection
    val df = graft.SparkEntry.queries("sim13_filtered_ann")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert("DataFilters: \\[[^\\]]*label[^\\]]*3\\)".r.findFirstIn(plan).isDefined,
      plan.take(1200))
  }

  test("q91 NOT IN (nullable subquery) plans the null-aware anti join") {
    // three-valued logic makes a plain LeftAnti WRONG here; Spark's
    // NAAJ (BroadcastHashJoin with the null-aware flag) is the only
    // hash-based plan — losing it means a BNLJ over the fact table
    val df = graft.SparkEntry.queries("q91_not_in_nulls")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    // BroadcastHashJoinExec prints isNullAwareAntiJoin as the trailing
    // `true` after the build side
    assert("BroadcastHashJoin .*LeftAnti, BuildRight, true".r
      .findFirstIn(plan).isDefined, plan.take(1200))
  }

  test("q88 Q5-star: dims broadcast, facts hash-join — no product") {
    // nation/region must ride broadcasts; the two fact joins are the
    // only exchanges that may scale with data
    val df = graft.SparkEntry.queries("q88_regional_revenue")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q105 Q21-shape: keyed semi + anti hash joins, no product") {
    // the double-existential must plan as hash semi/anti joins keyed on
    // l_orderkey — a planner fallback to a nested-loop here is the
    // 100 TB incident (fact × fact product)
    val df = graft.SparkEntry.queries("q105_wait_blame")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      plan.take(1200))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q106 trigram mining: ONE per-user exchange serves both windows") {
    // hashpartitioning(user_id) satisfies the (user_id, session_id)
    // clustering of the second window (subset rule), so the gap flag,
    // the session-id prefix sum, and both leads must share a single
    // user exchange; the only other exchange is the trigram groupBy's
    val df = graft.SparkEntry.queries("q106_top_paths")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      plan.take(1500))
  }

  test("q23b: the bounded-domain assumption behind its global window HOLDS") {
    // q23b's cumulative window runs over DISTINCT s_acctbal values with
    // no partitionBy — safe only while that domain stays
    // dimension-sized (it is the window's single-partition input AND
    // the broadcast side of the join back). This guard turns the
    // in-code comment into an enforced bound at the largest local SF:
    // acctbal is a bounded value domain (money in a fixed range), so
    // distinct count must stay <= supplier rows and far under broadcast
    // limits even as the corpus scales (ScaleUp preserves value
    // domains, like real corpus growth). If data evolution ever breaks
    // this, the fix is a two-level bucketed prefix-sum — see the plan
    // note at Relational.q23b.
    val sup = spark.read.parquet("/root/testdata/sf0.1/supplier.parquet")
    val distinctBal = sup.select("s_acctbal").distinct().count()
    assert(distinctBal <= 20000L,
      s"q23b's global-window domain grew to $distinctBal distinct balances — " +
        "switch q23b to the two-level bucketed prefix-sum formulation")
    // and the broadcast-side plan property: the window input is the
    // aggregate, so the join back must plan as a broadcast join
    val df = graft.SparkEntry.queries("q23b_rank_poorer")(spark, "/root/testdata/sf0.001")
    assert(df.queryExecution.executedPlan.toString().contains("BroadcastHashJoin"))
  }

  test("t14 blocklist filter runs scan-side (no exchange before the membership test)") {
    // the 100 TB property: a blocklisted document must die in the scan
    // stage's codegen, not survive a shuffle first — the membership
    // filter (IN on the domain expression) has to appear BEFORE any
    // Exchange in the plan
    val df = graft.SparkEntry.queries("t14_domain_blocklist")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    val filterAt = plan.indexOf("site3.org")
    val exchangeAt = plan.indexOf("Exchange")
    assert(filterAt >= 0, plan.take(800))
    assert(exchangeAt < 0 || filterAt > exchangeAt,
      s"membership test not scan-side (filter@$filterAt exchange@$exchangeAt)")
    // (executedPlan prints leaves LAST, so scan-side = AFTER the
    // exchanges in the string — hence '>')
  }

  test("GLOBAL: no query plans a Cartesian product; BNLJ only where labeled") {
    // the whole-registry scale guard: an accidental missing join
    // condition (or a Catalyst fallback) shows up as CartesianProduct /
    // BroadcastNestedLoopJoin in SOME query's physical plan long before
    // it shows up as a 100 TB incident. Every BNLJ below is AUDITED:
    // its broadcast side is bounded by construction, so the plan is a
    // replicate-small-side scan, not a product blow-up. Anything new
    // must be audited into this list, not waved through.
    val bnljAllowed = Set(
      "q22_range_join",    // non-equi range join; broadcast side = 3 bins
      "q23_theta_join",    // the labeled O(n²) capability demo (twin: q23b)
      "sim1_cosine_topk",  // brute-force ANN baseline: corpus × broadcast QUERY set
      "sim12_mmr_rerank",  // candidate stage: corpus × broadcast 1-row query
                           //   (sim1's class; greedy rerank is driver-side)
      "sim13_filtered_ann", // pre-filtered corpus × broadcast QUERY set
                           //   (sim1's class with the predicate scan-side)
      "d20_semantic_contamination", // corpus × broadcast EVAL set (eval
                           //   sets are small by definition; sim1's class)
      "sim5_pq_ann",       // ADC scan: corpus CODES × broadcast per-query distance
                           //   tables (|queries| × m × ks ints — KBs by construction)
      "t6_tfidf_topterms", // scalar total-doc-count broadcast into IDF
      "t30_keyword_search", // same scalar N broadcast into the idf weight
      "t21_temperature_mix", // scalar global-min source count (ONE row)
                           //   broadcast into the dimension-sized rate table
      "t23_collocations",  // scalar total-token count (ONE row) broadcast
                           //   into the vocab-sized bigram score projection
      "t27_deletion_propagation", // per-table 1-row purge/keep aggregates
                           //   cross-joined into single audit rows
      "d19_dup_triangles", // three 1-row census aggregates cross-joined
                           //   into the single summary row
      "d28_duprate_estimate", // two 1-row (corpus, sample) aggregates
                           //   cross-joined into the single report row
      "q66_rfm_segments",  // 1-row corpus-max-date broadcast into the
                           //   per-customer recency computation
      "q67_copurchase_lift", // 1-row basket-count broadcast into the
                           //   pair-lift projection (t23's scalar-N class)
      "q69_kmv_setops",    // two 1-row sketch frames + the 1-row exact
                           //   aggregate cross-joined into the single
                           //   set-algebra summary row (d19's class)
      "q70_rolling_wau",   // 1-row corpus-max-day broadcast clamping
                           //   window ends (q66's class)
      "sim8_randproj_ann", // corpus × broadcast PROJECTED-QUERY set —
                           //   sim1's replicate-join class in 16 dims
      "sim14_binary_hamming", // corpus CODES (8 B/row) × broadcast
                           //   query codes — sim1's class over 1/32
                           //   of the bytes; rerank joins are keyed
      "sim15_matryoshka",  // corpus PREFIXES × broadcast query
                           //   prefixes — sim1's class over 1/4 of
                           //   the bytes; rerank joins are keyed
      "sim16_recall_report", // composes sim1's exact ground truth
                           //   (corpus × broadcast QUERY set) with the
                           //   banded LSH path; the metric join is keyed
      "sim17_int8_ann",    // 1-row global-scale broadcast + corpus
                           //   CODES × broadcast query codes — sim1's
                           //   class in the int8 domain; rerank keyed
      "t37_vocab_growth",  // 1-row max-doc-id broadcast into the
                           //   decile bucketing (q66's class)
      "d24_modularity",    // 1-row total-edge-count broadcast into the
                           //   per-source modularity terms (t23's class)
      "q116_equidepth_bins") // TWO non-equi joins, both q22's class:
                           //   rank-target probe (broadcast side = 8
                           //   target ranks) + interval count join
                           //   (broadcast side = 8 bin-boundary rows)
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString()
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
        if (cart || bnlj) Some(s"$name${if (cart) ":cartesian" else ":bnlj"}")
        else None
    }
    assert(offenders.isEmpty, s"unplanned product joins in: $offenders")
  }

  test("d7 chunk dedup: first-occurrence agg partially aggregates map-side") {
    // the skew defense: min(struct(id,pos)) per chunk must show a
    // partial_min BEFORE the chunk exchange (a final-only aggregation
    // would sort every occurrence of a hot boilerplate chunk on one
    // reducer — the exact failure the operator was shaped to avoid)
    val df = graft.SparkEntry.queries("d7_paragraph_dedup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert("partial_min".r.findFirstIn(plan.toLowerCase).isDefined ||
      plan.toLowerCase.contains("partial") && plan.contains("min(struct"),
      plan.take(1500))
  }

  test("GLOBAL: no-partitionBy windows only over bounded (contracted) input") {
    // a Window with an empty partitionSpec executes in ONE task however
    // large its input — legal only when that input is bounded by
    // construction, never fact-scaled. Every query here is AUDITED: the
    // window's input is named and its bound stated. Anything new must
    // be audited in (or reformulated via RankStats' two-level prefix
    // sum, whose only cross-bucket window runs over <= nBuckets bucket
    // totals). Structural backstop for every UNLISTED hit: the window
    // must sit above an Aggregate contraction, never directly over a
    // scan. Allowlisted queries are audited by their stated bound
    // instead — a persist/localCheckpoint on the contracted input
    // substitutes InMemoryRelation/LogicalRDD into the optimized plan
    // and erases the Aggregate the backstop would otherwise see (r14:
    // q116's persisted histogram).
    val allowed = Map(
      "q23b_rank_poorer" -> "distinct s_acctbal (bounded money domain; spec-guarded above)",
      "q101_skew_report" -> "counts-of-counts histogram (<= distinct multiplicities)",
      "t37_vocab_growth" -> "10-row decile table",
      "q116_equidepth_bins" -> "RankStats bucket totals (<= 4096) + the 9-row edge spine",
      // (q115_winsorized: its RankStats windows partition by flag — no
      // no-partitionBy window remains, so it needs no entry)
      "q93_rrf_fusion" -> "RankStats bucket totals (<= 4096 per rank leg)",
      "q100_decile_report" -> "RankStats bucket totals (<= 4096)",
      "t48_zipf_buckets" -> "RankStats bucket totals over counts-of-counts (<= 4096)",
      "t51_calibration" -> "RankStats bucket totals (<= 4096)")
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        val wins = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
        val unlisted =
          if (wins.nonEmpty && !allowed.contains(name)) Seq(s"$name:unaudited")
          else Nil
        // structural backstop for EVERY query (r15, ADVICE): an
        // allowlist entry exempts only the cached-contraction case its
        // comment cites (see windowsOverScan). An allowlisted query
        // whose no-partitionBy window sits over an uncached,
        // unaggregated subtree has regressed to a fact-sized
        // single-task window and must still fail here.
        val overScan = windowsOverScan(plan).map(_ => s"$name:window-over-uncontracted-input")
        unlisted ++ overScan
    }
    assert(offenders.isEmpty, s"single-task window stages in: $offenders")
  }

  test("window backstop: a cached leaf exempts only the window's own input") {
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val leaf = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 50L).map(org.apache.spark.sql.Row(_)), 2),
      StructType(Seq(StructField("k", LongType))))
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("r", row_number().over(WSpec.orderBy("k"))).queryExecution.optimizedPlan
    assert(ranked(leaf).collectFirst { case l: LogicalRDD => l }.isDefined)
    // the leaf through Project and Filter is the window's own input
    assert(windowsOverScan(ranked(leaf.filter(col("k") > 3).select((col("k") * 2).as("k")))).isEmpty)
    // a LogicalRDD on one side of a join with a raw scan bounds nothing
    val joined = leaf.join(spark.range(0, 1000000).toDF("k"), "k")
    assert(windowsOverScan(ranked(joined)).size == 1)
    assert(windowsOverScan(ranked(spark.range(100).toDF("k"))).size == 1)
    assert(windowsOverScan(ranked(leaf.groupBy("k").count())).isEmpty)
  }

  test("GLOBAL: no fact-sized window partitioned on a bounded low-NDV key") {
    // the r13 q108/q77 plan-audit class: a Window over uncontracted
    // (fact-scaled) input whose partition keys have bounded observed
    // NDV caps that stage at NDV-way parallelism forever — correct
    // today, 25 single-task sorts of ~4B rows each at 100×. NDV is
    // probed at the LARGEST local SF (sf0.1, like the q23b domain
    // guard): scale-GROWING keys (user_id, suppkey — they grow with
    // the corpus, so per-key volume stays bounded) separate there from
    // bounded domains (p_brand ≈ 25, event_type ≈ 10, source ≈ 20,
    // fixed at any scale). Detector: logical Window, non-empty
    // partitionSpec, no Aggregate contraction beneath, observed
    // partition-key NDV < 64. Anything new must be reformulated — the
    // RankStats bucket discipline; q108 (weighted histogram), q77
    // (bucketed lag + spine stitch) and t12 (two-level running sum)
    // are the r14 templates — or audited into the allowlist with its
    // bound stated.
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, LogicalPlan, Project, Window => LWindow}
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.functions.{broadcast, lag, sum => fsum}
    val sf01 = "/root/testdata/sf0.1"
    def lowCardWindows(plan: LogicalPlan): Seq[(String, Long)] = plan.collect {
      case w: LWindow if w.partitionSpec.nonEmpty &&
          w.child.collectFirst { case a: Aggregate => a }.isEmpty =>
        val proj = Project(w.partitionSpec.zipWithIndex.map {
          case (e, i) => Alias(e, s"__p$i")() }, w.child)
        val ndv = org.apache.spark.sql.graftbridge.GraftSqlBridge
          .ofRows(spark, proj).distinct().count()
        (w.partitionSpec.map(_.sql).mkString(","), ndv)
    }.filter(_._2 < 64)
    // RED on the pre-r14 formulations (regression bait): the detector
    // must fire on the exact window shapes q108/q77 shipped before
    val li = spark.read.parquet(s"$sf01/lineitem.parquet")
      .select(col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("w"))
    val pt = spark.read.parquet(s"$sf01/part.parquet")
      .select(col("p_partkey"), col("p_brand"))
    val oldQ108 = li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .withColumn("cw", fsum("w").over(
        WSpec.partitionBy("p_brand").orderBy("price_c")))
    assert(lowCardWindows(oldQ108.queryExecution.optimizedPlan).nonEmpty,
      "detector failed to flag the pre-r14 q108 window shape")
    val ev = spark.read.parquet(s"$sf01/events.parquet")
    val oldQ77 = ev.withColumn("prev", lag("event_id", 1).over(
      WSpec.partitionBy("event_type").orderBy("ts", "event_id")))
    assert(lowCardWindows(oldQ77.queryExecution.optimizedPlan).nonEmpty,
      "detector failed to flag the pre-r14 q77 window shape")
    // GREEN on the registry (audited exemptions, with the bound that
    // justifies them)
    // empty again as of r15: q108's target pick no longer windows over
    // a checkpoint leaf (the histogram-array aggregate() pick), so the
    // detector guards every query with zero exemptions
    val allowed = Map.empty[String, String]
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val hits = lowCardWindows(fn(spark, sf01).queryExecution.optimizedPlan)
        if (hits.nonEmpty && !allowed.contains(name))
          Some(s"$name:${hits.map { case (k, n) => s"[$k]ndv=$n" }.mkString(",")}")
        else None
    }
    assert(offenders.isEmpty,
      s"fact-sized windows on bounded low-NDV partition keys in: $offenders")
  }

  test("GLOBAL: no fact-sized trailing global sorts (the q35/t9 double-execution tax)") {
    // the q35/t9 round-9 adjudication, generalized to the registry: a
    // global orderBy over uncontracted (fact-scaled) rows buys nothing
    // — the gate compare is order-insensitive — and costs twice: the
    // range exchange's SAMPLING job re-executes the child (for q35 the
    // salted join, for the mm family the whole decode pipeline), then
    // the sort shuffles every row again. Round-11 sweep removed ~70 of
    // them (q36, the dca family, the mm decode family, per-doc text
    // features, pair/cluster tables). Heuristic: a global Sort is
    // fact-sized when no Aggregate contracts the rows beneath it; TopK
    // sorts (under a Limit — planned as TakeOrderedAndProject, no full
    // sort) are exempt structurally, and the audited survivors below
    // have bounded input by construction.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LocalLimit, LocalRelation, Sort}
    val allowed = Map(
      "q114_observe_metrics" -> "4-row driver-local metrics table",
      "q91_not_in_nulls" -> "bounded by the c_custkey <= 500 predicate",
      "sim12_mmr_rerank" -> "k rerank steps (driver-side greedy)",
      "t10_token_budget_mix" -> "per-source running table (|sources| rows)",
      "t28_bpe_train" -> "BPE merge rounds (bounded by vocab budget)")
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        // sorts that feed a Limit plan as TakeOrderedAndProject — exempt
        val topK = plan.collect {
          case l: LocalLimit => l.child match {
            case so: Sort => Seq(so); case _ => Nil }
          case g: GlobalLimit => g.child match {
            case ll: LocalLimit => ll.child match {
              case so: Sort => Seq(so); case _ => Nil }
            case so: Sort => Seq(so); case _ => Nil }
        }.flatten.toSet
        val factSorts = plan.collect {
          case so: Sort if so.global && !topK(so) &&
              so.child.collectFirst { case a: Aggregate => a }.isEmpty &&
              !so.child.isInstanceOf[LocalRelation] => so
        }
        if (factSorts.nonEmpty && !allowed.contains(name))
          Some(s"$name(${factSorts.size})")
        else None
    }
    assert(offenders.isEmpty, s"fact-sized global sorts in: $offenders")
  }
}

class BucketingSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed tables join without a shuffle (co-located join)") {
    val wh = Files.createTempDirectory("graft_wh").toFile.getAbsolutePath
    val n = 1000
    val fact = (0 until n).map(i => (i.toLong % 100, i.toLong)).toDF("k", "x")
    val dim = (0L until 100L).map(i => (i, s"d$i")).toDF("k", "name")
    spark.sql("DROP TABLE IF EXISTS fact_b")
    spark.sql("DROP TABLE IF EXISTS dim_b")
    fact.write.bucketBy(8, "k").sortBy("k").option("path", s"$wh/fact_b").saveAsTable("fact_b")
    dim.write.bucketBy(8, "k").sortBy("k").option("path", s"$wh/dim_b").saveAsTable("dim_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("fact_b").join(spark.table("dim_b"), "k")
      assert(joined.count() == n)
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS fact_b")
      spark.sql("DROP TABLE IF EXISTS dim_b")
    }
  }
}

final case class PtRow(k: Long, x: Double)

/** Guards the Tungsten dense-index scheme (mid = pid<<33 | pos +
  * literal offsets) across MANY partitions — the partition-boundary
  * arithmetic is exactly where a silent mis-index would hide.
  */
class DenseIndexScaleSpec extends SparkTestBase {
  import spark.implicits._

  test("dense index is a correct permutation at 200k rows / 37 partitions") {
    val df = spark.range(200000)
      .select(col("id").as("k"), (col("id") * 7 % 1000).as("v"))
      .repartition(37) // scramble the input partitioning
    val f = DcaFrame.fromDF(df, Seq(col("k")))
    assert(f.shape == Vector(200000L))
    // sorted by k, so __idx0 == k everywhere — check across boundaries
    val sample = f.df.filter(col("__idx0").isin(0L, 1L, 54321L, 99999L, 199999L))
      .select(col("__idx0"), col("k")).as[(Long, Long)].collect().toMap
    assert(sample == Map(0L -> 0L, 1L -> 1L, 54321L -> 54321L,
      99999L -> 99999L, 199999L -> 199999L), s"got $sample")
    // dense invariant: indices are exactly 0..n-1
    val (mx, distinct) = f.df
      .select(max(col("__idx0")), countDistinct(col("__idx0")))
      .as[(Long, Long)].head()
    assert(mx == 199999L && distinct == 200000L)
    f.unpersist()
  }

  test("mask keeps the dense invariant on a multi-partition frame") {
    val df = spark.range(50000).select(col("id").as("k")).repartition(17)
    val f = DcaFrame.fromDF(df, Seq(col("k")))
    val m = f.mask(col("k") % 3 === 1)
    assert(m.shape == Vector(16667L))
    val (mx, distinct) = m.df
      .select(max(col("__idx0")), countDistinct(col("__idx0")))
      .as[(Long, Long)].head()
    assert(mx == 16666L && distinct == 16667L)
    // order preserved: element at idx i is k = 3i+1
    val probe = m.df.filter(col("__idx0").isin(0L, 8000L, 16666L))
      .select(col("__idx0"), col("k")).as[(Long, Long)].collect().toMap
    assert(probe == Map(0L -> 1L, 8000L -> 24001L, 16666L -> 49999L), s"got $probe")
    m.unpersist(); f.unpersist()
  }
}

class RoundTripSpec extends SparkTestBase {

  test("typed Dataset round trip: fromDataset -> ops -> asDataset/collectTyped") {
    import spark.implicits._
    val ds = spark.createDataset((0 until 6).map(i => PtRow(i.toLong, i * 1.5)))
    val f = DcaFrame.fromDataset(ds, Seq(col("k")))
    assert(f.shape == Vector(6L) && f.arrayCols == Vector("k", "x"))
    val doubled = f.mapField(c => c * 2)
    assert(doubled.collectTyped[PtRow]() ==
      (0 until 6).map(i => PtRow(i * 2L, i * 3.0)))
    // the untyped-order Dataset view still carries all rows
    assert(doubled.asDataset[PtRow].collect().toSet ==
      (0 until 6).map(i => PtRow(i * 2L, i * 3.0)).toSet)
  }

  test("DcaFrame parquet round trip preserves shape and order identity") {
    val dir = Files.createTempDirectory("graft_rt").toFile.getAbsolutePath + "/frame"
    val rows = (0 until 12).map(i => org.apache.spark.sql.Row(i.toDouble))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.DoubleType)))
    val f = DcaFrame.fromLocal(spark, rows, schema).reshape(3, 4)
    f.saveParquet(dir)
    val g = DcaFrame.loadParquet(spark, dir)
    assert(g.shape == Vector(3L, 4L) && g.arrayCols == Vector("x"))
    assert(g.collectOrdered().map(_.getDouble(0)).toSeq == (0 until 12).map(_.toDouble))
    // and it still behaves: slice + mask after reload
    val sliced = g(graft.core.Indexing.Ix.I(1))
    assert(sliced.collectOrdered().map(_.getDouble(0)).toSeq == Seq(4.0, 5.0, 6.0, 7.0))
  }
}
