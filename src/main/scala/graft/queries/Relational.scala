package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{KMinSketch, PolyHash, TopKSketch}

import QueryDef.{table, cents}

/** Classic relational operator suite (SURVEY §2.6) over the TPC-H-ish
  * testdata, expressed Spark-first. Every query:
  *   - keeps filters/projections declarative (pushed to the parquet scan),
  *   - broadcasts dimension tables explicitly,
  *   - orders by a unique key so the result is deterministic,
  *   - emits money/quantities as exact cents (BIGINT) for hash-stable
  *     comparison against the DuckDB oracle.
  */
object Relational {
  /** Sketch/sample sizes, interpolated into BOTH the Spark code and
    * the oracle SQL so the two sides cannot drift.
    */
  private val KmvK = 64
  // portable-HLL geometry (q37): m = 2^HllP buckets; the scrambled hash
  // is < ~2^30, so x = hv >> HllP has < 2^22 values → rho ≤ 22 with 23
  // as the x=0 sentinel; G = 30 keeps the integer register sum ≤ 2^38
  private val HllP = 8
  private val HllG = 30
  private val HllMaxRho = 23

  /** DuckDB CTE chain `b → rho → regs → agg → vs → fin` rendering the
    * portable-HLL register build + estimator over a hashed CTE `h`
    * (carrying `keys` + `hv`) — the ONE SQL mirror of
    * [[graft.operators.SketchState]], shared by q37 and q51 so the
    * estimator cannot drift between the one-shot and incremental paths.
    */
  private def hllEstCtes(keys: Seq[String]): String = {
    val ks = keys.mkString(", ")
    val gbReg = (1 to keys.size + 1).mkString(", ")
    val gbKey = (1 to keys.size).mkString(", ")
    val mD = s"CAST('${(1 << HllP).toDouble}' AS DOUBLE)"
    val alpha = s"CAST('0.7213' AS DOUBLE)\n        / (CAST('1.0' AS DOUBLE) + CAST('1.079' AS DOUBLE) / $mD)"
    val scale = s"CAST('${((1 << HllP).toDouble * (1 << HllP).toDouble) * (1L << HllG).toDouble}' AS DOUBLE)"
    s"""b AS (SELECT $ks, hv % ${1 << HllP} AS bucket,
       |    hv >> $HllP AS x FROM h),
       |rho AS (SELECT $ks, bucket,
       |    CASE WHEN x = 0 THEN $HllMaxRho
       |      ELSE bit_count((x & (-x)) - 1) + 1 END AS rho FROM b),
       |regs AS (SELECT $ks, bucket, max(rho) AS M
       |  FROM rho GROUP BY $gbReg),
       |agg AS (SELECT $ks,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST($HllG - M AS INTEGER)) AS BIGINT) AS s_present,
       |    count(*) AS nb
       |  FROM regs GROUP BY $gbKey),
       |vs AS (SELECT $ks,
       |    s_present + (${1 << HllP} - nb) * (CAST(1 AS BIGINT) << $HllG) AS S,
       |    ${1 << HllP} - nb AS V
       |  FROM agg),
       |fin AS (SELECT $ks,
       |    CASE WHEN $alpha
       |        * $scale
       |        / CAST(S AS DOUBLE) <= CAST('${2.5 * (1 << HllP)}' AS DOUBLE) AND V > 0
       |      THEN $mD
       |        * ln($mD / CAST(V AS DOUBLE))
       |      ELSE $alpha
       |        * $scale
       |        / CAST(S AS DOUBLE) END AS est
       |  FROM vs)""".stripMargin
  }

  private val SampleK = 101
  /** q38 per-stratum keep-rates in permille, interpolated into both
    * engines' arithmetic (threshold test AND rescale divisor).
    */
  private val StratRatesPm: Map[String, Int] = Map("A" -> 100, "N" -> 10, "R" -> 50)


  val defs: Map[String, QueryDef] = Map(

    // ---- projection + filter pushdown -------------------------------
    "q2_filter_pushdown" -> QueryDef(
      (s, dir) => {
        table(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01") && col("l_quantity") <= 5)
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            cents(col("l_extendedprice")).as("price_c"))
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |  CAST(round(l_extendedprice*100) AS BIGINT) AS price_c
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
             |  AND l_quantity <= 5
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- broadcast-hash join + agg + top-k --------------------------
    "q3_join_topk" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val c = table(s, dir, "customer")
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(sum(cents(col("o_totalprice"))).as("spend_c"),
            count(lit(1)).as("n_orders"))
          .select(col("c_custkey"), col("c_name"), col("spend_c"), col("n_orders"))
          .orderBy(desc("spend_c"), asc("c_custkey"))
          .limit(10)
      },
      Some("""SELECT c_custkey, c_name,
             |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spend_c,
             |  count(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1, 2 ORDER BY spend_c DESC, c_custkey LIMIT 10""".stripMargin)),

    // ---- multi-way broadcast join chain -----------------------------
    "q4_join_chain" -> QueryDef(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val n = table(s, dir, "nation")
        val r = table(s, dir, "region")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_cust"), sum(cents(col("c_acctbal"))).as("acctbal_c"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, count(*) AS n_cust,
             |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS acctbal_c
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- window functions: ranking + running frame ------------------
    "q5_window" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        table(s, dir, "lineitem")
          .withColumn("rn", row_number().over(w))
          .withColumn("running_qty_c",
            sum(cents(col("l_quantity"))).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .filter(col("rn") <= 5)
          .select(col("l_suppkey"), col("rn").cast("long").as("rn"),
            col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            col("running_qty_c"))
      },
      Some("""SELECT l_suppkey, CAST(rn AS BIGINT) AS rn, l_orderkey,
             |  CAST(l_linenumber AS BIGINT) AS l_linenumber, running_qty_c
             |FROM (
             |  SELECT l_suppkey, l_orderkey, l_linenumber,
             |    row_number() OVER w AS rn,
             |    CAST(sum(CAST(round(l_quantity*100) AS BIGINT))
             |      OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty_c
             |  FROM lineitem
             |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
             |) WHERE rn <= 5 ORDER BY l_suppkey, rn""".stripMargin)),

    // ---- top-k (TakeOrderedAndProject, no full sort) ----------------
    "q6_topk" -> QueryDef(
      (s, dir) => {
        table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            cents(col("l_extendedprice")).as("price_c"))
          .orderBy(desc("price_c"), asc("l_orderkey"), asc("l_linenumber"))
          .limit(20)
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |  CAST(round(l_extendedprice*100) AS BIGINT) AS price_c
             |FROM lineitem ORDER BY price_c DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin)),

    // ---- distinct ---------------------------------------------------
    "q7_distinct" -> QueryDef(
      (s, dir) => table(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2""")),

    // ---- semi join (EXISTS) -----------------------------------------
    "q8_semi_join" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val hot = table(s, dir, "lineitem").filter(col("l_quantity") > 49)
        o.join(hot, o("o_orderkey") === hot("l_orderkey"), "left_semi")
          .select("o_orderkey", "o_orderstatus")
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity > 49)
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- anti join (NOT EXISTS) -------------------------------------
    "q9_anti_join" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val li = table(s, dir, "lineitem")
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
          .select("o_orderkey", "o_orderstatus")
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- rollup (hierarchical grouping sets) ------------------------
    "q10_rollup" -> QueryDef(
      (s, dir) => table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"))).as("qty_c"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("qty_c"))
        .orderBy("flag", "status"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
             |  COALESCE(l_linestatus, 'ALL') AS status, count(*) AS n,
             |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_c
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY flag, status""".stripMargin)),

    // ---- cube over derived column -----------------------------------
    "q11_cube" -> QueryDef(
      (s, dir) => table(s, dir, "lineitem")
        .withColumn("ship_year", year(col("l_shipdate")).cast("long"))
        .cube(col("l_returnflag"), col("ship_year"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("ship_year"), lit(-1L)).as("ship_year"), col("n"))
        .orderBy("flag", "ship_year"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
             |  COALESCE(CAST(year(l_shipdate) AS BIGINT), -1) AS ship_year, count(*) AS n
             |FROM lineitem GROUP BY CUBE (l_returnflag, CAST(year(l_shipdate) AS BIGINT))
             |ORDER BY flag, ship_year""".stripMargin)),

    // ---- distinct aggregation --------------------------------------
    "q12_count_distinct" -> QueryDef(
      (s, dir) => table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_supp, count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- having -----------------------------------------------------
    "q13_having" -> QueryDef(
      (s, dir) => table(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(sum(cents(col("l_quantity"))).as("qty_c"))
        .filter(col("qty_c") > 100000)
        .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey,
             |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_c
             |FROM lineitem GROUP BY 1
             |HAVING sum(CAST(round(l_quantity*100) AS BIGINT)) > 100000
             |ORDER BY 1""".stripMargin)),

    // ---- scalar functions (string / date / math) --------------------
    "q14_scalar_fns" -> QueryDef(
      (s, dir) => table(s, dir, "part")
        .select(col("p_partkey"),
          upper(substring(col("p_name"), 1, 5)).as("name5"),
          length(col("p_name")).cast("long").as("name_len"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          (col("p_size") % 7).cast("long").as("size_mod"),
          cents(col("p_retailprice")).as("price_c"),
          greatest(col("p_size").cast("long"), lit(25L)).as("size_floor25")),
      Some("""SELECT p_partkey, upper(substr(p_name, 1, 5)) AS name5,
             |  CAST(length(p_name) AS BIGINT) AS name_len,
             |  p_brand || ':' || p_type AS brand_type,
             |  CAST(p_size % 7 AS BIGINT) AS size_mod,
             |  CAST(round(p_retailprice*100) AS BIGINT) AS price_c,
             |  greatest(CAST(p_size AS BIGINT), 25) AS size_floor25
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- set operations: intersect / except -------------------------
    "q15_setops" -> QueryDef(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val hiQty = li.filter(col("l_quantity") > 45).select("l_partkey").distinct()
        val hiPrice = li.filter(col("l_extendedprice") > 80000).select("l_partkey").distinct()
        hiQty.intersect(hiPrice).withColumn("op", lit("both"))
          .union(hiQty.except(hiPrice).withColumn("op", lit("qty_only")))
          .orderBy("op", "l_partkey")
      },
      Some("""WITH hq AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity > 45),
             |     hp AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_extendedprice > 80000)
             |SELECT l_partkey, 'both' AS op FROM (SELECT * FROM hq INTERSECT SELECT * FROM hp)
             |UNION ALL
             |SELECT l_partkey, 'qty_only' AS op FROM (SELECT * FROM hq EXCEPT SELECT * FROM hp)
             |ORDER BY op, l_partkey""".stripMargin)),

    // ---- range join (non-equi, broadcast NLJ on a tiny dim) ---------
    // parts binned by size ranges. At scale with a LARGE range side you
    // would expand ranges into buckets and equi-join on bucket id; with
    // a small range dim the broadcast nested-loop is the right plan.
    "q22_range_join" -> QueryDef(
      (s, dir) => {
        val bins = s.createDataFrame(Seq(
          (0, 0, 16, "small"), (1, 17, 33, "medium"), (2, 34, 50, "large")))
          .toDF("bin_id", "lo", "hi", "bin_name")
        table(s, dir, "part")
          .join(broadcast(bins), col("p_size") >= col("lo") && col("p_size") <= col("hi"))
          .groupBy("bin_name")
          .agg(count(lit(1)).as("n"), sum(cents(col("p_retailprice"))).as("price_c"))
          .orderBy("bin_name")
      },
      Some("""WITH bins(bin_id, lo, hi, bin_name) AS (
             |  VALUES (0, 0, 16, 'small'), (1, 17, 33, 'medium'), (2, 34, 50, 'large'))
             |SELECT bin_name, count(*) AS n,
             |  CAST(sum(CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT) AS price_c
             |FROM part JOIN bins ON p_size >= lo AND p_size <= hi
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- theta join (inequality predicate) --------------------------
    // Deliberate BNLJ: the CAPABILITY demo for arbitrary non-equi join
    // predicates (O(n²) by nature — fine on a dimension-sized input,
    // never the plan for a fact table). The aggregate it computes has
    // an O(n log n) formulation: see q23b_rank_poorer below.
    "q23_theta_join" -> QueryDef(
      (s, dir) => {
        val s1 = table(s, dir, "supplier").select(col("s_suppkey").as("k1"), col("s_acctbal").as("b1"))
        val s2 = table(s, dir, "supplier").select(col("s_suppkey").as("k2"), col("s_acctbal").as("b2"))
        s1.join(s2, col("b1") > col("b2"))
          .groupBy("k1").agg(count(lit(1)).as("n_poorer"))
          .orderBy("k1")
      },
      Some("""SELECT a.s_suppkey AS k1, count(*) AS n_poorer
             |FROM supplier a JOIN supplier b ON a.s_acctbal > b.s_acctbal
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q23's aggregate WITHOUT the O(n²) join ---------------------
    // "count of strictly poorer suppliers" == rank - 1. Scale shape:
    // aggregate to DISTINCT balance values first (bounded domain), run
    // the cumulative window over that small set, broadcast-join back —
    // the window input is |distinct bal|, never the fact-table row
    // count. Same output as q23 (rows with n_poorer = 0 dropped, as
    // the inner theta join does).
    // BOUNDED-DOMAIN ASSUMPTION (enforced, not just assumed): the
    // no-partitionBy window is single-partition over |distinct(b)|
    // rows; PlanShapeSpec asserts that count stays dimension-sized at
    // the largest local SF and that the join back plans as a
    // broadcast. If the domain ever grows fact-like, reformulate as a
    // two-level prefix sum: bucket = floor(b/W); within-bucket cumsum
    // windows partitioned by bucket + a global cumsum over the (small)
    // per-bucket totals, joined back — no single-partition stage over
    // the full domain.
    "q23b_rank_poorer" -> QueryDef(
      (s, dir) => {
        val sup = table(s, dir, "supplier")
          .select(col("s_suppkey").as("k1"), col("s_acctbal").as("b"))
        val byBal = sup.groupBy("b").agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
        val cum = byBal
          .withColumn("n_poorer", coalesce(sum("cnt").over(w), lit(0L)))
          .select("b", "n_poorer")
        sup.join(broadcast(cum), "b")
          .filter(col("n_poorer") > 0)
          .select("k1", "n_poorer")
          .orderBy("k1")
      },
      Some("""SELECT s_suppkey AS k1,
             |  CAST(rank() OVER (ORDER BY s_acctbal) - 1 AS BIGINT) AS n_poorer
             |FROM supplier
             |QUALIFY n_poorer > 0 ORDER BY k1""".stripMargin)),

    // ---- explicit grouping sets -------------------------------------
    "q19_grouping_sets" -> QueryDef(
      (s, dir) => {
        table(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
                |  COALESCE(l_linestatus, 'ALL') AS status, count(*) AS n
                |FROM lineitem_v
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                |  (l_returnflag, l_linestatus))
                |ORDER BY flag, status""".stripMargin)
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
             |  COALESCE(l_linestatus, 'ALL') AS status, count(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
             |  (l_returnflag, l_linestatus))
             |ORDER BY flag, status""".stripMargin)),

    // ---- array scalar functions (exact-int encodings of float outputs)
    "q28_array_fns" -> QueryDef(
      (s, dir) => table(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("emb_len"),
          floor(element_at(col("embedding"), 1).cast("double") * 1e6).cast("long").as("e0_micro"),
          floor(element_at(reverse(col("embedding")), 1).cast("double") * 1e6).cast("long").as("elast_micro"),
          floor(aggregate(slice(col("embedding"), 1, 8),
            lit(0.0), (a, x) => a + x.cast("double")) * 1e6).cast("long").as("head8_sum_micro"),
          floor(array_max(col("embedding")).cast("double") * 1e6).cast("long").as("max_micro"),
          floor(array_min(col("embedding")).cast("double") * 1e6).cast("long").as("min_micro")),
      Some("""SELECT vec_id,
             |  CAST(len(embedding) AS BIGINT) AS emb_len,
             |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT) AS e0_micro,
             |  CAST(floor(CAST(embedding[len(embedding)] AS DOUBLE) * 1e6) AS BIGINT) AS elast_micro,
             |  CAST(floor(list_reduce(list_prepend(0.0, list_transform(embedding[1:8],
             |      x -> CAST(x AS DOUBLE))), (a, b) -> a + b) * 1e6) AS BIGINT) AS head8_sum_micro,
             |  CAST(floor(CAST(list_max(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS max_micro,
             |  CAST(floor(CAST(list_min(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS min_micro
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- date/time scalar functions ---------------------------------
    "q29_date_fns" -> QueryDef(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val o = table(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .filter(col("l_linenumber") === 1 && col("l_orderkey") < 500)
          .select(col("l_orderkey"),
            datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("ship_lag_days"),
            month(col("l_shipdate")).cast("long").as("ship_month"),
            quarter(col("l_shipdate")).cast("long").as("ship_quarter"),
            (dayofweek(col("l_shipdate")) - 1).cast("long").as("ship_dow"), // 0=Sunday
            date_format(last_day(col("l_shipdate")), "yyyy-MM-dd").as("month_end"))
      },
      Some("""SELECT l_orderkey,
             |  CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS ship_lag_days,
             |  CAST(month(l_shipdate) AS BIGINT) AS ship_month,
             |  CAST(quarter(l_shipdate) AS BIGINT) AS ship_quarter,
             |  CAST(dayofweek(l_shipdate) AS BIGINT) AS ship_dow,
             |  strftime(last_day(l_shipdate), '%Y-%m-%d') AS month_end
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_linenumber = 1 AND l_orderkey < 500
             |ORDER BY l_orderkey""".stripMargin)),

    // ---- string scalar functions (incl. levenshtein) ----------------
    "q30_string_fns" -> QueryDef(
      (s, dir) => table(s, dir, "part")
        .select(col("p_partkey"),
          levenshtein(col("p_brand"), col("p_type")).cast("long").as("lev"),
          lpad(col("p_brand"), 12, "_").as("brand_pad"),
          reverse(col("p_name")).as("name_rev"),
          regexp_replace(col("p_name"), "[aeiou]", "*").as("name_novowel"),
          instr(col("p_type"), " ").cast("long").as("first_space"),
          expr("split_part(p_type, ' ', 1)").as("type_head")),
      Some("""SELECT p_partkey,
             |  CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev,
             |  lpad(p_brand, 12, '_') AS brand_pad,
             |  reverse(p_name) AS name_rev,
             |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS name_novowel,
             |  CAST(strpos(p_type, ' ') AS BIGINT) AS first_space,
             |  split_part(p_type, ' ', 1) AS type_head
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- RANGE window frame: value-based (not row-count) framing ----
    // sum over peers within 500 cents of the current row's quantity —
    // deterministic under ties because the frame is defined by VALUE
    // range (all peers included), unlike a rows-frame.
    // NO trailing global orderBy: the result is fact-sized, the gate
    // compare is order-insensitive, and a global sort on top of the
    // window DOUBLE-EXECUTES the child (the range exchange's sampling
    // job re-runs it — the exact q35/t9 adjudication; round-9 probe:
    // the sort, not the window, was q36's 13.7x sf1 scaling flag).
    "q36_range_frame" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("l_suppkey").orderBy(col("qty_c"))
          .rangeBetween(-500, 0)
        table(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            cents(col("l_quantity")).as("qty_c"))
          .withColumn("qty_range_sum", sum(col("qty_c")).over(w))
      },
      Some("""WITH base AS (SELECT l_suppkey, l_orderkey,
             |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |    CAST(round(l_quantity*100) AS BIGINT) AS qty_c
             |  FROM lineitem)
             |SELECT l_suppkey, l_orderkey, l_linenumber, qty_c,
             |  CAST(sum(qty_c) OVER (PARTITION BY l_suppkey ORDER BY qty_c
             |    RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS BIGINT) AS qty_range_sum
             |FROM base""".stripMargin)),

    // ---- salted skew join: result identical to the plain join -------
    // The manual hot-key spread (left side salted by stable row hash,
    // right side replicated per salt) — the oracle is the PLAIN join,
    // proving output equivalence, which is the whole point of salting.
    "q35_salted_join" -> QueryDef(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_suppkey").as("k"), col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            cents(col("l_quantity")).as("qty_c"))
        val sup = table(s, dir, "supplier")
          .select(col("s_suppkey").as("k"), col("s_name"))
        // NO global orderBy: the gate compare is order-insensitive
        // (rows are canonicalized before hashing), and a global sort
        // on top of the join DOUBLE-EXECUTES it — the range
        // exchange's sampling job re-runs the child plan, which for
        // the salted join is the expensive leg (round-9 sf1 probe:
        // salted 3.7 s, salted+sort 17.5 s vs plain+sort 7.7 s — the
        // whole q35 "12.4x scaling" flag was the sort interaction,
        // not the salting). Output order was never part of the
        // skew-mitigation contract.
        graft.operators.SkewJoin.salted(li, sup, "k", salts = 8)
      },
      Some("""SELECT l_suppkey AS k, l_orderkey,
             |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |  CAST(round(l_quantity*100) AS BIGINT) AS qty_c, s_name
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin)),

    // ---- PIVOT: wide aggregation over a known value set -------------
    // Spark's RelationalGroupedDataset.pivot with an EXPLICIT value
    // list (the scale-safe form: no extra distinct-values job, single
    // hash aggregate with one slot per pivot value). The oracle is the
    // relational definition (conditional aggregation).
    "q31_pivot" -> QueryDef(
      (s, dir) => table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"), cents(col("l_quantity")).as("qty_c"))
        .groupBy("l_returnflag").pivot("l_linestatus", Seq("F", "O")).agg(sum("qty_c"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_quantity*100) AS BIGINT) END) AS BIGINT) AS F,
             |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_quantity*100) AS BIGINT) END) AS BIGINT) AS O
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- generator / table function: posexplode (LATERAL UNNEST) ----
    // The UDTF surface as its own query: one input row generates N
    // output rows with ordinality, inside whole-stage codegen.
    "q32_posexplode" -> QueryDef(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(col("pos") < 5)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word")),
      Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS word
             |FROM words, UNNEST(range(1, len(w) + 1)) AS t(i)
             |WHERE i <= 5 ORDER BY doc_id, pos""".stripMargin)),

    // ---- analytic window suite: lead/lag/first/ntile/percent_rank ---
    "q26_window_suite" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        table(s, dir, "lineitem")
          .withColumn("qty_c", cents(col("l_quantity")))
          .withColumn("rn", row_number().over(w))
          .withColumn("prev_qty", coalesce(lag("qty_c", 1).over(w), lit(-1L)))
          .withColumn("next_qty", coalesce(lead("qty_c", 1).over(w), lit(-1L)))
          .withColumn("first_qty", first("qty_c").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("pct_rank", percent_rank().over(w))
          .filter(col("rn") <= 4)
          .select(col("l_suppkey"), col("rn").cast("long").as("rn"), col("qty_c"),
            col("prev_qty"), col("next_qty"), col("first_qty"), col("quartile"),
            col("pct_rank"))
      },
      Some("""SELECT l_suppkey, CAST(rn AS BIGINT) AS rn, qty_c, prev_qty, next_qty,
             |  first_qty, CAST(quartile AS BIGINT) AS quartile, pct_rank
             |FROM (
             |  SELECT l_suppkey,
             |    CAST(round(l_quantity*100) AS BIGINT) AS qty_c,
             |    row_number() OVER w AS rn,
             |    COALESCE(lag(CAST(round(l_quantity*100) AS BIGINT), 1) OVER w, -1) AS prev_qty,
             |    COALESCE(lead(CAST(round(l_quantity*100) AS BIGINT), 1) OVER w, -1) AS next_qty,
             |    first_value(CAST(round(l_quantity*100) AS BIGINT)) OVER
             |      (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_qty,
             |    ntile(4) OVER w AS quartile,
             |    percent_rank() OVER w AS pct_rank
             |  FROM lineitem
             |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
             |) WHERE rn <= 4 ORDER BY l_suppkey, rn""".stripMargin)),

    // ---- full outer join (null-producing; both sides filtered so both
    // unmatched directions occur) -------------------------------------
    "q27_full_outer" -> QueryDef(
      (s, dir) => {
        val c = table(s, dir, "customer").filter(col("c_acctbal") > 8000)
          .select(col("c_custkey"), col("c_name"))
        val o = table(s, dir, "orders").filter(col("o_totalprice") > 400000)
          .groupBy("o_custkey").agg(count(lit(1)).as("n_big"),
            sum(cents(col("o_totalprice"))).as("spend_c"))
        c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            coalesce(col("c_name"), lit("<no-cust-row>")).as("name"),
            coalesce(col("n_big"), lit(0L)).as("n_big"),
            coalesce(col("spend_c"), lit(0L)).as("spend_c"))
          .orderBy("custkey")
      },
      Some("""WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 8000),
             |     o AS (SELECT o_custkey, count(*) AS n_big,
             |             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spend_c
             |           FROM orders WHERE o_totalprice > 400000 GROUP BY 1)
             |SELECT COALESCE(c_custkey, o_custkey) AS custkey,
             |  COALESCE(c_name, '<no-cust-row>') AS name,
             |  COALESCE(n_big, 0) AS n_big, COALESCE(spend_c, 0) AS spend_c
             |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
             |ORDER BY custkey""".stripMargin)),

    // ---- correlated scalar subquery (decorrelated by Catalyst into a
    // join + agg — free per SURVEY §4.1) ------------------------------
    "q25_scalar_subquery" -> QueryDef(
      (s, dir) => {
        table(s, dir, "orders").createOrReplaceTempView("orders_v")
        s.sql("""SELECT o_orderkey, o_custkey,
                |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
                |FROM orders_v o
                |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders_v i
                |                          WHERE i.o_custkey = o.o_custkey)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
             |FROM orders o
             |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
             |                          WHERE i.o_custkey = o.o_custkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- sketch aggregate: HLL approx distinct. PERMANENTLY oracle-
    // less BY DESIGN: this row exercises Spark's NATIVE HLL++ sketch
    // (datasketches registers are engine-internal, so no cross-engine
    // oracle can exist); its exactly-oracled twin is q37_hll_portable —
    // same scale shape, engine-portable hash + integer registers,
    // bit-for-bit DuckDB oracle. Keep both: q24 is the "use the
    // engine's native sketch" capability row (driver records rows>0 +
    // the ≤5% accuracy bound in ApproxAggSpec), q37 is the correctness
    // proof of the HLL algorithm itself.
    "q24_approx_distinct" -> QueryDef(
      (s, dir) => table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      None),

    // ---- KMV distinct sketch: approximate count-distinct with an
    // EXACT cross-engine oracle — the estimate is pure integer
    // arithmetic over the k smallest portable-hash values, so DuckDB
    // reproduces it bit-for-bit (unlike HLL's q24, which stays
    // rows-only). O(k) state per group, mergeable buffers — the NATIVE
    // TypedImperativeAggregate (functions/KMinSketch): the typed
    // groupByKey Aggregator path deserialized every row and folded an
    // O(k)-scan List (sf1: 15.2 s vs 3.1 s for the same hashing in
    // q37's DataFrame path); the spec pins native == reference fold.
    "q33_kmv_distinct" -> QueryDef(
      (s, dir) => {
        import graft.functions.KMinAgg
        val k = KmvK
        table(s, dir, "lineitem")
          .select(col("l_returnflag"),
            KMinAgg.scramble(PolyHash.col(col("l_partkey").cast("string"))).as("h"))
          .groupBy("l_returnflag")
          .agg(KMinSketch.col(col("h"), k).as("mins"))
          .select(col("l_returnflag"),
            when(size(col("mins")) < k, size(col("mins")).cast("long"))
              .otherwise(expr(
                s"CAST(${k - 1} AS BIGINT) * 1000000007 DIV element_at(mins, $k)"))
              .as("est_distinct"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH ${QueryDef.scrambledHashCtes("lineitem", Seq("l_returnflag"),
                 "CAST(l_partkey AS VARCHAR)", dedupFinal = true)},
             |r AS (SELECT l_returnflag, hv,
             |    row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn,
             |    count(*) OVER (PARTITION BY l_returnflag) AS nd
             |  FROM h)
             |SELECT l_returnflag,
             |  CAST(CASE WHEN max(nd) < ${KmvK} THEN max(nd)
             |    ELSE (CAST(${KmvK - 1} AS BIGINT) * 1000000007) // max(CASE WHEN rn = ${KmvK} THEN hv END) END AS BIGINT)
             |    AS est_distinct
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- KMV set-operation estimation (theta-sketch-style) ----------
    // Distinct-cardinality estimates for |A|, |B|, |A ∪ B| AND |A ∩ B|
    // from two mergeable KMV sketches — the capability plain
    // count-distinct sketches (q33/q37) lack: set ALGEBRA over
    // sketches, the way a 100 TB pipeline answers "how many parts are
    // in both returned and accepted orders" WITHOUT a distinct-join
    // over the raw data (the sketches are O(k); the exact twin below
    // is the full shuffle). Union sketch = k smallest of the merged
    // min-lists; intersection via the Jaccard estimator m/kk over the
    // union sketch (values present in BOTH source buffers), scaled by
    // the union estimate — all exact integer arithmetic, so the DuckDB
    // oracle reproduces every ESTIMATE bit-for-bit. Exact counts ride
    // along from ONE map-side-combining per-part flag agg (accuracy
    // report in the same row). Scale: two O(k)-state sketch aggs + a
    // 1-row cross join; the exact twin is one hash agg on l_partkey.
    "q69_kmv_setops" -> QueryDef(
      (s, dir) => {
        import graft.functions.KMinAgg
        val k = KmvK
        val li = table(s, dir, "lineitem")
          .filter(col("l_returnflag").isin("A", "R"))
          .select(col("l_returnflag").as("side"), col("l_partkey"))
        // native kmin_sketch (see q33) — same sorted-distinct <= k buffer
        // the typed KMinListAgg reference fold produces
        val sketches = li.select(col("side"),
            KMinAgg.scramble(PolyHash.col(
              col("l_partkey").cast("string"))).as("h"))
          .groupBy("side")
          .agg(KMinSketch.col(col("h"), k).as("mins"))
        val a = sketches.filter(col("side") === "A")
          .select(col("mins").as("mins_a"))
        val r = sketches.filter(col("side") === "R")
          .select(col("mins").as("mins_r"))
        val exact = li
          .groupBy("l_partkey")
          .agg(max(when(col("side") === "A", 1L).otherwise(0L)).as("ha"),
            max(when(col("side") === "R", 1L).otherwise(0L)).as("hr"))
          .agg(count(lit(1)).as("n_exact_union"),
            sum("ha").as("n_exact_a"), sum("hr").as("n_exact_r"),
            sum(col("ha") * col("hr")).as("n_exact_inter"))
        a.crossJoin(r).crossJoin(broadcast(exact))
          .withColumn("merged_all",
            array_sort(array_distinct(concat(col("mins_a"), col("mins_r")))))
          .withColumn("msize", size(col("merged_all")).cast("long"))
          .withColumn("merged", slice(col("merged_all"), 1, k))
          .withColumn("est_a", expr(
            s"""CASE WHEN size(mins_a) < $k THEN CAST(size(mins_a) AS BIGINT)
               |ELSE CAST(${k - 1} AS BIGINT) * 1000000007 DIV element_at(mins_a, $k) END""".stripMargin))
          .withColumn("est_r", expr(
            s"""CASE WHEN size(mins_r) < $k THEN CAST(size(mins_r) AS BIGINT)
               |ELSE CAST(${k - 1} AS BIGINT) * 1000000007 DIV element_at(mins_r, $k) END""".stripMargin))
          .withColumn("est_union", expr(
            s"""CASE WHEN msize < $k THEN msize
               |ELSE CAST(${k - 1} AS BIGINT) * 1000000007 DIV element_at(merged, $k) END""".stripMargin))
          .withColumn("kk", least(lit(k.toLong), col("msize")))
          .withColumn("n_both", expr(
            """CAST(size(filter(merged, v ->
              |array_contains(mins_a, v) AND array_contains(mins_r, v))) AS BIGINT)""".stripMargin))
          .withColumn("est_inter", expr("n_both * est_union DIV kk"))
          .select("n_exact_a", "n_exact_r", "n_exact_union", "n_exact_inter",
            "est_a", "est_r", "est_union", "est_inter")
      },
      Some(s"""WITH ${QueryDef.scrambledHashCtes(
                 "(SELECT l_returnflag, l_partkey FROM lineitem WHERE l_returnflag IN ('A','R')) lf",
                 Seq("l_returnflag"), "CAST(l_partkey AS VARCHAR)", dedupFinal = true)},
             |ka AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
             |    count(*) OVER () AS nd
             |  FROM h WHERE l_returnflag = 'A'),
             |kr AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
             |    count(*) OVER () AS nd
             |  FROM h WHERE l_returnflag = 'R'),
             |la AS (SELECT hv FROM ka WHERE rn <= ${KmvK}),
             |lr AS (SELECT hv FROM kr WHERE rn <= ${KmvK}),
             |mg AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
             |    count(*) OVER () AS msize
             |  FROM (SELECT hv FROM la UNION SELECT hv FROM lr) u),
             |ea AS (SELECT CASE WHEN max(nd) < ${KmvK} THEN max(nd)
             |    ELSE CAST(${KmvK - 1} AS BIGINT) * 1000000007
             |      // max(CASE WHEN rn = ${KmvK} THEN hv END) END AS est_a FROM ka),
             |er AS (SELECT CASE WHEN max(nd) < ${KmvK} THEN max(nd)
             |    ELSE CAST(${KmvK - 1} AS BIGINT) * 1000000007
             |      // max(CASE WHEN rn = ${KmvK} THEN hv END) END AS est_r FROM kr),
             |eu AS (SELECT CASE WHEN max(msize) < ${KmvK} THEN max(msize)
             |    ELSE CAST(${KmvK - 1} AS BIGINT) * 1000000007
             |      // max(CASE WHEN rn = ${KmvK} THEN hv END) END AS est_union,
             |    least(${KmvK}, max(msize)) AS kk FROM mg),
             |nb AS (SELECT count(*) AS n_both FROM mg
             |  WHERE rn <= ${KmvK}
             |    AND hv IN (SELECT hv FROM la) AND hv IN (SELECT hv FROM lr)),
             |ex AS (SELECT count(*) AS n_exact_union,
             |    CAST(sum(ha) AS BIGINT) AS n_exact_a,
             |    CAST(sum(hr) AS BIGINT) AS n_exact_r,
             |    CAST(sum(ha * hr) AS BIGINT) AS n_exact_inter
             |  FROM (SELECT l_partkey,
             |      max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS ha,
             |      max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS hr
             |    FROM lineitem WHERE l_returnflag IN ('A','R') GROUP BY 1) f)
             |SELECT n_exact_a, n_exact_r, n_exact_union, n_exact_inter,
             |  CAST(est_a AS BIGINT) AS est_a, CAST(est_r AS BIGINT) AS est_r,
             |  CAST(est_union AS BIGINT) AS est_union,
             |  CAST(n_both * est_union // kk AS BIGINT) AS est_inter
             |FROM ex CROSS JOIN ea CROSS JOIN er CROSS JOIN eu CROSS JOIN nb""".stripMargin)),

    // ---- portable HLL: HyperLogLog with an EXACT cross-engine oracle
    // (the trick q24's native sketch can't do: its HLL++ registers are
    // implementation-internal). Same scale shape as any HLL — two
    // map-side-combining hash aggs, O(m) state per group — but every
    // step is engine-portable: scrambled poly-hash, bucket = hv % m,
    // rho = trailing-zeros+1 via bit_count((x & -x) - 1), integer
    // register sum 2^(G-M), and the standard raw / linear-counting
    // estimator in IEEE-identical order (ln only in the LC branch; a
    // 1-ulp ln divergence would need floor(est) to straddle an integer
    // at 1e-13 relative — checked by the gate at both SFs).
    "q37_hll_portable" -> QueryDef(
      (s, dir) => {
        import graft.functions.KMinAgg
        // register build + estimator live in operators/SketchState (the
        // ONE Scala rendering, shared with q51's incremental merge);
        // this oracle predates the extraction and pins it bit-for-bit
        val li = table(s, dir, "lineitem")
        val hashed = li.select(col("l_returnflag"),
          KMinAgg.scramble(PolyHash.col(
            col("l_partkey").cast("string"))).as("hv"))
        val regs = graft.operators.SketchState.hllRegisters(
          hashed, Seq("l_returnflag"), "hv", HllP, HllMaxRho)
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct("l_partkey").as("n_exact"))
        graft.operators.SketchState.estimateDistinct(
            regs, Seq("l_returnflag"), HllP, HllG)
          .join(broadcast(exact), "l_returnflag")
          .orderBy("l_returnflag")
      },
      Some(s"""WITH ${QueryDef.scrambledHashCtes("lineitem", Seq("l_returnflag"),
                 "CAST(l_partkey AS VARCHAR)")},
             |${hllEstCtes(Seq("l_returnflag"))}
             |SELECT f.l_returnflag, CAST(floor(f.est) AS BIGINT) AS est_distinct,
             |  x.n_exact
             |FROM fin f JOIN (SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
             |  FROM lineitem GROUP BY 1) x USING (l_returnflag)
             |ORDER BY 1""".stripMargin)),

    // ---- incremental aggregate-state maintenance: per-(source, lang)
    // corpus stats kept as MERGEABLE state. The engine computes via the
    // incremental path — the base batch (doc_id % 10 != 0) builds
    // state, the delta batch (doc_id % 10 == 0) aggregates separately,
    // states merge (sums add, HLL registers take per-bucket max). The
    // oracle recomputes from the FULL corpus in one pass, so
    // hash-equality PROVES merge(build(A), build(B)) == build(A ∪ B) —
    // the law that lets a 100 TB pipeline maintain yesterday's stats
    // table against today's delta without rescanning history.
    "q51_incremental_stats" -> QueryDef(
      (s, dir) => {
        import graft.functions.KMinAgg
        import graft.operators.{SketchState, TextOps}
        val keys = Seq("source", "lang")
        val docs = table(s, dir, "documents")
        val base = docs.filter(col("doc_id") % 10 =!= 0)
        val delta = docs.filter(col("doc_id") % 10 === 0)
        def hashedTerms(df: org.apache.spark.sql.DataFrame) = df
          .select(col("source"), col("lang"),
            explode(TextOps.words(col("text"))).as("term"))
          .filter(length(col("term")) > 0)
          .select(col("source"), col("lang"),
            KMinAgg.scramble(PolyHash.col(col("term"))).as("hv"))
        def stats(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("n_docs"),
            sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
        val mergedRegs = SketchState.mergeRegisters(
          SketchState.hllRegisters(hashedTerms(base), keys, "hv", HllP, HllMaxRho),
          SketchState.hllRegisters(hashedTerms(delta), keys, "hv", HllP, HllMaxRho),
          keys)
        val mergedStats = stats(base).unionByName(stats(delta))
          .groupBy(keys.map(col): _*)
          .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
        mergedStats.join(
            SketchState.estimateDistinct(mergedRegs, keys, HllP, HllG),
            keys, "left")
          .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
            coalesce(col("est_distinct"), lit(0L)).as("est_terms"))
          .orderBy("source", "lang")
      },
      Some(s"""WITH tk AS (
             |  SELECT source, lang, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |${QueryDef.scrambledHashCtes("(SELECT * FROM tk WHERE len(term) > 0)",
                Seq("source", "lang"), "term")},
             |${hllEstCtes(Seq("source", "lang"))},
             |st AS (SELECT source, lang, count(*) AS n_docs,
             |    sum(len(string_split(text, ' '))) AS n_tokens
             |  FROM documents GROUP BY 1, 2)
             |SELECT st.source, st.lang, CAST(st.n_docs AS BIGINT) AS n_docs,
             |  CAST(st.n_tokens AS BIGINT) AS n_tokens,
             |  CAST(coalesce(floor(f.est), 0) AS BIGINT) AS est_terms
             |FROM st LEFT JOIN fin f USING (source, lang)
             |ORDER BY 1, 2""".stripMargin)),

    // ---- stratified Bernoulli sample (sampleBy's deterministic
    // analog): per-stratum keep-rates via a hash THRESHOLD — keep the
    // row iff 1000·hv < rate_pm·P. Unlike q34's bottom-k this is a
    // pure scan-side filter (no per-group state, no sort, no extra
    // shuffle — the only exchange is the final tiny aggregate), which
    // is the 100 TB shape for downsampling a skewed corpus: the
    // estimator rescales each stratum by its own rate using exact
    // integer arithmetic, so the oracle reproduces it bit-for-bit.
    "q38_stratified_sample" -> QueryDef(
      (s, dir) => {
        import graft.functions.KMinAgg
        val rates = StratRatesPm // permille per l_returnflag stratum
        val thr = element_at(typedLit(rates), col("l_returnflag")).cast("long")
        val hv = KMinAgg.scramble(PolyHash.col(
          concat_ws("_", col("l_orderkey"), col("l_linenumber"))))
        table(s, dir, "lineitem")
          .select(col("l_returnflag"), hv.as("__hv"),
            cents(col("l_quantity")).as("__qty_c"), thr.as("__pm"))
          .filter(col("__hv") * 1000 < col("__pm") * lit(1000000007L))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_sample"),
            sum("__qty_c").as("sum_qty_c"), max("__pm").as("__pm"))
          // Horvitz-Thompson rescale: DIV is true integer floor
          // division on both engines (all operands non-negative)
          .select(col("l_returnflag"), col("n_sample"), col("sum_qty_c"),
            expr("CAST((sum_qty_c * 1000) DIV __pm AS BIGINT)").as("est_total_qty_c"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH ${QueryDef.scrambledHashCtes(
                 "(SELECT l_returnflag, CAST(round(l_quantity*100) AS BIGINT) AS qc, " +
                   "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS rk FROM lineitem)",
                 Seq("l_returnflag", "qc"), "rk")},
             |rates(flag, pm) AS (VALUES ${StratRatesPm.toSeq.sorted.map { case (f, r) => s"('$f', $r)" }.mkString(", ")}),
             |smp AS (SELECT h.l_returnflag, h.qc, r.pm FROM h
             |  JOIN rates r ON r.flag = h.l_returnflag
             |  WHERE h.hv * 1000 < CAST(r.pm AS BIGINT) * 1000000007)
             |SELECT l_returnflag, count(*) AS n_sample,
             |  CAST(sum(qc) AS BIGINT) AS sum_qty_c,
             |  CAST(sum(qc) * 1000 // max(pm) AS BIGINT) AS est_total_qty_c
             |FROM smp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- unpivot (melt): the inverse of q31's pivot — wide measure
    // columns to (key, measure, value) rows via the native unpivot
    // operator (a generator, no shuffle; the orderBy here is only for
    // the deterministic gate). Oracle uses the portable UNION ALL
    // rendering rather than dialect UNPIVOT syntax.
    "q41_unpivot" -> QueryDef(
      (s, dir) => table(s, dir, "lineitem")
        .filter(col("l_quantity") <= 3)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          cents(col("l_quantity")).as("qty_c"), cents(col("l_extendedprice")).as("price_c"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("qty_c"), col("price_c")), "measure", "value_c"),
      Some("""WITH src AS (
             |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |    CAST(round(l_quantity*100) AS BIGINT) AS qty_c,
             |    CAST(round(l_extendedprice*100) AS BIGINT) AS price_c
             |  FROM lineitem WHERE l_quantity <= 3)
             |SELECT l_orderkey, l_linenumber, 'qty_c' AS measure, qty_c AS value_c FROM src
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'price_c', price_c FROM src
             |ORDER BY 1, 2, 3""".stripMargin)),

    // ---- latest record per key WITHOUT a sort: max_by over a
    // composite (date, key) tie-break — one map-side-combining
    // aggregate, O(1) state per group, vs the window row_number
    // formulation's full per-group sort. The tie-break encodes as one
    // BIGINT (epoch-days * 1e10 + orderkey; keys < 1e10 by TPC-H
    // construction) because DuckDB's arg_max takes scalar comparators
    // only — same encoded key on both engines.
    "q42_latest_per_key" -> QueryDef(
      (s, dir) => {
        val sortKey = datediff(col("o_orderdate"), lit("1970-01-01")).cast("long") *
          lit(10000000000L) + col("o_orderkey")
        table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            cents(col("o_totalprice")).as("total_c"))
          .groupBy("o_custkey")
          .agg(max_by(struct(col("o_orderdate"), col("o_orderkey"), col("total_c")),
            sortKey).as("m"))
          .select(col("o_custkey"),
            date_format(col("m.o_orderdate"), "yyyy-MM-dd").as("latest_date"),
            col("m.o_orderkey").as("o_orderkey"), col("m.total_c").as("total_c"))
          .orderBy("o_custkey")
      },
      Some("""WITH src AS (
             |  SELECT o_custkey, o_orderdate, o_orderkey,
             |    CAST(round(o_totalprice*100) AS BIGINT) AS total_c,
             |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
             |      * 10000000000 + o_orderkey AS sk
             |  FROM orders)
             |SELECT o_custkey,
             |  strftime(arg_max(o_orderdate, sk), '%Y-%m-%d') AS latest_date,
             |  arg_max(o_orderkey, sk) AS o_orderkey,
             |  arg_max(total_c, sk) AS total_c
             |FROM src GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- deterministic uniform sample + quantile estimate: bottom-k
    // rows by scrambled row-key hash IS a simple random sample (the
    // distributed consistent-sampling pattern), so the sample median
    // is exactly reproducible — another approximate operator with an
    // exact cross-engine oracle. O(k) mergeable state via the native
    // topk_sketch heap (score = -hash: its (score desc, id asc) order
    // is (hash asc, value asc); scrambled hashes < 2^30 are exact in
    // double).
    "q34_sample_quantile" -> QueryDef(
      (s, dir) => {
        import graft.functions.KMinAgg
        val k = SampleK
        table(s, dir, "lineitem")
          .select(col("l_returnflag"),
            KMinAgg.scramble(PolyHash.col(
              concat_ws("_", col("l_orderkey"), col("l_linenumber")))).as("h"),
            cents(col("l_quantity")).as("qty_c"))
          .groupBy("l_returnflag")
          .agg(TopKSketch.col(col("qty_c"),
            (-col("h")).cast("double"), k).as("sample"))
          .withColumn("vals", array_sort(col("sample.id")))
          .select(col("l_returnflag"),
            expr("element_at(vals, CAST((size(vals) + 1) DIV 2 AS INT))")
              .as("med_sample_qty_c"),
            size(col("vals")).cast("long").as("n_sample"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH ${QueryDef.scrambledHashCtes(
                 "(SELECT l_returnflag, CAST(round(l_quantity*100) AS BIGINT) AS v, " +
                   "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS rk FROM lineitem)",
                 Seq("l_returnflag", "v"), "rk")},
             |r AS (SELECT l_returnflag, v,
             |    row_number() OVER (PARTITION BY l_returnflag ORDER BY hv, v) AS rn
             |  FROM h),
             |smp AS (SELECT l_returnflag, v FROM r WHERE rn <= ${SampleK}),
             |o AS (SELECT l_returnflag, v,
             |    row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS vr,
             |    count(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM smp)
             |SELECT l_returnflag,
             |  CAST(max(CASE WHEN vr = (n - 1) // 2 + 1 THEN v END) AS BIGINT) AS med_sample_qty_c,
             |  CAST(max(n) AS BIGINT) AS n_sample
             |FROM o GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- exact median (interpolation exact at 0.5 over int cents) ---
    "q20_median" -> QueryDef(
      (s, dir) => table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(CAST(round(l_quantity*100) AS BIGINT), 0.5)").as("median_qty_c"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.5) AS median_qty_c,
             |  count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- interval-overlap join (interval × interval) ----------------
    // Both sides are interval SETS (urgent vs low-priority order spans
    // on a day axis). The naive plan is a BNLJ theta join; the binned
    // equi-join (operators/IntervalJoin.overlapJoin) fixes THAT, but
    // pair-row output is still quadratic in interval DENSITY at fixed
    // axis length (round-8 scale audit: 19.8× on 10× data). The
    // aggregate actually asked for — pair counts and overlap days per
    // 30-day window — never needs the pairs: gridOverlapStats
    // compresses each side to its (lo, hi) day grid with
    // multiplicities, joins the GRIDS (size ∝ axis × distinct
    // lengths, independent of row count), and weights by nl × nr.
    // O(n + grid²/bins): linear in data. The DuckDB oracle keeps the
    // naive pair-enumeration formulation — an independent derivation
    // of the same aggregate, so a weighting bug here cannot hide.
    "q43_interval_overlap" -> QueryDef(
      (s, dir) => {
        def iv(prio: String, p: String) = table(s, dir, "orders")
          .filter(col("o_orderpriority") === prio)
          .select(col("o_orderkey").as(s"${p}_key"),
            datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long").as(s"${p}_lo"))
          .withColumn(s"${p}_hi",
            col(s"${p}_lo") + lit(1L) + pmod(col(s"${p}_key"), lit(7L)))
        graft.operators.IntervalJoin.gridOverlapStats(
            iv("1-URGENT", "a"), iv("5-LOW", "b"),
            "a_lo", "a_hi", "b_lo", "b_hi", binWidth = 7L)
          .groupBy((col("ostart") / 30).cast("long").as("win30"))
          .agg(sum("n_pairs").as("n_pairs"),
            sum(col("n_pairs") * (col("oend") - col("ostart") + 1)).as("overlap_days"))
          .orderBy("win30")
      },
      Some("""WITH a AS (
             |  SELECT o_orderkey AS ak,
             |    CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS lo
             |  FROM orders WHERE o_orderpriority = '1-URGENT'),
             |a2 AS (SELECT ak, lo, lo + 1 + ak % 7 AS hi FROM a),
             |b AS (
             |  SELECT o_orderkey AS bk,
             |    CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS lo
             |  FROM orders WHERE o_orderpriority = '5-LOW'),
             |b2 AS (SELECT bk, lo, lo + 1 + bk % 7 AS hi FROM b),
             |p AS (SELECT greatest(a2.lo, b2.lo) AS ostart,
             |        least(a2.hi, b2.hi) AS oend
             |      FROM a2 JOIN b2 ON a2.lo <= b2.hi AND b2.lo <= a2.hi)
             |SELECT CAST(floor(ostart / 30.0) AS BIGINT) AS win30,
             |  count(*) AS n_pairs,
             |  CAST(sum(oend - ostart + 1) AS BIGINT) AS overlap_days
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- CDC merge / upsert (snapshot maintenance) ------------------
    // The training-corpus refresh primitive: apply a change feed
    // (upserts + deletes) to a base snapshot. Spark-first shape: union
    // base rows (version 0) with change rows (version 1+) and take
    // max_by(version) per key — ONE map-side-combining aggregation, no
    // window, no full-outer join; delete markers drop in the same pass.
    // Change feed derived deterministically from orders: each customer
    // with ≥1 urgent order gets an upsert (new balance = cents of their
    // max urgent total), custkey % 10 == 3 of those become deletes.
    "q44_merge_upsert" -> QueryDef(
      (s, dir) => {
        val base = table(s, dir, "customer")
          .select(col("c_custkey").as("k"), col("c_name").as("name"),
            cents(col("c_acctbal")).as("bal_c"),
            lit(0L).as("v"), lit(false).as("del"))
        val changes = table(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(col("o_custkey").as("k"))
          .agg(max(cents(col("o_totalprice"))).as("bal_c"))
          .select(col("k"), concat(lit("upd#"), col("k")).as("name"),
            col("bal_c"), lit(1L).as("v"),
            (pmod(col("k"), lit(10L)) === 3).as("del"))
        base.unionByName(changes)
          .groupBy("k")
          .agg(max_by(struct(col("name"), col("bal_c"), col("del")), col("v")).as("m"))
          .filter(!col("m.del"))
          .select(col("k"), col("m.name").as("name"), col("m.bal_c").as("bal_c"))
          .orderBy("k")
      },
      Some("""WITH base AS (
             |  SELECT c_custkey AS k, c_name AS name,
             |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_c,
             |    0 AS v, false AS del
             |  FROM customer),
             |changes AS (
             |  SELECT o_custkey AS k,
             |    'upd#' || CAST(o_custkey AS VARCHAR) AS name,
             |    CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS bal_c,
             |    1 AS v, (o_custkey % 10 = 3) AS del
             |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1, 2, 4, 5),
             |u AS (SELECT * FROM base UNION ALL SELECT * FROM changes)
             |SELECT k, arg_max(name, v) AS name, arg_max(bal_c, v) AS bal_c
             |FROM u GROUP BY k HAVING NOT arg_max(del, v)
             |ORDER BY k""".stripMargin)),

    // ---- Z-order (Morton) layout key --------------------------------
    // The data-layout primitive behind writeZOrdered (GraftIO): bit-
    // interleave (custkey, order-day) so files/row-groups get narrow
    // min-max ranges in BOTH dimensions. Pure codegen'd bit arithmetic;
    // the oracle renders the same interleave loop in SQL
    // (functions/ZOrder.scala keeps the two in one generator).
    "q45_zorder_key" -> QueryDef(
      (s, dir) => {
        val day = datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long")
        table(s, dir, "orders")
          .select(col("o_orderkey"),
            graft.functions.ZOrder.zValue(
              Seq(col("o_custkey"), day), bits = 16).as("zkey"))
      },
      Some(s"""SELECT o_orderkey,
             |  ${graft.functions.ZOrder.zValueSql(Seq("o_custkey",
                  "date_diff('day', DATE '1995-01-01', o_orderdate)"), 16)} AS zkey
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- snapshot diff (corpus change audit) ------------------------
    // What changed between two ingests: full-outer join on the key
    // comparing content hashes → added / removed / changed / unchanged
    // counts. The twin snapshot is derived deterministically (drop
    // id%7==0, rewrite text of id%11==0, append shifted new ids). ONE
    // hash-partitioned full-outer join of (key, hash) pairs — content
    // never moves, output is the audit aggregate.
    "q48_snapshot_diff" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val a = docs.select(col("doc_id"), xxhash64(col("text")).as("h"))
        val b = docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            xxhash64(when(col("doc_id") % 11 === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("h"))
          .unionByName(docs.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 90000).as("doc_id"), xxhash64(col("text")).as("h")))
        a.withColumnRenamed("h", "ha")
          .join(b.withColumnRenamed("h", "hb"), Seq("doc_id"), "full_outer")
          .select(when(col("ha").isNull, "added")
            .when(col("hb").isNull, "removed")
            .when(col("ha") =!= col("hb"), "changed")
            .otherwise("unchanged").as("status"))
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status")
      },
      Some("""WITH a AS (SELECT doc_id, hash(text) AS h FROM documents),
             |b AS (
             |  SELECT doc_id,
             |    hash(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS h
             |  FROM documents WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id + 90000, hash(text) FROM documents WHERE doc_id % 13 = 0)
             |SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
             |            WHEN b.doc_id IS NULL THEN 'removed'
             |            WHEN a.h <> b.h THEN 'changed'
             |            ELSE 'unchanged' END AS status,
             |  count(*) AS n
             |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- bucketed co-located join ----------------------------------
    // lineitem + orders staged once per session as 8-bucket tables on
    // the order key (Staged.bucketedLiOrd): the recurring-join pattern
    // at 100 TB — pay one bucketed write, then every subsequent join
    // reads pre-partitioned buckets and plans ZERO exchanges on the
    // join key (GraftIOSpec asserts the plan shape). The merge hint
    // pins SMJ so the demonstration doesn't ride on broadcast sizing;
    // results are identical to the plain join, which is the oracle.
    "q50_bucketed_join" -> QueryDef(
      (s, dir) => {
        val (li, ord) = Staged.bucketedLiOrd(s, dir)
        li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(cents(col("l_quantity"))).as("sum_qty_c"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- manifest-pruned range scan: the data-skipping pattern behind
    // modern table formats. lineitem is staged once as a
    // range-clustered table with a per-file min/max manifest
    // (GraftIO.writeWithManifest); the key-range query consults the
    // tiny manifest driver-side and OPENS only intersecting files
    // (GraftIOSpec asserts <= 2 of 8 for a 10% range). The oracle is
    // the plain filter over the source table: skipping must be
    // result-invisible.
    "q54_manifest_scan" -> QueryDef(
      (s, dir) => {
        val path = Staged.manifestedLineitem(s, dir)
        graft.sources.GraftIO.readPruned(s, path, "l_orderkey", 100L, 900L)
          .groupBy()
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("l_orderkey").as("n_orders"),
            sum("price_c").as("sum_price_c"))
          .select(col("n_rows"), col("n_orders"), col("sum_price_c"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
             |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
             |    AS sum_price_c
             |FROM lineitem
             |WHERE l_orderkey BETWEEN 100 AND 900""".stripMargin)),

    // ---- SCD2 history build (validity intervals) --------------------
    // The slowly-changing-dimension shape: per customer, each order
    // opens a version valid until the NEXT order's date — one lead()
    // window partitioned by the key (no global sort; each customer's
    // history sorts within its hash partition, the same plan at 100 TB
    // with AQE handling stragglers). NULL valid_to marks the current
    // version; ties on date break by orderkey so the interval chain is
    // deterministic.
    "q55_scd2_intervals" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            cents(col("o_totalprice")).as("price_c"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
            date_format(lead(col("o_orderdate"), 1).over(w), "yyyy-MM-dd")
              .as("valid_to"),
            when(lead(col("o_orderdate"), 1).over(w).isNull, 1L).otherwise(0L)
              .as("is_current"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
             |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
             |  strftime(lead(o_orderdate, 1) OVER w, '%Y-%m-%d') AS valid_to,
             |  CAST(CASE WHEN lead(o_orderdate, 1) OVER w IS NULL
             |    THEN 1 ELSE 0 END AS BIGINT) AS is_current
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin)),

    // ---- table profiling ("ANALYZE"-style column summary) -----------
    // One scan computes count/nulls/min/max/ndv for three measure
    // columns, emitted long-format via stack(). The three exact
    // countDistinct aggregates expand the scan 3x (Spark's
    // distinct-agg EXPAND) — the documented cost of exactness; the
    // approximate twin of this query is q24's HLL. All aggregation is
    // map-side partial; only 3 tiny state rows shuffle.
    "q56_profile" -> QueryDef(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        def prof(c: String) = Seq(
          count(col(c)).as(s"${c}_n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          min(cents(col(c))).as(s"${c}_min_c"),
          max(cents(col(c))).as(s"${c}_max_c"),
          countDistinct(cents(col(c))).as(s"${c}_ndv"))
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
        val aggs = cols.flatMap(prof)
        li.agg(aggs.head, aggs.tail: _*)
          .select(expr(
            "stack(3, " + cols.map(c =>
              s"'$c', ${c}_n, ${c}_nulls, ${c}_min_c, ${c}_max_c, ${c}_ndv")
              .mkString(", ") +
            ") AS (col_name, n_rows, n_nulls, min_c, max_c, ndv)"))
          .orderBy("col_name")
      },
      Some("""SELECT 'l_quantity' AS col_name, count(l_quantity) AS n_rows,
             |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  CAST(min(round(l_quantity*100)) AS BIGINT) AS min_c,
             |  CAST(max(round(l_quantity*100)) AS BIGINT) AS max_c,
             |  count(DISTINCT CAST(round(l_quantity*100) AS BIGINT)) AS ndv
             |FROM lineitem
             |UNION ALL
             |SELECT 'l_extendedprice', count(l_extendedprice),
             |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(min(round(l_extendedprice*100)) AS BIGINT),
             |  CAST(max(round(l_extendedprice*100)) AS BIGINT),
             |  count(DISTINCT CAST(round(l_extendedprice*100) AS BIGINT))
             |FROM lineitem
             |UNION ALL
             |SELECT 'l_discount', count(l_discount),
             |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(min(round(l_discount*100)) AS BIGINT),
             |  CAST(max(round(l_discount*100)) AS BIGINT),
             |  count(DISTINCT CAST(round(l_discount*100) AS BIGINT))
             |FROM lineitem
             |ORDER BY col_name""".stripMargin)),

    // ---- correlated EXISTS + uncorrelated IN subqueries -------------
    // The TPC-H Q4 shape on the SQL surface (q25 covers the SCALAR
    // subquery form; q8/q9 the DataFrame semi/anti API). Catalyst
    // rewrites the correlated EXISTS to a left-semi hash join on the
    // order key and the IN to a semi join on the grouped customer set
    // — no per-row subquery execution survives planning, which is
    // exactly why the form is safe at 100 TB.
    "q58_exists_subquery" -> QueryDef(
      (s, dir) => {
        table(s, dir, "orders").createOrReplaceTempView("graft_q58_orders")
        table(s, dir, "lineitem").createOrReplaceTempView("graft_q58_lineitem")
        s.sql("""SELECT o_orderpriority, count(*) AS n_orders
                |FROM graft_q58_orders
                |WHERE EXISTS (SELECT 1 FROM graft_q58_lineitem
                |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
                |  AND o_custkey IN (SELECT o_custkey FROM graft_q58_orders
                |                    GROUP BY 1 HAVING count(*) >= 2)
                |GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |  AND o_custkey IN (SELECT o_custkey FROM orders
             |                    GROUP BY 1 HAVING count(*) >= 2)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- recursive CTE (hierarchy walk) -----------------------------
    // Spark 4's WITH RECURSIVE (UnionLoopExec): every order walks its
    // synthetic binary-tree ancestor chain (k → k div 2) to the root —
    // the BOM-explosion / org-chart shape SQL engines answer with
    // recursion. The 100-TB discipline: the walk is PRE-AGGREGATED
    // before the recursion. Neither engine permits aggregates over the
    // recursive reference (INVALID_RECURSIVE_REFERENCE — verified), so
    // the per-(depth, ancestor) contraction can't live inside the
    // loop; instead the fact table contracts FIRST. A key with
    // floor(log2 k) = b (computed exactly as length(bin(k))-1 — no
    // double log) reaches exactly depths 0..b, so the recursion walks
    // the ~33-row log-bucket dimension carrying (cnt, min, max) state,
    // not the n-row fact table: row volume drops from n·log2(maxKey)
    // (~50M at sf1) to log²(maxKey)/2 (~600), and the default 1M
    // recursion safety limit no longer needs raising. Termination is
    // d-1 to 0 — provable, ~33 rounds. Still a genuine UnionLoopExec
    // capability row; DuckDB runs the identical recursion.
    "q57_recursive_walk" -> QueryDef(
      (s, dir) => {
        table(s, dir, "orders").createOrReplaceTempView("graft_q57_orders")
        s.sql("""WITH RECURSIVE lg AS (
                |  SELECT length(bin(o_orderkey)) - 1 AS b, count(*) AS cnt,
                |    min(o_orderkey) AS mn, max(o_orderkey) AS mx
                |  FROM graft_q57_orders GROUP BY 1),
                |walk(b, d, cnt, mn, mx) AS (
                |  SELECT b, b, cnt, mn, mx FROM lg
                |  UNION ALL
                |  SELECT b, d - 1, cnt, mn, mx FROM walk WHERE d > 0)
                |SELECT CAST(d AS BIGINT) AS depth, sum(cnt) AS n_orders,
                |  min(mn) AS min_key, max(mx) AS max_key
                |FROM walk GROUP BY d ORDER BY depth""".stripMargin)
      },
      Some("""WITH RECURSIVE lg AS (
             |  SELECT length(bin(o_orderkey)) - 1 AS b, count(*) AS cnt,
             |    min(o_orderkey) AS mn, max(o_orderkey) AS mx
             |  FROM orders GROUP BY 1),
             |walk(b, d, cnt, mn, mx) AS (
             |  SELECT b, b, cnt, mn, mx FROM lg
             |  UNION ALL
             |  SELECT b, d - 1, cnt, mn, mx FROM walk WHERE d > 0)
             |SELECT CAST(d AS BIGINT) AS depth, CAST(sum(cnt) AS BIGINT) AS n_orders,
             |  CAST(min(mn) AS BIGINT) AS min_key, CAST(max(mx) AS BIGINT) AS max_key
             |FROM walk GROUP BY d ORDER BY depth""".stripMargin)),

    // ---- data-quality audit (long format) ---------------------------
    // ANALYZE-style constraint audit across the star schema: null
    // checks, domain checks, key-uniqueness violations, and FK orphan
    // counts, one long-format row per check. Shape: the null/domain
    // checks are ONE conditional-agg scan per table (map-side partial
    // state only); key uniqueness is a map-side-combining groupBy on
    // the key (sum of n-1 over keys seen more than once — never a
    // count(distinct) EXPAND); FK orphans are left-anti joins keyed on
    // the FK (the standard shuffle shape; at 100 TB the dimension side
    // of orders→customer broadcasts under AQE sizing). Every branch
    // returns exactly one row, so the union is a dimension-sized
    // result regardless of fact-table scale.
    "q59_dq_audit" -> QueryDef(
      (s, dir) => {
        def one(tbl: String, check: String, n: org.apache.spark.sql.Column,
                src: DataFrame): DataFrame =
          src.agg(n.cast("long").as("n_bad"))
            .select(lit(tbl).as("table_name"), lit(check).as("check_name"),
              col("n_bad"))
        val li = table(s, dir, "lineitem")
        val ord = table(s, dir, "orders")
        val cust = table(s, dir, "customer")
        val ev = table(s, dir, "events")
        val dupOrders = ord.groupBy("o_orderkey")
          .agg(count(lit(1)).as("k"))
          .filter(col("k") > 1)
          .agg(coalesce(sum(col("k") - 1), lit(0L)).cast("long").as("n_bad"))
          .select(lit("orders").as("table_name"),
            lit("dup_o_orderkey").as("check_name"), col("n_bad"))
        val orphanLi = one("lineitem", "orphan_l_orderkey", count(lit(1)),
          li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti"))
        val orphanOrd = one("orders", "orphan_o_custkey", count(lit(1)),
          ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti"))
        one("lineitem", "null_l_orderkey",
            count(when(col("l_orderkey").isNull, 1)), li)
          .unionAll(one("lineitem", "nonpos_quantity",
            count(when(col("l_quantity") <= 0, 1)), li))
          .unionAll(one("lineitem", "discount_range",
            count(when(col("l_discount") < 0 || col("l_discount") > 1, 1)), li))
          .unionAll(dupOrders)
          .unionAll(orphanLi)
          .unionAll(orphanOrd)
          .unionAll(one("events", "null_props",
            count(when(col("props").isNull, 1)), ev))
          .unionAll(one("events", "neg_value",
            count(when(col("value") < 0, 1)), ev))
          .orderBy("table_name", "check_name")
      },
      Some("""SELECT * FROM (
             |  SELECT 'lineitem' AS table_name, 'null_l_orderkey' AS check_name,
             |    CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_bad
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem', 'nonpos_quantity',
             |    CAST(count(CASE WHEN l_quantity <= 0 THEN 1 END) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem', 'discount_range',
             |    CAST(count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'orders', 'dup_o_orderkey',
             |    CAST(coalesce(sum(k - 1), 0) AS BIGINT)
             |  FROM (SELECT o_orderkey, count(*) AS k FROM orders GROUP BY 1) d
             |  WHERE k > 1
             |  UNION ALL
             |  SELECT 'lineitem', 'orphan_l_orderkey', CAST(count(*) AS BIGINT)
             |  FROM lineitem l WHERE NOT EXISTS
             |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
             |  UNION ALL
             |  SELECT 'orders', 'orphan_o_custkey', CAST(count(*) AS BIGINT)
             |  FROM orders o WHERE NOT EXISTS
             |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
             |  UNION ALL
             |  SELECT 'events', 'null_props',
             |    CAST(count(CASE WHEN props IS NULL THEN 1 END) AS BIGINT)
             |  FROM events
             |  UNION ALL
             |  SELECT 'events', 'neg_value',
             |    CAST(count(CASE WHEN value < 0 THEN 1 END) AS BIGINT)
             |  FROM events
             |) ORDER BY table_name, check_name""".stripMargin)),

    // ---- RFM customer segmentation ----------------------------------
    // The BI staple: per-customer recency/frequency/monetary scores on
    // fixed business thresholds, rolled up to segment counts. Fixed
    // thresholds (not per-dimension quantiles) keep the plan ONE
    // map-side-combining agg + a 1-row max-date broadcast — the
    // quantile variant is t19's histogram trick applied three times,
    // documented as the alternative; scores are exact integer so the
    // segment assignment is engine-portable.
    "q66_rfm_segments" -> QueryDef(
      (s, dir) => {
        val ord = table(s, dir, "orders")
        val perCust = ord.groupBy("o_custkey").agg(
          max("o_orderdate").as("last_d"),
          count(lit(1)).as("freq"),
          sum(cents(col("o_totalprice"))).as("mon_c"))
        val maxD = ord.agg(max("o_orderdate").as("corpus_max"))
        perCust.crossJoin(broadcast(maxD))
          .withColumn("rec_days",
            datediff(col("corpus_max"), col("last_d")).cast("long"))
          .withColumn("r", when(col("rec_days") <= 90, 3L)
            .when(col("rec_days") <= 365, 2L).otherwise(1L))
          .withColumn("f", when(col("freq") >= 15, 3L)
            .when(col("freq") >= 8, 2L).otherwise(1L))
          .withColumn("m", when(col("mon_c") >= 300000000L, 3L)
            .when(col("mon_c") >= 150000000L, 2L).otherwise(1L))
          .groupBy("r", "f", "m")
          .agg(count(lit(1)).as("n_customers"), sum("mon_c").as("mon_c_total"))
          .orderBy(col("r").desc, col("f").desc, col("m").desc)
      },
      Some("""WITH pc AS (
             |  SELECT o_custkey, max(o_orderdate) AS last_d, count(*) AS freq,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS mon_c
             |  FROM orders GROUP BY 1),
             |mx AS (SELECT max(o_orderdate) AS corpus_max FROM orders),
             |scored AS (
             |  SELECT
             |    CASE WHEN date_diff('day', last_d, corpus_max) <= 90 THEN 3
             |         WHEN date_diff('day', last_d, corpus_max) <= 365 THEN 2
             |         ELSE 1 END AS r,
             |    CASE WHEN freq >= 15 THEN 3 WHEN freq >= 8 THEN 2 ELSE 1 END AS f,
             |    CASE WHEN mon_c >= 300000000 THEN 3
             |         WHEN mon_c >= 150000000 THEN 2 ELSE 1 END AS m,
             |    mon_c
             |  FROM pc CROSS JOIN mx)
             |SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
             |  CAST(m AS BIGINT) AS m, count(*) AS n_customers,
             |  CAST(sum(mon_c) AS BIGINT) AS mon_c_total
             |FROM scored GROUP BY 1, 2, 3
             |ORDER BY r DESC, f DESC, m DESC""".stripMargin)),

    // ---- multiset set operations ------------------------------------
    // EXCEPT ALL / INTERSECT ALL — bag semantics, which q15's
    // DISTINCT-flavored set ops cannot express (a part returned 3×
    // and accepted once leaves 2 excess rows, not 1). Spark plans both
    // as a single hash aggregation over tagged counts (no join);
    // output is the per-op summary (rows, distinct keys, key checksum)
    // so the result stays dimension-sized.
    "q65_multiset_ops" -> QueryDef(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val r = li.filter(col("l_returnflag") === "R").select("l_partkey")
        val a = li.filter(col("l_returnflag") === "A").select("l_partkey")
        def summ(op: String, df: DataFrame): DataFrame =
          df.groupBy("l_partkey").agg(count(lit(1)).as("k"))
            .agg(coalesce(sum("k"), lit(0L)).cast("long").as("n_rows"),
              count(lit(1)).cast("long").as("n_keys"),
              coalesce(sum(col("l_partkey") * col("k")), lit(0L)).cast("long")
                .as("key_sum"))
            .select(lit(op).as("op"), col("n_rows"), col("n_keys"), col("key_sum"))
        summ("except_all", r.exceptAll(a))
          .unionAll(summ("intersect_all", r.intersectAll(a)))
          .orderBy("op")
      },
      Some("""WITH r AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
             |a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
             |ex AS (SELECT l_partkey FROM r EXCEPT ALL SELECT l_partkey FROM a),
             |ia AS (SELECT l_partkey FROM r INTERSECT ALL SELECT l_partkey FROM a)
             |SELECT 'except_all' AS op, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_keys,
             |  CAST(coalesce(sum(l_partkey), 0) AS BIGINT) AS key_sum
             |FROM ex
             |UNION ALL
             |SELECT 'intersect_all', CAST(count(*) AS BIGINT),
             |  CAST(count(DISTINCT l_partkey) AS BIGINT),
             |  CAST(coalesce(sum(l_partkey), 0) AS BIGINT)
             |FROM ia
             |ORDER BY op""".stripMargin)),

    // ---- incremental view maintenance: JOIN view --------------------
    // q51 proved mergeable AGGREGATE state; this lifts the contract to
    // a JOIN view. Revenue-per-customer over orders ⋈ lineitem is
    // maintained under a delta ingest via the delta-join algebra:
    //   Δ(O ⋈ L) = ΔO⋈L₀  ∪  O₀⋈ΔL  ∪  ΔO⋈ΔL
    // The engine computes the base state plus the three delta terms
    // (each a keyed join over the SMALLER delta side — at 100 TB the
    // deltas broadcast and history is never rescanned except by the
    // delta probes) and merges by re-aggregation; the oracle
    // recomputes the full view over the union in one pass, so hash
    // equality PROVES the delta algebra, not just the numbers.
    "q63_ivm_join" -> QueryDef(
      (s, dir) => {
        val ord = table(s, dir, "orders")
        val li = table(s, dir, "lineitem")
        val o0 = ord.filter(col("o_orderkey") % 10 =!= 0)
        val dO = ord.filter(col("o_orderkey") % 10 === 0)
        val l0 = li.filter(col("l_partkey") % 7 =!= 0)
        val dL = li.filter(col("l_partkey") % 7 === 0)
        def part(o: DataFrame, l: DataFrame): DataFrame =
          o.join(l, o("o_orderkey") === l("l_orderkey"))
            .groupBy(col("o_custkey"))
            .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .as("rev_c"), count(lit(1)).as("n_items"))
        part(o0, l0).unionByName(part(dO, l0))
          .unionByName(part(o0, dL)).unionByName(part(dO, dL))
          .groupBy("o_custkey")
          .agg(sum("rev_c").as("rev_c"), sum("n_items").as("n_items"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |    AS BIGINT)) AS BIGINT) AS rev_c,
             |  count(*) AS n_items
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- diversified top-k (per-group quota) ------------------------
    // Top-10 orders by value with AT MOST 2 PER CUSTOMER — the
    // quota-constrained selection every leaderboard/sampler needs
    // (plain top-k returns one whale's orders ten times). Shape: the
    // per-customer rank window partitions by custkey (bounded groups),
    // the survivors (≤ 2·|customers| rows) feed a
    // TakeOrderedAndProject global cut — no global sort of the fact
    // table; both ranks use the (value DESC, key) total order.
    "q76_diversified_topk" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("price_c").desc, col("o_orderkey"))
        table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            cents(col("o_totalprice")).as("price_c"))
          .withColumn("cust_rank", row_number().over(w).cast("long"))
          .filter(col("cust_rank") <= 2)
          .orderBy(col("price_c").desc, col("o_orderkey"))
          .limit(10)
          .select("o_orderkey", "o_custkey", "price_c", "cust_rank")
      },
      Some("""WITH ranked AS (
             |  SELECT o_orderkey, o_custkey,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY round(o_totalprice * 100) DESC, o_orderkey)
             |      AS cust_rank
             |  FROM orders)
             |SELECT o_orderkey, o_custkey, price_c,
             |  CAST(cust_rank AS BIGINT) AS cust_rank
             |FROM ranked WHERE cust_rank <= 2
             |ORDER BY price_c DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- market-basket co-occurrence (pairwise lift) ----------------
    // Top co-purchased part pairs by exact-integer scaled lift =
    // P(x,y)/(P(x)P(y)) — the classic association-rule primitive
    // (t23's PMI surrogate lifted from text bigrams to order baskets).
    // Shape: collect each order's DISTINCT parts with ONE exchange of
    // lineitem (groupBy(order) + map-side-combining collect_set — the
    // dedup rides the same aggregation), then generate the k(k-1)/2
    // in-basket pairs with a codegen'd array lambda over the sorted
    // basket — no self-join, so lineitem crosses the wire once instead
    // of three times (the pre-r12 formulation paid a distinct shuffle
    // PLUS both sides of a key-join re-exchange, and recomputed the
    // distinct for every consumer). Fanout per order is bounded by
    // basket size (TPC-H <= 7 lines; a retail basket ~10²), so the
    // exploded pair volume is a small constant x lineitem, NOT
    // all-pairs over parts. The basket table is staged (billed to the
    // staging map) because supports, pair counts, and the order count
    // all read it. Lift's division order (c_xy·1e6 DIV c_x, then
    // ·N DIV c_y — t23's overflow discipline: every intermediate
    // <= c_xy·1e6 <= 9e12 at 1e6 orders, safe to N ~ 9e12 baskets) is
    // identical on both engines. Top-20 under a (lift, support, pair)
    // total order via TakeOrderedAndProject — no global sort of the
    // pair table.
    "q67_copurchase_lift" -> QueryDef(
      (s, dir) => {
        val baskets = Staged.cached(s, s"q67baskets:$dir") {
          table(s, dir, "lineitem")
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
            .groupBy("ok")
            .agg(sort_array(collect_set(col("pk"))).as("parts"))
        }
        val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
        // r15: the per-part support aggregate feeds BOTH lift joins —
        // without a cache the basket explode + groupBy runs twice (the
        // r14 audit's q67 deferral). Part-NDV-bounded (dimension-sized),
        // persisted and tracked for the session release sweep; AQE
        // still picks the join strategy from its actual shuffle size.
        val supp = graft.operators.CacheTracker.persist(baskets
          .select(explode(col("parts")).as("pk"))
          .groupBy("pk").agg(count(lit(1)).as("c")))
        val pairs = baskets
          .select(explode(expr(
            // all ordered pairs (pa < pb) of the sorted basket
            """flatten(transform(parts, (x, i) ->
              |  transform(slice(parts, i + 2, size(parts)),
              |            y -> struct(x AS pa, y AS pb))))""".stripMargin))
            .as("pr"))
          .groupBy(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
          .agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= 3)
        pairs
          .join(supp.select(col("pk").as("pa"), col("c").as("c_x")), "pa")
          .join(supp.select(col("pk").as("pb"), col("c").as("c_y")), "pb")
          .crossJoin(broadcast(nOrders))
          .select(col("pa"), col("pb"), col("c_xy"), col("c_x"), col("c_y"),
            expr("CAST((c_xy * 1000000 DIV c_x * n_orders) DIV c_y AS BIGINT)")
              .as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("c_xy").desc, col("pa"), col("pb"))
          .limit(20)
      },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem),
             |n AS (SELECT count(DISTINCT ok) AS n_orders FROM b),
             |supp AS (SELECT pk, count(*) AS c FROM b GROUP BY 1),
             |pairs AS (
             |  SELECT a.pk AS pa, c.pk AS pb, count(*) AS c_xy
             |  FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT pa, pb, c_xy, x.c AS c_x, y.c AS c_y,
             |  CAST((c_xy * 1000000 // x.c * n.n_orders) // y.c AS BIGINT)
             |    AS lift_ppm
             |FROM pairs
             |JOIN supp x ON x.pk = pa
             |JOIN supp y ON y.pk = pb
             |CROSS JOIN n
             |ORDER BY lift_ppm DESC, c_xy DESC, pa, pb LIMIT 20""".stripMargin)),

    // ---- tumbling event-time window aggregation ---------------------
    // eventsRaw normalizes ts to epoch-nanos long; bucketing is then
    // exact integer arithmetic — also what you'd do at 100 TB to keep
    // the bucket computation codegen'd and cast-free.
    "q16_event_window" -> QueryDef(
      (s, dir) => eventsRaw(s, dir)
        .withColumn("bucket", expr("ts div 3600000000000"))
        .groupBy(col("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c"))
        .select(date_format(timestamp_seconds(col("bucket") * 3600), "yyyy-MM-dd HH:mm").as("wstart"),
          col("event_type"), col("n"), col("value_c"))
        .orderBy("wstart", "event_type"),
      Some("""SELECT strftime(make_timestamp((epoch_ns(ts) // 3600000000000) * 3600000000),
             |    '%Y-%m-%d %H:%M') AS wstart,
             |  event_type, count(*) AS n,
             |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- SCD Type-2 dimension build (change-collapse) ---------------
    // q55's missing half: q55 emits one validity interval per
    // OBSERVATION; real Type-2 maintenance versions only on CHANGE —
    // consecutive re-observations of the same attribute value collapse
    // into one interval (lag-filter), then versions renumber and
    // valid_to re-derives over the SURVIVORS. Shape: ONE
    // shuffle by the dimension key for the lag/lead/row_number windows
    // (all three share the same (key, date, tiebreak) sort, so Spark
    // plans ONE sort + window chain); no self-join, no global window.
    // At 100 TB the observation log is naturally keyed by the
    // dimension key — this is exactly the partitioning the window
    // needs, and per-key history is small (window state is bounded).
    "q78_scd2_build" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
        table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate").cast("date").as("od"),
            col("o_orderkey"), col("o_orderpriority").as("attr"))
          .withColumn("prev", lag("attr", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("attr"))
          .withColumn("version", row_number().over(w).cast("long"))
          .withColumn("valid_to", lead("od", 1).over(w))
          .select(col("o_custkey"), col("version"), col("attr"),
            col("od").as("valid_from"), col("valid_to"),
            col("valid_to").isNull.cast("long").as("is_current"))
      },
      Some("""WITH obs AS (
             |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_orderkey,
             |    o_orderpriority AS attr FROM orders),
             |ch AS (
             |  SELECT *, lag(attr) OVER
             |      (PARTITION BY o_custkey ORDER BY od, o_orderkey) AS prev
             |  FROM obs),
             |flt AS (SELECT * FROM ch WHERE prev IS NULL OR prev <> attr)
             |SELECT o_custkey, CAST(row_number() OVER w AS BIGINT) AS version,
             |  attr, od AS valid_from, lead(od) OVER w AS valid_to,
             |  CAST(CASE WHEN lead(od) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT)
             |    AS is_current
             |FROM flt
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)
             |ORDER BY o_custkey, version""".stripMargin)),

    // ---- UNPIVOT (wide -> long melt) --------------------------------
    // The long-format normalization every metrics pipeline needs:
    // attribute columns become (attr, val) rows via the native unpivot
    // operator (an Expand node — narrow, zero shuffle, stays inside
    // whole-stage codegen; NOT a union of N scans, which would read
    // the table N times at 100 TB). DuckDB runs its own UNPIVOT.
    "q79_unpivot" -> QueryDef(
      (s, dir) => table(s, dir, "customer")
        .select(col("c_custkey"),
          cents(col("c_acctbal")).as("acctbal_c"),
          col("c_nationkey").cast("long").as("nationkey"))
        .unpivot(Array(col("c_custkey")),
          Array(col("acctbal_c"), col("nationkey")), "attr", "val"),
      Some("""SELECT c_custkey, attr, val FROM (
             |  SELECT c_custkey, CAST(round(c_acctbal*100) AS BIGINT) AS acctbal_c,
             |    CAST(c_nationkey AS BIGINT) AS nationkey FROM customer)
             |UNPIVOT (val FOR attr IN (acctbal_c, nationkey))
             |ORDER BY c_custkey, attr""".stripMargin)),

    // ---- CDC changelog compaction (upsert/delete apply) -------------
    // The lakehouse MERGE shape without a table format — q44's
    // two-snapshot merge generalized to a MULTI-VERSION log: a change
    // log keyed by primary key (events as upserts; 'error' = tombstone)
    // with TIMESTAMP ordering (not an explicit version column)
    // compacts to final state = the LAST operation per key, dropped if
    // it is a delete; EventStream.streamingCompaction maintains the
    // same rule live (stream==batch spec-pinned).
    // Shape: one map-side-combinable max(struct) agg
    // keyed by the primary key — NO window over the log (a hot key
    // would serialize a window; max(struct) stays mergeable and
    // skew-safe, the repo's d16 keep-rule discipline), no join.
    // (ts, event_id) leads the struct, so lexicographic max IS
    // last-writer-wins with a deterministic unique tiebreak.
    "q80_cdc_compaction" -> QueryDef(
      (s, dir) => eventsRaw(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("tsu"),
          col("event_id"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
          cents(col("value")).as("value_c"))
        .groupBy("user_id")
        .agg(max(struct(col("tsu"), col("event_id"), col("op"), col("value_c"))).as("last"),
          count(lit(1)).as("n_versions"))
        .filter(col("last.op") =!= "D")
        .select(col("user_id"), col("last.tsu").as("last_ts_us"),
          col("last.value_c").as("value_c"), col("n_versions"))
        .orderBy("user_id"),
      Some("""WITH log AS (
             |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
             |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             |    CAST(round(value*100) AS BIGINT) AS value_c
             |  FROM events),
             |r AS (
             |  SELECT *, row_number() OVER
             |      (PARTITION BY user_id ORDER BY tsu DESC, event_id DESC) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS nv
             |  FROM log)
             |SELECT user_id, tsu AS last_ts_us, value_c,
             |  CAST(nv AS BIGINT) AS n_versions
             |FROM r WHERE rn = 1 AND op <> 'D'
             |ORDER BY user_id""".stripMargin)),

    // ---- incremental VIEW maintenance (retraction model) ------------
    // Exact GROUP BY views maintained from a changelog with SIGNED
    // multiplicities (+1 insert, -1 retraction — the Flink/differential
    // dataflow retract stream): view' = merge(view, agg(changelog)),
    // additive in every column, so maintenance NEVER rescans the base
    // fact table — the 100-TB materialized-view contract (q51 does this
    // for sketch state; this is the exact-aggregate face). Changelog:
    // post-cutoff orders arrive as inserts, every pre-cutoff order with
    // key%10=3 is retracted. Oracle recomputes the final corpus from
    // scratch — hash equality proves the retraction algebra: to the
    // reader, merge(build(base), delta) IS build(base' ∪ new).
    "q82_view_maintenance" -> QueryDef(
      (s, dir) => {
        val cutoff = "1996-01-01"
        val orders = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
            col("o_orderdate"), cents(col("o_totalprice")).as("price_c"))
        def agg(df: DataFrame) = df.groupBy("pri")
          .agg(sum(col("w")).as("n"), sum(col("w") * col("price_c")).as("total_c"))
        val view = agg(orders.filter(col("o_orderdate") < lit(cutoff))
          .withColumn("w", lit(1L)))
        val changelog =
          orders.filter(col("o_orderdate") >= lit(cutoff)).withColumn("w", lit(1L))
            .unionByName(orders.filter(col("o_orderdate") < lit(cutoff) &&
              pmod(col("o_orderkey"), lit(10L)) === 3).withColumn("w", lit(-1L)))
        view.unionByName(agg(changelog))
          .groupBy("pri").agg(sum("n").as("n"), sum("total_c").as("total_c"))
          .filter(col("n") > 0)
          .orderBy("pri")
      },
      Some("""WITH final AS (
             |  SELECT o_orderpriority AS pri,
             |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c
             |  FROM orders
             |  WHERE o_orderdate >= DATE '1996-01-01'
             |     OR o_orderkey % 10 <> 3)
             |SELECT pri, count(*) AS n,
             |  CAST(sum(price_c) AS BIGINT) AS total_c
             |FROM final GROUP BY 1 HAVING count(*) > 0 ORDER BY 1""".stripMargin)),

    // ---- dynamic partition pruning (DPP) ----------------------------
    // The partitioned-fact-table join every warehouse runs: the fact
    // side is hive-partitioned on the join key (Staged.partitionedOrders
    // — at 100 TB this is the date/category layout), the dim side is a
    // tiny parquet filtered on an attribute whose qualifying keys are
    // NOT knowable at plan time — so static pruning is impossible and
    // Spark must inject a runtime dynamicpruning subquery that reads
    // the broadcast dim ONCE and opens only matching fact partitions
    // (3 of 5 here; plan-asserted in PlanShapeSpec). Without DPP this
    // scans the full fact table; with it, scan volume ∝ selected
    // partitions — THE reason to co-design partition layout with join
    // keys at scale.
    "q84_dpp_join" -> QueryDef(
      (s, dir) => {
        val (factPath, dimPath) = Staged.partitionedOrders(s, dir)
        val fact = s.read.parquet(factPath)
        val dim = s.read.parquet(dimPath).filter(col("cls") === "hot")
        fact.join(dim, fact("o_orderpriority") === dim("pri"))
          .groupBy("pri")
          .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_c"))
          .orderBy("pri")
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             |    AS total_c
             |FROM orders
             |WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- LATERAL correlated subquery in FROM ------------------------
    // The third correlated-subquery surface beside q25 (scalar in
    // WHERE) and q58 (EXISTS): a LATERAL derived table per outer row —
    // each customer's order count and priciest order in one FROM-clause
    // correlation. Catalyst DECORRELATES it to an aggregate + join
    // (plan has no per-row subquery execution — the property that makes
    // the surface usable at 100 TB; same rewrite class DuckDB applies).
    // Top-level customers only (c_custkey <= 200) to keep output
    // dimension-sized.
    "q87_lateral" -> QueryDef(
      (s, dir) => {
        table(s, dir, "customer").createOrReplaceTempView("graft_q87_cust")
        table(s, dir, "orders").createOrReplaceTempView("graft_q87_ord")
        s.sql("""SELECT c.c_custkey, l.n_orders, l.max_price_c
                |FROM graft_q87_cust c,
                |LATERAL (
                |  SELECT count(*) AS n_orders,
                |    CAST(round(max(o_totalprice) * 100) AS BIGINT) AS max_price_c
                |  FROM graft_q87_ord o WHERE o.o_custkey = c.c_custkey) l
                |WHERE c.c_custkey <= 200 AND l.n_orders > 0
                |ORDER BY c.c_custkey""".stripMargin)
      },
      Some("""SELECT c.c_custkey, l.n_orders, l.max_price_c
             |FROM customer c,
             |LATERAL (
             |  SELECT count(*) AS n_orders,
             |    CAST(round(max(o_totalprice) * 100) AS BIGINT) AS max_price_c
             |  FROM orders o WHERE o.o_custkey = c.c_custkey) l
             |WHERE c.c_custkey <= 200 AND l.n_orders > 0
             |ORDER BY c.c_custkey""".stripMargin)),

    // ---- schema evolution across ingest generations -----------------
    // The 100-TB ingest reality: files written before a producer
    // upgrade lack the new column. Generation 1 writes orders WITHOUT
    // the priority column (pre-cutoff), generation 2 WITH it; a
    // mergeSchema read (GraftIO.readParquetEvolving — explicit opt-in,
    // it costs a footer pass per file) surfaces the old rows with NULL
    // priority, and the aggregate must treat the generations
    // uniformly. Oracle replays the generation rule directly (NULL
    // priority for pre-cutoff rows).
    "q86_schema_evolution" -> QueryDef(
      (s, dir) => {
        val cutoff = "1996-01-01"
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path = Staged.cachedAny(s, s"evo:$dir") {
          val p = s"target/orders_evo_$tag"
          val orders = table(s, dir, "orders")
          orders.filter(col("o_orderdate") < lit(cutoff))
            .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
            .write.mode("overwrite").parquet(s"$p/gen=1")
          orders.filter(col("o_orderdate") >= lit(cutoff))
            .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
              col("o_orderpriority").as("pri"))
            .write.mode("overwrite").parquet(s"$p/gen=2")
          p
        }
        graft.sources.GraftIO.readParquetEvolving(s, path)
          .groupBy(coalesce(col("pri"), lit("<pre-upgrade>")).as("pri"))
          .agg(count(lit(1)).as("n"), sum("price_c").as("total_c"))
          .orderBy("pri")
      },
      Some("""SELECT coalesce(CASE WHEN o_orderdate >= DATE '1996-01-01'
             |    THEN o_orderpriority END, '<pre-upgrade>') AS pri,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             |    AS total_c
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- bitemporal point-in-time reconstruction --------------------
    // Two time axes (Snodgrass/SQL:2011 shape): VALID time = the order
    // date (when the attribute held in the world), TRANSACTION time =
    // the ingest sequence (o_orderkey — when the warehouse learned it).
    // Question answered: "which answers about the past CHANGED as late
    // data arrived" — each customer's priority valid on D, as known at
    // transaction time K (half the ingest) vs known now; rows where
    // the two reconstructions disagree are the late-arriving
    // corrections an audit must surface. Shape: the per-axis
    // reconstruction is ONE skew-safe max(struct) agg (last
    // observation with od <= D in (valid, tx) order — never a global
    // sort, never a window over the fact table), then one key join of
    // the two dimension-sized snapshots. The single driver-side action
    // is the 1-row max-ingest-id read (the K cutoff — control flow).
    "q83_bitemporal" -> QueryDef(
      (s, dir) => {
        val d = "1995-06-30"
        val orders = table(s, dir, "orders")
        val kmax = orders.agg(max("o_orderkey")).head.getLong(0)
        val obs = orders.filter(col("o_orderdate") <= lit(d))
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("od"),
            col("o_orderpriority").as("attr"))
        def asOfTx(k: Long) = obs.filter(col("o_orderkey") <= k)
          .groupBy("o_custkey")
          .agg(max(struct(col("od"), col("o_orderkey"), col("attr"))).as("m"))
          .select(col("o_custkey"), col("m.attr").as("attr"))
        asOfTx(kmax / 2).withColumnRenamed("attr", "attr_then")
          .join(asOfTx(kmax).withColumnRenamed("attr", "attr_now"),
            Seq("o_custkey"), "full_outer")
          .filter(!(col("attr_then") <=> col("attr_now")))
          .orderBy("o_custkey")
      },
      Some("""WITH mx AS (SELECT max(o_orderkey) // 2 AS k1 FROM orders),
             |obs AS (
             |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
             |    o_orderpriority AS attr
             |  FROM orders WHERE o_orderdate <= DATE '1995-06-30'),
             |a1 AS (
             |  SELECT o_custkey, attr FROM (
             |    SELECT o_custkey, attr, row_number() OVER
             |      (PARTITION BY o_custkey ORDER BY od DESC, o_orderkey DESC) AS rn
             |    FROM obs WHERE o_orderkey <= (SELECT k1 FROM mx))
             |  WHERE rn = 1),
             |a2 AS (
             |  SELECT o_custkey, attr FROM (
             |    SELECT o_custkey, attr, row_number() OVER
             |      (PARTITION BY o_custkey ORDER BY od DESC, o_orderkey DESC) AS rn
             |    FROM obs)
             |  WHERE rn = 1)
             |SELECT coalesce(a1.o_custkey, a2.o_custkey) AS o_custkey,
             |  a1.attr AS attr_then, a2.attr AS attr_now
             |FROM a1 FULL OUTER JOIN a2 ON a1.o_custkey = a2.o_custkey
             |WHERE a1.attr IS DISTINCT FROM a2.attr
             |ORDER BY 1""".stripMargin)),

    // ---- TPC-H Q5 shape: 6-way star join, revenue by nation ---------
    // The canonical fact×fact×4-dims plan: lineitem⋈orders⋈customer are
    // the shuffle joins (AQE picks the build sides), supplier joins on
    // BOTH l_suppkey and the c_nationkey = s_nationkey locality
    // condition, nation/region are explicit broadcasts. At 100 TB the
    // only full-size exchanges are the two fact keys; the date filter
    // reaches the orders scan (pushed predicate prunes row groups).
    "q88_regional_revenue" -> QueryDef(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val o = table(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
        val c = table(s, dir, "customer")
        val su = table(s, dir, "supplier")
        val n = table(s, dir, "nation")
        val r = table(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, li("l_suppkey") === su("s_suppkey") &&
            c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .filter(r("r_name") === "ASIA")
          .groupBy(n("n_name"))
          .agg(sum(round(li("l_extendedprice") * (lit(1) - li("l_discount")) * 100)
              .cast("long")).as("revenue_c"),
            count(lit(1)).as("n_items"))
          .orderBy(desc("revenue_c"), asc("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |    AS BIGINT)) AS BIGINT) AS revenue_c,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |  AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= DATE '1996-01-01'
             |  AND o_orderdate < DATE '1997-01-01'
             |GROUP BY 1 ORDER BY revenue_c DESC, n_name""".stripMargin)),

    // ---- TPC-H Q8 shape: market share by order year -----------------
    // Conditional aggregation over the joined facts: one pass computes
    // total revenue AND the NATION_7-supplied slice per year; the share
    // is exact integer permille (DIV truncates identically on both
    // engines — see DedupQueries' division convention note).
    "q89_market_share" -> QueryDef(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val o = table(s, dir, "orders")
        val c = table(s, dir, "customer")
        val su = table(s, dir, "supplier")
        val cn = table(s, dir, "nation")
        val sn = table(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))
        val r = table(s, dir, "region")
        val rev = round(li("l_extendedprice") * (lit(1) - li("l_discount")) * 100)
          .cast("long")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(cn), c("c_nationkey") === cn("n_nationkey"))
          .join(broadcast(r), cn("n_regionkey") === r("r_regionkey"))
          .join(su, li("l_suppkey") === su("s_suppkey"))
          .join(broadcast(sn), su("s_nationkey") === col("sn_key"))
          .filter(r("r_name") === "EUROPE")
          .groupBy(year(o("o_orderdate")).cast("long").as("yr"))
          .agg(sum(when(col("sn_name") === "NATION_7", rev).otherwise(0L)).as("nat_c"),
            sum(rev).as("total_c"))
          .withColumn("share_pm", expr("1000 * nat_c DIV total_c"))
          .select("yr", "nat_c", "total_c", "share_pm")
          .orderBy("yr")
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
             |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             |    ELSE 0 END) AS BIGINT) AS nat_c,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |    AS BIGINT)) AS BIGINT) AS total_c,
             |  (1000 * CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
             |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             |    ELSE 0 END) AS BIGINT))
             |    // CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |      AS BIGINT)) AS BIGINT) AS share_pm
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation cn ON c_nationkey = cn.n_nationkey
             |JOIN region ON cn.n_regionkey = r_regionkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation sn ON s_nationkey = sn.n_nationkey
             |WHERE r_name = 'EUROPE'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- TPC-H Q15 shape: argmax via scalar subquery ----------------
    // Quarterly revenue per supplier, keep the supplier(s) at the max:
    // the scalar subquery over the SAME aggregate is planned once and
    // reused (Spark materializes the subquery result as a 1-row
    // broadcast; the CTE is not re-scanned per row).
    "q90_top_supplier" -> QueryDef(
      (s, dir) => {
        table(s, dir, "lineitem").createOrReplaceTempView("graft_q90_li")
        table(s, dir, "supplier").createOrReplaceTempView("graft_q90_su")
        s.sql("""WITH rev AS (
                |  SELECT l_suppkey,
                |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                |      AS BIGINT)) AS BIGINT) AS total_c
                |  FROM graft_q90_li
                |  WHERE l_shipdate >= DATE '1996-01-01'
                |    AND l_shipdate < DATE '1996-04-01'
                |  GROUP BY 1)
                |SELECT s_suppkey, s_name, total_c
                |FROM graft_q90_su JOIN rev ON s_suppkey = l_suppkey
                |WHERE total_c = (SELECT max(total_c) FROM rev)
                |ORDER BY s_suppkey""".stripMargin)
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |      AS BIGINT)) AS BIGINT) AS total_c
             |  FROM lineitem
             |  WHERE l_shipdate >= DATE '1996-01-01'
             |    AND l_shipdate < DATE '1996-04-01'
             |  GROUP BY 1)
             |SELECT s_suppkey, s_name, total_c
             |FROM supplier JOIN rev ON s_suppkey = l_suppkey
             |WHERE total_c = (SELECT max(total_c) FROM rev)
             |ORDER BY s_suppkey""".stripMargin)),

    // ---- NOT IN (subquery) with a nullable inner key ----------------
    // The three-valued-logic trap: `k NOT IN (set)` is NULL (not TRUE)
    // whenever the inner set contains a NULL, so the planner cannot use
    // a plain anti join — Spark plans a NULL-aware anti join (NAAJ:
    // broadcast hash with the null-check fallback). nullif keeps the
    // inner key STATICALLY nullable while holding the data null-free,
    // so the query exercises the NAAJ plan with a non-degenerate
    // result. PlanShapeSpec pins the NAAJ operator.
    "q91_not_in_nulls" -> QueryDef(
      (s, dir) => {
        table(s, dir, "customer").createOrReplaceTempView("graft_q91_cust")
        table(s, dir, "orders").createOrReplaceTempView("graft_q91_ord")
        s.sql("""SELECT c_custkey, c_name
                |FROM graft_q91_cust
                |WHERE c_custkey <= 500
                |  AND c_custkey NOT IN (
                |    SELECT nullif(o_custkey, -1) FROM graft_q91_ord
                |    WHERE o_orderstatus = 'F')
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name
             |FROM customer
             |WHERE c_custkey <= 500
             |  AND c_custkey NOT IN (
             |    SELECT nullif(o_custkey, -1) FROM orders
             |    WHERE o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // ---- TPC-H Q21 shape: double-correlated existential self-joins --
    // "Suppliers who kept orders waiting": finalized multi-supplier
    // orders where THIS supplier shipped >90 days after the order and
    // NO OTHER supplier on the order did. EXISTS + NOT EXISTS against
    // the same fact table, both correlated on the outer order (the NOT
    // EXISTS also on the outer supplier AND the outer order's date —
    // multi-attribute correlation). Plan shape: two left-semi/anti
    // joins keyed on l_orderkey against the big fact — the hardest
    // classic TPC-H join topology (Q21), absent from q8/q9/q58's
    // single-existential shapes. Scale: every join is keyed (no
    // product); the fact shuffles on l_orderkey once per existential,
    // and the count-per-supplier output is dimension-sized.
    "q105_wait_blame" -> QueryDef(
      (s, dir) => {
        table(s, dir, "lineitem").createOrReplaceTempView("graft_q105_li")
        table(s, dir, "orders").createOrReplaceTempView("graft_q105_ord")
        table(s, dir, "supplier").createOrReplaceTempView("graft_q105_su")
        s.sql("""SELECT s_name, count(*) AS numwait
                |FROM graft_q105_su, graft_q105_li l1, graft_q105_ord o
                |WHERE s_suppkey = l1.l_suppkey
                |  AND o.o_orderkey = l1.l_orderkey
                |  AND o.o_orderstatus = 'F'
                |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAYS
                |  AND EXISTS (
                |    SELECT 1 FROM graft_q105_li l2
                |    WHERE l2.l_orderkey = l1.l_orderkey
                |      AND l2.l_suppkey <> l1.l_suppkey)
                |  AND NOT EXISTS (
                |    SELECT 1 FROM graft_q105_li l3
                |    WHERE l3.l_orderkey = l1.l_orderkey
                |      AND l3.l_suppkey <> l1.l_suppkey
                |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAYS)
                |GROUP BY s_name
                |ORDER BY numwait DESC, s_name
                |LIMIT 20""".stripMargin)
      },
      Some("""SELECT s_name, count(*) AS numwait
             |FROM supplier, lineitem l1, orders o
             |WHERE s_suppkey = l1.l_suppkey
             |  AND o.o_orderkey = l1.l_orderkey
             |  AND o.o_orderstatus = 'F'
             |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
             |  AND EXISTS (
             |    SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey
             |      AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (
             |    SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey
             |      AND l3.l_suppkey <> l1.l_suppkey
             |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
             |GROUP BY s_name
             |ORDER BY numwait DESC, s_name
             |LIMIT 20""".stripMargin)),

    // ---- GLOBAL running total via the custom PrefixSum operator -----
    // Corpus-wide cumulative revenue under the (day, orderkey) TOTAL
    // order — the query `sum OVER (ORDER BY ...)` answers with an
    // `Exchange SinglePartition` + one-task sort at any scale. This is
    // the repo's whole-operator extension showcase: PrefixSumPlan →
    // PrefixSumStrategy (injected via GraftExtensions /
    // PrefixOps.install) → PrefixSumExec, a two-phase distributed
    // prefix sum riding Spark's own range-exchange machinery
    // (PrefixSumSpec pins the plan: rangepartitioning, NO
    // SinglePartition stage; the window formulation is pinned to
    // CONTAIN one — the contrast that justifies the custom node).
    // The oracle is the windowed formulation, correct at oracle scale.
    "q109_running_total" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
          .select(col("o_orderkey"),
            col("o_orderdate").cast("date").as("day"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
        graft.plans.PrefixOps.runningTotal(o,
          Seq("day", "o_orderkey"), "price_c", "cum_rev_c")
      },
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum_rev_c
             |FROM orders
             |ORDER BY day, o_orderkey""".stripMargin)),

    // ---- robust anomaly flags: median/MAD over daily revenue --------
    // Median-absolute-deviation outlier scoring — the robust twin of
    // z-scores (one crazy day cannot drag the threshold the way it
    // drags a mean/stddev). Doubled-percentile trick keeps everything
    // integral: percentile(ints, 0.5) is either an int or a half, so
    // med2 = 2·median and mad4 = 2·median(2·|dev|) are EXACT BIGINTs,
    // and |x−med| > 3·MAD becomes the integer test 2·dev2 > 3·mad4.
    // Shape: the fact table contracts to the day axis FIRST; both
    // medians and the flags run on the contracted table (scalar
    // subqueries, not windows — no single-reducer sort of the corpus).
    "q107_mad_outliers" -> QueryDef(
      (s, dir) => {
        table(s, dir, "orders").createOrReplaceTempView("graft_q107_ord")
        s.sql("""WITH daily AS (
                |  SELECT CAST(o_orderdate AS DATE) AS day,
                |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                |      AS BIGINT) AS rev_c
                |  FROM graft_q107_ord GROUP BY 1),
                |m AS (SELECT CAST(2 * percentile(rev_c, 0.5) AS BIGINT) AS med2
                |  FROM daily),
                |dev AS (SELECT day, rev_c,
                |    abs(2 * rev_c - (SELECT med2 FROM m)) AS dev2 FROM daily),
                |md AS (SELECT CAST(2 * percentile(dev2, 0.5) AS BIGINT) AS mad4
                |  FROM dev)
                |SELECT day, rev_c, dev2,
                |  (SELECT med2 FROM m) AS med2,
                |  (SELECT mad4 FROM md) AS mad4,
                |  (2 * dev2 > 3 * (SELECT mad4 FROM md)) AS is_outlier
                |FROM dev ORDER BY day""".stripMargin)
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS rev_c
             |  FROM orders GROUP BY 1),
             |m AS (SELECT CAST(2 * quantile_cont(rev_c, 0.5) AS BIGINT) AS med2
             |  FROM daily),
             |dev AS (SELECT day, rev_c,
             |    abs(2 * rev_c - (SELECT med2 FROM m)) AS dev2 FROM daily),
             |md AS (SELECT CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
             |  FROM dev)
             |SELECT day, rev_c, dev2,
             |  (SELECT med2 FROM m) AS med2,
             |  (SELECT mad4 FROM md) AS mad4,
             |  (2 * dev2 > 3 * (SELECT mad4 FROM md)) AS is_outlier
             |FROM dev ORDER BY day""".stripMargin)),

    // ---- TPC-H Q22 shape: global-avg filter + anti join + rollup ----
    // "Lost customers worth chasing": positive-balance customers above
    // the GLOBAL average balance with no order since 2001-01-01
    // (dormant, not merely absent — the generator gives every customer
    // SOME order, as production CRMs usually do), rolled up per
    // nation. Q22's three-part topology — an uncorrelated scalar
    // aggregate feeding a filter, a NOT EXISTS anti join against the
    // fact, a dimension rollup — in one query. The avg threshold stays
    // an internal double (sum of cents is exact to 2^53, so both
    // engines divide identical integers); every OUTPUT is exact cents.
    // Dormancy cutoff audit (round-8 ADVICE feared a vacuous NOT
    // EXISTS): the SYNTHETIC o_orderdate range is 1995-01-01 ..
    // 2001-08-01 (not TPC-H spec's 1992-1998), so 2001-01-01 sits
    // inside it — measured at sf0.01 the anti join removes 377 of 662
    // above-average-balance customers. The anti-join leg is genuinely
    // exercised by the oracle; do not "fix" the cutoff based on spec
    // dates without re-measuring against the actual testdata.
    "q111_lost_customers" -> QueryDef(
      (s, dir) => {
        table(s, dir, "customer").createOrReplaceTempView("graft_q111_cust")
        table(s, dir, "orders").createOrReplaceTempView("graft_q111_ord")
        s.sql("""WITH c AS (
                |  SELECT c_custkey, c_nationkey,
                |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                |  FROM graft_q111_cust WHERE c_acctbal > 0)
                |SELECT c_nationkey, count(*) AS n_cust,
                |  CAST(sum(bal_c) AS BIGINT) AS total_bal_c
                |FROM c
                |WHERE bal_c > (SELECT avg(bal_c) FROM c)
                |  AND NOT EXISTS (
                |    SELECT 1 FROM graft_q111_ord o
                |    WHERE o.o_custkey = c.c_custkey
                |      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
                |GROUP BY c_nationkey
                |ORDER BY c_nationkey""".stripMargin)
      },
      Some("""WITH c AS (
             |  SELECT c_custkey, c_nationkey,
             |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
             |  FROM customer WHERE c_acctbal > 0)
             |SELECT c_nationkey, count(*) AS n_cust,
             |  CAST(sum(bal_c) AS BIGINT) AS total_bal_c
             |FROM c
             |WHERE bal_c > (SELECT avg(bal_c) FROM c)
             |  AND NOT EXISTS (
             |    SELECT 1 FROM orders o
             |    WHERE o.o_custkey = c.c_custkey
             |      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
             |GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin)),

    // ---- TPC-H Q18 shape: semi join against a grouped HAVING --------
    // Large-volume orders: total lineitem quantity > 300, joined back
    // to orders + customer. The classic Q18 topology: the fact
    // aggregates on its NATURAL key (map-side combinable, one shuffle
    // on l_orderkey), the HAVING filter collapses it to a tiny
    // survivor set, and AQE then BROADCASTS the survivors into the
    // orders and customer joins — at 100 TB the only full-width
    // shuffle is the one the aggregation itself needs. l_quantity is
    // an integral double; the sum is exact in double far past any
    // per-order row count, cast to BIGINT at the boundary.
    "q113_big_orders" -> QueryDef(
      (s, dir) => {
        val big = table(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(sum("l_quantity").cast("long").as("total_qty"))
          .filter(col("total_qty") > 300)
        val o = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            cents(col("o_totalprice")).as("price_c"))
        val c = table(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"))
        big.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("total_qty"), col("price_c"))
          .orderBy("o_orderkey")
      },
      Some("""WITH big AS (
             |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
             |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
             |SELECT c_custkey, c_name, o_orderkey, total_qty,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
             |FROM big JOIN orders ON o_orderkey = l_orderkey
             |JOIN customer ON c_custkey = o_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- native XML codec round-trip (to_xml / from_xml) ------------
    // Spark 4's built-in XML support (the spark-xml merge): each doc's
    // metadata struct is serialized with to_xml and parsed back with
    // from_xml against an explicit schema (attribute -> `_id`, typed
    // element fields), then aggregated per source — the
    // XML-feed-ingest shape. The parse is codegen-adjacent per row and
    // partition-local (no shuffle until the final 4-group agg); the
    // oracle recomputes from the raw columns, so ANY codec asymmetry
    // (escaping, numeric typing, attribute naming) hash-fails the
    // round trip end to end.
    "q117_xml_roundtrip" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.types._
        val docs = table(s, dir, "documents")
        val xml = docs.select(
          to_xml(struct(col("doc_id").as("_id"), col("source"),
            col("n_chars"), col("lang"))).as("x"))
        val schema = StructType(Seq(
          StructField("_id", LongType), StructField("source", StringType),
          StructField("n_chars", LongType), StructField("lang", StringType)))
        xml.select(from_xml(col("x"), schema).as("p"))
          .groupBy(col("p.source").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum("p.n_chars").as("sum_chars"),
            countDistinct("p.lang").as("n_langs"),
            min("p._id").as("min_id"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  count(DISTINCT lang) AS n_langs,
             |  min(doc_id) AS min_id
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- equi-depth binning / range-boundary planning ---------------
    // The RangePartitioner planning op: B-1 boundary values at ranks
    // ceil(i·n/B) split lineitem prices into equal-COUNT bins — what a
    // 100 TB engine computes (on a sample) before any range
    // repartition/sort so downstream partitions balance. Bins are
    // [edge_i, edge_{i+1}) half-open on the VALUE axis, so duplicate
    // boundary values collapse intervals and pile ties into one bin —
    // surfacing exactly the skew a range exchange would hit (empty
    // bins stay in the output via the interval spine). Exact ranks
    // come from the two-level cumulative histogram (RankStats) — the
    // value at rank r is the distinct value whose tie block covers r
    // (cum - cnt < r <= cum) — NOT a global row_number, whose
    // no-partitionBy window would sort every lineitem row in ONE task;
    // binning itself is a broadcast interval join, no second shuffle.
    "q116_equidepth_bins" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val B = 8
        val v = table(s, dir, "lineitem")
          .select(cents(col("l_extendedprice")).as("v"))
        // 1-row global stats (3-value driver boundary) feed the
        // histogram's bucket geometry and the B-1 target ranks
        val st = v.agg(count(lit(1)).as("n"), min("v").as("lo"),
          max("v").as("hi")).head
        val n = st.getLong(0); val lo = st.getLong(1); val hi = st.getLong(2)
        val hist = graft.operators.RankStats
          .cumulativeHistogram(v, Seq.empty, "v", bounds = Some((lo, hi)))
        val targets = (0 until B).map { i =>
          (i.toLong, if (i == 0) 1L else (i * n + B - 1) / B)
        }.toDF("i", "r")
        val edges = hist.join(broadcast(targets),
            col("r") > col("cum") - col("cnt") && col("r") <= col("cum"))
          .select(col("i"), col("v").as("e"))
          .union(Seq((B.toLong, hi + 1)).toDF("i", "e"))
        val ivals = edges
          // B+1 = 9 rows: a bounded no-partitionBy window by construction
          .withColumn("hi", lead("e", 1).over(Window.orderBy("i")))
          .filter(col("hi").isNotNull)
          .select(col("i").cast("long").as("bin"), col("e").as("lo_c"),
            col("hi").as("hi_excl_c"))
        val counts = v.join(broadcast(ivals),
            col("v") >= col("lo_c") && col("v") < col("hi_excl_c"))
          .groupBy("bin").agg(count(lit(1)).as("cnt"))
        ivals.join(counts, Seq("bin"), "left")
          .select(col("bin"), col("lo_c"), col("hi_excl_c"),
            coalesce(col("cnt"), lit(0L)).as("n_rows"))
          .orderBy("bin")
      },
      Some("""WITH v AS (
             |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
             |  FROM lineitem),
             |ranked AS (
             |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
             |    count(*) OVER () AS n
             |  FROM v),
             |eg AS (
             |  SELECT min(v) AS e0,
             |    min(CASE WHEN rn = (1 * n + 7) // 8 THEN v END) AS e1,
             |    min(CASE WHEN rn = (2 * n + 7) // 8 THEN v END) AS e2,
             |    min(CASE WHEN rn = (3 * n + 7) // 8 THEN v END) AS e3,
             |    min(CASE WHEN rn = (4 * n + 7) // 8 THEN v END) AS e4,
             |    min(CASE WHEN rn = (5 * n + 7) // 8 THEN v END) AS e5,
             |    min(CASE WHEN rn = (6 * n + 7) // 8 THEN v END) AS e6,
             |    min(CASE WHEN rn = (7 * n + 7) // 8 THEN v END) AS e7,
             |    max(v) + 1 AS e8
             |  FROM ranked),
             |edges AS (
             |  SELECT t.i, CASE t.i WHEN 0 THEN e0 WHEN 1 THEN e1
             |    WHEN 2 THEN e2 WHEN 3 THEN e3 WHEN 4 THEN e4
             |    WHEN 5 THEN e5 WHEN 6 THEN e6 WHEN 7 THEN e7
             |    ELSE e8 END AS e
             |  FROM eg, unnest(range(0, 9)) AS t(i)),
             |ivals AS (
             |  SELECT i, e AS lo_c, lead(e) OVER (ORDER BY i) AS hi_excl_c
             |  FROM edges QUALIFY hi_excl_c IS NOT NULL)
             |SELECT CAST(i AS BIGINT) AS bin, lo_c, hi_excl_c,
             |  (SELECT count(*) FROM v
             |   WHERE v.v >= ivals.lo_c AND v.v < ivals.hi_excl_c) AS n_rows
             |FROM ivals ORDER BY bin""".stripMargin)),

    // ---- single-pass observed metrics (CollectMetrics) --------------
    // Data-quality selectivity audit that rides the SAME action as the
    // real aggregation: `Dataset.observe` plants a CollectMetrics node
    // on the scan, so rows-scanned / pre-filter checksum are collected
    // by accumulator during the one pass the groupBy already needs —
    // at 100 TB this is the difference between auditing for free and
    // paying a second full scan. The 3-row collect is the documented
    // driver-side boundary (the metrics row is driver state by
    // construction; the heavy work all happens in the observed pass).
    "q114_observe_metrics" -> QueryDef(
      (s, dir) => {
        val obs = org.apache.spark.sql.Observation()
        val scanned = table(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity"),
            cents(col("l_extendedprice")).as("price_c"))
          .observe(obs,
            count(lit(1)).as("rows_scanned"),
            sum(col("price_c")).as("scanned_price_c"))
        val out = scanned.filter(col("l_quantity") >= 25)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"), sum("price_c").as("sum_price_c"))
        val flagRows = out.collect().map(r =>
          ("flag:" + r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        val m = obs.get
        val all = flagRows :+ (("_scan",
          m("rows_scanned").asInstanceOf[Long],
          m("scanned_price_c").asInstanceOf[Long]))
        import s.implicits._
        all.toDF("key", "n_rows", "sum_price_c").orderBy("key")
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag, l_quantity,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
             |  FROM lineitem)
             |SELECT 'flag:' || l_returnflag AS key, count(*) AS n_rows,
             |  CAST(sum(price_c) AS BIGINT) AS sum_price_c
             |FROM v WHERE l_quantity >= 25 GROUP BY 1
             |UNION ALL
             |SELECT '_scan', count(*), CAST(sum(price_c) AS BIGINT) FROM v
             |ORDER BY key""".stripMargin)),

    // ---- winsorized (robust) group statistics -----------------------
    // Mean of l_extendedprice cents per returnflag with the tails
    // clamped to the group's nearest-rank p10/p90 — the robust-stats
    // pass a metrics pipeline runs where a handful of corrupt rows
    // would otherwise drag the mean. Caps are NEAREST-RANK percentiles
    // (value at row ceil(p·n) of the group's sort), NOT interpolated:
    // rank selection is exact integer arithmetic on both engines,
    // whereas cont-percentile interpolation at p=0.1 multiplies by a
    // binary-inexact fraction. Caps come from the per-flag two-level
    // cumulative histogram (RankStats) — value at rank r is the
    // distinct price whose tie block covers r — NOT a per-flag
    // row_number: with 3 flag values that window sorted ~1/3 of
    // lineitem per task, a single-task stage in fact-table clothing.
    "q115_winsorized" -> QueryDef(
      (s, dir) => {
        val v = table(s, dir, "lineitem")
          .select(col("l_returnflag"), cents(col("l_extendedprice")).as("price_c"))
        val hist = graft.operators.RankStats
          .cumulativeHistogram(v, Seq("l_returnflag"), "price_c",
            // prices are near-row-distinct: the histogram is the one
            // RankStats input big enough that deduping its double
            // execution beats the cache cost (r15, measured)
            persistHist = true)
        val stats = v.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        val targets = stats.select(col("l_returnflag"), col("n"),
            explode(array(
              struct(lit("lo").as("which"),
                expr("(n * 10 + 99) DIV 100").as("r")),
              struct(lit("hi").as("which"),
                expr("(n * 90 + 99) DIV 100").as("r")))).as("t"))
          .select(col("l_returnflag"), col("n"),
            col("t.which").as("which"), col("t.r").as("r"))
        val caps = hist.join(broadcast(targets), Seq("l_returnflag"))
          .filter(col("r") > col("cum") - col("cnt") && col("r") <= col("cum"))
          .groupBy("l_returnflag")
          .agg(max("n").as("n"),
            min(when(col("which") === "lo", col("price_c"))).as("lo_c"),
            min(when(col("which") === "hi", col("price_c"))).as("hi_c"))
        table(s, dir, "lineitem")
          .select(col("l_returnflag"), cents(col("l_extendedprice")).as("price_c"))
          .join(caps, "l_returnflag")
          .groupBy("l_returnflag")
          .agg(max("n").as("n_rows"), max("lo_c").as("lo_c"), max("hi_c").as("hi_c"),
            sum(least(greatest(col("price_c"), col("lo_c")), col("hi_c"))).as("wsum_c"))
          .withColumn("wmean_c", expr("wsum_c DIV n_rows"))
          .orderBy("l_returnflag")
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
             |  FROM lineitem),
             |ranked AS (
             |  SELECT l_returnflag, price_c,
             |    row_number() OVER (PARTITION BY l_returnflag ORDER BY price_c) AS rn,
             |    count(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM v),
             |caps AS (
             |  SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
             |    min(CASE WHEN rn = (n * 10 + 99) // 100 THEN price_c END) AS lo_c,
             |    min(CASE WHEN rn = (n * 90 + 99) // 100 THEN price_c END) AS hi_c
             |  FROM ranked GROUP BY 1)
             |SELECT v.l_returnflag, max(caps.n) AS n_rows,
             |  CAST(max(lo_c) AS BIGINT) AS lo_c,
             |  CAST(max(hi_c) AS BIGINT) AS hi_c,
             |  CAST(sum(least(greatest(price_c, lo_c), hi_c)) AS BIGINT) AS wsum_c,
             |  CAST(sum(least(greatest(price_c, lo_c), hi_c)) AS BIGINT)
             |    // CAST(max(caps.n) AS BIGINT) AS wmean_c
             |FROM v JOIN caps USING (l_returnflag)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- cross-system table checksums -------------------------------
    // Order-INDEPENDENT content checksum per table (the
    // pt-table-checksum / data-validation op a migration runs on both
    // sides of a copy): row scalar = mixed key+value fields folded into
    // [0, p), checksummed by a commutative sum — one map-side-combining
    // agg per table, no sort, no shuffle beyond the 1-row partials.
    // Exactness bound: sum < 2^63 holds to ~9.2e9 rows per table; past
    // that, fold partial sums mod p inside a two-level aggregation
    // (the structure below already partial-aggregates map-side).
    "q110_table_checksum" -> QueryDef(
      (s, dir) => {
        val p = 1000000007L
        def ck(name: String, df: DataFrame, rowval: org.apache.spark.sql.Column): DataFrame =
          df.agg(count(lit(1)).as("n_rows"), sum(rowval).as("checksum"))
            .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
        val o = ck("orders", table(s, dir, "orders"),
          expr(s"((o_orderkey % $p) * 2654435761 + o_custkey" +
            s" + CAST(round(o_totalprice * 100) AS BIGINT)) % $p"))
        val li = ck("lineitem", table(s, dir, "lineitem"),
          expr(s"((l_orderkey % $p) * 2654435761 + l_partkey * 31" +
            s" + l_suppkey + l_linenumber) % $p"))
        val c = ck("customer", table(s, dir, "customer"),
          expr(s"((c_custkey % $p) * 2654435761 + c_nationkey) % $p"))
        o.union(li).union(c).orderBy("table_name")
      },
      Some("""SELECT table_name, n_rows, checksum FROM (
             |  SELECT 'orders' AS table_name, count(*) AS n_rows,
             |    CAST(sum(((o_orderkey % 1000000007) * 2654435761 + o_custkey
             |      + CAST(round(o_totalprice * 100) AS BIGINT)) % 1000000007)
             |      AS BIGINT) AS checksum
             |  FROM orders
             |  UNION ALL
             |  SELECT 'lineitem', count(*),
             |    CAST(sum(((l_orderkey % 1000000007) * 2654435761 + l_partkey * 31
             |      + l_suppkey + l_linenumber) % 1000000007) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'customer', count(*),
             |    CAST(sum(((c_custkey % 1000000007) * 2654435761 + c_nationkey)
             |      % 1000000007) AS BIGINT)
             |  FROM customer) u
             |ORDER BY table_name""".stripMargin)),

    // ---- weighted median (quantity-weighted price per brand) --------
    // The weighted-quantile operator: smallest price whose cumulative
    // quantity weight reaches half the brand's total. The cumulative
    // weight is a function of the price VALUE (the window form's peer-
    // inclusive RANGE frame), so it lives on the WEIGHTED cumulative
    // histogram (RankStats with weightCol): one map-side-combining
    // (brand, price) sum(w), bucket-parallel cumulatives — never a
    // fact-sized window partitioned by the ~25-value p_brand, which
    // would pin each brand's sort to ONE task at any scale (the r13
    // plan-audit flag). Brand totals read off the histogram (max cum),
    // not a second fact pass. Exact integer cents/weights end to end.
    "q108_weighted_median" -> QueryDef(
      (s, dir) => {
        // Two-pass bucket refinement — the plan has NO fact-sized
        // exchange at all (the first weighted-histogram rewrite still
        // shuffled a near-fact-sized (brand, price) histogram; prices
        // are almost row-distinct). Pass 0: 1-row price-domain probe
        // (narrow scan, no join). Pass 1: per-(brand, bucket) weight
        // totals — map-side-combined to <= 25×4096 rows — re-aggregated
        // per brand into ONE sorted histogram array; the target bucket
        // b* (smallest bucket whose cumulative weight crosses half the
        // total — the median price provably lies inside it) and its
        // cumulative offset fall out of a single codegen'd aggregate()
        // scan over that <=4096-element array. r15: this replaces the
        // r14 checkpoint + two-window + filter + re-aggregate target
        // pick — same integers, but the whole pick fuses into the
        // broadcast build of pass 2 (one job, ~5 fewer codegen stages
        // to JIT, no pinned checkpoint blocks). Pass 2: re-scan
        // filtered to b* (≈1/4096 of rows after the broadcast target
        // join), per-value weights, and a window over that bucket's
        // values only — never over facts.
        val li = table(s, dir, "lineitem")
          .select(col("l_partkey"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
            expr("CAST(round(l_quantity * 100) AS BIGINT)").as("w"))
        val p = table(s, dir, "part").select(col("p_partkey"), col("p_brand"))
        val joined = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), col("price_c"), col("w"))
        val st = li.agg(min("price_c"), max("price_c")).head
        val lo = st.getLong(0)
        val width = (st.getLong(1) - lo) / 4096 + 1
        val bktCol = expr(s"(price_c - ${lo}L) DIV ${width}L")
        val target = joined.groupBy(col("p_brand"), bktCol.as("bkt"))
          .agg(sum("w").as("bw"))
          .groupBy("p_brand")
          .agg(sum("bw").as("tw"),
            sort_array(collect_list(struct(col("bkt"), col("bw")))).as("hist"))
          .select(col("p_brand"), col("tw"),
            expr("""aggregate(hist,
                 |  named_struct('cum', 0L, 'bstar', -1L, 'off', 0L),
                 |  (acc, h) -> IF(acc.bstar >= 0L, acc,
                 |    named_struct('cum', acc.cum + h.bw,
                 |      'bstar', IF((acc.cum + h.bw) * 2 >= tw, h.bkt, -1L),
                 |      'off',   IF((acc.cum + h.bw) * 2 >= tw, acc.cum, 0L))))
                 |""".stripMargin.replace("\n", " ")).as("r"))
          .select(col("p_brand"), col("r.bstar").as("bstar"),
            col("r.off").as("off"), col("tw"))
        joined.join(broadcast(target), Seq("p_brand"))
          .filter(bktCol === col("bstar"))
          .groupBy(col("p_brand"), col("price_c"))
          .agg(sum("w").as("wv"), max("off").as("off"), max("tw").as("tw"))
          .withColumn("cum", col("off") + sum("wv")
            .over(Window.partitionBy("p_brand").orderBy("price_c")
              .rowsBetween(Window.unboundedPreceding, 0)))
          .filter(col("cum") * 2 >= col("tw"))
          .groupBy("p_brand")
          .agg(min("price_c").as("wmed_price_c"), max("tw").as("total_w"))
          .orderBy("p_brand")
      },
      Some("""WITH w AS (
             |  SELECT p_brand,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             |    CAST(round(l_quantity * 100) AS BIGINT) AS w
             |  FROM lineitem JOIN part ON p_partkey = l_partkey),
             |cum AS (
             |  SELECT p_brand, price_c, w,
             |    sum(w) OVER (PARTITION BY p_brand ORDER BY price_c) AS cw,
             |    sum(w) OVER (PARTITION BY p_brand) AS tw
             |  FROM w)
             |SELECT p_brand,
             |  CAST(min(CASE WHEN cw * 2 >= tw THEN price_c END) AS BIGINT)
             |    AS wmed_price_c,
             |  CAST(max(tw) AS BIGINT) AS total_w
             |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- referential-integrity audit over every FK edge -------------
    // The warehouse-wide DQ sweep: per FK edge, row count + orphan
    // count via ONE left join each (dim side broadcast where
    // dimension-sized; the fact-fact edges shuffle on the key — the
    // audit touches each table once per edge, never materializes the
    // join). The seven schema edges are negative controls (clean
    // generator ⇒ 0 orphans — the assertion a production audit exists
    // to make); the eighth edge replays t27's RTBF purge (customers
    // with c_custkey % 7 = 0 deleted) and counts the orders its
    // deletion orphans — the detection side of deletion propagation.
    "q92_fk_audit" -> QueryDef(
      (s, dir) => {
        def edge(name: String, fact: DataFrame, fk: String,
                 dim: DataFrame, pk: String, bcast: Boolean): DataFrame = {
          val d = (if (bcast) broadcast(dim) else dim).select(col(pk))
          fact.select(col(fk)).join(d, col(fk) === col(pk), "left")
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphans"))
            .select(lit(name).as("edge"), col("n_rows"), col("n_orphans"))
        }
        val li = table(s, dir, "lineitem"); val o = table(s, dir, "orders")
        val c = table(s, dir, "customer"); val su = table(s, dir, "supplier")
        val p = table(s, dir, "part"); val n = table(s, dir, "nation")
        val r = table(s, dir, "region")
        val purged = c.filter(col("c_custkey") % 7 =!= 0)
        Seq(
          edge("customer->nation", c, "c_nationkey", n, "n_nationkey", bcast = true),
          edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey", bcast = false),
          edge("lineitem->part", li, "l_partkey", p, "p_partkey", bcast = true),
          edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey", bcast = true),
          edge("nation->region", n, "n_regionkey", r, "r_regionkey", bcast = true),
          edge("orders->customer", o, "o_custkey", c, "c_custkey", bcast = true),
          edge("orders->customer_postpurge", o, "o_custkey",
            purged, "c_custkey", bcast = true),
          edge("supplier->nation", su, "s_nationkey", n, "n_nationkey", bcast = true))
          .reduce(_ unionByName _)
          .orderBy("edge")
      },
      Some("""SELECT * FROM (
             |  SELECT 'customer->nation' AS edge, count(*) AS n_rows,
             |    CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_orphans
             |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
             |  UNION ALL
             |  SELECT 'lineitem->orders', count(*),
             |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
             |  UNION ALL
             |  SELECT 'lineitem->part', count(*),
             |    CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
             |  UNION ALL
             |  SELECT 'lineitem->supplier', count(*),
             |    CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
             |  UNION ALL
             |  SELECT 'nation->region', count(*),
             |    CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
             |  UNION ALL
             |  SELECT 'orders->customer', count(*),
             |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |  UNION ALL
             |  SELECT 'orders->customer_postpurge', count(*),
             |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM orders LEFT JOIN
             |    (SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0) c
             |    ON o_custkey = c_custkey
             |  UNION ALL
             |  SELECT 'supplier->nation', count(*),
             |    CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
             |) ORDER BY edge""".stripMargin)),

    // ---- reciprocal-rank fusion of two rankings ---------------------
    // The standard hybrid-retrieval combiner (RRF, Cormack et al.):
    // fuse a by-spend and a by-order-count ranking of customers with
    // score = Σ 1e6 DIV (60 + rank) — rank-based, so the two signals
    // need no score normalization, and exact integer DIV keeps both
    // engines bit-equal.
    //
    // The `limit(20)` licenses an EXACT Fagin-style candidate prune
    // (threshold algorithm over sorted access lists), so neither leg
    // ever ranks the whole customer aggregate:
    //   * the 20 customers with spend ranks 1..20 each score
    //     >= 1e6 DIV (60+20) = 12500, so the 20th fused score s20
    //     >= 12500;
    //   * a customer outside BOTH legs' top-100 scores
    //     <= 2 * (1e6 DIV 161) = 12422 < s20 — strictly, so ties
    //     cannot smuggle one in.
    // Hence top-20 ⊆ top-100(spend) ∪ top-100(count): one pass over
    // the STAGED aggregate with two bounded topk_sketch aggregates
    // (in-list position IS the exact global rank under the identical
    // (score DESC, key ASC) total order), one conditional-count pass
    // for the <= 200 missing off-leg ranks, and a 200-row local fuse.
    // At 100 TB both passes are map-side-combining scans of the
    // customer aggregate; nothing row-scaled is ranked, joined, or
    // collected (driver traffic is 2 x 100 id/score pairs).
    // Scores ride as doubles inside topk_sketch — exact for cents and
    // counts below 2^53, far above any per-customer magnitude.
    "q93_rrf_fusion" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val B = 100 // prune bound proven above for K=20, rrf constant 60
        val agg = Staged.custSpendAgg(s, dir)
        val topsRow = agg.agg(
          TopKSketch.col(
            col("o_custkey"), col("spend_c").cast("double"), B).as("sp"),
          TopKSketch.col(
            col("o_custkey"), col("n_orders").cast("double"), B).as("ct"))
          .head()
        def ranksOf(i: Int): Map[Long, Long] =
          topsRow.getSeq[org.apache.spark.sql.Row](i).zipWithIndex
            .map { case (r, pos) => r.getLong(0) -> (pos + 1L) }.toMap
        val rSpend = ranksOf(0) // position in the global top-B IS the rank
        val rCount = ranksOf(1)
        val candIds = (rSpend.keySet ++ rCount.keySet).toSeq.sorted
        // one cached-scan lookup of the <= 2B candidates' own values
        val cand = agg
          .filter(col("o_custkey").isin(candIds: _*))
          .select("o_custkey", "spend_c", "n_orders")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        // exact off-leg rank = 1 + #rows strictly better under
        // (value DESC, o_custkey ASC); ALL missing ranks ride one
        // conditional-count scan as independent codegen'd sums
        val missing: Seq[(String, Column)] = cand.toSeq.flatMap {
          case (id, cs, cn) =>
            val sp = if (rSpend.contains(id)) Nil else Seq(s"s_$id" ->
              sum(when(col("spend_c") > cs ||
                (col("spend_c") === cs && col("o_custkey") < id),
                1L).otherwise(0L)))
            val ct = if (rCount.contains(id)) Nil else Seq(s"c_$id" ->
              sum(when(col("n_orders") > cn ||
                (col("n_orders") === cn && col("o_custkey") < id),
                1L).otherwise(0L)))
            sp ++ ct
        }
        val extra: Map[String, Long] =
          if (missing.isEmpty) Map.empty
          else {
            val row = agg.agg(
              missing.head._2.as(missing.head._1),
              missing.tail.map { case (n, c) => c.as(n) }: _*).head()
            missing.zipWithIndex.map { case ((n, _), i) =>
              n -> (row.getLong(i) + 1L)
            }.toMap
          }
        val fused = cand.toSeq.map { case (id, _, _) =>
          val rs = rSpend.getOrElse(id, extra(s"s_$id"))
          val rc = rCount.getOrElse(id, extra(s"c_$id"))
          (id, rs, rc, 1000000L / (60L + rs) + 1000000L / (60L + rc))
        }
        fused.sortBy { case (id, _, _, score) => (-score, id) }
          .take(20)
          .toDF("o_custkey", "r_spend", "r_count", "rrf_scaled")
      },
      Some("""WITH agg AS (
             |  SELECT o_custkey,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             |      AS spend_c,
             |    count(*) AS n_orders
             |  FROM orders GROUP BY 1),
             |ranked AS (
             |  SELECT o_custkey,
             |    CAST(row_number() OVER
             |      (ORDER BY spend_c DESC, o_custkey) AS BIGINT) AS r_spend,
             |    CAST(row_number() OVER
             |      (ORDER BY n_orders DESC, o_custkey) AS BIGINT) AS r_count
             |  FROM agg)
             |SELECT o_custkey, r_spend, r_count,
             |  1000000 // (60 + r_spend) + 1000000 // (60 + r_count)
             |    AS rrf_scaled
             |FROM ranked
             |ORDER BY rrf_scaled DESC, o_custkey LIMIT 20""".stripMargin)),

    // ---- equi-width histogram ---------------------------------------
    // The range-partitioner's planning input (and q56's missing
    // sibling): bucket o_totalprice into 20 equal-width cents bins
    // between the observed min/max. Min/max ride as uncorrelated
    // scalar subqueries (ONE 2-value broadcast, q25's class); the
    // bucket id is exact integer arithmetic, so bin edges cannot
    // float-drift between engines. One scan + one dimension-sized agg.
    "q94_histogram" -> QueryDef(
      (s, dir) => {
        table(s, dir, "orders").createOrReplaceTempView("graft_q94_ord")
        s.sql("""WITH c AS (
                |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
                |  FROM graft_q94_ord),
                |mm AS (SELECT min(price_c) AS lo, max(price_c) AS hi FROM c)
                |SELECT least(19, (price_c - (SELECT lo FROM mm)) * 20
                |    DIV ((SELECT hi FROM mm) - (SELECT lo FROM mm) + 1))
                |    AS bucket,
                |  count(*) AS n, min(price_c) AS min_c, max(price_c) AS max_c
                |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""WITH c AS (
             |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
             |  FROM orders),
             |mm AS (SELECT min(price_c) AS lo, max(price_c) AS hi FROM c)
             |SELECT least(19, (price_c - (SELECT lo FROM mm)) * 20
             |    // ((SELECT hi FROM mm) - (SELECT lo FROM mm) + 1))
             |    AS bucket,
             |  count(*) AS n, min(price_c) AS min_c, max(price_c) AS max_c
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- k-anonymity / l-diversity audit ----------------------------
    // The privacy complement of t9/t27: before a table leaves the
    // boundary, every quasi-identifier combination must hide each row
    // among >= k peers, and each group must carry >= l distinct
    // sensitive values (here: the acctbal sign bucket). Per nation:
    // group count, worst-case group size, rows in groups below k = 5,
    // and groups below l = 2 — the release/suppress decision table.
    // Two map-side-combining aggs over the quasi-identifier key; no
    // windows, no self-joins.
    "q95_k_anonymity" -> QueryDef(
      (s, dir) => {
        val groups = table(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nat"),
            col("c_mktsegment").as("seg"),
            when(col("c_acctbal") < 0, 0L).otherwise(1L).as("sens"))
          .groupBy("nat", "seg")
          .agg(count(lit(1)).as("n"), countDistinct("sens").as("ndv_sens"))
        groups.groupBy("nat")
          .agg(count(lit(1)).as("n_groups"),
            min("n").as("min_group_size"),
            sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_risky_rows"),
            sum(when(col("ndv_sens") < 2, 1L).otherwise(0L)).as("n_low_diversity"))
          .orderBy("nat")
      },
      Some("""WITH g AS (
             |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
             |    count(*) AS n,
             |    count(DISTINCT CASE WHEN c_acctbal < 0 THEN 0 ELSE 1 END)
             |      AS ndv_sens
             |  FROM customer GROUP BY 1, 2)
             |SELECT nat, count(*) AS n_groups,
             |  CAST(min(n) AS BIGINT) AS min_group_size,
             |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             |    AS n_risky_rows,
             |  CAST(sum(CASE WHEN ndv_sens < 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_low_diversity
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- PERMISSIVE CSV ingest with corrupt-record quarantine -------
    // The dirty-feed reality: a 100 TB CSV drop always carries rows a
    // strict parser rejects. FAILFAST (GraftIOSpec) is the validation
    // mode; THIS is the ingest mode — PERMISSIVE parse routes
    // unparseable rows to the _corrupt column, the aggregate accounts
    // both streams, and checksums prove no good row was lost or
    // mangled. The fixture corrupts every 37th order (non-numeric
    // price field) at staging; the oracle replays that generation
    // rule off the source table, so the check is end-to-end through
    // the text write + permissive parse.
    "q98_csv_quarantine" -> QueryDef(
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path = Staged.cachedAny(s, s"csvq:$dir") {
          val p = s"target/csv_quarantine_$tag"
          table(s, dir, "orders")
            .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"),
              col("o_orderpriority").as("pri"))
            .select(when(col("o_orderkey") % 37 === 0,
                concat_ws(",", col("o_orderkey"), lit("corrupted"), col("pri")))
              .otherwise(concat_ws(",", col("o_orderkey"), col("price_c"),
                col("pri"))).as("value"))
            .write.mode("overwrite").text(p)
          p
        }
        s.read
          .schema("o_orderkey LONG, price_c LONG, pri STRING, _corrupt STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(path)
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
              .as("n_quarantined"),
            sum(when(col("_corrupt").isNull, col("o_orderkey")).otherwise(0L))
              .as("good_key_sum"),
            sum(when(col("_corrupt").isNull, col("price_c")).otherwise(0L))
              .as("good_price_sum"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(CASE WHEN o_orderkey % 37 = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_quarantined,
             |  CAST(sum(CASE WHEN o_orderkey % 37 <> 0 THEN o_orderkey
             |    ELSE 0 END) AS BIGINT) AS good_key_sum,
             |  CAST(sum(CASE WHEN o_orderkey % 37 <> 0
             |    THEN CAST(round(o_totalprice*100) AS BIGINT) ELSE 0 END)
             |    AS BIGINT) AS good_price_sum
             |FROM orders""".stripMargin)),

    // ---- relational division ("FOR ALL") ----------------------------
    // The classic universal-quantifier shape: customers with at least
    // one order in EVERY priority class. Set-cover via counting — one
    // distinct-aggregate per customer compared to the 1-row domain
    // cardinality (scalar subquery broadcast) — never the textbook
    // double-NOT-EXISTS, whose nested correlated anti joins would
    // rescan orders per (customer, class) pair at scale.
    "q99_relational_division" -> QueryDef(
      (s, dir) => {
        table(s, dir, "orders").createOrReplaceTempView("graft_q99_ord")
        s.sql("""SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_classes,
                |  count(*) AS n_orders
                |FROM graft_q99_ord
                |GROUP BY o_custkey
                |HAVING count(DISTINCT o_orderpriority) =
                |  (SELECT count(DISTINCT o_orderpriority) FROM graft_q99_ord)
                |ORDER BY o_custkey""".stripMargin)
      },
      Some("""SELECT o_custkey,
             |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_classes,
             |  count(*) AS n_orders
             |FROM orders
             |GROUP BY o_custkey
             |HAVING count(DISTINCT o_orderpriority) =
             |  (SELECT count(DISTINCT o_orderpriority) FROM orders)
             |ORDER BY o_custkey""".stripMargin)),

    // ---- Pareto / decile concentration report -----------------------
    // The 80/20 question: how much of total revenue does each spend
    // decile of customers carry? Deciles replicate
    // ntile(10) OVER (ORDER BY spend_c DESC, o_custkey) EXACTLY but
    // WITHOUT the no-partitionBy window (customers scale with the
    // data, so that window ranked the whole aggregate in one task) —
    // and WITHOUT per-row ranks at all: every row of an equal-spend
    // value block contributes the same (1, spend_c) wherever the
    // custkey tiebreak would have placed it, so the report only needs
    // each block's rank interval [cum-cnt+1, cum] from ONE cumulative
    // value histogram (RankStats.cumulativeHistogram), exploded across
    // the <= 10 deciles it overlaps with exact integer ntile-boundary
    // arithmetic (both engines assign the q+1-sized buckets first).
    // vs the per-row formulation this drops the tie-level histogram
    // and both row-scaled join-backs: the only data-scaled stage left
    // is the histogram groupBy. The 2-value (n, total) driver boundary
    // reads the STAGED aggregate, not orders.
    "q100_decile_report" -> QueryDef(
      (s, dir) => {
        val agg = Staged.custSpendAgg(s, dir).select("o_custkey", "spend_c")
        val st = agg.agg(count(lit(1)).as("n"), sum("spend_c").as("tot")).head
        val n = st.getLong(0); val total = st.getLong(1)
        // ntile(10) geometry: first `rem` deciles take q+1 rows (their
        // rank space ends at cut), the rest take q
        val q = n / 10L; val rem = n % 10L; val cut = (q + 1L) * rem
        val hist = graft.operators.RankStats
          .cumulativeHistogram(agg, Seq.empty, "spend_c", ascending = false)
        hist
          .withColumn("__a", col("cum") - col("cnt") + 1L) // block rank span
          .withColumn("__d1",
            expr(graft.operators.RankStats.ntileExprFromRank("__a", n, 10)))
          .withColumn("__d2",
            expr(graft.operators.RankStats.ntileExprFromRank("cum", n, 10)))
          .withColumn("decile", explode(expr("sequence(__d1, __d2)")))
          // decile d's rank interval [tstart, tend], exact integers
          .withColumn("__tstart", expr(
            s"CASE WHEN decile <= ${rem}L THEN (decile-1) * ${q + 1L}L + 1 " +
              s"ELSE ${cut}L + (decile - ${rem}L - 1) * ${q}L + 1 END"))
          .withColumn("__tend", expr(
            s"__tstart + CASE WHEN decile <= ${rem}L THEN ${q}L ELSE ${q - 1L}L END"))
          .withColumn("__ov",
            expr("least(cum, __tend) - greatest(__a, __tstart) + 1"))
          .groupBy("decile")
          .agg(sum("__ov").as("n_customers"),
            sum(col("__ov") * col("spend_c")).as("decile_spend_c"))
          .withColumn("share_permille",
            expr(s"1000 * decile_spend_c DIV ${total}L"))
          .orderBy("decile")
      },
      Some("""WITH agg AS (
             |  SELECT o_custkey,
             |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             |      AS spend_c
             |  FROM orders GROUP BY 1),
             |d AS (
             |  SELECT spend_c,
             |    ntile(10) OVER (ORDER BY spend_c DESC, o_custkey) AS decile
             |  FROM agg)
             |SELECT CAST(decile AS BIGINT) AS decile,
             |  count(*) AS n_customers,
             |  CAST(sum(spend_c) AS BIGINT) AS decile_spend_c,
             |  (1000 * CAST(sum(spend_c) AS BIGINT))
             |    // (SELECT CAST(sum(spend_c) AS BIGINT) FROM agg)
             |    AS share_permille
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- join-key skew pre-flight report ----------------------------
    // The detect step BEFORE q35's salted join: per candidate join key,
    // the cardinality histogram (t19's value-histogram trick — the
    // quantile window runs over distinct counts-of-counts, never the
    // keys), max key frequency, and the max/p50 skew ratio that decides
    // whether to salt. One map-side key count + one histogram agg per
    // key column.
    "q101_skew_report" -> QueryDef(
      (s, dir) => {
        def report(name: String, df: DataFrame, key: String): DataFrame = {
          val counts = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("n"))
          val hist = counts.groupBy("n").agg(count(lit(1)).as("freq"))
          val cum = hist
            .withColumn("cum", sum("freq").over(Window.orderBy("n")
              .rowsBetween(Window.unboundedPreceding, 0)))
            .withColumn("total", sum("freq").over(Window.partitionBy()))
          cum.agg(
            sum("freq").as("n_keys"),
            max("n").as("max_n"),
            min(when(col("cum") * 2 >= col("total"), col("n"))).as("p50_n"))
            .select(lit(name).as("key_col"), col("n_keys"), col("max_n"),
              col("p50_n"), expr("max_n DIV p50_n").as("skew_ratio"))
        }
        val li = table(s, dir, "lineitem")
        val ev = Relational.eventsRaw(s, dir)
        Seq(
          report("events.user_id", ev, "user_id"),
          report("lineitem.l_orderkey", li, "l_orderkey"),
          report("lineitem.l_partkey", li, "l_partkey"),
          report("lineitem.l_suppkey", li, "l_suppkey"))
          .reduce(_ unionByName _)
          .orderBy("key_col")
      },
      Some("""WITH src AS (
             |  SELECT 'events.user_id' AS key_col, user_id AS k FROM events
             |  UNION ALL
             |  SELECT 'lineitem.l_orderkey', l_orderkey FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem),
             |counts AS (
             |  SELECT key_col, k, count(*) AS n FROM src GROUP BY 1, 2),
             |hist AS (
             |  SELECT key_col, n, count(*) AS freq FROM counts GROUP BY 1, 2),
             |cum AS (
             |  SELECT key_col, n, freq,
             |    sum(freq) OVER (PARTITION BY key_col ORDER BY n
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(freq) OVER (PARTITION BY key_col) AS total
             |  FROM hist)
             |SELECT key_col,
             |  CAST(sum(freq) AS BIGINT) AS n_keys,
             |  CAST(max(n) AS BIGINT) AS max_n,
             |  CAST(min(CASE WHEN cum * 2 >= total THEN n END) AS BIGINT)
             |    AS p50_n,
             |  CAST(max(n) AS BIGINT)
             |    // CAST(min(CASE WHEN cum * 2 >= total THEN n END) AS BIGINT)
             |    AS skew_ratio
             |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** events with `ts` normalized to raw epoch-nanos LongType, whatever
    * the file carries:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 cannot read it natively, so
    *    the `nanosAsLong` legacy conf (set idempotently here and at
    *    [[graft.GraftSession]] build) reads it as the raw long.
    *  - parquet TIMESTAMP(MICROS) (what the current generator writes,
    *    surfacing as TIMESTAMP_NTZ): converted with exact integer
    *    arithmetic, `unix_micros * 1000` — micros epochs are ~2^51, so
    *    the multiply cannot overflow and nothing round-trips through
    *    doubles (ns epochs exceed 2^53, so doubles would corrupt them).
    *
    * Downstream event queries do exact integer bucket/shift arithmetic
    * on the nanos long — also what you'd do at 100 TB to keep the hot
    * expressions codegen'd and cast-free.
    */
  def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (s.conf.getOption(key).isEmpty) s.conf.set(key, "true")
    val df = table(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _: org.apache.spark.sql.types.TimestampNTZType |
           _: org.apache.spark.sql.types.TimestampType =>
        // cast NTZ→TZ is identity under the UTC session timezone the
        // engine pins (GraftSession); unix_micros is then exact
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other (expected nanos-long or timestamp)")
    }
  }
}
