package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.DcaFrame
import graft.operators.{CacheTracker, TextOps}
import graft.sources.GraftIO
import QueryDef.{table, cents}

/** Session-scoped staged artifacts shared across queries: the indexed
  * lineitem DcaFrame and the documents shingle table. Within one
  * Verify/Bench session many queries reuse the same derived input —
  * staging it once is the local analog of materializing an intermediate
  * table in a 100 TB pipeline (you would write it to parquet once, not
  * recompute it per consumer).
  */
object Staged {
  /** Nanoseconds spent inside OUTERMOST staged builds since process
    * start. Bench reads the delta around each query to bill staging
    * first-touch separately from the query's own compute — the
    * round-11 adjudication problem (sim6 17.1 s full-pass vs ~10 s
    * standalone was staged first-touch, only provable via PROBES
    * exegesis). Nested builds (docNearDupPairs -> docShingles) are
    * inside the outer build's wall time, so only depth-0 builds
    * accumulate here.
    */
  val stagingNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-key build seconds — SELF time (wall minus nested sub-builds),
    * so summing the map equals the depth-0 wall total exactly: a
    * nested build (docNearDupPairs -> docShingles) appears under its
    * own key AND inside its parent's wall, and recording wall for both
    * would double-count it in the bench's staging_total.
    */
  val stagingByKey = TrieMap.empty[String, Double]

  /** Ordered log of every staged-key ACCESS (hit or build). Bench
    * drains it around each query to record which queries consume each
    * staged artifact — per-query nets are net of first-touch, so a key
    * with a single consumer means that query's row understates its
    * intrinsic cost by the key's build time; the artifact's
    * `staging_consumers` map makes that adjudicable instead of hidden.
    */
  val accessLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private val buildDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  // wall nanos of completed DIRECT children of the build currently
  // running on this thread — subtracted to get the parent's self time
  private val childNanos = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Force-materialize a staged value at build time so its cost lands
    * in the staging bill, not in whichever query's first action would
    * otherwise have faulted the cache in. count() materializes the
    * full columnar cache of a PERSISTED frame; frames with no storage
    * level (disk-backed tables whose cost was their write) and
    * paths/tuples of paths are left alone — counting them would be a
    * full phantom scan billed to staging.
    */
  private def force(v: Any): Unit = v match {
    case d: DataFrame =>
      if (d.storageLevel != StorageLevel.NONE) { d.count(); () }
    case p: Product => p.productIterator.foreach(force)
    case _ => ()
  }

  /** The memoization wrapper every staged entry goes through: builds
    * once per (session, key), forces materialization, and bills the
    * build's wall time to [[stagingNanos]]/[[stagingByKey]]. Failed
    * builds bill NOTHING (nothing was cached; the failure surfaces in
    * the consuming query), and nested builds report their wall to the
    * parent so both maps stay double-count-free.
    */
  private def staged[A](s: SparkSession, key: String)(build: => A): A = {
    accessLog.add(key)
    CacheTracker.memo(s, key) {
      val d0: Int = buildDepth.get()
      buildDepth.set(d0 + 1)
      val savedChild: Long = childNanos.get()
      childNanos.set(0L)
      val t0 = System.nanoTime()
      var ok = false
      try {
        val r = build
        force(r)
        ok = true
        r
      } finally {
        val dt = System.nanoTime() - t0
        val nested: Long = childNanos.get()
        buildDepth.set(d0)
        childNanos.set(savedChild + dt)
        if (ok) {
          stagingByKey.put(key, (dt - nested) / 1e9)
          if (d0 == 0) { stagingNanos.addAndGet(dt); () }
        }
      }
    }
  }

  /** A 1-D DcaFrame over the lineitem rows `rows` keeps, ordered by
    * (l_orderkey, l_linenumber), staged under `key`; persisted (inside
    * fromDF) on first build. Payload: the keys and qty cents, or with
    * `price` qty and price cents.
    */
  private def lineitemFrame(s: SparkSession, dir: String, key: String,
      rows: DataFrame => DataFrame = identity, price: Boolean = false): DcaFrame =
    staged(s, key) {
      val df = rows(table(s, dir, "lineitem"))
        .select(Seq(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          cents(col("l_quantity")).as("qty_c")) ++
          (if (price) Seq(cents(col("l_extendedprice")).as("price_c")) else Nil): _*)
      DcaFrame.fromDF(df, Seq(col("l_orderkey"), col("l_linenumber")),
        arrayCols = if (price) Seq("qty_c", "price_c") else Nil)
    }

  /** lineitem as a 1-D DcaFrame: payload keys + qty cents. */
  def liFrame(s: SparkSession, dir: String): DcaFrame =
    lineitemFrame(s, dir, s"li:$dir")

  /** lineitem restricted to one return flag, same ordering/payload as
    * [[liFrame]] — staged per (dir, flag) so stack/concat queries reuse
    * the constructed frame instead of paying fromDF per invocation.
    */
  def liFlagFrame(s: SparkSession, dir: String, flag: String): DcaFrame =
    lineitemFrame(s, dir, s"liflag:$dir:$flag", _.filter(col("l_returnflag") === flag))

  /** lineitem frame with a two-column (qty, price) cents payload —
    * shared by the mapField family.
    */
  def liWideFrame(s: SparkSession, dir: String): DcaFrame =
    lineitemFrame(s, dir, s"liwide:$dir", price = true)

  /** Contracted event-transition graph (src, dst, cost): the full
    * scan + per-user window + groupBy contracts millions of
    * transitions to a ≤|event types|² edge table; persisted so q104's
    * recursion replays the cached contraction per iteration, never the
    * scan (the q57 contract-BEFORE-the-loop discipline). cost =
    * 1e9 DIV transition-count: rarer transition = costlier hop, exact
    * integers end to end.
    */
  def eventEdges(s: SparkSession, dir: String): DataFrame =
    staged(s, s"evedges:$dir") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      // truncated (r14): the recursion replays this ≤|types|² table per
      // iteration, and a persist would still re-analyze the full
      // scan+window lineage each round
      CacheTracker.truncate(Relational.eventsRaw(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull &&
          col("prev_type") =!= col("event_type"))
        .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
        .agg(expr("CAST(1000000000 DIV count(1) AS BIGINT)").as("cost")))
    }

  /** Per-customer order aggregate (o_custkey, spend_c, n_orders) — the
    * ranking input shared by the RRF-fusion and decile-report queries;
    * persisted so the two-level rank machinery's histogram branches
    * replay the cache, never the orders scan.
    */
  def custSpendAgg(s: SparkSession, dir: String): DataFrame =
    staged(s, s"custspend:$dir") {
      CacheTracker.persist(table(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("spend_c"),
          count(lit(1)).as("n_orders")))
    }

  /** documents 3-gram shingle table (doc_id, __sh), persisted. */
  def docShingles(s: SparkSession, dir: String): DataFrame =
    staged(s, s"sh:$dir") {
      CacheTracker.persist(table(s, dir, "documents")
        .select(col("doc_id"), TextOps.shingles(col("text"), 3).as("__sh")))
    }

  /** MinHash-LSH verified near-dup pair table (doc_a, doc_b, jacc_pct)
    * at the d2 threshold, persisted — shared by the pair query itself
    * and the transitive-cluster query (which would otherwise re-run
    * signature generation, banding, and verification).
    */
  def docNearDupPairs(s: SparkSession, dir: String): DataFrame =
    staged(s, s"ndpairs:$dir") {
      // truncated, NOT persisted (r14): a persist caches the rows but
      // every consumer still re-ANALYZES the full minhash/verify
      // lineage — d19's self-join over this table planned a ~430 KB
      // tree (measured from its formatted plan), so driver planning dominated
      // its wall time. Truncation hands consumers a leaf.
      CacheTracker.truncate(graft.operators.Dedup.nearDupPairsFromShingles(
          docShingles(s, dir), "doc_id", "__sh"))
    }

  /** Connected components over [[docNearDupPairs]] (id, rep). */
  def docDupComponents(s: SparkSession, dir: String): DataFrame =
    staged(s, s"ndcomp:$dir") {
      graft.operators.Dedup.connectedComponents(docNearDupPairs(s, dir))
    }

  /** Warm-start (incremental) connected components: the OLD 80% of the
    * corpus (doc_id % 5 != 4) is labeled first, then CONTRACTED to its
    * (id, rep) star edges; the incremental pass iterates over those
    * stars plus ONLY the pairs touching a new doc — the daily
    * dup-graph maintenance shape, where the bulk old-old pair volume
    * never re-enters the iteration (at 100 TB the old labels are a
    * persisted table, and each day's delta joins against stars, not
    * history). Every old component of size k contributes k−1 star
    * edges covering all its members, so the incremental vertex set
    * equals the full graph's and min-id reps converge to the same
    * labels — d30 proves it by sharing d6's from-scratch closure
    * oracle verbatim.
    */
  def incrementalDupComponents(s: SparkSession, dir: String): DataFrame =
    staged(s, s"ndcompinc:$dir") {
      val pairs = docNearDupPairs(s, dir).select("doc_a", "doc_b")
      def isNew(c: org.apache.spark.sql.Column) = c % 5 === 4
      val oldPairs = pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
      val labels0 = graft.operators.Dedup.connectedComponents(oldPairs)
      val starEdges = labels0.filter(col("id") =!= col("rep"))
        .select(col("id").as("doc_a"), col("rep").as("doc_b"))
      val newPairs = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      val inc = graft.operators.Dedup.connectedComponents(
        starEdges.union(newPairs))
      CacheTracker.free(labels0)
      inc
    }

  /** Materialized IVF index built on the OLD 80% of the embeddings
    * (vec_id % 5 != 4), with the new 20% APPENDED against the stale
    * centroids — sim18's fixture for the index-maintenance path. Both
    * steps run inside the one staged build (overwrite then append), so
    * bench re-runs can never double-append; returns the index path.
    */
  def ivfAppendIndex(s: SparkSession, dir: String): String =
    staged(s, s"ivfappend:$dir") {
      val emb = table(s, dir, "embeddings")
      val path = new java.io.File(
        s"target/ivf_append/${dir.replaceAll("[^A-Za-z0-9.]", "_")}").getAbsolutePath
      graft.operators.Similarity.buildIvfIndex(
        emb.filter(col("vec_id") % 5 =!= 4), path, nCells = 16, refineIters = 0)
      graft.operators.Similarity.appendToIvfIndex(
        s, emb.filter(col("vec_id") % 5 === 4), path)
      path
    }

  /** Star-contraction connected components over [[docNearDupPairs]] —
    * the O(log n)-round fallback path.
    */
  def docDupComponentsStar(s: SparkSession, dir: String): DataFrame =
    staged(s, s"ndcompstar:$dir") {
      graft.operators.Dedup.connectedComponentsStar(docNearDupPairs(s, dir))
    }

  /** Generic session-scoped staged DataFrame, persisted on first
    * build — for query-specific intermediates (fixtures, per-query
    * derived tables) that would otherwise persist inside an operator
    * with no release path.
    */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    staged(s, key)(CacheTracker.persist(build))

  /** [[cached]] with LINEAGE TRUNCATION ([[CacheTracker.truncate]]): for
    * staged intermediates whose plan is heavy (wide aggregation trees,
    * long pipelines) a plain persist still makes every consumer
    * re-analyze the full lineage. Use for bounded tables only: a local
    * checkpoint pins the rows in executor storage.
    */
  def checkpointed(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    staged(s, key)(CacheTracker.truncate(build))

  /** Generic memoized staged value: composite index artifacts (e.g.
    * [[graft.operators.ProductQuant.IvfPqIndex]]: driver-side codebooks
    * + an encoded-corpus frame), operator results that arrive
    * already pinned (e.g. [[graft.operators.Dedup.connectedComponents]])
    * and the paths of disk artifacts a builder writes once per session.
    * Pinned frames nested anywhere in the case-class/tuple structure
    * are force-materialized at build; the build block pins every frame it
    * wants cached through [[CacheTracker]], which frees it on release.
    */
  def cachedAny[A](s: SparkSession, key: String)(build: => A): A =
    staged(s, key)(build)

  /** BPE training over the corpus vocab (6 merge rounds) — consumed by
    * BOTH t28 (the merge table) and t29 (segment-count tokenization):
    * one staged train instead of two identical 6-round driver loops.
    * The final segmentation frame arrives cached from Bpe.train and is
    * tracked for release.
    */
  def bpeTrained(s: SparkSession, dir: String):
      (Seq[graft.operators.Bpe.Merge], DataFrame) =
    staged(s, s"bpe6:$dir") {
      val (merges, seg) = graft.operators.Bpe.train(
        graft.operators.Bpe.corpusVocab(table(s, dir, "documents"), "text"), 6)
      (merges, CacheTracker.track(seg))
    }

  /** documents overlapping k-word window hash table (__id, __i, __h),
    * persisted — [[graft.operators.Dedup.substringDedupFromGrams]]
    * consumes it twice (first-occurrence agg + per-occurrence probe);
    * staging makes the ngram+hash pipeline run once.
    */
  def substrGrams(s: SparkSession, dir: String, k: Int): DataFrame =
    staged(s, s"sgrams:$dir:$k") {
      CacheTracker.persist(graft.operators.Dedup.windowHashTable(
          table(s, dir, "documents"), "doc_id", "text", k))
    }

  /** documents word-token table (doc_id, term) — one row per non-empty
    * token occurrence, persisted; shared by the TF-IDF and Count-Min
    * queries (each would otherwise re-scan and re-explode the corpus).
    */
  def docTerms(s: SparkSession, dir: String): DataFrame =
    staged(s, s"terms:$dir") {
      CacheTracker.persist(table(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
        .filter(length(col("term")) > 0))
    }

  /** (__id, __sim) 64-bit SimHash sketch table under the engine-portable
    * hash ([[graft.operators.Dedup.portableHash60]]), one row per doc —
    * the sketches a DuckDB oracle recomputes bit-for-bit (bits 60-63
    * are always clear). The per-shingle hash rows are consumed by the
    * vote aggregation alone, so only the sketches are staged.
    */
  def docSimhash60(s: SparkSession, dir: String): DataFrame =
    staged(s, s"sim60:$dir") {
      // truncated (r14): the 64 per-bit vote aggregations give this
      // table a plan both band-join sides would each re-analyze
      CacheTracker.truncate(graft.operators.Dedup.simhashColsFromHashes(
        graft.operators.Dedup.shingleHashTable(docShingles(s, dir), "doc_id", "__sh",
          graft.operators.Dedup.portableHash60)))
    }

  /** lineitem written ONCE per (session, dir) as a range-clustered
    * manifested table ([[graft.sources.GraftIO.writeWithManifest]] on
    * l_orderkey) under target/ — the data-skipping pattern: pay one
    * clustered write, then every key-range query consults the tiny
    * manifest and opens only intersecting files. Returns the path.
    * Disk-backed like the bucketed tables (nothing to unpersist).
    */
  def manifestedLineitem(s: SparkSession, dir: String): String =
    staged(s, s"mfli:$dir") {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"target/manifest_li_$tag"
      GraftIO.writeWithManifest(table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          cents(col("l_extendedprice")).as("price_c")),
        path, "l_orderkey", nFiles = 16)
      path
    }

  /** Build-once persisted near-dup index for the `doc_id < 250` corpus
    * slice (d12/d25's contract) under target/, memoized per (session,
    * dir) — the d25 query probes these files instead of rescanning the
    * corpus.
    */
  def nearDupIndex(s: SparkSession, dir: String): String =
    staged(s, s"ndidx:$dir") {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"target/neardup_idx_$tag"
      graft.operators.Dedup.buildNearDupIndex(
        table(s, dir, "documents").filter(col("doc_id") < 250)
          .select("doc_id", "text"),
        path, "text", "doc_id")
      path
    }

  /** [[nearDupIndex]] (docs < 250) merged with the 250..299 delta via
    * [[graft.operators.Dedup.mergeNearDupIndex]] — the compacted index
    * d26 probes; memoized so bench reruns pay one merge.
    */
  def mergedNearDupIndex(s: SparkSession, dir: String): String =
    staged(s, s"ndidxm:$dir") {
      val base = nearDupIndex(s, dir)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"target/neardup_idx_merged_$tag"
      graft.operators.Dedup.mergeNearDupIndex(s, base,
        table(s, dir, "documents")
          .filter(col("doc_id") >= 250 && col("doc_id") < 300)
          .select("doc_id", "text"),
        path, "text", "doc_id")
      path
    }

  /** orders written ONCE per (session, dir) PARTITIONED BY
    * o_orderpriority (hive-style dirs) + a 5-row (pri, cls) dimension
    * parquet — the q84 dynamic-partition-pruning fixture: at 100 TB
    * the fact table is date/category-partitioned exactly like this,
    * and a dim-side filter must prune fact PARTITIONS at runtime (the
    * dim rows aren't knowable at plan time). Disk-backed, nothing to
    * unpersist.
    */
  def partitionedOrders(s: SparkSession, dir: String): (String, String) =
    staged(s, s"partord:$dir") {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val factPath = s"target/orders_part_$tag"
      val dimPath = s"target/orders_pridim_$tag"
      table(s, dir, "orders")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(factPath)
      table(s, dir, "orders").select(col("o_orderpriority").as("pri")).distinct()
        .withColumn("cls",
          when(col("pri").startsWith("1-") || col("pri").startsWith("2-"),
            lit("hot")).otherwise(lit("cold")))
        .write.mode("overwrite").parquet(dimPath)
      (factPath, dimPath)
    }

  /** lineitem + orders staged ONCE per (session, dir) as 8-bucket
    * parquet TABLES on the order key ([[graft.sources.GraftIO
    * .writeBucketed]]) — the warehouse pattern for recurring joins at
    * 100 TB: pay one bucketed write, then every join over the pair
    * reads co-located buckets and plans zero exchanges on the join
    * key. Table names carry a dir tag so scales never collide. The
    * tables are disk-backed (nothing to unpersist at release; the next
    * session overwrites them).
    */
  def bucketedLiOrd(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    staged(s, s"bkt:$dir") {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      GraftIO.writeBucketed(table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")),
        s"li_bkt_$tag", "l_orderkey", buckets = 8)
      GraftIO.writeBucketed(table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        s"ord_bkt_$tag", "o_orderkey", buckets = 8)
      (s.table(s"li_bkt_$tag"), s.table(s"ord_bkt_$tag"))
    }

  /** Release every staged artifact of this session: the session sweep
    * [[CacheTracker.release]], which evicts the memo and frees every
    * pinned frame together — the next access rebuilds from the source
    * tables, so a released frame is never served.
    */
  def release(s: SparkSession): Unit = CacheTracker.release(s)
}
