package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MinHashSignature, PolyHash}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH near-dup, SimHash near-dup. All distributed-first:
  * shuffles are on short keys (hashes / band buckets), never on full
  * document text; candidate generation is LSH (linear), with the exact
  * verification join only over candidates.
  *
  * MinHash signatures are per-document: the native `minhash_signature`
  * kernel ([[graft.functions.MinHashSignature]], through [[signatures]])
  * signs each row of a shingle table in one pass. Band rows are a narrow
  * projection of that table, so [[nearDupPairs]] runs as one action and
  * pins only its shingle table.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id.
    * At scale: the shuffle key is the 64-bit content hash, not the
    * document body; collisions across different texts are impossible to
    * matter here because the aggregation key includes nothing else and
    * survivors are re-derived by id.
    */
  def exactSurvivors(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(xxhash64(col(textCol)).as("__h"), col(idCol))
      .groupBy("__h").agg(min(idCol).as(idCol))
      .select(idCol)

  /** Incremental-ingest dedup: keep an incoming row iff its text is
    * new against the EXISTING corpus (hash anti-join) and it is the
    * first occurrence within the incoming batch (min-id per hash).
    * The daily-crawl shape: both the anti-join and the in-batch
    * first-occurrence shuffle 64-bit hashes only — text never moves,
    * and the existing corpus is never re-deduplicated.
    */
  def incrementalSurvivors(existing: DataFrame, incoming: DataFrame,
                           textCol: String, idCol: String): DataFrame = {
    val exH = existing.select(xxhash64(col(textCol)).as("__h")).distinct()
    incoming.select(xxhash64(col(textCol)).as("__h"), col(idCol))
      .join(exH, Seq("__h"), "left_anti")
      .groupBy("__h").agg(min(idCol).as(idCol))
      .select(idCol)
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** Permutation i's (a, b) and the modulus, read-only — the
    * d29 estimator oracle embeds them as SQL literals so the DuckDB
    * replay uses the EXACT permutation family.
    */
  private[graft] def permParams(i: Int): (Long, Long) = (MinHashSignature.a(i), MinHashSignature.b(i))
  private[graft] def permModulus: Long = MinHashSignature.P

  /** Engine-portable 60-bit shingle hash: two independent polynomial
    * hashes packed as bits 0..29 (base 31 mod 1e9+7) and 30..59
    * (base 37 mod 1073741789) — reproducible in any SQL engine with
    * 64-bit integer arithmetic (the DuckDB oracle recomputes it
    * exactly), unlike xxhash64. Mixing is weaker than xxhash64; prefer
    * the default family in production and this one (family
    * "portable60" of [[signatures]]) when cross-engine verification
    * matters.
    */
  def portableHash60(c: Column): Column =
    PolyHash.col(c) + PolyHash.col(c, 37L, 1073741789L) * lit(1073741824L)

  /** Per-(doc, shingle) rows with the RAW hash of each shingle
    * (default xxhash64): the exploded table SimHash sketches from.
    * Hash each shingle string EXACTLY ONCE — the array-lambda
    * formulation re-evaluated the hash under every permutation (k×
    * work) because Catalyst does not CSE across lambda bodies.
    */
  def shingleHashTable(docs: DataFrame, idCol: String, shinglesCol: String,
                       hashFn: Column => Column = xxhash64(_)): DataFrame =
    docs.select(col(idCol).as("__id"), explode(col(shinglesCol)).as("__s"))
      .select(col("__id"), hashFn(col("__s")).as("__h"))

  /** Per-document MinHash signatures (__id, __sig) of an (id, shingles)
    * table: `__sig` is the array<bigint> of k permutation minima from
    * the native [[graft.functions.MinHashSignature]] kernel — a narrow
    * projection, no explode and no shuffle. A document with no shingle
    * gets a NULL signature, so it has no band rows. `family` hashes the
    * shingles: "xxhash64" (seed 42) or "portable60" ([[portableHash60]]).
    */
  def signatures(docs: DataFrame, idCol: String, shinglesCol: String, k: Int,
                 family: String = "xxhash64"): DataFrame = {
    docs.select(col(idCol).as("__id"), MinHashSignature.col(col(shinglesCol), k, family).as("__sig"))
  }

  /** Scala-side xxhash64 (seed 42) of one shingle — the SAME hash the
    * kernel's default family computes, for streaming rows that need a
    * doc's hash SET before any frame exists
    * ([[graft.streaming.EventStream.indexedNearDupAlerts]]).
    */
  def shingleHashLocal(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  /** Scala-side twin of [[signatures]] for one document — the same
    * seed-42 xxhash64 folded by the kernel's own loop
    * ([[graft.functions.MinHashSignature.update]]) — for streaming
    * operators that sign a row before any frame exists
    * ([[graft.streaming.EventStream.nearDupCandidates]]). None for a
    * document with no shingles, where the kernel yields NULL.
    * Spec-pinned equal to the kernel.
    */
  def minhashSignatureLocal(shingles: Iterable[String], k: Int): Option[Array[Long]] =
    if (shingles.isEmpty) None
    else {
      val sig = MinHashSignature.empty(k)
      shingles.foreach(s => MinHashSignature.update(sig, shingleHashLocal(s)))
      Some(sig)
    }

  /** Band-bucket rows (__id, band, bh) of a signature table — the LSH
    * index rows themselves: band j is the Murmur3 `hash` of signature
    * entries j·rows .. j·rows+rows−1. At scale this is the PERSISTED
    * artifact an incremental pipeline maintains ([[buildNearDupIndex]]);
    * inline it is a narrow projection each consumer re-derives.
    */
  def bandBuckets(signed: DataFrame, bands: Int, rows: Int): DataFrame = {
    val bandStructs = (0 until bands).map { j =>
      val bandCols = (0 until rows).map(r => col("__sig").getItem(j * rows + r))
      struct(lit(j).as("band"), hash(bandCols: _*).as("bh"))
    }
    signed.filter(col("__sig").isNotNull)
      .select(col("__id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("__id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Per-document distinct shingle-HASH sets (__id, __hs) of an (id,
    * shingles) table — the verify side of a persisted index; a document
    * with no shingle gets no row. Order-free consumers only
    * ([[verifyJaccard]]'s set arithmetic).
    */
  private def hashSets(docs: DataFrame, idCol: String, shinglesCol: String): DataFrame =
    docs.filter(size(col(shinglesCol)) > 0)
      .select(col(idCol).as("__id"), hashSet(col(shinglesCol)).as("__hs"))

  /** The distinct xxhash64 (seed 42) values of a shingle array. */
  private def hashSet(shingles: Column): Column =
    array_distinct(transform(shingles, s => xxhash64(s)))

  /** Candidate pairs from a band-bucket table: self-join on (band, bh)
    * — the shuffle key is the short bucket id, and the join explodes
    * only within buckets.
    */
  def pairsFromBuckets(buckets: DataFrame): DataFrame = {
    val l = buckets.as("l")
    val r = buckets.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("doc_a"), col("r.__id").as("doc_b"))
      .distinct()
  }

  /** LSH candidate pairs (doc_a < doc_b) from a [[signatures]] table
    * with k ≥ bands·rows: split each signature into `bands` bands of
    * `rows` values, hash each band, bucket-join within (band, hash).
    * Both join sides re-derive the band rows from the signature table;
    * nothing is pinned.
    *
    * For threshold t, miss probability per true pair is
    * (1 - t^rows)^bands — with rows=2, bands=64 a j=0.4 pair is missed
    * w.p. ~1.4e-5. Candidates are verified exactly downstream, so FPs
    * are free (just extra verify work) and recall is the only tunable.
    */
  def lshCandidates(signed: DataFrame, bands: Int, rows: Int): DataFrame =
    pairsFromBuckets(bandBuckets(signed, bands, rows))

  /** [[lshCandidates]] from an exploded (__id, __h) [[shingleHashTable]]
    * (default family): each document's hashes are collected and signed
    * by the same kernel, so the candidates equal the per-document
    * path's. For callers that hold only the exploded table.
    */
  def lshCandidatesFromHashes(hashed: DataFrame, bands: Int, rows: Int): DataFrame =
    lshCandidates(signatures(hashed.groupBy("__id").agg(collect_list("__h").as("__hl")),
      "__id", "__hl", bands * rows, "none"), bands, rows)

  // ---- LSH banding auto-tuner ------------------------------------------

  /** One banding geometry with its MEASURED candidate volume on the
    * tuning corpus plus the analytic recall at the similarity the
    * caller cares about and the background similarity j₀ the volume
    * implies (inverting p = 1−(1−j₀^rows)^bands at the observed
    * collision rate — the corpus statistic PROBES.md sizes from).
    */
  final case class BandingChoice(
      bands: Int, rows: Int, candidates: Long,
      recall: Double, impliedJ0: Double,
      recallOk: Boolean, withinBudget: Boolean)

  /** Deterministic 1-in-`den` document sample of an `__id`-keyed table
    * (e.g. [[signatures]]): keeps a doc iff xxhash64(__id) mod den == 0
    * — stable across runs and partitionings, no RNG. Tune on the sample
    * at production scale; candidate volume extrapolates as den²
    * (collision RATE p is scale-free, pair count is n²·p/2).
    */
  def deterministicDocSample(signed: DataFrame, den: Int): DataFrame =
    signed.filter(pmod(xxhash64(col("__id")), lit(den.toLong)) === 0)

  /** j₀-driven banding auto-tuner — MEASUREMENT-based, not model-based:
    * for each candidate geometry (all splitting the same ~64-hash
    * signature budget by default), run the shipped candidate pipeline
    * on `signed` and count distinct candidates (count only — pairs are
    * never materialized to the driver). At 100 TB run it on a
    * [[deterministicDocSample]]; the measured collision rate transfers
    * and expected full-corpus candidates = sample candidates × den².
    *
    * Returns every geometry, best first. Ordering: meets-recall
    * strictly dominates (an LSH that drops true near-dups is wrong, not
    * cheap), then fits-candidate-budget, then fewest candidates
    * (candidate volume IS the verify-join cost). `head` is the
    * recommendation.
    *
    * @param signed a [[signatures]] table whose k covers every
    *        geometry's bands·rows (permutation i does not depend on k,
    *        so each geometry bands a prefix of the same signature)
    * @param recallAt similarity at which recall must hold — the planted
    *        / expected true-dup similarity (e.g. 0.9), or the threshold
    *        itself for worst-case guarantees
    * @param candidateBudget max acceptable candidate pairs on THIS
    *        corpus (divide the production budget by den² when tuning on
    *        a sample)
    */
  def tuneBanding(signed: DataFrame, candidateBudget: Long, recallAt: Double,
                  targetRecall: Double = 0.98,
                  geometries: Seq[(Int, Int)] = Seq((32, 2), (21, 3), (16, 4)))
      : Seq[BandingChoice] = {
    // stage the signatures across the per-geometry measurements — but
    // only own (and later release) the cache if the CALLER had not
    // already persisted it: unpersisting a caller-staged frame would
    // evict shared session state
    val callerOwned =
      signed.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val staged = if (callerOwned) signed
      else signed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = staged.filter(col("__sig").isNotNull).count()
    val allPairs = nDocs.toDouble * (nDocs - 1) / 2
    val choices = geometries.map { case (b, r) =>
      val cand = lshCandidates(staged, b, r).count()
      val recall = 1 - math.pow(1 - math.pow(recallAt, r), b)
      val p = if (allPairs > 0) cand / allPairs else 0.0
      val j0 = math.pow(1 - math.pow(1 - p, 1.0 / b), 1.0 / r)
      BandingChoice(b, r, cand, recall, j0,
        recallOk = recall >= targetRecall, withinBudget = cand <= candidateBudget)
    }
    if (!callerOwned) staged.unpersist()
    choices.sortBy(c => (!c.recallOk, !c.withinBudget, c.candidates))
  }

  /** Exact jaccard verification of candidate pairs against the shingle
    * table, with a rational (float-free) threshold test:
    * inter/union >= num/den  ⇔  den*inter >= num*union.
    * Returns (doc_a, doc_b, jacc_pct) for qualifying pairs.
    */
  def verifyJaccard(candidates: DataFrame, docs: DataFrame, idCol: String,
                    shinglesCol: String, num: Int, den: Int): DataFrame = {
    val sa = docs.select(col(idCol).as("doc_a"), col(shinglesCol).as("__sa"))
    val sb = docs.select(col(idCol).as("doc_b"), col(shinglesCol).as("__sb"))
    candidates.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("__union",
        size(col("__sa")).cast("long") + size(col("__sb")) - col("__inter"))
      .filter(col("__inter") * den >= col("__union") * num)
      .select(col("doc_a"), col("doc_b"),
        floor(lit(100.0) * col("__inter") / col("__union")).cast("long").as("jacc_pct"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    * bucket-join → exact-verify, as one action that pins only the
    * shingle table (it feeds the signatures and both verify sides).
    *
    * Default bands=32 x rows=2 (k=64): a j=0.4 pair is missed w.p.
    * (1-0.16)^32 ≈ 0.4%, a j=0.9 near-dup w.p. ~3e-12; signature cost
    * is linear in k, so doubling bands only buys the last 0.4% at the
    * borderline — raise bands when the threshold or corpus demands it.
    */
  def nearDupPairs(docs: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, bands: Int = 32, rows: Int = 2,
                   thresholdNum: Int = 2, thresholdDen: Int = 5): DataFrame = {
    // Locally a memory/disk cache; at 100 TB the same role is played by
    // writing the shingle table to parquet once.
    val shingled = CacheTracker.persist(
      docs.select(col(idCol), TextOps.shingles(col(textCol), shingleN).as("__sh")))
    nearDupPairsFromShingles(shingled, idCol, "__sh", bands, rows, thresholdNum, thresholdDen)
  }

  /** Pipeline over a pre-staged (id, shingles) table.
    *
    * Sizing at scale (measured, PROBES.md): candidate volume is
    * n²·p with p = 1−(1−j₀^rows)^bands fixed by the background
    * similarity j₀ of unrelated documents — pick (bands, rows) with
    * [[tuneBanding]] over a [[deterministicDocSample]] (it measures
    * each geometry's volume and holds recall first; e.g. rows=3 cut
    * candidates 5× on the probe corpus at unchanged recall for true
    * near-dups).
    */
  def nearDupPairsFromShingles(shingled: DataFrame, idCol: String, shinglesCol: String,
                               bands: Int = 32, rows: Int = 2,
                               thresholdNum: Int = 2, thresholdDen: Int = 5): DataFrame = {
    val cands = lshCandidates(signatures(shingled, idCol, shinglesCol, bands * rows), bands, rows)
    verifyJaccard(cands, shingled, idCol, shinglesCol, thresholdNum, thresholdDen)
  }

  /** Incremental NEAR-dup admission — the LSH twin of
    * [[incrementalSurvivors]] (which only catches byte-identical
    * re-crawls): survivors of `incoming` after near-duplicate checks
    * against the EXISTING corpus and within the batch, at jaccard ≥
    * num/den. The corpus is never re-deduplicated — its
    * [[bandBuckets]] table is the persisted index of an incremental
    * pipeline (append new rows per batch; here it is rebuilt because
    * the local fixture has no cross-run storage), the incoming batch
    * probes it with ONE equi-join on the short (band, bh) key, and
    * only candidate pairs are exactly verified against the shingle
    * sets.
    *
    * Drop rule (deterministic, one-shot): an incoming doc is dropped
    * iff a verified pair links it to ANY corpus doc or to a
    * smaller-id incoming doc. One-shot like [[SemDedup.semDedup]] —
    * a chain a~b~c with a≁c keeps a and can drop both b and c;
    * transitive grouping is [[connectedComponents]]' job over the
    * pair output. CONTRACT: corpus and incoming id spaces are
    * disjoint, with corpus ids below incoming ids (the natural
    * monotone-ingest numbering; d10's fixture shape).
    */
  def incrementalNearDupSurvivors(corpus: DataFrame, incoming: DataFrame,
                                  textCol: String, idCol: String,
                                  shingleN: Int = 3, bands: Int = 32, rows: Int = 2,
                                  thresholdNum: Int = 2, thresholdDen: Int = 5,
                                  stagedShingles: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // each shingle frame has several consumers (banding, union for
    // verify, final anti-join) — staged callers pass session-staged
    // frames (Staged.cached); the self-contained default pins ONE frame
    // per invocation, both sides tagged by `__in`, under the session
    // lifecycle
    val (cSh, iSh) = stagedShingles.getOrElse {
      def shingled(df: DataFrame, in: Boolean) = df.select(col(idCol), lit(in).as("__in"),
        TextOps.shingles(col(textCol), shingleN).as("__sh"))
      val both = CacheTracker.persist(shingled(corpus, in = false).unionByName(shingled(incoming, in = true)))
      (both.filter(!col("__in")).drop("__in"), both.filter(col("__in")).drop("__in"))
    }
    // band rows are narrow projections of the staged shingles: the
    // three incoming join sides (corpus probe + in-batch self-join)
    // each re-derive theirs
    val cB = bandBuckets(signatures(cSh, idCol, "__sh", bands * rows), bands, rows)
    val iB = bandBuckets(signatures(iSh, idCol, "__sh", bands * rows), bands, rows)
    // probe the corpus index: equi-join on (band, bh), corpus id on the
    // doc_a side (always the smaller id under the contract)
    val crossCand = iB.as("i")
      .join(cB.as("c"), col("i.band") === col("c.band") && col("i.bh") === col("c.bh"))
      .select(col("c.__id").as("doc_a"), col("i.__id").as("doc_b"))
      .distinct()
    val inBatchCand = pairsFromBuckets(iB)
    val allSh = cSh.unionByName(iSh)
    val dropped = verifyJaccard(crossCand, allSh, idCol, "__sh", thresholdNum, thresholdDen)
      .select(col("doc_b").as(idCol))
      .unionByName(verifyJaccard(inBatchCand, iSh, idCol, "__sh", thresholdNum, thresholdDen)
        .select(col("doc_b").as(idCol)))
      .distinct()
    iSh.select(col(idCol)).join(dropped, Seq(idCol), "left_anti")
  }

  /** Build the PERSISTED near-dup index — the artifact an incremental
    * crawl pipeline maintains between runs (sim3's materialized-index
    * pattern, text flavor): the corpus's band-bucket table (parquet,
    * PARTITIONED BY band — band-aligned file layout; a full probe
    * reads every band, a per-band maintenance job only its own)
    * plus its shingle-HASH sets for candidate verification. Corpus
    * TEXT is never written and, after the build, never rescanned.
    */
  def buildNearDupIndex(corpus: DataFrame, path: String,
                        textCol: String, idCol: String,
                        shingleN: Int = 3, bands: Int = 32, rows: Int = 2): Unit = {
    val sh = corpus.select(col(idCol).as("__id"),
      TextOps.shingles(col(textCol), shingleN).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeIndex(bandBuckets(signatures(sh, "__id", "__sh", bands * rows), bands, rows),
      hashSets(sh, "__id", "__sh"), path)
    sh.unpersist()
  }

  /** Write a near-dup index: band rows partitioned by band, one file
    * per band directory, and the per-document hash sets hashed by id —
    * a layout set by the data, not by the partitioning of the input the
    * rows were projected from (a merge compacts every band's fragments
    * into one file).
    */
  private def writeIndex(buckets: DataFrame, sets: DataFrame, path: String): Unit = {
    buckets.repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/buckets")
    // sets are PRE-GROUPED at build time: the probe's verify step reads
    // (id, hash-set) rows directly instead of re-hashing the corpus
    // shingles on every batch
    sets.repartition(col("__id")).write.mode("overwrite").parquet(s"$path/hashes")
  }

  /** Incremental index MAINTENANCE: merge a persisted
    * [[buildNearDupIndex]] index with a newly-admitted delta batch into
    * a compacted index at `outPath` — the lakehouse compaction shape
    * for the near-dup index. The base index's parquet band/hash tables
    * are UNIONED with the delta's freshly-computed ones and rewritten
    * under the same layout (buckets partitioned by band, hash sets
    * pre-grouped), so the corpus text behind the base index is NEVER
    * rescanned and maintenance cost is ∝ |delta| + |index|, never
    * ∝ corpus text — at 100 TB the index tables are the only thing
    * rewritten, and band-partitioned writes compact each band's
    * fragments in the same pass (the small-files story of daily
    * appends). Contract (spec-pinned): probing merge(build(A), Δ)
    * equals probing build((A \ ids(Δ)) ∪ Δ) — DELTA WINS on id
    * collision. A re-admitted (re-crawled) id's base rows are
    * anti-joined out before the union, so the merged index carries
    * exactly one (id, hash-set) row and one band set per id; without
    * the guard a collision would duplicate verifyJaccard's per-id
    * join candidates (round-8 ADVICE). When ids are disjoint this
    * reduces to build(A ∪ Δ). The anti join's build side is the
    * delta's id set — small, broadcast by AQE.
    * `outPath` must differ from `basePath` (parquet cannot overwrite
    * its own input mid-scan).
    */
  def mergeNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                        basePath: String, delta: DataFrame, outPath: String,
                        textCol: String, idCol: String,
                        shingleN: Int = 3, bands: Int = 32, rows: Int = 2): Unit = {
    require(basePath != outPath,
      "mergeNearDupIndex: outPath must differ from basePath (cannot " +
        "overwrite the parquet being read)")
    val sh = delta.select(col(idCol).as("__id"),
      TextOps.shingles(col(textCol), shingleN).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sets = hashSets(sh, "__id", "__sh")
    val deltaIds = sets.select("__id")
    writeIndex(
      spark.read.parquet(s"$basePath/buckets")
        .join(deltaIds, Seq("__id"), "left_anti")
        .unionByName(bandBuckets(signatures(sh, "__id", "__sh", bands * rows), bands, rows)),
      spark.read.parquet(s"$basePath/hashes")
        .join(deltaIds, Seq("__id"), "left_anti")
        .unionByName(sets),
      outPath)
    sh.unpersist()
  }

  /** [[incrementalNearDupSurvivors]] against a PERSISTED index: the
    * corpus side comes from [[buildNearDupIndex]]'s parquet (one
    * equi-join probe on (band, bh), one hash-set verify), the corpus
    * text never rescanned. Verification intersects 64-bit xxhash64
    * shingle-HASH sets instead of shingle strings — identical output
    * unless two distinct shingles collide (≤ n²/2⁶⁴, the d5-documented
    * hash-join assumption); the spec pins index-path ≡ inline-path
    * equality.
    */
  def indexedNearDupSurvivors(spark: org.apache.spark.sql.SparkSession,
                              path: String, incoming: DataFrame,
                              textCol: String, idCol: String,
                              shingleN: Int = 3, bands: Int = 32, rows: Int = 2,
                              thresholdNum: Int = 2, thresholdDen: Int = 5): DataFrame = {
    val cB = spark.read.parquet(s"$path/buckets")
    val cH = spark.read.parquet(s"$path/hashes")
    // the one frame pinned per invocation is the batch's per-document
    // row (__id, __sig, __hs; both NULL without shingles): band rows
    // (three join sides), verify sets and the survivor list project it,
    // so neither the kernel nor the hash transform re-runs per scan
    val iDoc = CacheTracker.persist(incoming
      .select(col(idCol).as("__id"), TextOps.shingles(col(textCol), shingleN).as("__sh"))
      .select(col("__id"),
        MinHashSignature.col(col("__sh"), bands * rows, "xxhash64").as("__sig"),
        when(size(col("__sh")) > 0, hashSet(col("__sh"))).as("__hs")))
    val iB = bandBuckets(iDoc, bands, rows)
    val crossCand = iB.as("i")
      .join(cB.as("c"), col("i.band") === col("c.band") && col("i.bh") === col("c.bh"))
      .select(col("c.__id").as("doc_a"), col("i.__id").as("doc_b"))
      .distinct()
    val inBatchCand = pairsFromBuckets(iB)
    // verify sets: corpus half straight off the index parquet (~KBs),
    // incoming half a projection of the pinned rows
    val allSets = cH.unionByName(iDoc.filter(col("__hs").isNotNull).select("__id", "__hs"))
    val dropped = verifyJaccard(crossCand, allSets, "__id", "__hs",
        thresholdNum, thresholdDen)
      .select(col("doc_b").as("__id"))
      .unionByName(verifyJaccard(inBatchCand, allSets, "__id", "__hs",
          thresholdNum, thresholdDen)
        .select(col("doc_b").as("__id")))
      .distinct()
    iDoc.select(col("__id").as(idCol))
      .join(dropped.select(col("__id").as(idCol)), Seq(idCol), "left_anti")
  }

  // ---- Exact n-gram Jaccard join (prefix filtering / AllPairs) ---------

  /** EXACT n-gram Jaccard similarity join via prefix filtering — the
    * deterministic complement to [[nearDupPairsFromShingles]]: no LSH
    * miss probability, the output IS the all-pairs result at the
    * threshold (which is why its oracle needs no recall caveat).
    *
    * Prefix-filtering principle (Chaudhuri/Bayardo AllPairs): order
    * every token set by one global total order; if J(A,B) >= t then
    * |A∩B| >= ceil(t·|A|), so among the first |A| - ceil(t·|A|) + 1
    * tokens of A (and likewise B) at least one common token appears —
    * candidate generation only needs to join on PREFIX tokens.
    *
    * Scale shape: the global order is frequency-ascending (rarest
    * first), so prefix tokens are the RARE ones and bucket fan-out in
    * the candidate self-join stays small; the join key is the 64-bit
    * token hash, never the token text (hash collisions only add false
    * candidates, which the exact verify discards). Shuffles: one
    * groupBy on token hash (freq count), one on doc id (prefix
    * assembly), one short-key candidate join — all narrow-payload.
    * Per-doc work is a sort of the doc's own token list (bounded by
    * doc length).
    *
    * The shingles column must be a duplicate-free SET per row: prefix
    * lengths count exploded rows and the verify uses size()-based set
    * arithmetic, so duplicate elements would skew both. The operator
    * enforces it below with array_distinct (a no-op on already-distinct
    * input, e.g. [[TextOps.shingles]] output).
    *
    * Scale limit (measured, PROBES.md): prefix pruning relies on token
    * RARITY. On a vocabulary-bounded corpus every token's frequency
    * grows linearly with corpus size, prefix buckets grow with it, and
    * candidate volume grows quadratically — inherent to any EXACT
    * similarity join over data whose similar-pair mass is quadratic.
    * Where vocabulary is bounded, prefer [[nearDupPairsFromShingles]]
    * (tunable candidate budget, identical verified output contract).
    *
    * @param num/den rational threshold t = num/den (float-free test)
    */
  def ngramJaccardPairs(shingled: DataFrame, idCol: String, shinglesCol: String,
                        num: Int, den: Int): DataFrame = {
    // the set table feeds the prefix build AND both verify sides; a
    // lazy reference would re-execute the (often wide) shingle lineage
    // three times. persist, NOT localCheckpoint (r15, ADVICE): this
    // table is CORPUS-SIZED — a checkpoint would pin its rows in
    // executor storage and forfeit recomputation on block loss, which
    // the checkpoint discipline reserves for bounded intermediates.
    // The re-analysis the checkpoint saved is bounded (~57 KB for
    // mm10's 24-hash projection) and the contracted prefix table below
    // keeps its leaf. Tracked for session release.
    val asSet = CacheTracker.persist(
      shingled.withColumn(shinglesCol, array_distinct(col(shinglesCol))))
    verifyJaccard(ngramJaccardCandidates(asSet, idCol, shinglesCol, num, den),
      asSet, idCol, shinglesCol, num, den)
  }

  /** Candidate-pair stage of [[ngramJaccardPairs]], exposed so sizing
    * tools measure the SHIPPED pipeline rather than a copy.
    */
  def ngramJaccardCandidates(shingled: DataFrame, idCol: String, shinglesCol: String,
                             num: Int, den: Int): DataFrame =
    // persist here, NOT inside jaccardCandidatesFromPrefix: staged
    // callers (d5) pass an already-cached prefix and double-caching a
    // cached frame would waste executor memory
    jaccardCandidatesFromPrefix(
      CacheTracker.truncate(buildJaccardPrefix(shingled, idCol, shinglesCol, num, den)),
      num, den)

  /** The rarest-first PREFIX table of [[ngramJaccardCandidates]]
    * (__id, __n, __pos, __th) — the expensive corpus-linear stage
    * (token explode, frequency shuffle, per-doc sort, prefix slice),
    * factored out so a consumer can stage it: the candidate self-join
    * consumes it on BOTH sides, so an unstaged prefix builds twice
    * (exchange reuse dedupes the shuffle but not the cache scans).
    * Same build/probe split as [[buildContainmentIndex]]; unlike the
    * containment index the prefix is threshold-DEPENDENT (prefix
    * length embeds num/den).
    */
  def buildJaccardPrefix(shingled: DataFrame, idCol: String, shinglesCol: String,
                         num: Int, den: Int): DataFrame = {
    val toks = shingled
      .select(col(idCol).as("__id"), explode(col(shinglesCol)).as("__t"))
      .select(col("__id"), xxhash64(col("__t")).as("__th"))
    // global token frequency — ascending = rarest-first prefix order;
    // ties broken by the hash so the order is total and deterministic
    val freq = toks.groupBy("__th").agg(count(lit(1)).as("__cnt"))
    // per doc: sort own tokens by (cnt, hash), keep the prefix WITH
    // each token's 1-based position in the full sorted list (the
    // prefix is the head, so positions are global). n·num/den stays
    // exact in double for any realistic doc size (integers < 2^53),
    // so the ceil is not fp-fragile.
    val prefLen = (col("__n") - ceil(col("__n") * num / den) + 1).cast("int")
    toks.join(freq, "__th")
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("__cnt"), col("__th")))).as("__st"),
        count(lit(1)).as("__n"))
      .select(col("__id"), col("__n"),
        posexplode(slice(col("__st"), lit(1), greatest(prefLen, lit(1)))))
      .select(col("__id"), col("__n"), (col("pos") + 1).as("__pos"), col("col.__th").as("__th"))
  }

  /** Prefix self-join of [[ngramJaccardCandidates]] over a (possibly
    * staged) [[buildJaccardPrefix]] table. `num`/`den` MUST match the
    * threshold the prefix was built with (the prefix length is derived
    * from it).
    */
  def jaccardCandidatesFromPrefix(prefix: DataFrame, num: Int, den: Int): DataFrame = {
    // candidate join with the two PPJoin prunes — both safe
    // relaxations, so completeness is preserved:
    //  * length filter: J >= t ⇒ t·max(|A|,|B|) <= min(|A|,|B|)
    //  * positional filter: the overlap needed is
    //    α = ceil(t/(1+t)·(|A|+|B|)); a match at positions (pA, pB)
    //    can certify at most 1 + min(|A|-pA, |B|-pB) overlap even if
    //    every earlier token matched, so later matches cannot qualify
    //    the pair. (ceil on double is exact here: the operand is at
    //    least 1/(num+den) from any integer unless exactly integral.)
    val (ln, rn) = (col("l.__n"), col("r.__n"))
    val alpha = ceil((ln + rn) * num / (num + den))
    val cands = prefix.as("l").join(prefix.as("r"),
        col("l.__th") === col("r.__th") && col("l.__id") < col("r.__id") &&
          greatest(ln, rn) * num <= least(ln, rn) * den &&
          least(ln - col("l.__pos"), rn - col("r.__pos")) + 1 >= alpha)
      .select(col("l.__id").as("doc_a"), col("r.__id").as("doc_b"))
      .distinct()
    cands
  }

  /** EXACT directed containment-similarity join: pairs (a → b), a ≠ b,
    * with |A ∩ B| / |A| ≥ num/den over the doc shingle sets — the
    * ASYMMETRIC relative Jaccard's symmetric-overlap join
    * ([[ngramJaccardPairs]]) cannot express: a 10-word quote inside a
    * 10,000-word article has Jaccard ≈ 0.1% but containment 100%.
    * The quote/subset-detection primitive (eval-answer snippets inside
    * train docs, boilerplate inclusions, syndicated excerpts).
    *
    * Scale shape = AllPairs prefix filtering adapted to the asymmetric
    * threshold: only the CONTAINED side carries a prefix (size
    * |A| − ceil(τ|A|) + 1 in global rarest-first token order — a
    * qualifying pair must share a prefix token of A with SOME token of
    * B), probed against the full inverted index of the container side
    * with two safe prunes:
    *  - container length: inter ≥ τ|A| and inter ≤ |B| ⇒ |B|·den ≥ |A|·num;
    *  - positional: a match at sorted positions (pA, pB) certifies at
    *    most 1 + min(|A|−pA, |B|−pB) overlap, which must reach
    *    α = ceil(τ|A|).
    * Candidates are exactly verified (array_intersect over the staged
    * shingle arrays), so the join is COMPLETE — no recall caveat. The
    * container side indexes ALL its tokens (no B-prefix exists for an
    * asymmetric threshold), so hot boilerplate shingles drive the
    * candidate volume — d5's bounded-vocab caveat applies doubly;
    * route corpora with heavy shared boilerplate through
    * [[d21-style boilerplate removal|TextOps]] first.
    *
    * Returns (doc_a, doc_b, containment_pct): doc_a's shingles are
    * ≥ num/den contained in doc_b's.
    */
  def containmentPairs(shingled: DataFrame, idCol: String, shinglesCol: String,
                       num: Int, den: Int): DataFrame = {
    // persist the inline index here (the probe consumes sorted twice
    // and sets twice); staged callers (d22) persist their own copies
    val ix0 = buildContainmentIndex(shingled, idCol, shinglesCol)
    containmentPairsFromIndex(ContainmentIndex(
      CacheTracker.truncate(ix0.sets),
      CacheTracker.truncate(ix0.sorted)),
      num, den)
  }

  /** The threshold-INDEPENDENT half of [[containmentPairs]]: the
    * deduplicated shingle-set table (`sets`: __id, __set — the exact
    * verify's operand) and the rarest-first sorted token index with
    * doc sizes (`sorted`: __id, __st, __n — what prefix and probe
    * positions slice from). Building `sorted` is the expensive part
    * (full token explode, frequency shuffle, per-doc sort) and the
    * probe plan consumes it TWICE (prefix side + full side) plus
    * `sets` twice (both verify operands) — so persist both and reuse:
    * at 100 TB this index is materialized once per corpus snapshot and
    * probed at whatever thresholds the decontamination queries need,
    * exactly like the IVF build/probe split.
    */
  final case class ContainmentIndex(sets: DataFrame, sorted: DataFrame)

  def buildContainmentIndex(shingled: DataFrame, idCol: String,
                            shinglesCol: String): ContainmentIndex = {
    val sets = shingled.select(col(idCol).as("__id"),
      array_distinct(col(shinglesCol)).as("__set"))
    val toks = sets
      .select(col("__id"), explode(col("__set")).as("__t"))
      .select(col("__id"), xxhash64(col("__t")).as("__th"))
    val freq = toks.groupBy("__th").agg(count(lit(1)).as("__cnt"))
    val sorted = toks.join(freq, "__th")
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("__cnt"), col("__th")))).as("__st"),
        count(lit(1)).as("__n"))
    ContainmentIndex(sets, sorted)
  }

  /** Probe a [[ContainmentIndex]] at threshold num/den — the prefix
    * slice, candidate join, prunes, and exact verify of
    * [[containmentPairs]], with the corpus-linear index build factored
    * out.
    */
  def containmentPairsFromIndex(index: ContainmentIndex,
                                num: Int, den: Int): DataFrame = {
    def positional(src: DataFrame, sliceLen: Option[Column]): DataFrame =
      src.select(col("__id"), col("__n"),
          posexplode(sliceLen.map(l => slice(col("__st"), lit(1), greatest(l, lit(1))))
            .getOrElse(col("__st"))))
        .select(col("__id"), col("__n"), (col("pos") + 1).as("__pos"),
          col("col.__th").as("__th"))
    val prefLen = (col("__n") - ceil(col("__n") * num / den) + 1).cast("int")
    val prefix = positional(index.sorted, Some(prefLen))
    val full = positional(index.sorted, None)
    val (an, bn) = (col("a.__n"), col("b.__n"))
    val alpha = ceil(an * num / den)
    val cands = prefix.as("a").join(full.as("b"),
        col("a.__th") === col("b.__th") && col("a.__id") =!= col("b.__id") &&
          bn * den >= an * num &&
          least(an - col("a.__pos"), bn - col("b.__pos")) + 1 >= alpha)
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .distinct()
    val sa = index.sets.select(col("__id").as("doc_a"), col("__set").as("__sa"))
    val sb = index.sets.select(col("__id").as("doc_b"), col("__set").as("__sb"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .filter(col("__inter") * den >= size(col("__sa")).cast("long") * num)
      .select(col("doc_a"), col("doc_b"),
        floor(lit(100L) * col("__inter") / size(col("__sa"))).cast("long")
          .as("containment_pct"))
  }

  // ---- Transitive dedup clusters ---------------------------------------

  /** Connected components over a near-dup pair graph: every document
    * labeled with the MINIMUM doc id reachable through pair edges —
    * the step that turns pairwise matches into actual dedup decisions
    * (keep the representative, drop the rest), which pairwise output
    * alone cannot express when dups chain (A~B, B~C, A!~C).
    *
    * Algorithm: distributed min-label propagation. Each round costs a
    * bounded handful of exchanges (the labels-edges join, the
    * union+min-aggregate, and the convergence-check join) over the
    * LABEL table — always (id, rep) pairs, never document payloads —
    * and the driver loop only checks convergence (a count per round —
    * control flow, not data movement). Rounds needed = graph diameter,
    * which for
    * near-dup graphs (cliques and short chains) is small; for
    * adversarial long-path graphs switch to alternating star
    * contraction (O(log n) rounds) — same join/agg building blocks.
    * Labels/edges are truncated per round ([[CacheTracker.truncate]])
    * and freed on the next.
    *
    * @param pairs (doc_a, doc_b) — one row per undirected edge
    * @return (id, rep) for every vertex that appears in `pairs`;
    *         rep = min id of its component. The returned frame is a
    *         MATERIALIZED truncated leaf (its iterative lineage is
    *         already freed), pinned under the session lifecycle: free
    *         it early with [[CacheTracker.free]] or leave it to the
    *         session sweep.
    * @throws IllegalStateException if maxIter rounds don't converge
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import CacheTracker.{free, truncate => trunc}
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // checkpoint (not just persist) the edge table: a persisted frame
    // still CARRIES its full logical plan (here: the whole upstream
    // candidate pipeline), and every round's plan embeds it — the
    // driver re-analyzes it each round even on cache hits. Truncating
    // to a leaf makes per-round planning O(round plan), not
    // O(pipeline plan). Measured on the star variant: 33.7 s -> 2.7 s.
    val edges = trunc(fwd.union(fwd.select(col("dst"), col("src"))))
    var labels = trunc(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("rep")))
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // rep'(v) = min(rep(v), min over neighbors u of rep(u))
      val viaEdges = labels.join(edges, labels("id") === edges("src"))
        .select(col("dst").as("id"), col("rep"))
      // truncate lineage EVERY round: the plan otherwise deepens
      // linearly with rounds and the driver re-analyzes the whole chain
      // each round (the measured bottleneck — PROBES.md). Truncation
      // materializes what the convergence count below pays anyway, and
      // makes every round's frame a self-contained leaf, so the
      // superseded round can be released eagerly (below) instead of
      // waiting on driver GC + ContextCleaner.
      val next = trunc(labels.select(col("id"), col("rep")).union(viaEdges)
        .groupBy("id").agg(min("rep").as("rep")))
      val changed = next.as("n").join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.rep") =!= col("o.rep")).count()
      free(labels) // next is materialized + compared; prev round's blocks die now
      labels = next
      converged = changed == 0
      it += 1
    }
    free(edges)
    if (!converged) {
      free(labels) // don't leak the last round's blocks on the throw path
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter rounds " +
          "(diameter exceeds budget — use connectedComponentsStar, whose " +
          "round count is logarithmic in component size)")
    }
    labels
  }

  /** Connected components via ALTERNATING STAR CONTRACTION — same
    * contract as [[connectedComponents]] (same input/output schema,
    * pinned truncated-leaf result, min-id representative) but with round count
    * logarithmic in component size instead of linear in diameter, so it
    * is the variant to use when the pair graph can contain long chains
    * (adversarial near-dup graphs; transitive key-collision chains).
    *
    * Algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SOCC'14 — public literature):
    *   large-star: every node u links each STRICTLY LARGER neighbor to
    *     m(u) = min(N(u) ∪ {u});
    *   small-star: with edges canonicalized (larger → smaller), every
    *     node u links each smaller neighbor and itself to m(u).
    * Both preserve connectivity; alternating them converges to the
    * fixpoint where every component is a star centered on its min id.
    *
    * Scale shape per round: one groupBy + one join over the EDGE table
    * (id pairs only, payload-free), map-side combinable; lineage is
    * truncated every round like the label loop.
    * Self-loops are dropped each round so the edge table shrinks as
    * components contract.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import CacheTracker.{free, truncate => trunc}
    // initial checkpoint: same reason as in [[connectedComponents]] —
    // and here it is CRITICAL, because each star round references the
    // previous round's frame ~6 times (bidir union + two star joins +
    // convergence anti-joins), so an uncheckpointed plan grows
    // MULTIPLICATIVELY and driver analysis dominated the wall clock
    // (measured at sf0.1: 33.7 s with %3 checkpointing -> 2.7 s with
    // initial + per-round truncation, on a 256-edge graph).
    var edges = trunc(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    // all vertices, captured from the UNFILTERED pairs (a vertex whose
    // only edge is a self-loop must still be labeled — the min-label
    // variant labels it, and the two variants share one contract) and
    // BEFORE contraction erases degree-1 chains
    val vertices = pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b").as("id"))).distinct()
      .persist(MEMORY_AND_DISK)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // ---- large-star ----
      val bidir = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val lmins = bidir.groupBy("src")
        .agg(min("dst").as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("mn"))
      val large = bidir.join(lmins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("mn").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      // ---- small-star (on canonical larger→smaller edges) ----
      val canon = large.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val smins = canon.groupBy("src").agg(min("dst").as("mn"))
      val small = canon.join(smins, "src")
        .select(col("dst").as("src"), col("mn").as("dst"))
        .union(smins.select(col("src"), col("mn").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      // per-round checkpoint (not every-3rd): each round's plan embeds
      // ~6 copies of the previous round's, so anything short of full
      // truncation lets driver-side analysis grow multiplicatively.
      val next = trunc(small)
      // fixpoint test: the edge set is unchanged (both anti-join counts
      // zero over the two checkpointed leaves)
      val grew = next.join(edges, Seq("src", "dst"), "left_anti").count()
      converged = grew == 0 &&
        edges.join(next, Seq("src", "dst"), "left_anti").count() == 0
      // `next` is a materialized leaf and the anti-joins are counted:
      // nothing references the superseded round — release its blocks
      // NOW rather than waiting on driver GC to trigger ContextCleaner
      // (under slow/absent GC the transient residency could otherwise
      // exceed the few-copies-of-the-initial-edge-set bound).
      free(edges)
      edges = next
      it += 1
    }
    if (!converged) {
      free(edges)
      vertices.unpersist()
      throw new IllegalStateException(
        s"connectedComponentsStar: no fixpoint after $maxIter rounds")
    }
    // at the fixpoint every component is a star (v → min). Labels = the
    // star edges plus a self-label for every vertex not covered (roots,
    // and any vertex whose edges contracted away entirely).
    val labels = trunc(vertices
      .join(edges.select(col("src").as("id"), col("dst").as("rep")), Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep")))
    free(edges)
    vertices.unpersist()
    labels
  }

  // ---- Embedding-cosine near-dup ---------------------------------------

  /** Embedding-cosine near-duplicate pairs: sign-LSH banding over the
    * vectors (corpus hashed once; candidates only within matching
    * (band, bits) buckets — same shape as the MinHash path), then an
    * exact cosine verification join over candidates only. The bucket
    * self-join shuffles SHORT keys (band id + bit string + doc ids),
    * never vectors; vectors are re-joined only for the candidate pairs.
    *
    * Recall: a pair at cosine c collides per band w.p.
    * (1 - acos(c)/π)^rowsPerBand; at the defaults (24 planes, 8 bands
    * of 3) a c=0.98 pair is missed w.p. ~1e-6, and EXACT duplicates
    * (c=1, identical sign codes — scaling a vector never flips a sign
    * projection) have recall exactly 1. False candidates cost only
    * verify work.
    */
  def embedNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String, dims: Int,
                        minCosine: Double, planes: Int = 24,
                        rowsPerBand: Int = 3): DataFrame = {
    require(planes % rowsPerBand == 0,
      s"planes ($planes) must be divisible by rowsPerBand ($rowsPerBand): " +
        "trailing code bits would silently never be banded")
    val bands = planes / rowsPerBand
    // both self-join sides consume the banded table and signCode is
    // the planes×dims fold per row — truncated: persist alone left
    // each side re-analyzing the fold's expression tree (d4 planned
    // ~110 KB, measured r14)
    val banded = CacheTracker.truncate(Similarity.bandExplode(
      vecs.withColumn("__code", Similarity.signCode(col(vecCol), dims, planes)),
      "__code", bands, rowsPerBand, Seq(idCol)))
    val cands = banded.select(col(idCol).as("doc_a"), col("band"), col("bits"))
      .join(banded.select(col(idCol).as("doc_b"), col("band"), col("bits")), Seq("band", "bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val va = vecs.select(col(idCol).as("doc_a"), col(vecCol).as("__va"))
    val vb = vecs.select(col(idCol).as("doc_b"), col(vecCol).as("__vb"))
    cands.join(va, "doc_a").join(vb, "doc_b")
      .withColumn("__cos", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("__cos") >= minCosine)
      .select(col("doc_a"), col("doc_b"),
        floor(col("__cos") * 1e6).cast("long").as("cos_micro"))
  }

  // ---- SimHash ----------------------------------------------------------

  /** 64-bit SimHash sketches (__id, __sim: bigint) of an (__id, __h)
    * [[shingleHashTable]]: bit j of each shingle hash votes +1 when set
    * and −1 when clear, and bit j of the sketch is set iff the
    * document's vote sum is > 0 (a tie leaves it clear). One row per
    * document with at least one shingle. [[portableHash60]] values lie
    * in [0, 2^60), so under that hash bits 60-63 always vote −1 and
    * stay clear: the sketch is the 60-bit one a SQL engine recomputes.
    */
  def simhashColsFromHashes(hashed: DataFrame): DataFrame = {
    val aggs = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("__h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"__v$j")
    }
    hashed.groupBy("__id").agg(aggs.head, aggs.tail: _*)
      .select(col("__id"), (0 until 64).map(j =>
        when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ bitwiseOR _).as("__sim"))
  }

  /** SimHash near-dup pairs (doc_a, doc_b, hamming) of a text column:
    * shingles → [[shingleHashTable]] → [[simhashColsFromHashes]] →
    * [[hammingPairsFromLongs]], so `maxHamming` is bounded as there
    * (1..31). Nothing is persisted; at scale stage the sketch table (as
    * `Staged.docSimhash60` does) and call [[hammingPairsFromLongs]].
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, maxHamming: Int = 3): DataFrame =
    hammingPairsFromLongs(simhashColsFromHashes(shingleHashTable(
        docs.select(col(idCol), TextOps.shingles(col(textCol), shingleN).as("__sh")),
        idCol, "__sh")),
      "__id", "__sim", maxHamming)

  // ---- corpus-level chunk (paragraph) dedup -------------------------

  /** CCNet-style corpus-level duplicate-paragraph removal, adapted to
    * newline-free text: segment each document into consecutive k-word
    * chunks, keep only the globally FIRST occurrence of every distinct
    * chunk (ordered by (id, chunk position) — deterministic), and
    * reassemble the surviving chunks in document order.
    *
    * Scale shape: the first occurrence per chunk is `min(struct(id,
    * pos))` under a groupBy on the chunk — a map-side-combining
    * aggregation, so a boilerplate chunk repeated a billion times
    * collapses to one row per partition BEFORE the exchange (a window
    * `row_number() = 1` formulation would instead sort the full hot
    * group on one reducer). Reassembly shuffles survivors by id only.
    * Two exchanges total, both skew-tolerant.
    *
    * Output: (idCol, clean_text, kept, dropped), one row per input
    * document ([[graft.operators.TextOps.wordChunks]] is total, so
    * fully-duplicated docs survive with clean_text = "").
    *
    * Reference scope: corpus dedup is north-star pipeline work; the
    * reference library itself has no text ops (SURVEY.md §2.6).
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // NULL text reads as empty text: without the coalesce the explode
    // branch drops the row (posexplode of NULL) while the totals branch
    // yields size(NULL) = NULL, emitting (id, '', 0, NULL) — a torn row
    // that breaks downstream arithmetic on `dropped`
    val text = coalesce(col(textCol), lit(""))
    // Hoist the tokenization into its own projection: `__w` reaches the
    // chunking lambda as an attribute, so the interpreted HOF slices a
    // ready array instead of re-splitting the document once per chunk
    // (CollapseProject keeps the barrier — the alias is non-cheap and
    // referenced more than once, so Catalyst does not inline it back).
    val docsW = docs.select(col(idCol).as("__id"), TextOps.words(text).as("__w"))
    val ch = docsW.select(col("__id"),
      posexplode(TextOps.wordChunksFromWords(col("__w"), k)).as(Seq("__cidx", "__chunk")))
    val firsts = ch.groupBy("__chunk")
      .agg(min(struct(col("__id"), col("__cidx"))).as("__f"))
      .select(col("__f.__id").as("__id"), col("__f.__cidx").as("__cidx"),
        col("__chunk"))
    val rebuilt = firsts.groupBy("__id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__cidx"), col("__chunk")))),
          c => c.getField("__chunk")), " ").as("clean_text"),
        count(lit(1)).as("kept"))
    // per-doc chunk totals as a NARROW scan-side projection (size of
    // the chunk array) — no explode, no exchange on this branch
    val totals = docsW.select(col("__id"),
      size(TextOps.wordChunksFromWords(col("__w"), k)).cast("long").as("__total"))
    totals.join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept"), lit(0L)).as("kept"),
        (col("__total") - coalesce(col("kept"), lit(0L))).as("dropped"))
  }

  /** Boilerplate-chunk removal — [[chunkDedup]]'s companion rule:
    * chunks whose text appears in at least `minDocs` DISTINCT
    * documents are boilerplate (headers, footers, navigation) and are
    * removed from EVERY document, not deduplicated to one copy. Same
    * hoisted-tokenization + narrow-totals shape as chunkDedup; the
    * doc-frequency aggregate is two-level — (chunk, doc) distinct,
    * then per-chunk count — both map-side-combining, no
    * count-distinct EXPAND; the boiler set anti-joins back keyed on
    * the chunk (the high-frequency tail, broadcast-sized in practice).
    */
  def boilerplateRemoval(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, minDocs: Int): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val docsW = docs.select(col(idCol).as("__id"), TextOps.words(text).as("__w"))
    val ch = docsW.select(col("__id"),
      posexplode(TextOps.wordChunksFromWords(col("__w"), k)).as(Seq("__cidx", "__chunk")))
    val boiler = ch.select(col("__chunk"), col("__id")).distinct()
      .groupBy("__chunk").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__chunk"))
    val kept = ch.join(boiler, Seq("__chunk"), "left_anti")
    val rebuilt = kept.groupBy("__id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__cidx"), col("__chunk")))),
        c => c.getField("__chunk")), " ").as("clean_text"),
      count(lit(1)).as("kept"))
    val totals = docsW.select(col("__id"),
      size(TextOps.wordChunksFromWords(col("__w"), k)).cast("long").as("__total"))
    totals.join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept"), lit(0L)).as("kept"),
        (col("__total") - coalesce(col("kept"), lit(0L))).as("dropped"))
  }

  // ---- benchmark-contamination report --------------------------------

  /** Substring-level exact dedup (the ExactSubstr policy of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — re-expressed relationally instead of
    * via their single-node suffix array): every word position covered
    * by a non-FIRST occurrence of any duplicated k-word window is
    * removed; first occurrences keep their text, so exactly one copy
    * of every duplicated passage survives corpus-wide. Overlapping
    * windows (stride 1) catch duplicated passages at ANY alignment —
    * the property [[chunkDedup]]'s non-overlapping chunks give up.
    *
    * Scale shape: windows are keyed by their engine-portable 60-bit
    * hash, so the global first-occurrence pass is a map-side-combining
    * `min(struct)+count` agg over (hash) — gram TEXT never enters an
    * exchange anywhere. Duplicate occurrences expand to covered (doc,
    * pos) pairs (×k rows on the duplicated fraction only), and the
    * rebuild is one anti-join plus a per-doc agg on integer keys.
    * Hash collisions (2^-60-scale) would merge distinct grams; the
    * oracle replays the same hash, so the contract is exact w.r.t.
    * the keyed windows.
    *
    * Output: (idCol, clean_text, n_words, n_removed), one row per
    * input document.
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame =
    substringDedupFromGrams(docs, windowHashTable(docs, idCol, textCol, k),
      idCol, textCol, k)

  /** (__id, __i, __h): every overlapping k-word window keyed by its
    * engine-portable 60-bit hash — the input [[substringDedupFromGrams]]
    * consumes TWICE (global first-occurrence agg + per-occurrence
    * probe). Stage/persist it when running the full dedup so the
    * ngram+hash pipeline runs once, not once per consumer (the local
    * analog of materializing the window table to parquet in a 100 TB
    * pipeline).
    */
  def windowHashTable(docs: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    docs.select(col(idCol).as("__id"), TextOps.words(text).as("__w"))
      // ngrams is ordered by start position, so posexplode yields the
      // window's word offset directly
      .select(col("__id"),
        posexplode(TextOps.ngramsFromWords(col("__w"), k)).as(Seq("__i", "__g")))
      .select(col("__id"), col("__i"), portableHash60(col("__g")).as("__h"))
  }

  /** [[substringDedup]] from a pre-built (possibly persisted) window
    * hash table — see [[windowHashTable]].
    */
  def substringDedupFromGrams(docs: DataFrame, grams: DataFrame,
                              idCol: String, textCol: String, k: Int): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val docsW = docs.select(col(idCol).as("__id"), TextOps.words(text).as("__w"))
    val firsts = grams.groupBy("__h")
      .agg(min(struct(col("__id"), col("__i"))).as("__f"), count(lit(1)).as("__cnt"))
    // non-first occurrences of duplicated windows
    val dups = grams.join(firsts.filter(col("__cnt") > 1), "__h")
      .filter(!(col("__id") === col("__f.__id") && col("__i") === col("__f.__i")))
      .select(col("__id"), col("__i"))
    // covered word positions (distinct: overlapping dup windows merge)
    val covered = dups
      .select(col("__id"), explode(sequence(col("__i"), col("__i") + lit(k - 1))).as("__p"))
      .distinct()
    val wordsPos = docsW.select(col("__id"),
      posexplode(col("__w")).as(Seq("__p", "__word")))
    val survivors = wordsPos.join(covered, Seq("__id", "__p"), "left_anti")
      .groupBy("__id")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__word")))),
          c => c.getField("__word")), " ").as("clean_text"),
        count(lit(1)).as("__kept"))
    val totals = docsW.select(col("__id"), size(col("__w")).cast("long").as("__total"))
    totals.join(survivors, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("__total").as("n_words"),
        (col("__total") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** Train/eval n-gram contamination: for every training document,
    * count its distinct word n-grams that also appear anywhere in the
    * eval split. The production shape for "did benchmark text leak
    * into the training corpus": the eval side (a benchmark suite) is
    * tiny relative to the corpus, so its distinct gram set broadcasts
    * and the training side never shuffles its grams at all — one pass
    * over the training grams, a left join against the broadcast set,
    * counts every gram (n_grams; shingles is a distinct set) and the
    * hits (n_overlap) in the same per-doc aggregation. The only
    * exchanges are the eval-side distinct and that aggregation (both
    * map-side combining, keyed by gram and doc id).
    *
    * `evalPred` selects the eval split. Output: (idCol, n_overlap,
    * n_grams, permille) for contaminated training docs only.
    */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, evalPred: Column => Column): DataFrame = {
    val sh = docs.select(col(idCol).as("__id"),
      explode(TextOps.shingles(col(textCol), n)).as("__s"))
    val ev = sh.filter(evalPred(col("__id"))).select("__s").distinct()
      .withColumn("__hit", lit(true))
    sh.filter(!evalPred(col("__id")))
      .join(broadcast(ev), Seq("__s"), "left")
      .groupBy("__id").agg(count(col("__hit")).as("n_overlap"), count(lit(1)).as("n_grams"))
      .filter(col("n_overlap") > 0)
      .select(col("__id").as(idCol), col("n_overlap"), col("n_grams"),
        expr("CAST((1000 * n_overlap) DIV n_grams AS BIGINT)").as("permille"))
  }

  /** Span-level benchmark decontamination: WHERE the contamination sits,
    * not just which documents carry it. For every training document,
    * every overlapping word n-gram POSITION whose gram appears in the
    * eval set is a hit; the report aggregates hits per document
    * (count, first/last position, distinct grams matched) — the
    * surgical-removal shape (cut the spans, keep the document) versus
    * [[contaminationReport]]'s drop-the-document shape.
    *
    * Same scale contract as d8: the eval gram set is deduplicated and
    * BROADCAST (eval suites are bounded — thousands of docs — while
    * the train side is the 100 TB one); train grams are generated and
    * filtered scan-side by the broadcast hash join, so the only
    * exchange carries matched (doc, pos, gram) hit rows into the
    * per-doc aggregate. Positions are 0-based gram start offsets in
    * words. Uses positional [[TextOps.ngramsFromWords]] (duplicates
    * kept — a gram repeated in a document is multiple spans to cut),
    * with the words array let-bound once per row.
    */
  def spanContamination(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, evalPred: Column => Column): DataFrame = {
    val grams = docs
      .select(col(idCol).as("__id"), TextOps.words(col(textCol)).as("__w"))
      .select(col("__id"),
        posexplode(TextOps.ngramsFromWords(col("__w"), n)).as(Seq("__pos", "__s")))
    val ev = grams.filter(evalPred(col("__id"))).select("__s").distinct()
    val hits = grams.filter(!evalPred(col("__id"))).join(broadcast(ev), "__s")
    hits.groupBy("__id").agg(
        count(lit(1)).as("n_spans"),
        min("__pos").cast("long").as("first_pos"),
        max("__pos").cast("long").as("last_pos"),
        countDistinct("__s").as("n_grams_hit"))
      .select(col("__id").as(idCol), col("n_spans"), col("first_pos"),
        col("last_pos"), col("n_grams_hit"))
  }

  /** Near-dup pairs among 64-bit LONG sketches at Hamming distance <=
    * `maxDist`: the [[hammingCandidates]] of the sketches, verified by
    * exact popcount `bit_count(a ^ b)` over candidates only. Every step
    * is a native codegen'd expression.
    */
  def hammingPairsFromLongs(sketches: DataFrame, idCol: String, hashCol: String,
                            maxDist: Int): DataFrame =
    hammingCandidates(sketches, idCol, hashCol, maxDist)
      .withColumn("hamming", expr("bit_count(__ha ^ __hb)").cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")

  /** Candidate-pair stage of [[hammingPairsFromLongs]], exposed so
    * sizing tools measure the SHIPPED pipeline rather than a copy:
    * pigeonhole banding over `maxDist + 1` bit chunks extracted with
    * shift/mask (even split, remainder bits on the last chunk — a pair
    * within the budget shares at least one exact chunk, so banding
    * recall is 1.0). Returns the distinct (doc_a < doc_b, __ha, __hb)
    * rows: each pair carries both sketches as 8-byte columns, so the
    * verify needs no re-join.
    */
  def hammingCandidates(sketches: DataFrame, idCol: String, hashCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 31, s"maxDist=$maxDist out of range")
    val nChunks = maxDist + 1
    val width = 64 / nChunks
    val chunks = sketches
      .select(col(idCol).as("__id"), col(hashCol).as("__h"))
      .select(col("__id"), col("__h"),
        explode(array((0 until nChunks).map { j =>
          val lo = j * width
          val w = if (j == nChunks - 1) 64 - lo else width
          struct(lit(j).as("band"),
            shiftrightunsigned(col("__h"), lo).bitwiseAND(lit((1L << w) - 1L)).as("bits"))
        }: _*)).as("__b"))
      .select(col("__id"), col("__h"),
        col("__b.band").as("band"), col("__b.bits").as("bits"))
    val l = chunks.as("l")
    val r = chunks.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bits") === col("r.bits")
        && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("doc_a"), col("r.__id").as("doc_b"),
        col("l.__h").as("__ha"), col("r.__h").as("__hb"))
      .distinct()
  }

  /** Canonical-document selection per duplicate cluster: given CC
    * labels ((id, rep) — [[connectedComponents]] output) and a score
    * column, keep the argmax-score member of every cluster with a
    * deterministic smallest-id tie-break. One equi-join to attach
    * scores + one map-side-combining `max(struct(score, -id))` agg —
    * the skew-safe shape (a 10M-member boilerplate cluster folds to
    * one struct per map task; the window-row_number formulation would
    * sort the whole cluster on one reducer).
    *
    * Returns (cluster_rep, keep_id, keep_score, n_members).
    */
  def clusterCanonical(labels: DataFrame, docs: DataFrame,
                       idCol: String, scoreCol: String): DataFrame =
    labels.join(
        docs.select(col(idCol).as("id"), col(scoreCol).cast("long").as("__score")),
        "id")
      .groupBy("rep").agg(
        count(lit(1)).as("n_members"),
        max(struct(col("__score"), (-col("id")).as("__nid"))).as("__m"))
      .select(col("rep").as("cluster_rep"),
        (-col("__m.__nid")).as("keep_id"),
        col("__m.__score").as("keep_score"),
        col("n_members"))

  // ---- Bloom-prefiltered incremental membership ------------------------

  /** Bloom-prefiltered incremental dedup admission (the daily-crawl
    * membership test at 100 TB): build a Bloom filter over the EXISTING
    * corpus content hashes (one tree-aggregated pass; the sketch is
    * kilobytes-to-MBs and ships to every executor), probe it SCAN-SIDE
    * on the incoming batch, and run the exact semi-join verification
    * only over probe survivors — true dups plus the `fpp` share of
    * false positives. The verdict is EXACT: the bloom never decides,
    * it only prunes the verify join's probe side (a false positive is
    * dropped by the join; a false negative cannot occur — the no-FN
    * guarantee is what makes the prefilter sound). Contrast with
    * [[incrementalSurvivors]], which ships the WHOLE incoming batch
    * into the anti-join.
    *
    * Returns (idCol, is_dup: 0/1 long) for every incoming row. NULL
    * text hashes as empty (the d7 contract). The `mightContainLong`
    * probe is a JVM lambda over the broadcast sketch — off the codegen
    * path by necessity (the sketch is driver-built state, not an
    * expression), and the cheapest possible row test: two multiplies
    * and `numHashFunctions` bit loads.
    */
  def bloomMembership(existing: DataFrame, incoming: DataFrame,
                      textCol: String, idCol: String,
                      fpp: Double = 0.01): DataFrame = {
    val h = xxhash64(coalesce(col(textCol), lit("")))
    val exH = existing.select(h.as("__h"))
    val expected = math.max(1L, exH.count())
    val bf = exH.stat.bloomFilter("__h", expected, fpp)
    val spark = incoming.sparkSession
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((hv: Long) => bfB.value.mightContainLong(hv))
    val inc = incoming.select(col(idCol), h.as("__h"))
    val confirmed = inc.filter(mightContain(col("__h")))
      .join(exH.distinct(), Seq("__h"), "left_semi")
      .select(col(idCol), lit(1L).as("__dup"))
    inc.select(idCol).join(confirmed, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__dup"), lit(0L)).as("is_dup"))
  }
}
