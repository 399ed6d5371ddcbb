package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{DcaFrame, Indexing}
import graft.functions.{DotF32, TopKSketch}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three paths, mirroring what a 100 TB pipeline needs:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness
  *     baseline; broadcast the (small) query set, scan the corpus once,
  *     keep top-k per query with the bounded native `topk_sketch`
  *     aggregate ([[graft.functions.TopKSketch]]; O(k) state, never a
  *     per-key window sort).
  *   - [[ivfTopK]]: inverted-file ANN — centroids live on the driver
  *     (k-means centroids are KBs even at 64k cells) and cell
  *     assignment is a NARROW per-row argmax fold over the broadcast
  *     centroid array: no corpus×centroid row expansion, no shuffle.
  *   - [[lshTopK]]: sign-random-projection LSH bucketing — corpus
  *     hashed once, candidates only within matching band buckets,
  *     exact re-rank on candidates.
  *
  * Arithmetic notes: floats are cast to double BEFORE multiplication and
  * the dot product ([[graft.functions.DotF32]]) accumulates left to
  * right, so results are bit-reproducible across engines (the DuckDB
  * oracle mirrors the fold).
  */
object Similarity {

  /** Left-fold dot product of two array<float> columns in double: the
    * native kernel [[graft.functions.DotF32]].
    */
  def dot(a: Column, b: Column): Column = DotF32.col(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Shared exact re-rank: bounded single-pass top-k per query key via
    * the native `topk_sketch` aggregate ([[graft.functions.TopKSketch]],
    * spec-pinned equal to the [[graft.functions.TopKAgg]] fold) —
    * partial aggregation keeps only k (score, id) pairs per partition,
    * the shuffle carries k-row buffers per (qid, partition), and no
    * task ever sorts the full candidate set. This is the plan that
    * survives a 100× corpus; the `row_number().over(Window.partitionBy(qid))`
    * formulation it replaces funnels EVERY scored row into one sort task
    * per query.
    *
    * Ordering: score DESC, id ASC tiebreak (same as the window form).
    * Output: (qidCol, rank, idCol, cos_micro) with
    * cos_micro = floor(1e6 * score) as BIGINT.
    */
  private[graft] def topKReRank(scored: DataFrame, k: Int, qidCol: String,
                                idCol: String, scoreCol: String): DataFrame = {
    // the bounded aggregator keys on Long ids; a non-integral id column
    // would cast to NULL and be silently skipped — reject it eagerly
    // with a usable message instead
    Seq(qidCol, idCol).foreach { c =>
      scored.schema(c).dataType match {
        case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
             _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"top-k re-rank requires integral id columns; $c is ${other.catalogString} " +
            "(map string ids to a dense long surrogate first)")
      }
    }
    // native bounded heap aggregate (functions/TopKSketch) — the typed
    // groupByKey path deserialized every scored candidate into a case
    // class per row; topk_sketch reads (id, score) off the Tungsten row
    // and ships k-entry buffers.
    scored
      .select(col(qidCol).cast("long").as(qidCol),
        col(idCol).cast("long").as(idCol), col(scoreCol).cast("double").as("__s"))
      .groupBy(qidCol)
      .agg(TopKSketch.col(col(idCol), col("__s"), k).as("__topk"))
      .select(col(qidCol), posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(qidCol), (col("__pos") + 1).cast("long").as("rank"),
        col("__e.id").as(idCol),
        floor(col("__e.score") * 1e6).cast("long").as("cos_micro"))
  }

  /** Exact top-k neighbors for each query vector.
    *
    * @param corpus  (id, vec) — the full embedding table
    * @param queries (qid, qvec) — SMALL; broadcast
    * @return (qid, rank, id, cos_micro) — rank 1..k by cosine desc,
    *         ties broken by id; cosine as floor(1e6 * cos) BIGINT
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__cos", cosine(col(vecCol), col(qvecCol)))
    topKReRank(scored, k, qidCol, idCol, "__cos")
  }

  /** Maximal-Marginal-Relevance re-rank: greedily pick k of the top
    * nCand candidates, each step maximizing
    * `rel(c) − λ · max_{s∈selected} cos(c, s)` (λ = 0.5, exact in
    * binary), ties broken by id asc.
    *
    * Shape: candidate generation is the DISTRIBUTED part (brute-force
    * cosine against the 1-row broadcast query — sim1's replicate-join
    * class; swap in [[ivfTopK]]/[[lshTopK]] at larger corpora). The
    * greedy selection is inherently sequential over k·nCand pairwise
    * cosines on a few KB of collected vectors — driver control flow,
    * the same class as Bpe's one-row argmax. All doubles follow
    * [[dot]]'s left-fold accumulation, so the DuckDB unrolled-round
    * oracle replays them bit-for-bit.
    *
    * @return (step, vec_id, rel_micro, mmr_micro), step 1..k in
    *         selection order; micro = floor(1e6·x) BIGINT
    */
  def mmrRerank(corpus: DataFrame, queryVecId: Long, nCand: Int, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val q = corpus.filter(col(idCol) === queryVecId)
      .select(col(vecCol).as("__qvec"))
    val cands = corpus.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryVecId)
      .select(col(idCol), col(vecCol),
        cosine(col(vecCol), col("__qvec")).as("__rel"))
      .orderBy(col("__rel").desc, col(idCol))
      .limit(nCand)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cosD(a: Array[Float], b: Array[Float]): Double =
      dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
    val byId = cands.map(c => c._1 -> c._2).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val remaining = scala.collection.mutable.LinkedHashMap(cands.map(c => c._1 -> c): _*)
    var step = 1
    while (step <= k && remaining.nonEmpty) {
      var bestId = -1L; var bestRel = 0.0; var bestMmr = Double.NegativeInfinity
      remaining.valuesIterator.foreach { case (id, vec, rel) =>
        val mmr =
          if (picked.isEmpty) rel
          else rel - 0.5 * picked.iterator.map(p => cosD(vec, byId(p))).max
        if (mmr > bestMmr || (mmr == bestMmr && id < bestId)) {
          bestId = id; bestRel = rel; bestMmr = mmr
        }
      }
      selected += ((step.toLong, bestId,
        math.floor(bestRel * 1e6).toLong, math.floor(bestMmr * 1e6).toLong))
      picked += bestId
      remaining -= bestId
      step += 1
    }
    import spark.implicits._
    selected.toSeq.toDF("step", idCol, "rel_micro", "mmr_micro")
      .orderBy("step")
  }

  /** A centroid held on the driver: (cell label, vector, precomputed
    * L2 norm — same left-fold double arithmetic as [[norm]]).
    */
  final case class Centroid(cell: Long, vec: Array[Float]) {
    val norm2: Double = {
      var s = 0.0; var i = 0
      while (i < vec.length) { s += vec(i).toDouble * vec(i).toDouble; i += 1 }
      math.sqrt(s)
    }
  }

  /** Literal array<struct<cell, cvec, cnorm>> column of the centroids —
    * ships with the serialized plan (the Spark analog of a broadcast
    * variable for expression-level data; KBs even at 64k cells).
    */
  private def centroidArray(cents: Seq[Centroid]): Column =
    array(cents.sortBy(_.cell).map { c =>
      struct(lit(c.cell).as("cell"), typedlit(c.vec.toSeq).as("cvec"),
        lit(c.norm2).as("cnorm"))
    }: _*)

  /** Per-row cosine of `vec` against every centroid, as
    * array<struct<sim, cell>> — ONE narrow projection, each centroid
    * scored exactly once (transform, not a when-chain that would
    * re-evaluate the dot). `__vnorm` must hold norm(vec).
    */
  private def centroidSims(vec: Column, vnorm: Column, cents: Seq[Centroid]): Column =
    transform(centroidArray(cents), c =>
      struct((dot(vec, c.getField("cvec")) / (vnorm * c.getField("cnorm"))).as("sim"),
        c.getField("cell").as("cell")))

  /** Nearest-centroid cell id for each row: argmax via `array_max` over
    * struct(sim, -cell) — max sim, ties → smallest cell (struct ordering
    * is lexicographic). Narrow; no shuffle, no row expansion.
    */
  private[operators] def bestCell(vec: Column, vnorm: Column, cents: Seq[Centroid]): Column = {
    val ranked = transform(centroidSims(vec, vnorm, cents), s =>
      struct(s.getField("sim").as("sim"), (-s.getField("cell")).as("negcell")))
    -array_max(ranked).getField("negcell")
  }

  /** The `n` nearest cells (sim desc, cell asc) as an array<bigint> —
    * used on the (small) query side for multi-probe.
    */
  private[operators] def nearestCells(vec: Column, vnorm: Column, cents: Seq[Centroid], n: Int): Column = {
    val ranked = transform(centroidSims(vec, vnorm, cents), s =>
      struct((-s.getField("sim")).as("negsim"), s.getField("cell").as("cell")))
    transform(slice(array_sort(ranked), 1, n), s => s.getField("cell"))
  }

  /** IVF (inverted-file) ANN: partition the corpus into `nCells` cells
    * by nearest centroid, probe only the `nProbe` cells nearest each
    * query, exact re-rank within the probed cells.
    *
    * Centroids bootstrap from a deterministic id-stride sample and are
    * optionally Lloyd-refined ([[refineCentroids]]). Scale shape: the
    * cell assignment is a narrow projection over the corpus (centroids
    * ride inside the plan as literals — no join, no expansion; in a
    * real deployment the assigned table is written bucketed BY cell so
    * queries touch only nProbe/nCells of the data), and the re-rank is
    * the bounded top-k aggregator.
    */
  /** Deterministic centroid bootstrap by id stride: no global sort of
    * the corpus (TakeOrdered gathers only nCells rows). The ONE home
    * of the sampling arithmetic — [[ivfTopK]] and [[buildIvfIndex]]
    * must agree byte-for-byte for index-vs-inline result parity.
    */
  /** Deterministic centroid bootstrap. Primary rule: id-value stride
    * (`id % (n/nCells) = 0`, first nCells by id) — scan-parallel, no
    * sort, and the rule the sim3/sim6 oracles replay in SQL. On a
    * corpus whose ids are NOT dense from 0 (e.g. a filtered slice
    * where every id ≡ 3 mod 10) the value stride can select fewer
    * rows than cells — then fall back to a rank stride (every
    * (n/nCells)-th row in id order), which cannot under-fill. The
    * fallback stages the (id, vec) projection as a DcaFrame in id order
    * and collects its strided slice — a read of the cached partitions
    * the slice overlaps, NO single-partition global window. It
    * never fires on the dense registered tables (SimilaritySpec pins
    * this), so the sim3/sim6/sim18 oracles, which replay the id-value
    * stride in SQL, stay exact.
    */
  private[operators] def bootstrapCentroids(corpus: DataFrame, nCells: Int,
                                 idCol: String, vecCol: String): Seq[Centroid] = {
    val total = corpus.count()
    val stride = math.max(1L, total / nCells)
    val want = math.min(nCells.toLong, total).toInt
    val byValue = corpus.filter(pmod(col(idCol), lit(stride)) === 0)
      .orderBy(idCol).limit(nCells)
      .select(col(idCol), col(vecCol))
      .collect()
    val picked =
      if (byValue.length >= want) byValue
      else {
        val ranked = DcaFrame.fromDF(corpus.select(col(idCol), col(vecCol)), Seq(col(idCol)))
        try ranked(Indexing.Ix.S(Some(0L), Some(nCells * stride), stride)).collectOrdered()
        finally ranked.unpersist()
      }
    picked.map(r => Centroid(r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
  }

  /** In-memory IVF index: driver-resident centroids plus the corpus
    * assigned to its nearest-centroid cell — the query-independent
    * half of [[ivfTopK]]. Build once (the cell assignment is a full
    * corpus-linear pass), persist `cells`, then [[probeIvfCells]] per
    * query batch; at 100 TB this pair is the materialized
    * [[buildIvfIndex]]/[[ivfIndexTopK]] with `cells` as a cached table
    * instead of a cell-partitioned parquet layout.
    */
  final case class IvfCellIndex(centroids: Seq[Centroid], cells: DataFrame,
                                idCol: String, vecCol: String)

  /** Build the query-independent IVF cell index: centroid training +
    * whole-corpus nearest-cell assignment. Same arithmetic as
    * [[buildIvfIndex]], so [[probeIvfCells]] over the result is
    * row-identical to the inline [[ivfTopK]] at equal parameters.
    */
  def buildIvfCells(corpus: DataFrame, nCells: Int = 16, refineIters: Int = 0,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): IvfCellIndex = {
    val centroids = refineCentroids(corpus,
      bootstrapCentroids(corpus, nCells, idCol, vecCol), refineIters, vecCol)
    val cells = corpus
      .withColumn("__vnorm", norm(col(vecCol)))
      .withColumn("__cell", bestCell(col(vecCol), col("__vnorm"), centroids))
      .select(col(idCol), col(vecCol), col("__cell"))
    IvfCellIndex(centroids, cells, idCol, vecCol)
  }

  /** Probe an [[IvfCellIndex]]: nProbe nearest cells per query, exact
    * cosine re-rank within the probed cells — the per-query-batch half
    * of [[ivfTopK]]. Corpus-linear work (assignment) never re-runs
    * here; with `index.cells` persisted the probe cost is bound by the
    * candidate volume (nProbe/nCells of the corpus per query).
    */
  def probeIvfCells(index: IvfCellIndex, queries: DataFrame, k: Int,
                    nProbe: Int = 4, qidCol: String = "qid",
                    qvecCol: String = "qvec"): DataFrame = {
    val probes = queries
      .withColumn("__vnorm", norm(col(qvecCol)))
      .select(col(qidCol), col(qvecCol),
        explode(nearestCells(col(qvecCol), col("__vnorm"), index.centroids,
          nProbe)).as("__cell"))
    val cands = index.cells.join(broadcast(probes), "__cell")
      .filter(col(index.idCol) =!= col(qidCol))
      .withColumn("__cos", cosine(col(index.vecCol), col(qvecCol)))
    topKReRank(cands, k, qidCol, index.idCol, "__cos")
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, refineIters: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame =
    probeIvfCells(buildIvfCells(corpus, nCells, refineIters, idCol, vecCol),
      queries, k, nProbe, qidCol, qvecCol)

  /** Materialize an IVF index on disk: vectors written PARTITIONED BY
    * their nearest-centroid cell, centroids alongside. This is the
    * 100 TB shape the inline [[ivfTopK]] only simulates: a query then
    * touches ONLY the probed cells' files — partition pruning at the
    * source, reading nProbe/nCells of the data, verified by
    * `PartitionFilters` in the scan (SimilaritySpec asserts it).
    */
  def buildIvfIndex(corpus: DataFrame, path: String,
                    nCells: Int = 16, refineIters: Int = 0,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val cents = refineCentroids(corpus,
      bootstrapCentroids(corpus, nCells, idCol, vecCol), refineIters, vecCol)
    corpus
      .withColumn("__vnorm", norm(col(vecCol)))
      .withColumn("cell", bestCell(col(vecCol), col("__vnorm"), cents))
      .drop("__vnorm")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    import spark.implicits._
    cents.map(c => (c.cell, c.vec.toSeq)).toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Append a delta batch to a materialized IVF index WITHOUT
    * retraining: the delta is assigned to the EXISTING (stale)
    * centroids and written as new files into the same cell-partitioned
    * layout — the standard vector-store maintenance path (centroids
    * retrain only at compaction, the way d26 compacts the LSH index).
    * Probing is unchanged: [[ivfIndexTopK]] sees old + delta rows in
    * the probed cells.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       delta: DataFrame, path: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => Centroid(r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    delta
      .withColumn("__vnorm", norm(col(vecCol)))
      .withColumn("cell", bestCell(col(vecCol), col("__vnorm"), cents))
      .drop("__vnorm")
      .write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** Query a materialized IVF index: probe the nProbe nearest cells
    * per query and scan ONLY those cells' partitions (the `cell IN`
    * filter prunes at the file level), exact re-rank via the bounded
    * top-k aggregator. Same assignment arithmetic as [[buildIvfIndex]],
    * so results match the inline [[ivfTopK]] at equal parameters.
    */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, k: Int, nProbe: Int = 4,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => Centroid(r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    // the probe set is tiny (≤ nProbe × |queries|): collect it ONCE and
    // re-localize, deriving both the literal cell list (prunable at
    // planning time) and the broadcast side — evaluating the probes
    // plan twice would re-run whatever plan backs `queries`
    val probesPlan = queries
      .withColumn("__vnorm", norm(col(qvecCol)))
      .select(col(qidCol), col(qvecCol),
        explode(nearestCells(col(qvecCol), col("__vnorm"), cents, nProbe)).as("cell"))
    val probeRows = probesPlan.collect()
    val probes = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toIndexedSeq, 1), probesPlan.schema)
    val probedCells = probeRows.map(_.getAs[Long]("cell")).distinct.toIndexedSeq
    val vecs = spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isInCollection(probedCells))
    val cands = vecs.join(broadcast(probes), "cell")
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__cos", cosine(col(vecCol), col(qvecCol)))
    topKReRank(cands, k, qidCol, idCol, "__cos")
  }

  /** Lloyd (k-means) refinement of IVF centroids: assign every vector
    * to its nearest centroid (narrow argmax fold — see [[bestCell]]),
    * replace each centroid by its cell's mean. Per iteration: one
    * narrow projection over the corpus plus one small shuffle keyed on
    * (cell, dim) for the mean; the (nCells × dims)-row mean table is
    * collected to the driver to seed the next iteration — the classic
    * k-means loop shape. Cells that lose all members keep their
    * previous centroid.
    *
    * The mean is computed as an exact DECIMAL sum divided by the count,
    * not `avg(double)`: decimal addition is associative, so the result
    * does not depend on partition/merge order and the
    * `buildIvfIndex`-vs-`ivfTopK` byte-parity contract holds at any
    * refineIters. (Elements are rounded once, per value, at the
    * float→decimal(38,18) cast — order-independent. Scale 18 leaves 20
    * integer digits of sum headroom: the bound is m·|x| < 1e20 for a
    * cell of m values, not just the per-element |x| < 1e18 — a scale of
    * 28 would overflow the SUM to NULL at m·|x| ≥ 1e10 and NPE the
    * centroid rebuild.)
    */
  def refineCentroids(corpus: DataFrame, centroids0: Seq[Centroid], iters: Int,
                      vecCol: String): Seq[Centroid] = {
    var cents = centroids0
    for (_ <- 0 until iters) {
      val meanRows = corpus
        .withColumn("__vnorm", norm(col(vecCol)))
        .withColumn("__cell", bestCell(col(vecCol), col("__vnorm"), cents))
        .select(col("__cell"), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
        .groupBy("__cell", "__pos")
        .agg((sum(col("__x").cast("decimal(38,18)")).cast("double") /
          count(lit(1)).cast("double")).as("__m"))
        .collect()
      val byCell = meanRows.groupBy(_.getLong(0))
      cents = cents.map { c =>
        byCell.get(c.cell) match {
          case Some(rows) =>
            Centroid(c.cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat))
          case None => c // empty cell keeps its previous centroid
        }
      }
    }
    cents
  }

  /** The integer numerator of [[weight]] in [0, 100000): a fixed Long
    * mix, exposed so the DuckDB oracle can embed the SAME constants as
    * `k/1e5 - 0.5` literals (int→double promotion and the division are
    * IEEE-identical across engines, so the hyperplanes match bit for
    * bit).
    */
  private[graft] def weightK(i: Int, j: Int): Long = {
    var x = i.toLong * 1315423911L ^ j.toLong * 2654435761L
    x ^= (x >>> 13); x *= 1274126177L; x ^= (x >>> 16)
    ((x % 100000L) + 100000L) % 100000L
  }

  /** Deterministic pseudo-random hyperplane weight for (dim i, plane j):
    * a fixed integer mix folded to [-0.5, 0.5). Public-constant mixing,
    * reproducible everywhere, no RNG state.
    */
  private def weight(i: Int, j: Int): Double =
    weightK(i, j).toDouble / 100000.0 - 0.5

  /** `planes`-bit sign code of a vector under the fixed hyperplanes,
    * as a bit string (engine-portable, substring-bandable).
    */
  def signCode(vec: Column, dims: Int, planes: Int): Column =
    concat_ws("", (0 until planes).map { j =>
      val proj = aggregate(
        zip_with(vec, array((0 until dims).map(i => lit(weight(i, j))): _*),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, "1").otherwise("0")
    }: _*)

  /** Explode a bit-string code column into one (band, bits) row per
    * band of `width` bits, keeping `keep` columns — the single home of
    * the substr-banding idiom shared by [[lshTopK]] and
    * [[graft.operators.Dedup.embedNearDupPairs]]. SimHash sketches are
    * BIGINTs and band by shift/mask in
    * [[graft.operators.Dedup.hammingCandidates]].
    */
  private[operators] def bandExplode(df: DataFrame, codeCol: String,
                                     bands: Int, width: Int,
                                     keep: Seq[String]): DataFrame =
    df.select(keep.map(col) :+
        explode(transform(sequence(lit(0), lit(bands - 1)), j =>
          struct(j.as("band"),
            col(codeCol).substr(j * width + 1, lit(width)).as("bits")))).as("__b"): _*)
      .select(keep.map(col) :+ col("__b.band") :+ col("__b.bits"): _*)

  /** LSH ANN: band the sign code (bands of `rowsPerBand` bits); query
    * and corpus rows sharing any band bucket become candidates; exact
    * cosine re-rank keeps top-k. Recall < 1 by construction; raise
    * `planes`/lower `rowsPerBand` to trade cost for recall.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
              planes: Int = 24, rowsPerBand: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cands = lshAnnCandidates(corpus, queries, dims, planes, rowsPerBand,
      idCol, vecCol, qidCol, qvecCol)
    val scored = cands.withColumn("__cos", cosine(col(vecCol), col(qvecCol)))
    topKReRank(scored, k, qidCol, idCol, "__cos")
  }

  /** k-NN SELF-join: every corpus vector gets its k nearest neighbors
    * — the embedding-graph construction step (dedup graphs, kNN
    * classifiers, diversity analysis), distinct from [[lshTopK]]'s
    * query-set shape. Candidates come from the same banded sign-LSH,
    * but BOTH sides are the corpus, so the bucket join is a plain
    * shuffle join on (band, bits) — no broadcast — and per-bucket
    * fanout is bucketSize², the knob being the banding geometry (the
    * d2 discipline: PROBES.md measures bucket-collision growth).
    * Exact cosine re-rank via the bounded `topk_sketch`: no task ever sorts
    * a full candidate set. Recall < 1 by construction, same
    * planes/rowsPerBand trade as lshTopK.
    */
  /** Auto-derived sign-LSH SELF-join geometry: the smallest
    * rows-per-band r (a divisor of `planes`, so bands·r = planes
    * exactly) whose estimated candidate volume fits the budget, per
    * the measured law cand ≈ bands·n²/2^r (PROBES.md — uniform-bucket
    * estimate; real sign buckets are skewed, the budget absorbs the
    * constant). Smallest-r-that-fits maximizes recall within the
    * budget: fewer bits per band = more collisions = higher recall.
    * A CONSTANT geometry is the 100-TB failure mode this replaces: at
    * 100× corpus a fixed r yields 10⁴× candidates; deriving r from n
    * keeps candidate volume ~budget at every scale (r grows ~2·log2 of
    * the corpus growth). Falls back to the widest geometry (r =
    * planes/2, 2 bands) when even that exceeds the budget — candidates
    * then overshoot, but recall stays the priority over silently
    * degenerating to 1 band. Exact integer arithmetic (BigInt) — no
    * double rounding at any n.
    */
  def tuneSignBanding(n: Long, candidateBudget: Long, planes: Int = 60): Int = {
    require(planes >= 4 && candidateBudget > 0)
    val divisors = (2 to planes / 2).filter(planes % _ == 0)
    divisors.find { r =>
      BigInt(planes / r) * BigInt(n) * BigInt(n) <= (BigInt(candidateBudget) << r)
    }.getOrElse(planes / 2)
  }

  /** [[knnJoin]] with the banding geometry derived from the corpus
    * size by [[tuneSignBanding]] — the registered sim7 path. The one
    * driver-side action is the corpus count (the tuner's input:
    * control flow, not data movement — parquet metadata makes it
    * near-free).
    */
  def knnJoinAuto(corpus: DataFrame, k: Int, dims: Int,
                  candidateBudget: Long, planes: Int = 60,
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val r = tuneSignBanding(corpus.count(), candidateBudget, planes)
    knnJoin(corpus, k, dims, planes, r, idCol, vecCol)
  }

  def knnJoin(corpus: DataFrame, k: Int, dims: Int,
              planes: Int = 24, rowsPerBand: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes % rowsPerBand == 0,
      s"planes ($planes) must be divisible by rowsPerBand ($rowsPerBand)")
    val bands = planes / rowsPerBand
    val coded = corpus.withColumn("__code", signCode(col(vecCol), dims, planes))
    // band join + pair dedup over IDS ONLY: the bands-replicated
    // exchange and the distinct used to carry both 256-byte vector
    // payloads per candidate row — at bands× replication that shuffle
    // volume dominated the whole join (sf1: 24.2 s). Ids are 16 bytes;
    // vectors re-attach AFTER dedup via two keyed corpus joins (each
    // shuffles the corpus once, not the candidate fanout).
    // both band-explode sides consume the coded table, and signCode is
    // the planes×dims fold per row — truncate so it computes once
    // (bounded per invocation: id + planes-bit code)
    val slim = CacheTracker.truncate(coded.select(col(idCol), col("__code")))
    val left = bandExplode(slim.select(col(idCol).as("qid"), col("__code")),
      "__code", bands, rowsPerBand, Seq("qid"))
    val right = bandExplode(slim, "__code", bands, rowsPerBand, Seq(idCol))
    val pairs = left.join(right, Seq("band", "bits"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol))
      .distinct()
    // norms computed ONCE per corpus vector (not once per candidate)
    // and carried through the attach joins — the same left-to-right
    // double accumulation as [[cosine]], so the oracle sees the same
    // micros.
    val withNorm = corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__norm"))
    val cands = pairs
      .join(withNorm.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        col("__norm").as("__qnorm")), "qid")
      .join(withNorm, idCol)
    val scored = cands.withColumn("__cos",
      dot(col(vecCol), col("qvec")) / (col("__qnorm") * col("__norm")))
    topKReRank(scored, k, "qid", idCol, "__cos")
  }

  /** Symmetric int8 quantization of a float vector: q_i =
    * round(x_i·127 / absmax) with absmax = max |x_i| folded in index
    * order — the 4×-smaller embedding storage format (the scan-bytes
    * lever sim5 buys with codebooks, bought here with one scale per
    * vector and zero training). Returns (absmax, array<int> codes);
    * callers dequantize with [[int8Dequantize]].
    */
  def int8AbsMax(vec: Column): Column =
    aggregate(transform(vec, x => abs(x.cast("double"))),
      lit(0.0), (a, b) => greatest(a, b))

  def int8Quantize(vec: Column, absMax: Column): Column =
    transform(vec, x => round(x.cast("double") * 127.0 / absMax).cast("int"))

  def int8Dequantize(codes: Column, absMax: Column): Column =
    transform(codes, q => q.cast("double") * absMax / 127.0)

  /** 1-bit-per-dimension binary quantization: bit i of the returned
    * BIGINT is set iff vec[i+1] >= 0 — the 32× compression point past
    * [[int8Quantize]] on the storage curve. Unlike [[signCode]] there
    * are no hyperplanes: the corpus is zero-centered per dimension, so
    * the RAW sign pattern is the code and Hamming distance approximates
    * angular distance directly. dims <= 64 packs into ONE long — the
    * candidate scan reads 8 bytes/row instead of 256 and shuffles
    * codes, never vectors.
    *
    * The bit weights are literal powers of two (not `shiftleft`):
    * 1L << 63 is Long.MinValue, which a portable oracle can state as a
    * literal but not compute (DuckDB raises on the overflowing shift).
    */
  def binaryCode(vec: Column, dims: Int): Column = {
    require(dims >= 1 && dims <= 64, s"binaryCode packs one long; dims=$dims")
    val pows = array((0 until dims).map(i => lit(1L << i)): _*)
    aggregate(
      zip_with(vec, pows, (x, p) =>
        when(x.cast("double") >= 0.0, p).otherwise(lit(0L))),
      lit(0L), (a, b) => a.bitwiseOR(b))
  }

  /** Binary-quantized ANN: Hamming-distance candidate generation over
    * the packed [[binaryCode]]s (top `candC` per query, ties by id),
    * exact cosine re-rank of the survivors. The modern vector-store
    * serving shape: the full-precision vectors are touched for only
    * candC·|queries| rows — at corpus scale the coded table is what's
    * materialized, and the scan is 1/32 of the float bytes. Both
    * stages use the bounded [[topKReRank]] aggregator (Hamming ranks
    * as score = −distance), so no task ever sorts the corpus.
    */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        dims: Int, candC: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        qidCol: String = "qid", qvecCol: String = "qvec")
      : DataFrame = {
    val coded = corpus.select(col(idCol), binaryCode(col(vecCol), dims).as("__code"))
    val qcoded = queries.select(col(qidCol), col(qvecCol),
      binaryCode(col(qvecCol), dims).as("__qcode"))
    // candidate cut on CODES ONLY against the broadcast query codes;
    // −hamming maps (hamming asc, id asc) onto topk_sketch's (score desc,
    // id asc) contract — exact small integers, no double rounding
    val cands = coded
      .crossJoin(broadcast(qcoded.select(col(qidCol), col("__qcode"))))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__negham",
        -bit_count(col("__code").bitwiseXOR(col("__qcode"))).cast("double"))
    val top = topKReRank(cands, candC, qidCol, idCol, "__negham")
      .select(col(qidCol), col(idCol))
    val scored = top
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(qcoded.select(col(qidCol), col(qvecCol))), qidCol)
      .withColumn("__cos", cosine(col(vecCol), col(qvecCol)))
    topKReRank(scored, k, qidCol, idCol, "__cos")
  }

  /** Matryoshka-style two-stage ANN: coarse cosine over the FIRST
    * `prefixDims` dimensions picks `candC` candidates per query; the
    * full-dimension exact cosine re-ranks them. The
    * nested-representation serving pattern (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022): embeddings
    * trained so prefixes are themselves valid low-dim embeddings make
    * the coarse scan read prefixDims/dims of the vector bytes — at
    * corpus scale the prefix column is what's materialized. Both
    * stages run through the bounded [[topKReRank]] aggregator.
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     prefixDims: Int, candC: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qidCol: String = "qid", qvecCol: String = "qvec")
      : DataFrame = {
    val cands = corpus
      .select(col(idCol), slice(col(vecCol), 1, prefixDims).as("__pvec"))
      .crossJoin(broadcast(queries.select(col(qidCol),
        slice(col(qvecCol), 1, prefixDims).as("__pq"))))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__pcos", cosine(col("__pvec"), col("__pq")))
    val top = topKReRank(cands, candC, qidCol, idCol, "__pcos")
      .select(col(qidCol), col(idCol))
    val scored = top
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), qidCol)
      .withColumn("__cos", cosine(col(vecCol), col(qvecCol)))
    topKReRank(scored, k, qidCol, idCol, "__cos")
  }

  /** ±1 sign for (input dim i, output dim j) — Achlioptas' database-
    * friendly Johnson–Lindenstrauss projection entry (±1 matrices
    * preserve pairwise L2 within (1±ε) at projDims = O(log n / ε²),
    * Achlioptas JCSS 2003). Deterministic public mixing — no RNG
    * state, reproducible in SQL arithmetic.
    */
  private[graft] def rpSign(i: Int, j: Int): Double =
    if ((i.toLong * 31 + j) * 2654435761L % 1000000007L % 2 == 0L) 1.0 else -1.0

  /** projDims-d ±1 random projection of a dims-d float vector:
    * out[j] = Σ_i v[i]·s(i,j), each sum folded in index order — the
    * same left-fold the DuckDB mirror uses, so projections are
    * bit-identical doubles.
    *
    * projDims is capped at 31: [[rpSign]] mixes (i, j) as i·31 + j, so
    * output columns j and j+31 would be the same sign sequence shifted
    * by one input dim — correlated projections that silently degrade
    * the JL guarantee. Enforced rather than silently allowed; widening
    * requires independent multipliers in rpSign AND its DuckDB mirror
    * (SimilarityQueries sim8) in lockstep.
    */
  def randProject(vec: Column, dims: Int, projDims: Int): Column = {
    require(projDims <= 31,
      s"projDims must be <= 31 (rpSign's i*31+j mixing repeats sign " +
        s"sequences at j+31, correlating projections); got $projDims")
    array((0 until projDims).map { j =>
      aggregate(
        zip_with(vec, array((0 until dims).map(i => lit(rpSign(i, j))): _*),
          (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v)
    }: _*)
  }

  /** Squared L2 distance between two double arrays, folded in index
    * order (the candidate scorer of [[randProjTopK]]).
    */
  private def sqDistD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Random-projection ANN (JL compression — sim5's ADC cousin with
    * ZERO training): corpus and queries project once to projDims ±1
    * sums, candidates come from squared-L2 in the projected space
    * (projDims/dims of the arithmetic and — at 100 TB, where the
    * projected table is what you materialize — of the scan bytes per
    * row), bounded-TopK keeps candC per query, exact cosine re-ranks
    * the candidates only. Recall < 1 by construction; candC and
    * projDims are the knobs (measured in the sim8 spec/PROBES).
    * Projection is a narrow per-row map; the candidate scan
    * broadcasts only the projected queries.
    */
  def randProjTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
                   projDims: Int = 16, candC: Int = 100,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cp = corpus.withColumn("__p", randProject(col(vecCol), dims, projDims))
    val qp = queries.select(col(qidCol), col(qvecCol),
      randProject(col(qvecCol), dims, projDims).as("__qp"))
    val approx = cp.crossJoin(broadcast(qp))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__negd", -sqDistD(col("__p"), col("__qp")))
    // topk_sketch orders score DESC, id ASC == distance ASC, id ASC
    val cands = topKReRank(approx, candC, qidCol, idCol, "__negd")
      .select(col(qidCol), col(idCol))
    val scored = cands
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), qidCol)
      .withColumn("__cos", cosine(col(vecCol), col(qvecCol)))
    topKReRank(scored, k, qidCol, idCol, "__cos")
  }

  /** Candidate stage of [[lshTopK]], exposed so sizing tools measure
    * the SHIPPED candidate pipeline rather than a copy (same contract
    * as [[Dedup.ngramJaccardCandidates]]).
    */
  def lshAnnCandidates(corpus: DataFrame, queries: DataFrame, dims: Int,
                       planes: Int = 24, rowsPerBand: Int = 3,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(planes % rowsPerBand == 0,
      s"planes ($planes) must be divisible by rowsPerBand ($rowsPerBand): " +
        "trailing code bits would silently never be banded")
    val bands = planes / rowsPerBand
    def banded(df: DataFrame, id: String, vec: String, codeName: String) =
      bandExplode(df.withColumn(codeName, signCode(col(vec), dims, planes)),
        codeName, bands, rowsPerBand, Seq(id, vec))
    val c = banded(corpus, idCol, vecCol, "__code")
    val q = banded(queries, qidCol, qvecCol, "__qcode")
    c.join(broadcast(q), Seq("band", "bits"))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(qvecCol), col(idCol), col(vecCol))
      .distinct()
  }

  /** Flip bit-char `i` (0-based) of a `width`-char bit string. */
  private def flipBit(bits: Column, i: Int, width: Int): Column =
    concat(bits.substr(1, i),
      when(bits.substr(i + 1, 1) === "1", "0").otherwise("1"),
      bits.substr(i + 2, width - i - 1))

  /** Multi-probe candidate generation: the SAME stored band-bucket
    * layout as [[lshAnnCandidates]], but each query probes its own
    * bucket PLUS every bucket at Hamming distance 1 within each band
    * (`rowsPerBand` extra probe keys per band). This is the recall
    * dial that does NOT touch the corpus: a 100 TB index keeps its
    * banding and files; only the broadcast query side fans out
    * (bands·(1+width) keys per query), so probe depth is a per-query
    * cost decision, not a re-index. Candidates are a superset of the
    * single-probe set by construction (OperatorSpec pins this).
    */
  def multiProbeCandidates(corpus: DataFrame, queries: DataFrame, dims: Int,
                           planes: Int = 24, rowsPerBand: Int = 3,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    require(planes % rowsPerBand == 0)
    val bands = planes / rowsPerBand
    val c = bandExplode(
      corpus.withColumn("__code", signCode(col(vecCol), dims, planes)),
      "__code", bands, rowsPerBand, Seq(idCol, vecCol))
    val q0 = bandExplode(
      queries.withColumn("__qcode", signCode(col(qvecCol), dims, planes)),
      "__qcode", bands, rowsPerBand, Seq(qidCol, qvecCol))
    val probeSet = array(col("bits") +:
      (0 until rowsPerBand).map(i => flipBit(col("bits"), i, rowsPerBand)): _*)
    val probes = q0.select(col(qidCol), col(qvecCol), col("band"),
      explode(probeSet).as("bits"))
    c.join(broadcast(probes), Seq("band", "bits"))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(qvecCol), col(idCol), col(vecCol))
      .distinct()
  }

  /** [[lshTopK]] with Hamming-1 multi-probe ([[multiProbeCandidates]]):
    * higher recall at the same index, candidate volume ×(1+width) per
    * band in the worst case.
    */
  def multiProbeTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
                     planes: Int = 24, rowsPerBand: Int = 3,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cands = multiProbeCandidates(corpus, queries, dims, planes,
      rowsPerBand, idCol, vecCol, qidCol, qvecCol)
    val scored = cands.withColumn("__cos", cosine(col(vecCol), col(qvecCol)))
    topKReRank(scored, k, qidCol, idCol, "__cos")
  }
}
