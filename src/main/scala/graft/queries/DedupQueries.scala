package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.PolyHash
import graft.operators.{Dedup, TextOps}
import QueryDef.table

/** Deduplication operators over the `documents` table. The MinHash-LSH
  * query's oracle is the EXACT pairwise-jaccard computation: the LSH
  * path must find every pair above threshold (recall tuned so the miss
  * probability is ~1e-5 per pair at j=0.4, ~0 at the planted j≈0.99),
  * and the exact verification step makes false positives impossible —
  * so LSH output == exact output.
  */
object DedupQueries {

  /** d12's incoming-batch fixture (re-crawls with appended suffixes +
    * in-batch near-copies) and its EXACT all-pairs oracle — the ONE
    * rendering shared by the inline (d12) and persisted-index (d25)
    * admission paths, which must produce identical survivors.
    */
  private def d12Incoming(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = table(s, dir, "documents")
    docs.filter(col("doc_id") >= 250).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" updated crawl snapshot")).as("text")))
      .unionByName(docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(col("text"), lit(" minor edit")).as("text")))
  }

  private val d12OracleSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 250),
       |inc AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
       |  UNION ALL
       |  SELECT doc_id + 20000, text || ' updated crawl snapshot'
       |  FROM documents WHERE doc_id < 100
       |  UNION ALL
       |  SELECT doc_id + 40000, text || ' minor edit'
       |  FROM documents WHERE doc_id >= 250 AND doc_id < 300),
       |alld AS (SELECT * FROM corpus UNION ALL SELECT * FROM inc),
       |${QueryDef.shingleCtes(src = "alld")},
       |${QueryDef.jaccardPairCtes(2, 5)}
       |SELECT i.doc_id FROM inc i
       |WHERE i.doc_id NOT IN (SELECT db FROM qp)
       |ORDER BY 1""".stripMargin


  /** The ONE from-scratch transitive-closure rendering of the near-dup
    * component labels — shared verbatim by d6 (scratch CC) and d30
    * (warm-start CC), so the incremental path is proven equal to the
    * full recompute by construction.
    */
  private def closureOracleSql: String =
    s"""WITH RECURSIVE ${QueryDef.shingleCtes()},
       |${QueryDef.jaccardPairCtes(2, 5)},
       |edges AS (SELECT da AS src, db AS dst FROM qp
       |          UNION SELECT db, da FROM qp),
       |reach(a, b) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
       |verts AS (SELECT DISTINCT src AS id FROM edges)
       |SELECT v.id AS doc_id, least(v.id, min(r.b)) AS rep
       |FROM verts v LEFT JOIN reach r ON r.a = v.id
       |GROUP BY v.id ORDER BY 1""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // exact dedup: survivors = min doc_id per identical text
    "d1_exact_dedup" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        // concat the table with itself so there ARE duplicates to drop
        val doubled = docs.unionByName(docs)
        Dedup.exactSurvivors(doubled, "text", "doc_id").orderBy("doc_id")
      },
      Some("""WITH doubled AS (
             |  SELECT * FROM documents UNION ALL SELECT * FROM documents)
             |SELECT min(doc_id) AS doc_id FROM doubled GROUP BY text ORDER BY 1""".stripMargin)),

    // Incremental-ingest dedup (the daily-crawl shape): existing corpus
    // = docs < 250; incoming = the rest ∪ a re-crawl of old docs under
    // new ids ∪ a second copy of some new docs. Survivors: new text at
    // its minimal incoming id; re-crawled text dropped against the
    // existing hashes. Anti-join + min-id both shuffle 64-bit hashes
    // only; the existing corpus is never re-deduplicated.
    "d10_incremental_dedup" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val existing = docs.filter(col("doc_id") < 250)
        val incoming = docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
            .withColumn("doc_id", col("doc_id") + 30000))
          .unionByName(docs.filter(col("doc_id") < 100)
            .withColumn("doc_id", col("doc_id") + 10000))
        Dedup.incrementalSurvivors(existing, incoming, "text", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH inc AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
             |  UNION ALL
             |  SELECT doc_id + 30000, text FROM documents
             |  WHERE doc_id >= 250 AND doc_id < 300
             |  UNION ALL
             |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100)
             |SELECT min(doc_id) AS doc_id FROM inc
             |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id < 250)
             |GROUP BY text ORDER BY 1""".stripMargin)),

    // Incremental NEAR-dup admission (the LSH twin of d10): new-crawl
    // batch probed against the existing corpus's band-bucket index +
    // one-shot smaller-id rule within the batch; corpus never
    // re-deduplicated. Fixture plants re-crawls of corpus docs with an
    // appended suffix (near-dup, not byte-identical — d10 would admit
    // them) and in-batch near-copies. Oracle = EXACT all-pairs jaccard
    // over the fixture: drop rule reduces to "some qualifying pair has
    // this incoming doc on its larger side" because corpus ids sit
    // below incoming ids (the contract) and qp orders da < db.
    "d12_incremental_neardup" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") < 250).select("doc_id", "text")
        val incoming = d12Incoming(s, dir)
        val cSh = Staged.cached(s, s"d12csh:$dir")(
          corpus.select(col("doc_id"), TextOps.shingles(col("text"), 3).as("__sh")))
        val iSh = Staged.cached(s, s"d12ish:$dir")(
          incoming.select(col("doc_id"), TextOps.shingles(col("text"), 3).as("__sh")))
        Dedup.incrementalNearDupSurvivors(corpus, incoming, "text", "doc_id",
            stagedShingles = Some((cSh, iSh)))
          .orderBy("doc_id")
      },
      Some(d12OracleSql)),


    // The PERSISTED-index twin of d12 (sim3's materialized-index
    // pattern, text flavor): the corpus's band-bucket + shingle-hash
    // tables are BUILT ONCE to parquet (buckets partitioned by band)
    // and every later crawl batch probes the files — corpus text is
    // never rescanned, which is the production admission shape when
    // the corpus is 100 TB and the daily batch is 0.1%. Same fixture,
    // same EXACT all-pairs oracle as d12: the two paths must emit
    // identical survivors (also spec-pinned directly).
    "d25_neardup_index" -> QueryDef(
      (s, dir) => {
        val idxPath = Staged.nearDupIndex(s, dir)
        Dedup.indexedNearDupSurvivors(s, idxPath, d12Incoming(s, dir),
            "text", "doc_id")
          .orderBy("doc_id")
      },
      Some(d12OracleSql)),

    // Index MAINTENANCE: d25's persisted index merged with a newly
    // admitted delta batch (docs 250..299) into a compacted index
    // (Dedup.mergeNearDupIndex — union of the parquet band/hash tables,
    // rewritten band-partitioned; base corpus text never rescanned, so
    // maintenance cost is ∝ delta + index size at any corpus scale).
    // The probe batch plants near-copies of BOTH the base corpus
    // (doc_id < 50) and the delta (260..279): the delta plants can only
    // be caught if the merge actually carried the delta's bands into
    // the probed index — a broken merge cannot hash-match the oracle,
    // which replays exact all-pairs jaccard over corpus(0..299) + batch.
    "d26_index_compaction" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val incoming = docs.filter(col("doc_id") >= 300).select("doc_id", "text")
          .unionByName(docs.filter(col("doc_id") < 50)
            .select((col("doc_id") + 60000L).as("doc_id"),
              concat(col("text"), lit(" base recrawl")).as("text")))
          .unionByName(docs.filter(col("doc_id") >= 250 && col("doc_id") < 280)
            .select((col("doc_id") + 80000L).as("doc_id"),
              concat(col("text"), lit(" delta recrawl")).as("text")))
        Dedup.indexedNearDupSurvivors(s, Staged.mergedNearDupIndex(s, dir),
            incoming, "text", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 300),
             |inc AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 300
             |  UNION ALL
             |  SELECT doc_id + 60000, text || ' base recrawl'
             |  FROM documents WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id + 80000, text || ' delta recrawl'
             |  FROM documents WHERE doc_id >= 250 AND doc_id < 280),
             |alld AS (SELECT * FROM corpus UNION ALL SELECT * FROM inc),
             |${QueryDef.shingleCtes(src = "alld")},
             |${QueryDef.jaccardPairCtes(2, 5)}
             |SELECT i.doc_id FROM inc i
             |WHERE i.doc_id NOT IN (SELECT db FROM qp)
             |ORDER BY 1""".stripMargin)),

    // Semantic dedup (SemDeDup): k-means the embedding space (sim4's
    // exact-integer Lloyd, same geometry constants), then prune
    // within-cluster near-duplicates at cos >= 19/20, keeping the
    // member farther from its centroid. Fixture plants a perturbed
    // copy of every 4th vector (dim0 += 0.05 — cosine ~0.995 to its
    // source, so it co-clusters and one of the pair is pruned).
    // Oracle replays the shared kmeans CTE chain over the fixture plus
    // the integer cosine dominance prune bit-for-bit:
    // 400 = tauDen², 1444 = 4·tauNum² for tau = 19/20.
    "d11_semdedup" -> QueryDef(
      (s, dir) => {
        val base = table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val noisy = base.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 30000).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
        graft.operators.SemDedup.semDedup(base.unionByName(noisy),
            "vec_id", "embedding", dims = 64,
            k = SimilarityQueries.KmK, iters = SimilarityQueries.KmIters,
            tauNum = 19, tauDen = 20,
            kmScale = SimilarityQueries.KmScale)
      },
      Some(s"""WITH allv AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 30000, list_transform(range(1, 65),
             |      i -> CASE WHEN i = 1 THEN embedding[i] + CAST(0.05 AS REAL)
             |           ELSE embedding[i] END)
             |  FROM embeddings WHERE vec_id % 4 = 0),
             |${SimilarityQueries.kmeansCtes("allv")},
             |qc AS (SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS v
             |  FROM allv),
             |nn AS (SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
             |    i -> v[i] * v[i])) AS BIGINT) AS n FROM qc),
             |pr AS (SELECT a.vec_id AS ia, a.dist AS da,
             |    b.vec_id AS ib, b.dist AS db, na.n AS na, nb.n AS nb,
             |    na.n + nb.n - CAST(list_sum(list_transform(range(1, 65),
             |      i -> (qa.v[i] - qb.v[i]) * (qa.v[i] - qb.v[i])))
             |      AS BIGINT) AS twodot
             |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id <> b.vec_id
             |  JOIN qc qa ON qa.vec_id = a.vec_id
             |  JOIN qc qb ON qb.vec_id = b.vec_id
             |  JOIN nn na ON na.vec_id = a.vec_id
             |  JOIN nn nb ON nb.vec_id = b.vec_id),
             |dom AS (SELECT DISTINCT ia FROM pr
             |  WHERE twodot > 0 AND 400 * twodot * twodot >= 1444 * na * nb
             |    AND (db > da OR (db = da AND ib < ia)))
             |SELECT f.vec_id, CAST(f.cell AS BIGINT) AS cluster
             |FROM af f WHERE f.vec_id NOT IN (SELECT ia FROM dom)
             |ORDER BY 1""".stripMargin)),

    // MinHash + LSH near-dup pairs, exact-verified at jaccard >= 0.4
    // (pair table staged — the transitive-cluster query d6 shares it)
    "d2_minhash_lsh" -> QueryDef(
      (s, dir) => Staged.docNearDupPairs(s, dir),
      Some(s"""WITH ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(2, 5)}
             |SELECT da AS doc_a, db AS doc_b, jacc_pct FROM qp
             |ORDER BY 1, 2""".stripMargin)),

    // MinHash-estimator QA: for every qualifying near-dup pair, the
    // k=20 signature-agreement jaccard ESTIMATE next to the exact
    // jaccard — the calibration report that justifies trusting
    // signature agreement at index scale (d28's estimate-vs-truth
    // discipline applied to d2's estimator itself). Signatures use the
    // engine-portable 60-bit poly hash (not xxhash64) so the oracle
    // replays the EXACT permutation family ((a·h+b) mod 2³¹−1,
    // constants embedded as literals); est_pct = 5·matches is exact
    // integer. Scale: one narrow per-document signature pass (the
    // native kernel, portable family); the pair join touches only the
    // qualifying pairs. No trailing sort: rows compare as a multiset,
    // and with no aggregate beneath it a global sort would only add a
    // range-sampling job.
    "d29_jaccard_estimate" -> QueryDef(
      (s, dir) => {
        val k = 20
        val sig = Dedup.signatures(Staged.docShingles(s, dir), "doc_id", "__sh", k, "portable60")
        val sa = sig.select(col("__id").as("doc_a") +:
          (0 until k).map(i => col("__sig").getItem(i).as(s"a$i")): _*)
        val sb = sig.select(col("__id").as("doc_b") +:
          (0 until k).map(i => col("__sig").getItem(i).as(s"b$i")): _*)
        val matches = (0 until k).map(i =>
          when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
        Staged.docNearDupPairs(s, dir)
          .join(sa, "doc_a").join(sb, "doc_b")
          .select(col("doc_a"), col("doc_b"), col("jacc_pct"),
            (matches * 5).as("est_pct"),
            (matches * 5 - col("jacc_pct")).as("err_pct"))
      },
      Some {
        val permValues = (0 until 20).map { i =>
          val (a, b) = Dedup.permParams(i)
          s"    ($i, $a, $b)"
        }.mkString(",\n")
        val p = Dedup.permModulus
        s"""WITH ${QueryDef.shingleCtes()},
           |${QueryDef.jaccardPairCtes(2, 5)},
           |hs AS (SELECT doc_id,
           |  ${QueryDef.polyHashSql("s")}
           |  + ${QueryDef.polyHashSql("s", 37, 1073741789L)} * 1073741824 AS hv
           |  FROM sh),
           |perm(i, a, b) AS (VALUES
           |$permValues),
           |sigs AS (SELECT doc_id, i, min((a * (hv % $p) + b) % $p) AS m
           |  FROM hs, perm GROUP BY 1, 2),
           |mt AS (SELECT qp.da, qp.db, qp.jacc_pct,
           |    CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS BIGINT)
           |      AS matches
           |  FROM qp JOIN sigs sa ON sa.doc_id = qp.da
           |    JOIN sigs sb ON sb.doc_id = qp.db AND sb.i = sa.i
           |  GROUP BY 1, 2, 3)
           |SELECT da AS doc_a, db AS doc_b, jacc_pct,
           |  CAST(matches * 5 AS BIGINT) AS est_pct,
           |  CAST(matches * 5 - jacc_pct AS BIGINT) AS err_pct
           |FROM mt ORDER BY 1, 2""".stripMargin
      }),

    // Cross-corpus NEAR-dup contamination: d8/d14 catch exact n-gram
    // leakage; this catches the FUZZY kind — a train document that is
    // a near-duplicate (jaccard >= 0.4) of an eval document without
    // sharing it byte-for-byte. Reuses the staged d2 pair pipeline
    // (one LSH banding for the whole corpus), filters to pairs that
    // STRADDLE the eval boundary, and reports per train doc the
    // strongest eval match (argmax jacc, smallest eval id on ties —
    // the same skew-safe max(struct) shape as d16). The oracle shares
    // the ONE jaccard-pair CTE rendering with d2/d6, so a threshold
    // change cannot desynchronize them.
    "d17_neardup_contamination" -> QueryDef(
      (s, dir) => {
        val isEvalA = col("doc_a") % 50 === 0
        val isEvalB = col("doc_b") % 50 === 0
        Staged.docNearDupPairs(s, dir)
          .filter(isEvalA =!= isEvalB)
          .select(
            when(isEvalA, col("doc_b")).otherwise(col("doc_a")).as("train_id"),
            when(isEvalA, col("doc_a")).otherwise(col("doc_b")).as("eval_id"),
            col("jacc_pct"))
          .groupBy("train_id")
          .agg(count(lit(1)).as("n_eval_matches"),
            max(struct(col("jacc_pct"), (-col("eval_id")).as("__ne"))).as("__m"))
          .select(col("train_id"),
            col("__m.jacc_pct").as("max_jacc_pct"),
            (-col("__m.__ne")).as("best_eval_id"),
            col("n_eval_matches"))
          .orderBy("train_id")
      },
      Some(s"""WITH ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(2, 5)},
             |crs AS (SELECT CASE WHEN da % 50 = 0 THEN db ELSE da END AS train_id,
             |               CASE WHEN da % 50 = 0 THEN da ELSE db END AS eval_id,
             |               jacc_pct
             |        FROM qp WHERE (da % 50 = 0) <> (db % 50 = 0)),
             |r AS (SELECT train_id, eval_id, jacc_pct,
             |        row_number() OVER (PARTITION BY train_id
             |          ORDER BY jacc_pct DESC, eval_id) AS rn,
             |        count(*) OVER (PARTITION BY train_id) AS n
             |      FROM crs)
             |SELECT train_id, jacc_pct AS max_jacc_pct, eval_id AS best_eval_id,
             |  CAST(n AS BIGINT) AS n_eval_matches
             |FROM r WHERE rn = 1 ORDER BY train_id""".stripMargin)),

    // Cross-source duplication flow matrix — the curation question
    // behind near-dup stats: WHICH sources copy from which (syndication,
    // mirrors, scraper loops). The staged d2 pair graph joined to each
    // side's source label, rolled up per unordered source pair with
    // exact-integer volume/strength (sum + max of jacc_pct, no float
    // mean); diagonal rows are intra-source duplication. t33's dataset
    // card reports per-source EXACT-dup rates; this is the near-dup
    // flow BETWEEN sources. One dimension-sized output; the joins key
    // on doc ids against the ONE shared jaccard-pair rendering.
    "d23_cross_source_dups" -> QueryDef(
      (s, dir) => {
        val src = table(s, dir, "documents").select(col("doc_id"), col("source"))
        Staged.docNearDupPairs(s, dir)
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
          .groupBy(least(col("sa"), col("sb")).as("source_x"),
            greatest(col("sa"), col("sb")).as("source_y"))
          .agg(count(lit(1)).as("n_pairs"),
            sum("jacc_pct").as("jacc_pct_sum"),
            max("jacc_pct").as("max_jacc_pct"))
          .orderBy("source_x", "source_y")
      },
      Some(s"""WITH ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(2, 5)}
             |SELECT least(a.source, b.source) AS source_x,
             |  greatest(a.source, b.source) AS source_y,
             |  count(*) AS n_pairs,
             |  CAST(sum(jacc_pct) AS BIGINT) AS jacc_pct_sum,
             |  CAST(max(jacc_pct) AS BIGINT) AS max_jacc_pct
             |FROM qp
             |JOIN documents a ON a.doc_id = qp.da
             |JOIN documents b ON b.doc_id = qp.db
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Newman modularity of the SOURCE partition over the near-dup
    // graph — d23's flow matrix condensed to one graph-quality number:
    // how source-assortative is duplication (Q near its max = sources
    // duplicate internally; Q ≈ 0 = copies flow freely across
    // sources). Exact RATIONAL arithmetic: per source the contribution
    // to Q·4m² is 4m·e_c − d_c² (e_c intra-edges, d_c degree sum, m
    // total edges) — numerator rows are emitted EXACTLY and the global
    // denominator 4m² rides along, so no floating modularity and no
    // division at all. (Both engines truncate toward zero on integer
    // division — Spark DIV and DuckDB // agree, and q72/sim10 rely on
    // that match — but emitting num/den separately avoids the whole
    // question and keeps the result rational-exact.) One
    // 1-row m broadcast (audited BNLJ class), dimension-sized output.
    "d24_modularity" -> QueryDef(
      (s, dir) => {
        val src = table(s, dir, "documents").select(col("doc_id"), col("source"))
        val ee = Staged.docNearDupPairs(s, dir)
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
          .select("doc_a", "doc_b", "sa", "sb")
        val m = ee.agg(count(lit(1)).as("m"))
        val deg = ee.select(col("doc_a").as("v"), col("sa").as("s"))
          .unionAll(ee.select(col("doc_b").as("v"), col("sb").as("s")))
        val perSrc = deg.groupBy("s")
          .agg(count(lit(1)).as("d_c"), countDistinct("v").as("n_nodes"))
        val intra = ee.filter(col("sa") === col("sb"))
          .groupBy(col("sa").as("s")).agg(count(lit(1)).as("e_c"))
        perSrc.join(intra, Seq("s"), "left")
          .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
          .crossJoin(broadcast(m))
          .select(col("s").as("source"), col("n_nodes"), col("d_c"), col("e_c"),
            expr("4 * m * e_c - d_c * d_c").as("q_contrib_num"),
            expr("4 * m * m").as("q_den"))
          .orderBy("source")
      },
      Some(s"""WITH ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(2, 5)},
             |ee AS (SELECT da, db, a.source AS sa, b.source AS sb
             |  FROM qp JOIN documents a ON a.doc_id = da
             |  JOIN documents b ON b.doc_id = db),
             |m AS (SELECT count(*) AS m FROM ee),
             |deg AS (SELECT da AS v, sa AS s FROM ee
             |  UNION ALL SELECT db, sb FROM ee),
             |ps AS (SELECT s, count(*) AS d_c, count(DISTINCT v) AS n_nodes
             |  FROM deg GROUP BY 1),
             |intra AS (SELECT sa AS s, count(*) AS e_c FROM ee
             |  WHERE sa = sb GROUP BY 1)
             |SELECT s AS source, n_nodes, d_c,
             |  coalesce(e_c, 0) AS e_c,
             |  CAST(4 * m.m * coalesce(e_c, 0) - d_c * d_c AS BIGINT)
             |    AS q_contrib_num,
             |  CAST(4 * m.m * m.m AS BIGINT) AS q_den
             |FROM ps LEFT JOIN intra USING (s) CROSS JOIN m
             |ORDER BY 1""".stripMargin)),

    // EXACT n-gram Jaccard similarity join at jaccard >= 0.5 via
    // prefix filtering (AllPairs): deterministic and complete — unlike
    // the MinHash path there is NO miss probability, so the oracle is
    // simply the exact all-pairs jaccard at the threshold with no
    // recall caveat. Candidates join only on rarest-first prefix-token
    // hashes (short keys, small buckets).
    "d5_ngram_jaccard" -> QueryDef(
      (s, dir) => {
        // the rarest-first prefix table is consumed on BOTH sides of
        // the candidate self-join — staged (d22's split pattern) so
        // the explode+frequency+sort build runs once and is billed as
        // staging; the verify reads the (cached) shingle sets
        val asSet = Staged.docShingles(s, dir)
          .withColumn("__sh", array_distinct(col("__sh")))
        // key embeds the threshold: buildJaccardPrefix output is
        // threshold-DEPENDENT, so a different num/den must never be
        // served this cache entry (r13 ADVICE)
        val prefix = Staged.cached(s, s"d5prefix:1/2:$dir")(
          Dedup.buildJaccardPrefix(asSet, "doc_id", "__sh", num = 1, den = 2))
        Dedup.verifyJaccard(
            Dedup.jaccardCandidatesFromPrefix(prefix, num = 1, den = 2),
            asSet, "doc_id", "__sh", num = 1, den = 2)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(1, 2)}
             |SELECT da AS doc_a, db AS doc_b, jacc_pct FROM qp
             |ORDER BY 1, 2""".stripMargin)),

    // Directed containment join — the quote/subset detector d5's
    // symmetric Jaccard cannot see (a 10-word excerpt inside a long
    // doc has tiny Jaccard but containment 1.0). Fixture: every 23rd
    // doc with >= 12 words contributes a derived "quote" doc (its
    // first 10 words, id + 2e6); the join must pair each quote with
    // its source at containment >= 9/10. EXACT via asymmetric prefix
    // filtering (Dedup.containmentPairs — contained-side prefix probes
    // the full container index, length + positional prunes, exact
    // verify); the oracle is plain all-pairs relative overlap, so
    // completeness is checked, not assumed. Docs with < 3 words have
    // empty shingle sets (vacuous containment, excluded) on both
    // engines.
    "d22_containment_join" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
        val quotes = docs
          .filter(col("doc_id") % 23 === 0 &&
            size(TextOps.words(col("text"))) >= 12)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat_ws(" ", slice(TextOps.words(col("text")), 1, 10)).as("text"))
        val corpus = docs.unionByName(quotes)
        val shingled = corpus.select(col("doc_id"),
          TextOps.shingles(col("text"), 3).as("__sh"))
        // the rarest-first token index + shingle sets are threshold-
        // independent and consumed FOUR times by the probe plan
        // (prefix, full, both verify sides) — staged so the corpus-
        // linear build runs once and is billed as staging, the
        // materialized-index serving shape
        val ix = Staged.cachedAny(s, s"d22cix:$dir") {
          val ix0 = Dedup.buildContainmentIndex(shingled, "doc_id", "__sh")
          Dedup.ContainmentIndex(
            graft.operators.CacheTracker.persist(ix0.sets),
            graft.operators.CacheTracker.persist(ix0.sorted))
        }
        Dedup.containmentPairsFromIndex(ix, num = 9, den = 10)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 2000000, array_to_string(w[1:10], ' ')
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             |  WHERE doc_id % 23 = 0 AND len(w) >= 12),
             |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
             |       FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |  CAST(floor(100.0 * i / sa.n) AS BIGINT) AS containment_pct
             |FROM ov JOIN sizes sa ON sa.doc_id = doc_a
             |WHERE i * 10 >= sa.n * 9
             |ORDER BY 1, 2""".stripMargin)),

    // Transitive dedup clusters: connected components over the d2
    // near-dup pair graph — every doc labeled with the min reachable
    // doc id (the dedup representative). Distributed min-label
    // propagation over the (id, rep) label table, diameter-bounded
    // rounds; the oracle closes the same pair graph with a recursive
    // CTE, so the full labeling is checked exactly.
    "d6_dup_clusters" -> QueryDef(
      (s, dir) => Staged.docDupComponents(s, dir)
        .select(col("id").as("doc_id"), col("rep")),
      Some(closureOracleSql)),

    // Warm-start (incremental) connected components: the daily
    // dup-graph maintenance path — yesterday's labels contract to
    // (id, rep) star edges and ONLY the delta's pairs re-enter the
    // iteration (Staged.incrementalDupComponents; the old-old pair
    // bulk never does). The oracle is d6's from-scratch closure SQL
    // VERBATIM: warm-start and scratch must produce identical labels,
    // so a star-contraction bug, a dropped vertex, or a rep divergence
    // hash-mismatches here even though the engine never recomputed the
    // full graph.
    "d30_incremental_components" -> QueryDef(
      (s, dir) => Staged.incrementalDupComponents(s, dir)
        .select(col("id").as("doc_id"), col("rep")),
      Some(closureOracleSql)),

    // Dedup ROI report — the number a platform team takes to planning:
    // per near-dup cluster, the char mass REMOVED if only the
    // representative is kept, rolled up by cluster size (how much of
    // the saving sits in pairs vs deep families). Composes the staged
    // d6 labeling with one dimension join (labels are (id, rep) pairs;
    // doc payloads join once, never move through the closure) and two
    // dimension-sized aggs. Oracle: the d6 recursive-CTE closure +
    // the same rollup, so the ROI arithmetic is checked end to end.
    "d27_dedup_roi" -> QueryDef(
      (s, dir) => {
        val labels = Staged.docDupComponents(s, dir)
        val sizes = table(s, dir, "documents")
          .select(col("doc_id").as("id"), col("n_chars"))
        labels.join(sizes, "id")
          .groupBy("rep")
          .agg(count(lit(1)).as("csize"), sum("n_chars").as("bytes"),
            sum(when(col("id") === col("rep"), col("n_chars")).otherwise(0L))
              .as("kept"))
          .groupBy("csize")
          .agg(count(lit(1)).as("n_clusters"),
            sum(expr("bytes - kept")).as("savings_chars"))
          .orderBy("csize")
      },
      Some(s"""WITH RECURSIVE ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(2, 5)},
             |edges AS (SELECT da AS src, db AS dst FROM qp
             |          UNION SELECT db, da FROM qp),
             |reach(a, b) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
             |verts AS (SELECT DISTINCT src AS id FROM edges),
             |lab AS (SELECT v.id, least(v.id, min(r.b)) AS rep
             |  FROM verts v LEFT JOIN reach r ON r.a = v.id GROUP BY v.id),
             |cl AS (SELECT l.rep, count(*) AS csize, sum(d.n_chars) AS bytes,
             |    sum(CASE WHEN l.id = l.rep THEN d.n_chars ELSE 0 END) AS kept
             |  FROM lab l JOIN documents d ON d.doc_id = l.id GROUP BY 1)
             |SELECT CAST(csize AS BIGINT) AS csize, count(*) AS n_clusters,
             |  CAST(sum(bytes - kept) AS BIGINT) AS savings_chars
             |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The SAME clustering through the star-contraction path (Kiveris
    // et al. SOCC'14): alternating large/small-star rounds, count
    // logarithmic in component size — the fallback for adversarially
    // long dup chains where min-label propagation's diameter bound is
    // the limit. Identical output contract, so the identical
    // recursive-CTE oracle checks the full labeling of BOTH paths.
    "d6b_dup_clusters_star" -> QueryDef(
      (s, dir) => Staged.docDupComponentsStar(s, dir)
        .select(col("id").as("doc_id"), col("rep")),
      Some(s"""WITH RECURSIVE ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(2, 5)},
             |edges AS (SELECT da AS src, db AS dst FROM qp
             |          UNION SELECT db, da FROM qp),
             |reach(a, b) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
             |verts AS (SELECT DISTINCT src AS id FROM edges)
             |SELECT v.id AS doc_id, least(v.id, min(r.b)) AS rep
             |FROM verts v LEFT JOIN reach r ON r.a = v.id
             |GROUP BY v.id ORDER BY 1""".stripMargin)),

    // Canonical selection per near-dup cluster: d6's labels tell you
    // WHICH docs are mutual near-dups; this picks the one to KEEP —
    // longest text (n_chars), smallest id on ties — via a skew-safe
    // map-side max(struct) argmax (see Dedup.clusterCanonical). The
    // oracle replays the identical recursive-CTE closure, then the
    // same keep rule through a window.
    "d16_cluster_canonical" -> QueryDef(
      (s, dir) => Dedup.clusterCanonical(
          Staged.docDupComponents(s, dir),
          table(s, dir, "documents"), "doc_id", "n_chars")
        .orderBy("cluster_rep"),
      Some(s"""WITH RECURSIVE ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(2, 5)},
             |edges AS (SELECT da AS src, db AS dst FROM qp
             |          UNION SELECT db, da FROM qp),
             |reach(a, b) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
             |verts AS (SELECT DISTINCT src AS id FROM edges),
             |labels AS (SELECT v.id AS doc_id, least(v.id, min(r.b)) AS rep
             |           FROM verts v LEFT JOIN reach r ON r.a = v.id
             |           GROUP BY v.id),
             |m AS (SELECT l.rep, l.doc_id, d.n_chars,
             |        row_number() OVER (PARTITION BY l.rep
             |          ORDER BY d.n_chars DESC, l.doc_id) AS rn,
             |        count(*) OVER (PARTITION BY l.rep) AS n_members
             |      FROM labels l JOIN documents d USING (doc_id))
             |SELECT rep AS cluster_rep, doc_id AS keep_id,
             |  CAST(n_chars AS BIGINT) AS keep_score,
             |  CAST(n_members AS BIGINT) AS n_members
             |FROM m WHERE rn = 1 ORDER BY cluster_rep""".stripMargin)),

    // CCNet-style corpus-level paragraph dedup over 8-word chunks:
    // every distinct chunk survives exactly once (its globally first
    // occurrence), documents are reassembled from survivors. The
    // first-occurrence rule is a map-side-combining min(struct) agg —
    // skew-tolerant where a window row_number()=1 would sort the
    // hottest boilerplate chunk on one reducer.
    "d7_paragraph_dedup" -> QueryDef(
      (s, dir) => Dedup.chunkDedup(table(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id"),
      // NULL contract mirrored from the engine (Dedup.chunkDedup
      // coalesces NULL text to ''): string_split(NULL) would yield no
      // unnest rows and the doc would vanish from `tot`, diverging the
      // two sides on the exact case the coalesce targets.
      Some("""WITH w AS (SELECT doc_id, string_split(coalesce(text,''),' ') AS w FROM documents),
             |ch AS (SELECT doc_id, i AS cidx, array_to_string(w[(i*8+1):(i*8+8)],' ') AS chunk
             |       FROM w, unnest(range(0, CAST(ceil(len(w)/8.0) AS BIGINT))) AS t(i)),
             |firsts AS (SELECT chunk, min(struct_pack(doc_id := doc_id, cidx := cidx)) AS f
             |           FROM ch GROUP BY 1),
             |kept AS (SELECT f.doc_id AS doc_id, f.cidx AS cidx, chunk FROM firsts),
             |agg AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cidx) AS clean_text,
             |        count(*) AS kept FROM kept GROUP BY 1),
             |tot AS (SELECT doc_id, count(*) AS total FROM ch GROUP BY 1)
             |SELECT t.doc_id, coalesce(a.clean_text,'') AS clean_text,
             |  CAST(coalesce(a.kept,0) AS BIGINT) AS kept,
             |  CAST(t.total - coalesce(a.kept,0) AS BIGINT) AS dropped
             |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Substring-level exact dedup (Lee et al. ExactSubstr policy over
    // overlapping 8-word windows): non-first occurrences of duplicated
    // windows are removed word-by-word, first occurrences survive, so
    // exactly one copy of every duplicated passage remains corpus-wide.
    // Windows are keyed by the engine-portable 60-bit hash on BOTH
    // engines (gram text never shuffles); the oracle replays windows,
    // hashes, first-occurrence rule, span cover, and reassembly.
    "d13_substring_dedup" -> QueryDef(
      (s, dir) => {
        Dedup.substringDedupFromGrams(table(s, dir, "documents"),
            Staged.substrGrams(s, dir, 8), "doc_id", "text", k = 8)
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(coalesce(text,''),' ') AS w
             |           FROM documents),
             |g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
             |        array_to_string(w[(CAST(i AS INTEGER)+1):(CAST(i AS INTEGER)+8)], ' ') AS g
             |      FROM w, unnest(range(0, len(w) - 7)) AS t(i)
             |      WHERE len(w) >= 8),
             |hh AS (SELECT doc_id, i,
             |  ${QueryDef.polyHashSql("g")}
             |  + ${QueryDef.polyHashSql("g", 37, 1073741789L)} * 1073741824 AS hv
             |  FROM g),
             |f AS (SELECT hv, min(struct_pack(doc_id := doc_id, i := i)) AS fst,
             |        count(*) AS cnt
             |      FROM hh GROUP BY 1),
             |dup AS (SELECT hh.doc_id, hh.i FROM hh JOIN f USING (hv)
             |        WHERE cnt > 1
             |          AND NOT (hh.doc_id = fst.doc_id AND hh.i = fst.i)),
             |cov AS (SELECT DISTINCT doc_id, i + u AS p
             |        FROM dup, unnest(range(0, 8)) AS t(u)),
             |wp AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
             |         w[CAST(p AS INTEGER) + 1] AS word
             |       FROM w, unnest(range(0, len(w))) AS t(p)),
             |surv AS (SELECT wp.doc_id,
             |           string_agg(word, ' ' ORDER BY wp.p) AS clean_text,
             |           count(*) AS kept
             |         FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.p = cov.p
             |         WHERE cov.doc_id IS NULL GROUP BY 1),
             |tot AS (SELECT doc_id, len(w) AS total FROM w)
             |SELECT t.doc_id, coalesce(s.clean_text, '') AS clean_text,
             |  CAST(t.total AS BIGINT) AS n_words,
             |  CAST(t.total - coalesce(s.kept, 0) AS BIGINT) AS n_removed
             |FROM tot t LEFT JOIN surv s USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Benchmark-contamination report: training docs sharing any word
    // 4-gram with the eval split (doc_id % 50 == 0). The eval gram set
    // is tiny by construction (a benchmark suite vs a corpus), so it
    // BROADCASTS — the training side's grams never enter an exchange.
    "d8_contamination" -> QueryDef(
      (s, dir) => Dedup.contaminationReport(table(s, dir, "documents"),
          "doc_id", "text", n = 4, evalPred = id => id % 50 === 0)
        .orderBy("doc_id"),
      Some(s"""WITH ${QueryDef.shingleCtes(4)},
             |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
             |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0),
             |tot AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1),
             |ov AS (SELECT doc_id, count(*) AS n_overlap FROM tr JOIN ev USING (s) GROUP BY 1)
             |SELECT doc_id, CAST(n_overlap AS BIGINT) AS n_overlap,
             |  CAST(n_grams AS BIGINT) AS n_grams,
             |  CAST((1000*n_overlap) // n_grams AS BIGINT) AS permille
             |FROM ov JOIN tot USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Span-level decontamination: d8's drop-the-document report tells
    // you WHICH documents are contaminated; this one tells you WHERE —
    // per-document hit count, first/last gram position, distinct grams
    // matched — the input to surgical span removal. Eval grams
    // broadcast; train gram-positions generated and filtered scan-side
    // (see Dedup.spanContamination).
    "d14_span_decontam" -> QueryDef(
      (s, dir) => Dedup.spanContamination(table(s, dir, "documents"),
          "doc_id", "text", n = 4, evalPred = id => id % 50 === 0)
        .orderBy("doc_id"),
      Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents),
             |gr AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+3], ' ') AS s
             |       FROM words, UNNEST(range(1, len(w) - 2)) AS t(i)),
             |ev AS (SELECT DISTINCT s FROM gr WHERE doc_id % 50 = 0),
             |hits AS (SELECT g.doc_id, g.pos, g.s FROM gr g JOIN ev USING (s)
             |         WHERE g.doc_id % 50 <> 0)
             |SELECT doc_id, count(*) AS n_spans,
             |  CAST(min(pos) AS BIGINT) AS first_pos,
             |  CAST(max(pos) AS BIGINT) AS last_pos,
             |  count(DISTINCT s) AS n_grams_hit
             |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Bloom-prefiltered membership admission: existing corpus = ids
    // not divisible by 10; incoming = the id%10=0 docs (new) plus a
    // re-crawl of the id%10=3 docs under shifted ids (dups). The Bloom
    // sketch over existing content hashes is built once and probed
    // scan-side; the exact semi-join verification sees only probe
    // survivors. Verdicts are exact — the oracle mirrors them with
    // plain text membership (see Dedup.bloomMembership).
    "d15_bloom_membership" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val existing = docs.filter(col("doc_id") % 10 =!= 0)
        val incoming = docs.filter(col("doc_id") % 10 === 0)
          .unionByName(docs.filter(col("doc_id") % 10 === 3)
            .withColumn("doc_id", col("doc_id") + 1000000))
        Dedup.bloomMembership(existing, incoming, "text", "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH ex AS (SELECT coalesce(text, '') AS text FROM documents
             |  WHERE doc_id % 10 <> 0),
             |inc AS (
             |  SELECT doc_id, coalesce(text, '') AS text FROM documents
             |  WHERE doc_id % 10 = 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, coalesce(text, '') FROM documents
             |  WHERE doc_id % 10 = 3)
             |SELECT doc_id,
             |  CAST(CASE WHEN text IN (SELECT text FROM ex) THEN 1 ELSE 0 END
             |    AS BIGINT) AS is_dup
             |FROM inc ORDER BY doc_id""".stripMargin)),

    // Embedding-cosine near-dup at cosine >= 0.98 — planted dup pairs
    // (a x2-scaled copy: the scaling cancels exactly through the fold
    // since powers of two commute with fp rounding, leaving cosine
    // within 1 ulp of 1; and a negated-first-dim copy whose cosine
    // straddles the threshold, decided by the identical left-fold on
    // both engines). The
    // operator is sign-LSH banding -> short-key candidate pairs ->
    // exact cosine verify; the oracle recomputes all pairs with a
    // cheap relational prefilter and the bit-identical fold on the
    // survivors.
    "d4_embed_neardup" -> QueryDef(
      (s, dir) => {
        val base = table(s, dir, "embeddings").filter(col("vec_id") < 100)
          .select(col("vec_id"), col("embedding"))
        val scaled = base.select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        val negated = base.select((col("vec_id") + 20000).as("vec_id"),
          transform(col("embedding"), (x, i) => when(i === 0, -x).otherwise(x)).as("embedding"))
        Dedup.embedNearDupPairs(base.unionByName(scaled).unionByName(negated),
            "vec_id", "embedding", dims = 64, minCosine = 0.98)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
             |allv AS (
             |  SELECT vec_id, embedding FROM base
             |  UNION ALL
             |  SELECT vec_id + 10000, list_transform(embedding, x -> x * CAST(2 AS REAL)) FROM base
             |  UNION ALL
             |  SELECT vec_id + 20000, list_transform(range(1, 65),
             |    i -> CASE WHEN i = 1 THEN -embedding[i] ELSE embedding[i] END) FROM base),
             |u AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
             |      FROM allv, UNNEST(range(1, 65)) AS t(i)),
             |nrm AS (SELECT vec_id, sum(x * x) AS s FROM u GROUP BY 1),
             |pre AS (SELECT ua.vec_id AS ia, ub.vec_id AS ib, sum(ua.x * ub.x) AS d
             |        FROM u ua JOIN u ub ON ua.i = ub.i AND ua.vec_id < ub.vec_id
             |        GROUP BY 1, 2),
             |cand AS (SELECT p.ia, p.ib FROM pre p
             |         JOIN nrm na ON na.vec_id = p.ia JOIN nrm nb ON nb.vec_id = p.ib
             |         WHERE p.d / sqrt(na.s * nb.s) >= 0.9),
             |ex AS (SELECT c.ia, c.ib,
             |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
             |        i -> CAST(va.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE))),
             |      (a, b) -> a + b)
             |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
             |        i -> CAST(va.embedding[i] AS DOUBLE) * CAST(va.embedding[i] AS DOUBLE))),
             |      (a, b) -> a + b))
             |      * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
             |        i -> CAST(vb.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE))),
             |      (a, b) -> a + b))) AS cos
             |  FROM cand c JOIN allv va ON va.vec_id = c.ia JOIN allv vb ON vb.vec_id = c.ib)
             |SELECT ia AS doc_a, ib AS doc_b, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
             |FROM ex WHERE cos >= 0.98 ORDER BY 1, 2""".stripMargin)),

    // SimHash near-dup pairs (hamming <= 3 over BIGINT sketches,
    // banded by 16-bit chunks; pigeonhole recall 1.0, exact popcount
    // verify). Uses the engine-portable 60-bit polynomial shingle hash
    // so the DuckDB oracle recomputes the sketches bit-for-bit and
    // checks the full result (the banding itself needs no oracle
    // mirror: recall is exactly 1 within the budget, so banded ==
    // all-pairs).
    "d3_simhash" -> QueryDef(
      (s, dir) => Dedup.hammingPairsFromLongs(Staged.docSimhash60(s, dir), "__id", "__sim",
          maxDist = 3)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH ${QueryDef.shingleCtes()},
             |h AS (SELECT doc_id,
             |  ${QueryDef.polyHashSql("s")}
             |  + ${QueryDef.polyHashSql("s", 37, 1073741789L)} * 1073741824 AS hv
             |  FROM sh),
             |votes AS (SELECT doc_id, j,
             |    CASE WHEN sum(CASE WHEN (hv >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) > 0
             |      THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END AS bitval
             |  FROM h, UNNEST(range(0, 60)) AS t(j) GROUP BY 1, 2),
             |sims AS (SELECT doc_id, sum(bitval) AS sim FROM votes GROUP BY 1)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
             |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sim, b.sim)) <= 3
             |ORDER BY 1, 2""".stripMargin)),

    // Exact edit-distance-1 similarity join over part names via FastSS
    // deletion neighborhoods (operators/EditDistance.scala): variants
    // equi-join on 64-bit hashes, levenshtein verify on candidates
    // only — never the all-pairs DP the oracle runs. Entity matching
    // for names/titles where token-set jaccard (d5) misses single-
    // character edits. The join runs over DISTINCT names (the entity
    // set — keyed by min partkey, multiplicities carried alongside):
    // row-level pairing would emit |group_a|·|group_b| rows per matched
    // name pair, quadratic in duplication, while the entity view is
    // bounded by the name vocabulary at any corpus size.
    "d9_editdist_join" -> QueryDef(
      (s, dir) => {
        val names = table(s, dir, "part")
          .groupBy(col("p_name").as("s"))
          .agg(min("p_partkey").as("k"), count(lit(1)).as("n"))
        val pairs = graft.operators.EditDistance.editDistanceJoin(
          names.select("k", "s"), "k", "s")
        pairs
          .join(broadcast(names.select(col("k").as("ka"), col("n").as("na"))), "ka")
          .join(broadcast(names.select(col("k").as("kb"), col("n").as("nb"))), "kb")
          .select("ka", "kb", "dist", "na", "nb")
          .orderBy("ka", "kb")
      },
      Some("""WITH nm AS (
             |  SELECT p_name AS s, min(p_partkey) AS k, count(*) AS n
             |  FROM part GROUP BY 1)
             |SELECT a.k AS ka, b.k AS kb,
             |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist,
             |  CAST(a.n AS BIGINT) AS na, CAST(b.n AS BIGINT) AS nb
             |FROM nm a JOIN nm b ON a.k < b.k
             |  AND abs(length(a.s) - length(b.s)) <= 1
             |  AND levenshtein(a.s, b.s) <= 1
             |ORDER BY 1, 2""".stripMargin)),

    // End-to-end ENTITY RESOLUTION — three operator families composed
    // into the master-data pipeline: FastSS edit-distance blocking
    // (d9's exact lev<=1 join) finds typo'd re-entries, connected
    // components (d6's operator) closes transitive chains (A~B~C
    // merges even when A!~C), and the min-id rule names each entity's
    // canonical record. Fixture plants a one-char typo of every 13th
    // distinct part name (position-2 'x', distance exactly <=1);
    // natural distance-1 name pairs merge too. The oracle replays
    // blocking brute-force + recursive-CTE closure + the same rollup,
    // so the WHOLE chain is checked end to end, not per stage.
    "q75_entity_resolution" -> QueryDef(
      (s, dir) => {
        val base = table(s, dir, "part")
          .groupBy(col("p_name").as("s")).agg(min("p_partkey").as("k"))
        val typos = base.filter(col("k") % 13 === 0)
          .select((col("k") + 1000000L).as("k"),
            concat(substring(col("s"), 1, 1), lit("x"),
              expr("substring(s, 3)")).as("s"))
        val entities = base.select("k", "s").unionByName(typos)
        val pairs = graft.operators.EditDistance.editDistanceJoin(
          entities, "k", "s")
        // connectedComponents returns a pinned leaf — memoize it so
        // bench reruns reuse one instead of pinning one per invocation
        val cc = Staged.cachedAny(s, s"q75cc:$dir")(
          Dedup.connectedComponents(
            pairs.select(col("ka").as("doc_a"), col("kb").as("doc_b"))))
        cc.groupBy("rep").agg(count(lit(1)).as("n_members"))
          .join(entities.select(col("k").as("rep"), col("s").as("canonical_name")),
            "rep")
          .select(col("rep").as("canonical_id"), col("n_members"),
            col("canonical_name"))
          .orderBy("canonical_id")
      },
      Some("""WITH RECURSIVE nm AS (
             |  SELECT p_name AS s, min(p_partkey) AS k FROM part GROUP BY 1),
             |ty AS (SELECT k + 1000000 AS k,
             |    substr(s, 1, 1) || 'x' || substr(s, 3) AS s
             |  FROM nm WHERE k % 13 = 0),
             |en AS (SELECT k, s FROM nm UNION ALL SELECT k, s FROM ty),
             |qp AS (SELECT a.k AS ka, b.k AS kb
             |  FROM en a JOIN en b ON a.k < b.k
             |    AND abs(length(a.s) - length(b.s)) <= 1
             |    AND levenshtein(a.s, b.s) <= 1),
             |edges AS (SELECT ka AS src, kb AS dst FROM qp
             |          UNION SELECT kb, ka FROM qp),
             |reach(a, b) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
             |verts AS (SELECT DISTINCT src AS id FROM edges),
             |lab AS (SELECT v.id, least(v.id, min(r.b)) AS rep
             |  FROM verts v LEFT JOIN reach r ON r.a = v.id GROUP BY v.id)
             |SELECT g.rep AS canonical_id, g.cnt AS n_members,
             |  en.s AS canonical_name
             |FROM (SELECT rep, count(*) AS cnt FROM lab GROUP BY 1) g
             |JOIN en ON en.k = g.rep
             |ORDER BY 1""".stripMargin)),

    // Boilerplate-chunk removal — d7's companion rule: chunks present
    // in >= 3 DISTINCT documents (headers/footers/navigation) are
    // removed from EVERY document, not kept-once. Two-level
    // doc-frequency agg (no count-distinct EXPAND), anti-join back on
    // the chunk, order-preserving reassembly.
    "d21_boilerplate_removal" -> QueryDef(
      (s, dir) => Dedup.boilerplateRemoval(table(s, dir, "documents"),
          "doc_id", "text", k = 8, minDocs = 3)
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split(coalesce(text,''),' ') AS w FROM documents),
             |ch AS (SELECT doc_id, i AS cidx, array_to_string(w[(i*8+1):(i*8+8)],' ') AS chunk
             |       FROM w, unnest(range(0, CAST(ceil(len(w)/8.0) AS BIGINT))) AS t(i)),
             |dfq AS (SELECT chunk, count(DISTINCT doc_id) AS d FROM ch GROUP BY 1),
             |boiler AS (SELECT chunk FROM dfq WHERE d >= 3),
             |kept AS (SELECT ch.doc_id, ch.cidx, ch.chunk FROM ch
             |         WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.chunk = ch.chunk)),
             |agg AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cidx) AS clean_text,
             |        count(*) AS kept FROM kept GROUP BY 1),
             |tot AS (SELECT doc_id, count(*) AS total FROM ch GROUP BY 1)
             |SELECT t.doc_id, coalesce(a.clean_text,'') AS clean_text,
             |  CAST(coalesce(a.kept,0) AS BIGINT) AS kept,
             |  CAST(t.total - coalesce(a.kept,0) AS BIGINT) AS dropped
             |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // SEMANTIC eval-set contamination — d17's embedding-space sibling
    // (catches paraphrase-level leakage that shares no n-grams): every
    // train vector is scored against the broadcast eval set by exact
    // cosine; matches at cos >= 0.95 report their strongest eval hit
    // (argmax via the d16 max(struct) shape, smaller eval id on ties).
    // The corpus-side scan is the labeled corpus × broadcast-eval
    // replicate join (sim1's class — eval sets are small by
    // definition); planted contamination = doubled copies of eval
    // vectors under train ids, so the expected hits are known. Cosine
    // is the shared left-fold rendering — bit-identical both engines.
    "d20_semantic_contamination" -> QueryDef(
      (s, dir) => {
        import graft.operators.Similarity
        val emb = table(s, dir, "embeddings")
        // the eval set is a CONSTANT-SIZE artifact (benchmark suites do
        // not grow with the training corpus): the id < 5000 cap pins it
        // at the sf0.1 size, so the replicate-join product stays
        // n_train x O(1) instead of going quadratic with scale
        // (unbounded %20 measured 369 s at sf1; capped + native-codegen
        // cosine ~ seconds). Plant offset 1e7 keeps the doubled-copy
        // ids clear of real ids at any SF.
        val eval_ = emb.filter(col("vec_id") % 20 === 0 && col("vec_id") < 5000)
          .select(col("vec_id").as("eval_id"), col("embedding").as("evec"))
        val train = emb.filter(col("vec_id") % 20 =!= 0)
          .select(col("vec_id"), col("embedding"))
          .unionByName(emb.filter(col("vec_id") % 40 === 0)
            .select((col("vec_id") + 10000000L).as("vec_id"),
              transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
        train.crossJoin(broadcast(eval_))
          .withColumn("cos", Similarity.cosine(col("embedding"), col("evec")))
          .filter(col("cos") >= 0.95)
          .withColumn("cm", floor(col("cos") * 1e6).cast("long"))
          .groupBy(col("vec_id").as("train_id"))
          .agg(max(struct(col("cm"), (-col("eval_id")).as("ne"))).as("best"))
          .select(col("train_id"), (-col("best.ne")).as("eval_id"),
            col("best.cm").as("cos_micro"))
          .orderBy("train_id")
      },
      Some("""WITH ev AS (
             |  SELECT vec_id AS eval_id, embedding AS evec
             |  FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 5000),
             |tr AS (
             |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0
             |  UNION ALL
             |  SELECT vec_id + 10000000, list_transform(embedding, x -> x * CAST(2 AS REAL))
             |  FROM embeddings WHERE vec_id % 40 = 0),
             |sc AS (
             |  SELECT tr.vec_id AS train_id, ev.eval_id,
             |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
             |        i -> CAST(tr.embedding[i] AS DOUBLE) * CAST(ev.evec[i] AS DOUBLE))),
             |      (x, y) -> x + y)
             |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
             |        i -> CAST(tr.embedding[i] AS DOUBLE) * CAST(tr.embedding[i] AS DOUBLE))),
             |      (x, y) -> x + y))
             |      * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
             |        i -> CAST(ev.evec[i] AS DOUBLE) * CAST(ev.evec[i] AS DOUBLE))),
             |      (x, y) -> x + y))) AS cos
             |  FROM tr CROSS JOIN ev),
             |hits AS (SELECT train_id, eval_id, CAST(floor(cos * 1e6) AS BIGINT) AS cm
             |         FROM sc WHERE cos >= 0.95),
             |best AS (
             |  SELECT train_id, eval_id, cm,
             |    row_number() OVER (PARTITION BY train_id
             |      ORDER BY cm DESC, eval_id) AS rn
             |  FROM hits)
             |SELECT train_id, CAST(eval_id AS BIGINT) AS eval_id,
             |  cm AS cos_micro
             |FROM best WHERE rn = 1 ORDER BY train_id""".stripMargin)),

    // Triangle census of the near-dup pair graph — the graph-shape
    // audit behind dedup QA: a high triangle-closure rate says the
    // pair graph is clique-y (true duplicate families); a low rate
    // with many edges says chained false-positive bridges. Scale
    // shape: edges orient low→high (degree, id) endpoint, so wedge
    // enumeration fans out from each edge's LOW-degree side — the
    // standard O(m^1.5) bound instead of Σdeg² on skewed graphs; the
    // closure probe joins on the undirected pair key. Counts are
    // orientation-independent, so the oracle counts the
    // straightforward id-ordered way over the SAME shared jaccard-pair
    // rendering.
    "d19_dup_triangles" -> QueryDef(
      (s, dir) => {
        val e = Staged.docNearDupPairs(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        // deg feeds THREE consumers (two orientation joins + the wedge
        // summary) and oriented BOTH sides of the wedge self-join —
        // persist the two id/edge-sized tables so each subplan runs
        // once (the r13 multi-consumer sweep's class; this pair was
        // missed because the re-execution hid inside the staged-pairs
        // consumer)
        val deg = graft.operators.CacheTracker.persist(
          e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
            .groupBy("v").agg(count(lit(1)).as("deg")))
        val oriented = graft.operators.CacheTracker.persist(e
          .join(deg.select(col("v").as("a"), col("deg").as("dega")), "a")
          .join(deg.select(col("v").as("b"), col("deg").as("degb")), "b")
          .select(when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
              struct(col("a").as("src"), col("b").as("dst")))
            .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("o"))
          .select(col("o.src").as("src"), col("o.dst").as("dst")))
        val wedges = oriented.as("e1")
          .join(oriented.as("e2"), col("e1.src") === col("e2.src"))
          .filter(col("e1.dst") < col("e2.dst"))
          .select(col("e1.dst").as("v"), col("e2.dst").as("w"))
        val und = e.select(least(col("a"), col("b")).as("v"),
          greatest(col("a"), col("b")).as("w"))
        val tri = wedges.join(und, Seq("v", "w"), "left_semi")
          .agg(count(lit(1)).cast("long").as("n_triangles"))
        val summary = deg.agg(count(lit(1)).cast("long").as("n_nodes"),
          sum(expr("deg * (deg - 1) DIV 2")).cast("long").as("n_wedges"))
        val edges = e.agg(count(lit(1)).cast("long").as("n_edges"))
        summary.crossJoin(edges).crossJoin(tri)
          .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
            col("n_triangles"),
            when(col("n_wedges") > 0,
              expr("3000 * n_triangles DIV n_wedges")).otherwise(0L)
              .cast("long").as("closure_permille"))
      },
      Some(s"""WITH ${QueryDef.shingleCtes()},
             |${QueryDef.jaccardPairCtes(2, 5)},
             |e AS (SELECT da AS a, db AS b FROM qp),
             |deg AS (
             |  SELECT v, count(*) AS deg
             |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
             |  GROUP BY 1),
             |tri AS (
             |  SELECT count(*) AS n
             |  FROM e x JOIN e y ON y.a = x.a AND y.b > x.b
             |  JOIN e z ON z.a = x.b AND z.b = y.b)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
             |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             |  (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
             |    FROM deg) AS n_wedges,
             |  (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles,
             |  CAST(CASE WHEN (SELECT sum(deg * (deg - 1) // 2) FROM deg) > 0
             |    THEN 3000 * (SELECT n FROM tri)
             |      // (SELECT sum(deg * (deg - 1) // 2) FROM deg)
             |    ELSE 0 END AS BIGINT) AS closure_permille""".stripMargin)),

    // Canonical-URL dedup — the crawl-frontier staple: the same page
    // re-fetched under scheme/www/trailing-slash/tracking-param
    // variants must collapse to ONE fetch. The synthetic corpus has no
    // URLs, so both engines inject identical deterministic variant
    // URLs (t13's convention): 4 decoration classes over a shared
    // canonical base. Canonicalization is a scan-side chain of
    // codegen'd regexp_replace steps (RE2/Java-identical patterns:
    // anchors + classes only); only the short canonical string reaches
    // the exchange, and the keeper rule is the skew-tolerant
    // map-side-combining min(doc_id) — d1's shape on the canonical
    // key.
    "d18_url_dedup" -> QueryDef(
      (s, dir) => {
        val base = concat(lit("site"), (col("doc_id") % 25).cast("string"),
          lit(".org/page"), (col("doc_id") % 9).cast("string"))
        val url = when(col("doc_id") % 4 === 0, concat(lit("https://"), base))
          .when(col("doc_id") % 4 === 1, concat(lit("http://www."), base, lit("/")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://www."), base, lit("?utm_source=feed")))
          .otherwise(concat(lit("http://"), base, lit("/?ref=rss")))
        val canon = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          lower(url), "^https?://", ""), "^www\\.", ""), "\\?.*$", ""), "/$", "")
        table(s, dir, "documents")
          .select(col("doc_id"), canon.as("canon_url"))
          .groupBy("canon_url")
          .agg(count(lit(1)).as("n_fetches"), min("doc_id").as("keep_doc"))
          .orderBy("canon_url")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 4 = 0 THEN 'https://' || base
             |         WHEN doc_id % 4 = 1 THEN 'http://www.' || base || '/'
             |         WHEN doc_id % 4 = 2 THEN 'https://www.' || base || '?utm_source=feed'
             |         ELSE 'http://' || base || '/?ref=rss' END AS url
             |  FROM (SELECT doc_id, 'site' || (doc_id % 25) || '.org/page'
             |          || (doc_id % 9) AS base FROM documents)),
             |c AS (
             |  SELECT doc_id,
             |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             |      lower(url), '^https?://', ''), '^www\.', ''),
             |      '\?.*$', ''), '/$', '') AS canon_url
             |  FROM u)
             |SELECT canon_url, count(*) AS n_fetches,
             |  CAST(min(doc_id) AS BIGINT) AS keep_doc
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- sampled dup-rate estimation (the 100 TB pre-flight) --------
    // Before paying for a full dedup pass, estimate the duplicate rate
    // from a deterministic 20% hash sample (q38's portable scrambled
    // hash, so membership is engine-replayable — no rand()). One row:
    // corpus size, sample size, sampled dup ppm, and the full exact
    // ppm the estimate is judged against. At 100 TB only the sample's
    // (text-hash, group) agg runs; here both run so the oracle also
    // certifies the estimator's bias on this corpus.
    "d28_duprate_estimate" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"), xxhash64(col("text")).as("__h"),
            graft.functions.KMinAgg.scramble(
              PolyHash.col(col("doc_id").cast("string")))
              .as("__sh"))
        def dupPpm(d: org.apache.spark.sql.DataFrame) = d
          .groupBy("__h").agg(count(lit(1)).as("n"))
          .agg(sum("n").as("rows"), count(lit(1)).as("distincts"))
          .select(col("rows"),
            expr("1000000 * (rows - distincts) DIV rows").as("ppm"))
        val full = dupPpm(docs)
          .select(col("rows").as("n_corpus"), col("ppm").as("full_dup_ppm"))
        val samp = dupPpm(docs.filter(col("__sh") % 5 === 0))
          .select(col("rows").as("n_sample"), col("ppm").as("sample_dup_ppm"))
        full.crossJoin(samp)
          .select("n_corpus", "n_sample", "sample_dup_ppm", "full_dup_ppm")
      },
      Some(s"""WITH ${QueryDef.scrambledHashCtes("documents",
                 Seq("doc_id", "text"), "CAST(doc_id AS VARCHAR)")},
             |f AS (
             |  SELECT count(*) AS n_corpus,
             |    (1000000 * (count(*) - count(DISTINCT text))) // count(*)
             |      AS full_dup_ppm
             |  FROM documents),
             |sm AS (
             |  SELECT count(*) AS n_sample,
             |    (1000000 * (count(*) - count(DISTINCT text))) // count(*)
             |      AS sample_dup_ppm
             |  FROM h WHERE hv % 5 = 0)
             |SELECT f.n_corpus, sm.n_sample, sm.sample_dup_ppm,
             |  f.full_dup_ppm
             |FROM f CROSS JOIN sm""".stripMargin)),

    // ---- rendezvous (HRW) shard migration audit ---------------------
    // The resharding-stability op for a partitioned 100 TB index
    // (d25/d26/sim18 all persist sharded layouts): every doc scores
    // each shard with a deterministic integer mix (one multiply-mod
    // round squared mod p — exact BIGINT on both engines, square <
    // 2^60) and lives on its argmax (highest-random-weight hashing).
    // Adding a 9th shard moves ONLY docs the new shard strictly wins —
    // ~1/9 of each old shard, no old↔old churn — which is why HRW (not
    // id % k) is the layout key: a reshard re-writes 11% of files, not
    // 100%. One scan, map-side-combining 8-group agg, zero joins. The
    // SQL is ONE template rendered into both engines (only the
    // integer-div token differs), so mix and tie-break can never
    // desynchronize.
    "d31_rendezvous_shard" -> QueryDef(
      (s, dir) => {
        table(s, dir, "documents").createOrReplaceTempView("graft_d31_docs")
        s.sql(rendezvousSql("graft_d31_docs", "DIV"))
      },
      Some(rendezvousSql("documents", "//")))
  )

  /** [[DedupQueries]] d31: one SQL text for both engines. `div` is the
    * integer-division token (`DIV` Spark, `//` DuckDB — both truncate
    * toward zero; operands here are non-negative anyway).
    */
  private def rendezvousSql(tbl: String, div: String): String = {
    val p = 1000000007L
    def lin(i: Int) = {
      val c = (i + 1) * 1315423911L
      s"(((doc_id % $p) * 2654435761 + $c) % $p)"
    }
    val mcols = (0 to 8)
      .map(i => s"(${lin(i)} * ${lin(i)}) % $p AS m$i").mkString(",\n    ")
    val arms = (0 to 6).map { i =>
      val conds = ((i + 1) to 7).map(j => s"m$i >= m$j").mkString(" AND ")
      s"WHEN $conds THEN $i"
    }.mkString("\n      ")
    val g7 = (0 to 7).map(i => s"m$i").mkString(", ")
    s"""WITH m AS (
       |  SELECT doc_id, $mcols
       |  FROM $tbl),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(CASE $arms ELSE 7 END AS BIGINT) AS old_shard,
       |    CASE WHEN m8 > greatest($g7) THEN 1 ELSE 0 END AS moved
       |  FROM m)
       |SELECT old_shard, count(*) AS n_docs,
       |  CAST(sum(moved) AS BIGINT) AS n_moved,
       |  (10000 * CAST(sum(moved) AS BIGINT)) $div count(*) AS moved_bp
       |FROM sh GROUP BY old_shard ORDER BY old_shard""".stripMargin
  }
}
