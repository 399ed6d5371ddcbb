package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import QueryDef.table

/** Similarity search over the `embeddings` table (array<float>[64]).
  *
  * All three paths now carry full DuckDB oracles: every ingredient is
  * deterministic integer/double arithmetic mirrored exactly —
  *   - the cosine is the same left-fold dot product on both engines
  *     (bit-identical doubles, so DESC orderings agree);
  *   - sim2's LSH hyperplane weights are `k/1e5 - 0.5` with integer `k`
  *     from [[Similarity.weightK]], embedded into the SQL as literals;
  *   - sim3's IVF centroids bootstrap from a deterministic id-stride
  *     sample (count → stride → `id % stride = 0` → first 16), so the
  *     whole assign/probe/re-rank chain is reproducible in SQL.
  * Lloyd refinement (refineIters > 0) is exercised in OperatorSpec's
  * index-vs-inline parity test; the registered sim3 query pins the
  * portable refineIters = 0 configuration so the oracle is exact.
  */
object SimilarityQueries {

  private val K = 10
  private val QueryIds = Seq(0L, 1L, 2L)
  private val Dims = 64
  // sim2 LSH geometry — must match lshTopK's defaults
  private val Planes = 24
  private val RowsPerBand = 3
  private val Bands = Planes / RowsPerBand
  // sim3 IVF geometry
  private val NCells = 16
  private val NProbe = 6
  // sim8 random-projection geometry
  private val RpDims = 16
  private val RpC = 100
  // sim7 SELF-join geometry: a self-join's candidate volume is
  // sum(bucketSize^2) per band, so bands must be WIDE — 8-bit bands
  // put the fanout at ~n^2/2^bits per band where sim2's 3-bit
  // query-probe bands (8 buckets, fine against 3 queries) make the
  // self-join effectively all-pairs. Measured at sf0.1/sf1:
  // 3-bit 46s/— , 8-bit 6.9s/222s, 10-bit (this config) — the
  // bits-per-band knob IS the candidate-volume dial, quadratic bound
  // n^2·bands/2^bits documented in PROBES.md. Planted near-dups
  // (s ~= 1) collide w.p. ~1 under any of these bandings.
  private val KnnPlanes = 60
  // sim12 MMR geometry (declared BEFORE defs — the oracle string is
  // built during the map's construction)
  private val MmrCand = 20
  private val MmrK = 8
  // candidate-pair budget for the self-join: bits-per-band derive from
  // corpus size n against this cap (smallest divisor-of-60 r with
  // bands·n²/2^r <= budget): n=500 -> r=4, n=2000 -> r=10 (the round-7
  // measured sweet spot at sf0.1), n=20000 -> r=12. One knob, every SF.
  private val KnnBudget = 500000L
  // sim14 binary-quantization / sim15 matryoshka / sim17 int8 widths
  private val BqC = 100
  private val MatPrefix = 16
  private val MatC = 100
  private val IntC = 100

  /** The ONE DuckDB rendering of [[Similarity.dot]]'s left fold:
    * prepend-0.0 list_reduce over per-index double products — the same
    * accumulation order as Spark's `aggregate(zip_with(...))`, so the
    * result is bit-identical. `n` defaults to the full dimension;
    * sim15's coarse stage folds a prefix.
    */
  private def dotSql(a: String, b: String, n: Int = Dims): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${n + 1}),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |      (x, y) -> x + y)""".stripMargin

  private def cosineSql(vec: String, qvec: String, n: Int = Dims): String =
    s"""${dotSql(vec, qvec, n)}
       |    / (sqrt(${dotSql(vec, vec, n)})
       |      * sqrt(${dotSql(qvec, qvec, n)}))""".stripMargin

  /** Shared final SELECT of every top-k oracle: rank by cosine desc /
    * id asc within each query, keep K, encode the score as
    * floor(1e6·cos) BIGINT — the exact output contract of
    * [[Similarity.topKReRank]].
    */
  private def rerankSql: String =
    s"""SELECT qid, CAST(row_number() OVER
       |    (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rank,
       |  vec_id, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
       |FROM scored
       |QUALIFY rank <= $K
       |ORDER BY qid, rank""".stripMargin

  private val qidList = QueryIds.mkString(", ")

  /** The 64 bit weights of [[Similarity.binaryCode]] as BIGINT literals
    * — bit 63's weight is Long.MinValue, which DuckDB can only STATE
    * (the computing shift `1<<63` raises Out of Range).
    */
  private val powList =
    (0 until Dims).map(i => s"CAST(${1L << i} AS BIGINT)").mkString(", ")

  /** sim2 oracle: the 24×64 hyperplane weight matrix as a VALUES table
    * (one row per plane, one 64-double list per row), sign codes via
    * the same projection fold, banding as 8 static substr equalities.
    */
  /** The ONE rendering of the 24×64 hyperplane weight matrix + sign
    * codes shared by the sim2 and sim7 oracles — a geometry change
    * cannot desynchronize them.
    */
  private def weightValuesSql(planes: Int): String = (0 until planes).map { j =>
    val ws = (0 until Dims)
      .map(i => s"${Similarity.weightK(i, j)}/1e5-0.5").mkString(", ")
    s"    ($j, [$ws])"
  }.mkString(",\n")

  private def codesCteSql(planes: Int = Planes): String =
    s"""w(j, wl) AS (VALUES
       |${weightValuesSql(planes)}),
       |codes AS (
       |  SELECT e.vec_id,
       |    string_agg(CASE WHEN list_reduce(list_prepend(0.0,
       |          list_transform(range(1, ${Dims + 1}),
       |            i -> CAST(e.embedding[i] AS DOUBLE) * w.wl[i])),
       |        (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END,
       |      '' ORDER BY w.j) AS code
       |  FROM embeddings e CROSS JOIN w
       |  GROUP BY e.vec_id)""".stripMargin

  /** OR-chain of per-band substr equalities between `$l.code` and
    * `$r.$rcode`.
    */
  private def bandMatchSql(l: String, r: String, rcode: String,
                           bands: Int = Bands, rpb: Int = RowsPerBand): String =
    (0 until bands).map { b =>
      val p = b * rpb + 1
      s"substr($l.code, $p, $rpb) = substr($r.$rcode, $p, $rpb)"
    }.mkString("\n     OR ")

  /** OR-chain of per-band Hamming-distance-≤1 matches — the multi-
    * probe (sim19) analog of [[bandMatchSql]]: a band matches when at
    * most one of its bit chars differs.
    */
  private def bandNearMatchSql(l: String, r: String, rcode: String,
                               bands: Int = Bands, rpb: Int = RowsPerBand): String =
    (0 until bands).map { b =>
      val diffs = (0 until rpb).map { i =>
        val p = b * rpb + 1 + i
        s"CASE WHEN substr($l.code, $p, 1) <> substr($r.$rcode, $p, 1) THEN 1 ELSE 0 END"
      }.mkString("\n       + ")
      s"($diffs) <= 1"
    }.mkString("\n     OR ")

  private def multiProbeOracleSql: String = {
    val bandMatch = bandNearMatchSql("c", "qc", "qcode")
    s"""WITH ${codesCteSql()},
       |qc AS (
       |  SELECT vec_id AS qid, code AS qcode FROM codes
       |  WHERE vec_id IN ($qidList)),
       |cands AS (
       |  SELECT qc.qid, c.vec_id
       |  FROM codes c JOIN qc ON c.vec_id <> qc.qid
       |   AND ($bandMatch)),
       |scored AS (
       |  SELECT cands.qid, cands.vec_id,
       |    ${cosineSql("e.embedding", "qe.embedding")} AS cos
       |  FROM cands
       |  JOIN embeddings e ON e.vec_id = cands.vec_id
       |  JOIN embeddings qe ON qe.vec_id = cands.qid)
       |$rerankSql""".stripMargin
  }

  private def lshOracleSql: String = {
    val bandMatch = bandMatchSql("c", "qc", "qcode")
    s"""WITH ${codesCteSql()},
       |qc AS (
       |  SELECT vec_id AS qid, code AS qcode FROM codes
       |  WHERE vec_id IN ($qidList)),
       |cands AS (
       |  SELECT qc.qid, c.vec_id
       |  FROM codes c JOIN qc ON c.vec_id <> qc.qid
       |   AND ($bandMatch)),
       |scored AS (
       |  SELECT cands.qid, cands.vec_id,
       |    ${cosineSql("e.embedding", "qe.embedding")} AS cos
       |  FROM cands
       |  JOIN embeddings e ON e.vec_id = cands.vec_id
       |  JOIN embeddings qe ON qe.vec_id = cands.qid)
       |$rerankSql""".stripMargin
  }

  /** sim7 oracle: same codes rendering, but every corpus row is a
    * query (self-join), k = 5 — and the banding geometry is DERIVED in
    * SQL exactly as [[Similarity.tuneSignBanding]] derives it in Scala
    * (smallest divisor-of-60 r with bands·n²/2^r <= budget, HUGEINT
    * exact), so the two sides can never desynchronize on a corpus-size
    * change. Bands are exploded per the derived r (the lateral
    * UNNEST(range) mirrors Spark's bandExplode).
    */
  private def knnJoinOracleSql: String = {
    val divisors = (2 to KnnPlanes / 2).filter(KnnPlanes % _ == 0)
      .map(r => s"($r)").mkString(", ")
    s"""WITH ${codesCteSql(KnnPlanes)},
       |geom AS (
       |  SELECT coalesce(min(d.r), ${KnnPlanes / 2}) AS r
       |  FROM (VALUES $divisors) d(r)
       |  WHERE ($KnnPlanes // d.r)
       |      * CAST((SELECT count(*) FROM embeddings) AS HUGEINT)
       |      * (SELECT count(*) FROM embeddings)
       |    <= (CAST(1 AS BIGINT) << d.r) * $KnnBudget),
       |bc AS (
       |  SELECT c.vec_id, t.b,
       |    substr(c.code, CAST(t.b * g.r + 1 AS INTEGER),
       |      CAST(g.r AS INTEGER)) AS bits
       |  FROM codes c, geom g, UNNEST(range(0, $KnnPlanes // g.r)) AS t(b)),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS qid, b2.vec_id
       |  FROM bc a JOIN bc b2
       |    ON a.b = b2.b AND a.bits = b2.bits AND a.vec_id <> b2.vec_id),
       |scored AS (
       |  SELECT cands.qid, cands.vec_id,
       |    ${cosineSql("e.embedding", "qe.embedding")} AS cos
       |  FROM cands
       |  JOIN embeddings e ON e.vec_id = cands.vec_id
       |  JOIN embeddings qe ON qe.vec_id = cands.qid)
       |SELECT qid, CAST(row_number() OVER
       |    (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rank,
       |  vec_id, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
       |FROM scored
       |QUALIFY rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** sim3 oracle: id-stride centroid bootstrap, nearest-cell argmax
    * assignment (sim desc / cell asc — the struct-max tiebreak), nProbe
    * nearest cells per query, exact re-rank inside probed cells. The
    * query vectors are corpus rows, so `sims` serves both the corpus
    * assignment and the query probes.
    */
  private def ivfOracleSql: String = ivfChainSql("", "embeddings")

  /** sim18 oracle: sim3's EXACT chain, except the centroid bootstrap
    * (count → stride → id-stride pick) runs over the OLD 80% subset
    * only — assignment, probing, and re-rank still see every vector.
    * That is precisely the append-without-retrain contract the engine
    * materializes (buildIvfIndex on old + appendToIvfIndex of the
    * delta against the stale centroids).
    */
  private def ivfAppendOracleSql: String =
    ivfChainSql("old AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 4),\n", "old")

  /** The ONE rendering of the IVF coarse chain (stride bootstrap over
    * `centSrc`, argmax assignment, nProbe probes, candidate join,
    * exact re-rank) shared by the sim3 and sim18 oracles — a geometry
    * change cannot desynchronize them.
    */
  private def ivfChainSql(prefix: String, centSrc: String): String =
    s"""WITH ${prefix}par AS (
       |  SELECT greatest(1, count(*) // $NCells) AS stride FROM $centSrc),
       |cents AS (
       |  SELECT vec_id AS cell, embedding AS cvec
       |  FROM $centSrc, par WHERE vec_id % par.stride = 0
       |  ORDER BY vec_id LIMIT $NCells),
       |cn AS (
       |  SELECT cell, cvec, sqrt(${dotSql("cvec", "cvec")}) AS cnorm
       |  FROM cents),
       |en AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS vnorm
       |  FROM embeddings),
       |sims AS (
       |  SELECT en.vec_id, cn.cell,
       |    ${dotSql("en.embedding", "cn.cvec")}
       |      / (en.vnorm * cn.cnorm) AS sim
       |  FROM en CROSS JOIN cn),
       |assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
       |    FROM sims) WHERE rn = 1),
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT vec_id AS qid, cell, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
       |    FROM sims WHERE vec_id IN ($qidList)) WHERE rn <= $NProbe),
       |cands AS (
       |  SELECT p.qid, a.vec_id
       |  FROM assigned a JOIN probes p
       |    ON a.cell = p.cell AND a.vec_id <> p.qid),
       |scored AS (
       |  SELECT cands.qid, cands.vec_id,
       |    ${cosineSql("e.embedding", "qe.embedding")} AS cos
       |  FROM cands
       |  JOIN embeddings e ON e.vec_id = cands.vec_id
       |  JOIN embeddings qe ON qe.vec_id = cands.qid)
       |$rerankSql""".stripMargin

  /** sim6 oracle: sim3's coarse chain (id-stride centroids, argmax
    * assignment, nProbe probes) composed with sim5's PQ chain
    * (training, encoding, per-query ADC tables); the ADC aggregation
    * is restricted to (query, vector) pairs whose vector sits in a
    * probed cell — the defining IVFPQ property — then the shared
    * candidate cut and exact re-rank.
    */
  private def ivfPqOracleSql: String =
    s"""WITH par AS (
       |  SELECT greatest(1, count(*) // $NCells) AS stride FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cell, embedding AS cvec
       |  FROM embeddings, par WHERE vec_id % par.stride = 0
       |  ORDER BY vec_id LIMIT $NCells),
       |cn AS (
       |  SELECT cell, cvec, sqrt(${dotSql("cvec", "cvec")}) AS cnorm
       |  FROM cents),
       |en AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS vnorm
       |  FROM embeddings),
       |sims AS (
       |  SELECT en.vec_id, cn.cell,
       |    ${dotSql("en.embedding", "cn.cvec")}
       |      / (en.vnorm * cn.cnorm) AS sim
       |  FROM en CROSS JOIN cn),
       |assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
       |    FROM sims) WHERE rn = 1),
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT vec_id AS qid, cell, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
       |    FROM sims WHERE vec_id IN ($qidList)) WHERE rn <= $NProbe),
       |qv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS v
       |  FROM embeddings),
       |sub AS (SELECT vec_id, s,
       |    v[(CAST(s AS INTEGER)*$PqSd+1):(CAST(s AS INTEGER)*$PqSd+$PqSd)] AS sv
       |  FROM qv, unnest(range(0, $PqM)) AS t(s)),
       |pc0 AS (SELECT s,
       |    CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS BIGINT) AS cell,
       |    sv AS cv
       |  FROM sub WHERE vec_id IN
       |    (SELECT vec_id FROM qv ORDER BY vec_id LIMIT $PqKs)),
       |pd0 AS (SELECT b.vec_id, b.s, c.cell,
       |    ${pqSqDistSql("b.sv", "c.cv")} AS dist
       |  FROM sub b JOIN pc0 c ON b.s = c.s),
       |pa0 AS (SELECT vec_id, s, cell FROM (
       |    SELECT vec_id, s, cell,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
       |    FROM pd0) WHERE rn = 1),
       |ps0 AS (SELECT a.s, a.cell, t.i, sum(b.sv[t.i]) AS sm, count(*) AS n
       |  FROM pa0 a JOIN sub b ON a.vec_id = b.vec_id AND a.s = b.s
       |  CROSS JOIN range(1, ${PqSd + 1}) AS t(i)
       |  GROUP BY 1, 2, 3),
       |pc1 AS (SELECT c.s, c.cell, coalesce(u.cv, c.cv) AS cv
       |  FROM pc0 c LEFT JOIN (
       |    SELECT s, cell, list(CAST(floor(sm * 1.0 / n) AS BIGINT) ORDER BY i) AS cv
       |    FROM ps0 GROUP BY 1, 2) u ON c.s = u.s AND c.cell = u.cell),
       |ed AS (SELECT b.vec_id, b.s, c.cell,
       |    ${pqSqDistSql("b.sv", "c.cv")} AS dist
       |  FROM sub b JOIN pc1 c ON b.s = c.s),
       |enc AS (SELECT vec_id, s, cell AS code FROM (
       |    SELECT vec_id, s, cell,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
       |    FROM ed) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       |  WHERE vec_id IN ($qidList)),
       |qqv AS (SELECT qid, qvec, list_transform(qvec,
       |    x -> CAST(round(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS v
       |  FROM q),
       |qsub AS (SELECT qid, s,
       |    v[(CAST(s AS INTEGER)*$PqSd+1):(CAST(s AS INTEGER)*$PqSd+$PqSd)] AS sv
       |  FROM qqv, unnest(range(0, $PqM)) AS t(s)),
       |qtab AS (SELECT b.qid, b.s, c.cell,
       |    ${pqSqDistSql("b.sv", "c.cv")} AS d
       |  FROM qsub b JOIN pc1 c ON b.s = c.s),
       |ax AS (SELECT t.qid, e.vec_id, sum(t.d) AS approx
       |  FROM enc e
       |  JOIN qtab t ON e.s = t.s AND e.code = t.cell
       |  JOIN assigned a ON a.vec_id = e.vec_id
       |  JOIN probes p ON p.qid = t.qid AND p.cell = a.cell
       |  WHERE e.vec_id <> t.qid
       |  GROUP BY 1, 2),
       |cand AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY approx, vec_id) AS rn
       |    FROM ax) WHERE rn <= $PqC),
       |scored AS (SELECT c.qid, c.vec_id,
       |    ${cosineSql("e.embedding", "q.qvec")} AS cos
       |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
       |  JOIN q ON c.qid = q.qid)
       |$rerankSql""".stripMargin

  // sim4 k-means geometry — interpolated into BOTH engines (shared
  // with d11_semdedup, which clusters the same way before pruning)
  private[queries] val KmK = 10
  private[queries] val KmIters = 2
  private[queries] val KmScale = 1000

  // sim5 product-quantization geometry — 8 subspaces x 8 dims, 8-cell
  // codebooks (codes: 8 small ints/vector vs 256 bytes of floats), 1
  // fused Lloyd iteration, 100 ADC candidates re-ranked exactly to
  // top-10; measured recall@10 vs sim1 = 0.77 (sf0.01) / 0.80 (sf0.1)
  // — the 4x16 geometry scored 0.70/0.60 (coarser subspaces lose more)
  private val PqM = 8
  private val PqSd = Dims / PqM
  private val PqKs = 8
  private val PqIters = 1
  private val PqC = 100

  /** DuckDB CTE fragment: per-(key, s) nearest-cell assignment of
    * subvectors `b` against per-subspace centroids `c` — the integer
    * squared-L2 argmin with ties to the lowest cell, shared by the PQ
    * oracle's training, encoding, and ADC-table stages.
    */
  private def pqSqDistSql(sv: String, cv: String): String =
    s"""list_sum(list_transform(range(1, ${PqSd + 1}),
       |      i -> ($sv[i] - $cv[i]) * ($sv[i] - $cv[i])))""".stripMargin

  /** DuckDB CTE triple (d→a→next c) for ONE exact-integer Lloyd
    * iteration: distances against centroid set `cN`, argmin assignment
    * (ties to lowest cell), floor-mean update with empty-cell
    * carry-forward — the ONE SQL rendering of
    * [[graft.operators.Clustering.kmeansAssign]]'s loop body.
    */
  private def lloydIterSql(n: Int): String = {
    val (c, d, a, s, c1) = (s"c$n", s"d$n", s"a$n", s"s$n", s"c${n + 1}")
    s"""$d AS (SELECT q.vec_id, c.cell,
       |    list_sum(list_transform(range(1, ${Dims + 1}),
       |      i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS dist
       |  FROM qv q CROSS JOIN $c c),
       |$a AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM $d) WHERE rn = 1),
       |$s AS (SELECT a.cell, t.i, sum(q.v[t.i]) AS s, count(*) AS n
       |  FROM $a a JOIN qv q USING (vec_id) CROSS JOIN range(1, ${Dims + 1}) AS t(i)
       |  GROUP BY 1, 2),
       |$c1 AS (SELECT c.cell, coalesce(u.cv, c.cv) AS cv
       |  FROM $c c LEFT JOIN (
       |    SELECT cell, list(CAST(floor(s * 1.0 / n) AS BIGINT) ORDER BY i) AS cv
       |    FROM $s GROUP BY 1) u USING (cell))""".stripMargin
  }

  /** The ONE DuckDB CTE chain replaying [[graft.operators.Clustering
    * .kmeansAssign]] (seeds → KmIters Lloyd iterations → final
    * assignment CTE `af`(vec_id, cell, dist)) — shared by sim4 and the
    * t16 balanced-sampling composition so the clustering cannot drift
    * between them.
    */
  private[queries] def kmeansCtes(src: String = "embeddings"): String =
    s"""qv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS v
       |  FROM $src),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
       |    v AS cv
       |  FROM (SELECT vec_id, v FROM qv ORDER BY vec_id LIMIT $KmK)),
       |${(0 until KmIters).map(lloydIterSql).mkString(",\n")},
       |adf AS (SELECT q.vec_id, c.cell,
       |    list_sum(list_transform(range(1, ${Dims + 1}),
       |      i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS dist
       |  FROM qv q CROSS JOIN c$KmIters c),
       |af AS (SELECT vec_id, cell, dist
       |  FROM (SELECT vec_id, cell, dist,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM adf) WHERE rn = 1)""".stripMargin

  private val QuotaM = 10

  val defs: Map[String, QueryDef] = Map(

    // exact-integer distributed k-means: quantize once, 2 Lloyd
    // iterations (broadcast-literal centroids, (cell,dim) map-side
    // aggs), final assignment — every step integer arithmetic, so the
    // DuckDB oracle reproduces the clustering bit-for-bit
    "sim4_kmeans" -> QueryDef(
      (s, dir) => {
        graft.operators.Clustering.kmeansAssign(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          k = KmK, iters = KmIters, quantScale = KmScale)
      },
      Some(s"""WITH ${kmeansCtes()}
             |SELECT vec_id, CAST(cell AS BIGINT) AS cluster,
             |  CAST(dist AS BIGINT) AS dist
             |FROM af ORDER BY vec_id""".stripMargin)),

    // Cluster-balanced corpus sampling: k-means assignment + a fixed
    // per-cluster quota taken in deterministic pseudo-random order
    // (scrambled-hash bottom-m via the bounded-state TopKAgg — O(m)
    // mergeable state per cluster, skew-safe where a per-cluster window
    // sort is not). The mixture-construction primitive: equal topical
    // representation regardless of cluster size skew.
    "t16_cluster_balanced_sample" -> QueryDef(
      (s, dir) => {
        import graft.functions.KMinAgg
        graft.functions.VectorExpressions.register(s)
        val assign = graft.operators.Clustering.kmeansAssign(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          k = KmK, iters = KmIters, quantScale = KmScale)
        assign.select(col("vec_id"), col("cluster"),
            KMinAgg.scramble(call_function("poly_hash",
              col("vec_id").cast("string"))).as("h"))
          // score = -hash: topk_sketch's (score desc, id asc) = (hash
          // asc, id asc) — hashes < 2^30 are exact in double (q34
          // pattern); native bounded heap, O(m) state per cluster
          .groupBy("cluster")
          .agg(call_function("topk_sketch", col("vec_id"),
            (-col("h")).cast("double"), lit(QuotaM)).as("sample"))
          .select(col("cluster"),
            posexplode(col("sample.id")).as(Seq("__p", "vec_id")))
          .select(col("cluster"), (col("__p") + 1).cast("long").as("rk"),
            col("vec_id"))
          .orderBy("cluster", "rk")
      },
      Some(s"""WITH ${kmeansCtes()},
             |${QueryDef.scrambledHashCtes("(SELECT vec_id, cell FROM af)",
                Seq("vec_id", "cell"), "CAST(vec_id AS VARCHAR)")},
             |r AS (SELECT vec_id, cell,
             |    row_number() OVER (PARTITION BY cell ORDER BY hv, vec_id) AS rk
             |  FROM h)
             |SELECT CAST(cell AS BIGINT) AS cluster, CAST(rk AS BIGINT) AS rk,
             |  vec_id
             |FROM r WHERE rk <= $QuotaM ORDER BY 1, 2""".stripMargin)),

    // Product-quantization ANN (Jégou et al. 2011): per-subspace
    // codebooks (deterministic seeds + 1 fused Lloyd iteration),
    // 4-code corpus encoding, ADC code scan (m table lookups per row),
    // bounded-TopK candidate cut, exact cosine re-rank of candidates
    // only. All-integer training/encode/ADC — the DuckDB oracle
    // replays the entire chain bit-for-bit.
    "sim5_pq_ann" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        graft.operators.ProductQuant.adcTopK(emb, queries, K, dims = Dims,
          m = PqM, ks = PqKs, iters = PqIters, candC = PqC)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH qv AS (
             |  SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS v
             |  FROM embeddings),
             |sub AS (SELECT vec_id, s,
             |    v[(CAST(s AS INTEGER)*$PqSd+1):(CAST(s AS INTEGER)*$PqSd+$PqSd)] AS sv
             |  FROM qv, unnest(range(0, $PqM)) AS t(s)),
             |pc0 AS (SELECT s,
             |    CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS BIGINT) AS cell,
             |    sv AS cv
             |  FROM sub WHERE vec_id IN
             |    (SELECT vec_id FROM qv ORDER BY vec_id LIMIT $PqKs)),
             |pd0 AS (SELECT b.vec_id, b.s, c.cell,
             |    ${pqSqDistSql("b.sv", "c.cv")} AS dist
             |  FROM sub b JOIN pc0 c ON b.s = c.s),
             |pa0 AS (SELECT vec_id, s, cell FROM (
             |    SELECT vec_id, s, cell,
             |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
             |    FROM pd0) WHERE rn = 1),
             |ps0 AS (SELECT a.s, a.cell, t.i, sum(b.sv[t.i]) AS sm, count(*) AS n
             |  FROM pa0 a JOIN sub b ON a.vec_id = b.vec_id AND a.s = b.s
             |  CROSS JOIN range(1, ${PqSd + 1}) AS t(i)
             |  GROUP BY 1, 2, 3),
             |pc1 AS (SELECT c.s, c.cell, coalesce(u.cv, c.cv) AS cv
             |  FROM pc0 c LEFT JOIN (
             |    SELECT s, cell, list(CAST(floor(sm * 1.0 / n) AS BIGINT) ORDER BY i) AS cv
             |    FROM ps0 GROUP BY 1, 2) u ON c.s = u.s AND c.cell = u.cell),
             |ed AS (SELECT b.vec_id, b.s, c.cell,
             |    ${pqSqDistSql("b.sv", "c.cv")} AS dist
             |  FROM sub b JOIN pc1 c ON b.s = c.s),
             |enc AS (SELECT vec_id, s, cell AS code FROM (
             |    SELECT vec_id, s, cell,
             |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
             |    FROM ed) WHERE rn = 1),
             |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
             |  WHERE vec_id IN ($qidList)),
             |qqv AS (SELECT qid, qvec, list_transform(qvec,
             |    x -> CAST(round(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS v
             |  FROM q),
             |qsub AS (SELECT qid, s,
             |    v[(CAST(s AS INTEGER)*$PqSd+1):(CAST(s AS INTEGER)*$PqSd+$PqSd)] AS sv
             |  FROM qqv, unnest(range(0, $PqM)) AS t(s)),
             |qtab AS (SELECT b.qid, b.s, c.cell,
             |    ${pqSqDistSql("b.sv", "c.cv")} AS d
             |  FROM qsub b JOIN pc1 c ON b.s = c.s),
             |ax AS (SELECT t.qid, e.vec_id, sum(t.d) AS approx
             |  FROM enc e JOIN qtab t ON e.s = t.s AND e.code = t.cell
             |  WHERE e.vec_id <> t.qid
             |  GROUP BY 1, 2),
             |cand AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY approx, vec_id) AS rn
             |    FROM ax) WHERE rn <= $PqC),
             |scored AS (SELECT c.qid, c.vec_id,
             |    ${cosineSql("e.embedding", "q.qvec")} AS cos
             |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
             |  JOIN q ON c.qid = q.qid)
             |$rerankSql""".stripMargin)),

    // IVF-PQ fused ANN (the FAISS IVFPQ shape): sim3's coarse cells
    // choose WHICH rows each query scans (nProbe of nCells), sim5's
    // product codes make each scanned row m table lookups instead of
    // a 64-float dot — the two 100 TB levers multiplied. Codes are
    // trained on raw vectors (no per-cell residuals — documented
    // simplification that keeps the whole chain SQL-expressible); the
    // oracle replays coarse assignment, PQ training, encoding, probed
    // ADC, and exact re-rank bit-for-bit. Measured recall@10 vs sim1
    // at this config: 0.73 (sf0.01) / 0.80 (sf0.1); nProbe=8 lifts to
    // 0.77/0.87 (PROBES.md, round close 2026-08-13). At these corpus sizes the
    // fixed costs (bootstrap + training) dominate the saved scan —
    // the fusion pays where the ADC scan is the bound, i.e. at scale.
    "sim6_ivfpq_ann" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        // the index (centroid training + codebook Lloyd iterations +
        // corpus encode) is query-INDEPENDENT — staged like the real
        // pipeline persists a FAISS index file, so the bench bills
        // build vs probe separately and repeat probes reuse it
        val index = Staged.cachedAny(s, s"sim6index:$dir") {
          val ix = graft.operators.ProductQuant.buildIvfPqIndex(
            emb, dims = Dims, nCells = NCells, m = PqM, ks = PqKs,
            iters = PqIters)
          ix.copy(indexed = graft.operators.CacheTracker.persist(ix.indexed))
        }
        graft.operators.ProductQuant
          .probeIvfPq(index, emb, queries, K, nProbe = NProbe, candC = PqC)
          .orderBy("qid", "rank")
      },
      Some(ivfPqOracleSql)),

    // Per-dimension embedding statistics — the NORMALIZATION-CONSTANT
    // fit (feature scaler) run before standardizing vectors for
    // downstream models: per dimension, count, floor-mean (milli) and
    // the population variance as the exact rational
    // (n·Σx² − (Σx)²) / n² under sim4's quantize-once discipline —
    // numerator and denominator emitted separately (d24's no-division
    // rule) plus the floor-divided readable value. ONE (dim) map-side-
    // combining agg over the posexploded table; 64 rows out.
    "sim11_dim_stats" -> QueryDef(
      (s, dir) => {
        table(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("dim").cast("long").as("dim"),
            expr("CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)").as("xi"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n"), sum("xi").as("sx"),
            sum(col("xi") * col("xi")).as("sxx"))
          .select(col("dim"), col("n"),
            // sx can be NEGATIVE: Spark DIV and DuckDB // both truncate
            // toward zero (they agree — q72/sim10 depend on that), but
            // a floored mean is the conventional statistic, so use an
            // explicit FLOOR over exact-in-double operands (|sx| << 2^53)
            // to get flooring on both engines
            expr("CAST(FLOOR(CAST(sx AS DOUBLE) / n) AS BIGINT)").as("mean_milli"),
            expr("n * sxx - sx * sx").as("var_num"),
            expr("n * n").as("var_den"),
            expr("(n * sxx - sx * sx) DIV (n * n)").as("var_milli2"))
          .orderBy("dim")
      },
      Some(s"""WITH q AS (SELECT d.i - 1 AS dim,
             |    CAST(round(CAST(embedding[d.i] AS DOUBLE) * 1000) AS BIGINT) AS xi
             |  FROM embeddings, UNNEST(range(1, ${Dims + 1})) AS d(i)),
             |mo AS (SELECT dim, count(*) AS n, CAST(sum(xi) AS BIGINT) AS sx,
             |    CAST(sum(xi * xi) AS BIGINT) AS sxx
             |  FROM q GROUP BY 1)
             |SELECT CAST(dim AS BIGINT) AS dim, n,
             |  CAST(floor(CAST(sx AS DOUBLE) / n) AS BIGINT) AS mean_milli,
             |  CAST(n * sxx - sx * sx AS BIGINT) AS var_num,
             |  CAST(n * n AS BIGINT) AS var_den,
             |  CAST((n * sxx - sx * sx) // (n * n) AS BIGINT) AS var_milli2
             |FROM mo ORDER BY 1""".stripMargin)),

    // Embedding distribution drift between two ingest halves: per
    // label, the exact-integer squared-L2 distance between the
    // half-corpora's centroids (sim4's quantize-once discipline:
    // round(x·1000) LONG, floor-mean centroids — no float Lloyd
    // accumulation caveat) — the drift monitor a training pipeline
    // runs when yesterday's embedding distribution must match
    // today's. Shape: one (label, half, dim) map-side-combining agg
    // (the sim4 update shape), dimension-sized join of the two
    // centroid tables, 64-term distance fold per label.
    "sim10_embedding_drift" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
          .select(col("label").cast("long").as("label"),
            (col("vec_id") % 2).as("half"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("label"), col("half"), col("dim"),
            expr("CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)").as("xi"))
        val cents = emb.groupBy("label", "half", "dim")
          .agg(expr("sum(xi) DIV count(1)").as("c"),
            count(lit(1)).as("n"))
        val even = cents.filter(col("half") === 0)
          .select(col("label"), col("dim"), col("c").as("ce"), col("n").as("ne"))
        val odd = cents.filter(col("half") === 1)
          .select(col("label"), col("dim"), col("c").as("co"), col("n").as("no"))
        even.join(odd, Seq("label", "dim"))
          .groupBy("label")
          .agg(max("ne").as("n_even"), max("no").as("n_odd"),
            sum((col("ce") - col("co")) * (col("ce") - col("co"))).as("sq_dist"))
          .orderBy("label")
      },
      Some("""WITH q AS (SELECT CAST(label AS BIGINT) AS label,
             |    vec_id % 2 AS half, d.i - 1 AS dim,
             |    CAST(round(CAST(embedding[d.i] AS DOUBLE) * 1000) AS BIGINT) AS xi
             |  FROM embeddings, UNNEST(range(1, 65)) AS d(i)),
             |cents AS (SELECT label, half, dim, sum(xi) // count(*) AS c,
             |    count(*) AS n
             |  FROM q GROUP BY 1, 2, 3)
             |SELECT label,
             |  CAST(max(e.ne) AS BIGINT) AS n_even,
             |  CAST(max(o.no) AS BIGINT) AS n_odd,
             |  CAST(sum((e.c - o.c) * (e.c - o.c)) AS BIGINT) AS sq_dist
             |FROM (SELECT label, dim, c, n AS ne FROM cents WHERE half = 0) e
             |JOIN (SELECT label, dim, c, n AS no FROM cents WHERE half = 1) o
             |  USING (label, dim)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // int8 embedding quantization QA: symmetric per-vector scale
    // (absmax/127), quantize → dequantize → reconstruction cosine vs
    // the original — the report a pipeline reads before committing to
    // 4×-smaller embedding storage (sim5's codebooks trade MORE
    // compression for training; int8 is the zero-training point on
    // that curve). Output: 1e-4-resolution reconstruction-cosine histogram
    // + per-bucket worst vector (min cos, argmin id). All folds in
    // index order; the oracle replays scale, rounding, dequant, and
    // cosine bit-for-bit. Scale: one narrow projection — no
    // shuffle until the dimension-sized histogram agg.
    "sim9_int8_quant" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val am = Similarity.int8AbsMax(col("embedding"))
        val scored = emb
          .withColumn("am", am)
          .filter(col("am") > 0.0)
          .withColumn("deq", Similarity.int8Dequantize(
            Similarity.int8Quantize(col("embedding"), col("am")), col("am")))
          .withColumn("cos_micro",
            floor(Similarity.cosine(col("embedding"), col("deq")) * 1e6).cast("long"))
        scored
          .groupBy(expr("cos_micro DIV 100").as("bucket_e4"))
          .agg(count(lit(1)).as("n_vecs"),
            min("cos_micro").as("min_cos_micro"),
            min(struct(col("cos_micro"), col("vec_id"))).as("worst"))
          .select(col("bucket_e4"), col("n_vecs"), col("min_cos_micro"),
            col("worst.vec_id").as("worst_vec_id"))
          .orderBy("bucket_e4")
      },
      Some(s"""WITH sc AS (SELECT vec_id,
             |    list_reduce(list_prepend(0.0, list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), (a, b) -> greatest(a, b)) AS am,
             |    embedding
             |  FROM embeddings),
             |dq AS (SELECT vec_id, am, embedding,
             |    list_transform(list_transform(embedding,
             |      x -> round(CAST(x AS DOUBLE) * 127.0 / am)),
             |      q -> q * am / 127.0) AS deq
             |  FROM sc WHERE am > 0.0),
             |cm AS (SELECT vec_id,
             |    CAST(floor((${dotSql("embedding", "deq")})
             |      / (sqrt(${dotSql("embedding", "embedding")})
             |        * sqrt(${dotSql("deq", "deq")})) * 1e6) AS BIGINT) AS cos_micro
             |  FROM dq)
             |SELECT cos_micro // 100 AS bucket_e4, count(*) AS n_vecs,
             |  CAST(min(cos_micro) AS BIGINT) AS min_cos_micro,
             |  CAST(min_by(vec_id, cos_micro * 1073741824 + vec_id) AS BIGINT)
             |    AS worst_vec_id
             |FROM cm GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Random-projection ANN (Johnson–Lindenstrauss / Achlioptas ±1):
    // corpus projects once to 16 deterministic ±1 sums, candidates by
    // squared-L2 in the projected space (1/4 of the arithmetic and —
    // when the projected table is what's materialized at scale — of
    // the scan bytes per row), top-100 cut, exact cosine re-rank.
    // sim5's compression lever with ZERO training; the oracle replays
    // sign matrix, projection folds, distances, cut, and re-rank
    // bit-for-bit.
    "sim8_randproj_ann" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.randProjTopK(emb, queries, K, dims = Dims,
          projDims = RpDims, candC = RpC)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH pj AS (SELECT vec_id, embedding,
             |    list_transform(range(0, $RpDims), j -> list_reduce(
             |      list_prepend(0.0, list_transform(range(1, ${Dims + 1}),
             |        i -> CAST(embedding[i] AS DOUBLE) *
             |          (CASE WHEN ((i-1)*31 + j) * 2654435761 % 1000000007 % 2 = 0
             |           THEN 1.0 ELSE -1.0 END))),
             |      (x, y) -> x + y)) AS p
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, embedding AS qvec, p AS qp
             |  FROM pj WHERE vec_id IN ($qidList)),
             |ax AS (SELECT q.qid, c.vec_id,
             |    list_reduce(list_prepend(0.0, list_transform(range(1, ${RpDims + 1}),
             |      j -> (c.p[j] - q.qp[j]) * (c.p[j] - q.qp[j]))),
             |      (x, y) -> x + y) AS d
             |  FROM pj c, q WHERE c.vec_id <> q.qid),
             |cand AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
             |    FROM ax) WHERE rn <= $RpC),
             |scored AS (SELECT c.qid, c.vec_id,
             |    ${cosineSql("e.embedding", "q.qvec")} AS cos
             |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
             |  JOIN q ON c.qid = q.qid)
             |$rerankSql""".stripMargin)),

    "sim1_cosine_topk" -> QueryDef(
      (s, dir) => {
        graft.functions.VectorExpressions.register(s)
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        // native codegen'd dot product; bit-identical to the HOF path
        // (same accumulation order), so the DuckDB oracle is unchanged
        Similarity.bruteForceTopK(emb, queries, K, native = true)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH q AS (
             |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
             |  WHERE vec_id IN ($qidList)),
             |scored AS (
             |  SELECT q.qid, e.vec_id,
             |    ${cosineSql("e.embedding", "q.qvec")} AS cos
             |  FROM embeddings e, q WHERE e.vec_id <> q.qid)
             |$rerankSql""".stripMargin)),

    // IVF ANN: nearest-centroid cells, nProbe probing, exact re-rank
    // within probed cells. refineIters = 0 pins the deterministic
    // id-stride bootstrap, making the full chain SQL-expressible —
    // Lloyd refinement is covered by OperatorSpec's index-vs-inline
    // parity test at refineIters = 1. The index (centroid bootstrap +
    // whole-corpus cell assignment) is query-INDEPENDENT and
    // corpus-linear — staged like sim6's IVF-PQ index, so repeat
    // probes reuse it and the bench bills build vs probe separately
    // (the serving shape: the assignment is a persisted table at
    // 100 TB, not per-query work).
    "sim3_ivf_ann" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val index = Staged.cachedAny(s, s"sim3ivf:$dir") {
          val ix = Similarity.buildIvfCells(emb, nCells = NCells,
            refineIters = 0)
          ix.copy(cells = graft.operators.CacheTracker.persist(ix.cells))
        }
        Similarity.probeIvfCells(index, queries, K, nProbe = NProbe)
          .orderBy("qid", "rank")
      },
      Some(ivfOracleSql)),

    // LSH-bucketed ANN (sign-random-projection): the 100-TB path — the
    // corpus is hashed once and probed per band. Approximate vs brute
    // force (recall covered in OperatorSpec), but fully deterministic,
    // so the oracle recomputes the same codes/bands/re-rank exactly.
    "sim2_lsh_ann" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.lshTopK(emb, queries, K, dims = Dims,
          planes = Planes, rowsPerBand = RowsPerBand)
          .orderBy("qid", "rank")
      },
      Some(lshOracleSql)),

    // Multi-probe LSH: sim2's EXACT stored index (same planes/banding,
    // corpus side untouched), but each query also probes every bucket
    // at Hamming distance 1 per band — the recall dial that scales the
    // broadcast QUERY side (bands·(1+width) keys/query) instead of
    // re-indexing the corpus. At 100 TB probe depth is a per-query
    // cost decision; the index files never change. The oracle keeps
    // sim2's codes CTE and swaps the band equality for a per-band
    // char-diff-count <= 1 (exactly the flip set the engine probes).
    "sim19_multiprobe_ann" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.multiProbeTopK(emb, queries, K, dims = Dims,
          planes = Planes, rowsPerBand = RowsPerBand)
          .orderBy("qid", "rank")
      },
      Some(multiProbeOracleSql)),

    // k-NN SELF-join: every vector's 5 nearest neighbors — the
    // embedding-graph construction step (near-dup graphs, diversity
    // audits), distinct from sim2's query-set shape: both sides are
    // the corpus, so the band-bucket join is a plain shuffle join (no
    // broadcast) and per-bucket fanout is bucketSize² under the same
    // banding geometry knob. The geometry is NOT a constant: bits per
    // band are derived from the corpus size against a candidate budget
    // (Similarity.tuneSignBanding — the n²·bands/2^bits law from
    // PROBES.md), so a 100× corpus tightens the banding instead of
    // exploding the candidate join 10⁴×. The oracle replays the SAME
    // derivation in SQL (geom CTE), then codes, banding, candidates,
    // and the exact re-rank for ALL corpus rows.
    "sim7_knn_join" -> QueryDef(
      (s, dir) => Similarity.knnJoinAuto(table(s, dir, "embeddings"),
          k = 5, dims = Dims, candidateBudget = KnnBudget, planes = KnnPlanes)
        .orderBy("qid", "rank"),
      Some(knnJoinOracleSql)),

    // Filtered vector search: exact top-k cosine AMONG the rows
    // passing a metadata predicate (label = 3) — every vector store's
    // "filtered ANN" surface. Pre-filtering is the exact strategy: the
    // predicate prunes the corpus BEFORE scoring (pushed to the
    // parquet scan — PlanShapeSpec asserts it lands in DataFilters),
    // so recall is 1 by construction; at index scale the same
    // predicate applies inside probed IVF cells (OperatorSpec pins the
    // filtered-IVF path row-equal to this at nProbe = nCells).
    "sim13_filtered_ann" -> QueryDef(
      (s, dir) => {
        graft.functions.VectorExpressions.register(s)
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.bruteForceTopK(emb.filter(col("label") === 3),
          queries, K, native = true)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH q AS (
             |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
             |  WHERE vec_id IN ($qidList)),
             |scored AS (
             |  SELECT q.qid, e.vec_id,
             |    ${cosineSql("e.embedding", "q.qvec")} AS cos
             |  FROM embeddings e, q
             |  WHERE e.label = 3 AND e.vec_id <> q.qid)
             |$rerankSql""".stripMargin)),

    // MMR diversified re-rank: greedy `rel − 0.5·max-sim-to-selected`
    // over the brute-force top-20 candidates (distinct from q76's
    // per-group rank cap — MMR's penalty depends on WHAT was already
    // picked). Candidate generation is distributed (sim1's class); the
    // k-step greedy runs on the driver over the collected 20 vectors
    // (Bpe-argmax control-flow class). The oracle unrolls the k
    // selection rounds as chained CTEs (t28's replay pattern) on the
    // same left-fold doubles, so selection order is bit-identical.
    "sim12_mmr_rerank" -> QueryDef(
      (s, dir) => Similarity.mmrRerank(table(s, dir, "embeddings"),
        queryVecId = 0L, nCand = MmrCand, k = MmrK),
      Some(mmrOracleSql)),

    // Binary-quantized ANN: 1 bit per dimension packed into ONE BIGINT
    // (the corpus is zero-centered per dim, so raw signs carry the
    // angular structure), Hamming top-100 candidates over the 8-byte
    // codes, exact cosine re-rank. The 32×-compression serving path:
    // at corpus scale the coded table is what's materialized and the
    // candidate scan reads 1/32 of the float bytes; full vectors are
    // joined back for only 100·|queries| rows. The oracle replays the
    // bit packing (power-of-two literals — DuckDB cannot COMPUTE
    // 1<<63), the xor/bit_count ranking, and the re-rank exactly.
    "sim14_binary_hamming" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.binaryHammingTopK(emb, queries, K, dims = Dims, candC = BqC)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH coded AS MATERIALIZED (
             |  SELECT vec_id, embedding,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(0, $Dims),
             |        i -> CASE WHEN CAST(embedding[i + 1] AS DOUBLE) >= 0.0
             |             THEN ([$powList])[i + 1] ELSE CAST(0 AS BIGINT) END)),
             |      (a, b) -> a | b) AS code
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, embedding AS qvec, code AS qcode
             |  FROM coded WHERE vec_id IN ($qidList)),
             |cand AS (
             |  SELECT qid, vec_id FROM (
             |    SELECT q.qid, c.vec_id,
             |      row_number() OVER (PARTITION BY q.qid
             |        ORDER BY bit_count(xor(c.code, q.qcode)), c.vec_id) AS rn
             |    FROM coded c, q WHERE c.vec_id <> q.qid)
             |  WHERE rn <= $BqC),
             |scored AS (
             |  SELECT c.qid, c.vec_id,
             |    ${cosineSql("e.embedding", "q.qvec")} AS cos
             |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
             |  JOIN q ON c.qid = q.qid)
             |$rerankSql""".stripMargin)),

    // IVF index APPEND without retrain — the index-maintenance path
    // (sim3's materialized sibling under growth): the index is built
    // on the OLD 80% of the corpus, the new 20% is appended against
    // the STALE centroids (new files in the same cell-partitioned
    // layout; no rebuild, no retrain — the d26 compaction discipline
    // for vectors), and probing reads old + delta rows from only the
    // probed cells' files. The oracle is sim3's exact chain with the
    // centroid bootstrap restricted to the old subset — so a
    // double-append, a lost delta row, or an assignment drift against
    // the stale centroids all hash-mismatch.
    "sim18_ivf_append" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val path = Staged.ivfAppendIndex(s, dir)
        Similarity.ivfIndexTopK(s, path, queries, K, nProbe = NProbe)
          .orderBy("qid", "rank")
      },
      Some(ivfAppendOracleSql)),

    // int8 quantized-domain ANN — the serving half of sim9's storage
    // story: coarse scoring runs ENTIRELY in the integer code domain
    // (corpus-GLOBAL scale = max per-vector absmax, an order-
    // independent exact double, so all codes share one scale and the
    // squared L2 between codes is a meaningful, EXACT BIGINT — scored
    // by the codegen'd sq_dist_i64 expression), top-100 cut, exact
    // float cosine re-rank of survivors. At corpus scale the long-code
    // table is the materialized artifact (4× fewer scan bytes than
    // f32) and full vectors are read for candC·|queries| rows.
    "sim17_int8_ann" -> QueryDef(
      (s, dir) => {
        graft.functions.VectorExpressions.register(s)
        val emb = table(s, dir, "embeddings")
        val gmax = emb.agg(max(Similarity.int8AbsMax(col("embedding"))).as("gmax"))
        val qt = emb.crossJoin(broadcast(gmax))
          .select(col("vec_id"), col("embedding"),
            expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)" +
              " * 127.0 / gmax) AS BIGINT))").as("qcodes"))
        val queries = qt.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("qcodes").as("qq"))
        val cands = qt.select(col("vec_id"), col("qcodes"))
          .crossJoin(broadcast(queries.select(col("qid"), col("qq"))))
          .filter(col("vec_id") =!= col("qid"))
          // dist <= 64·254² ≈ 4.1e6 — exactly representable as the
          // negated double the bounded top-k aggregator ranks on
          .withColumn("__negd",
            -call_function("sq_dist_i64", col("qcodes"), col("qq")).cast("double"))
        val topC = Similarity.topKReRank(cands, IntC, "qid", "vec_id", "__negd")
          .select(col("qid"), col("vec_id"))
        val scored = topC
          .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .join(broadcast(queries.select(col("qid"), col("qvec"))), "qid")
          .withColumn("__cos", Similarity.cosine(col("embedding"), col("qvec")))
        Similarity.topKReRank(scored, K, "qid", "vec_id", "__cos")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH g AS (SELECT max(list_reduce(list_prepend(0.0,
             |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
             |    (a, b) -> greatest(a, b))) AS gmax FROM embeddings),
             |qt AS (SELECT vec_id, embedding,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)
             |      * 127.0 / g.gmax) AS BIGINT)) AS q
             |  FROM embeddings, g),
             |qq AS (SELECT vec_id AS qid, embedding AS qvec, q AS qcodes
             |  FROM qt WHERE vec_id IN ($qidList)),
             |ax AS (SELECT qq.qid, c.vec_id,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(1, ${Dims + 1}),
             |        i -> (c.q[i] - qq.qcodes[i]) * (c.q[i] - qq.qcodes[i]))),
             |      (a, b) -> a + b) AS d
             |  FROM qt c, qq WHERE c.vec_id <> qq.qid),
             |cand AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             |        ORDER BY d, vec_id) AS rn
             |    FROM ax) WHERE rn <= $IntC),
             |scored AS (SELECT c.qid, c.vec_id,
             |    ${cosineSql("e.embedding", "q.qvec")} AS cos
             |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
             |  JOIN qq q ON c.qid = q.qid)
             |$rerankSql""".stripMargin)),

    // ANN quality report: recall@10 and MRR of sim2's LSH geometry
    // against the exact brute-force ground truth — the monitoring
    // query a vector-serving pipeline runs before trusting (or
    // re-tuning) an index geometry. Both pipelines are deterministic,
    // so even the QUALITY metrics are oracle-exact: the oracle replays
    // LSH codes/banding/re-rank AND the exact top-k, then the same
    // join + integer metrics. recall = permille of exact top-10 found;
    // MRR = 1e6 DIV (approx rank of the exact top-1), 0 if missed —
    // rational, log-free, engine-portable.
    "sim16_recall_report" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val exact = Similarity.bruteForceTopK(emb, queries, K)
          .select(col("qid"), col("rank").as("erank"), col("vec_id"))
        val approx = Similarity.lshTopK(emb, queries, K, dims = Dims,
          planes = Planes, rowsPerBand = RowsPerBand)
          .select(col("qid"), col("rank").as("arank"), col("vec_id"))
        exact.join(approx, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(count(lit(1)).as("k"),
            sum(when(col("arank").isNotNull, 1L).otherwise(0L)).as("n_hit"),
            max(when(col("erank") === 1,
              coalesce(expr("1000000 DIV arank"), lit(0L))).otherwise(0L))
              .as("mrr_micro"))
          .withColumn("recall_permille", expr("n_hit * 1000 DIV k"))
          .select(col("qid"), col("k"), col("n_hit"),
            col("recall_permille"), col("mrr_micro"))
          .orderBy("qid")
      },
      Some(s"""WITH ${codesCteSql()},
             |qc AS (
             |  SELECT vec_id AS qid, code AS qcode FROM codes
             |  WHERE vec_id IN ($qidList)),
             |cands AS (
             |  SELECT qc.qid, c.vec_id
             |  FROM codes c JOIN qc ON c.vec_id <> qc.qid
             |   AND (${bandMatchSql("c", "qc", "qcode")})),
             |ascored AS (
             |  SELECT cands.qid, cands.vec_id,
             |    ${cosineSql("e.embedding", "qe.embedding")} AS cos
             |  FROM cands
             |  JOIN embeddings e ON e.vec_id = cands.vec_id
             |  JOIN embeddings qe ON qe.vec_id = cands.qid),
             |atop AS (
             |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             |    ORDER BY cos DESC, vec_id) AS arank
             |  FROM ascored QUALIFY arank <= $K),
             |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
             |  WHERE vec_id IN ($qidList)),
             |escored AS (
             |  SELECT q.qid, e.vec_id,
             |    ${cosineSql("e.embedding", "q.qvec")} AS cos
             |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
             |etop AS (
             |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             |    ORDER BY cos DESC, vec_id) AS erank
             |  FROM escored QUALIFY erank <= $K),
             |j AS (
             |  SELECT e.qid, e.erank, a.arank
             |  FROM etop e LEFT JOIN atop a
             |    ON e.qid = a.qid AND e.vec_id = a.vec_id)
             |SELECT qid, count(*) AS k,
             |  CAST(sum(CASE WHEN arank IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_hit,
             |  CAST(CAST(sum(CASE WHEN arank IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) * 1000 // count(*) AS BIGINT) AS recall_permille,
             |  CAST(max(CASE WHEN erank = 1
             |    THEN coalesce(1000000 // arank, 0) ELSE 0 END)
             |    AS BIGINT) AS mrr_micro
             |FROM j GROUP BY qid ORDER BY qid""".stripMargin)),

    // Matryoshka two-stage ANN: coarse cosine over the FIRST 16 dims
    // (prefixes of MRL-trained embeddings are themselves valid
    // embeddings — Kusupati et al. 2022) cuts top-100 candidates per
    // query, full 64-dim exact re-rank orders them. The coarse scan
    // reads prefix bytes only (1/4 here; the materialized-prefix-column
    // point on the storage curve between sim9's int8 and sim14's
    // bits). Oracle replays the prefix fold, the DESC cut, and the
    // re-rank bit-for-bit.
    "sim15_matryoshka" -> QueryDef(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id").isInCollection(QueryIds))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.matryoshkaTopK(emb, queries, K,
          prefixDims = MatPrefix, candC = MatC)
          .orderBy("qid", "rank")
      },
      Some(s"""WITH pj AS (SELECT vec_id, embedding,
             |    embedding[1:$MatPrefix] AS pvec FROM embeddings),
             |q AS (SELECT vec_id AS qid, embedding AS qvec, pvec AS pq
             |  FROM pj WHERE vec_id IN ($qidList)),
             |coarse AS (SELECT q.qid, c.vec_id,
             |    ${cosineSql("c.pvec", "q.pq", MatPrefix)} AS pcos
             |  FROM pj c, q WHERE c.vec_id <> q.qid),
             |cand AS (SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
             |        ORDER BY pcos DESC, vec_id) AS rn
             |    FROM coarse) WHERE rn <= $MatC),
             |scored AS (SELECT c.qid, c.vec_id,
             |    ${cosineSql("e.embedding", "q.qvec")} AS cos
             |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
             |  JOIN q ON c.qid = q.qid)
             |$rerankSql""".stripMargin))
  )

  /** Unrolled greedy-MMR replay: cand = brute-force top-20, then k−1
    * chained (scored → pick → selu) rounds, each penalizing by the max
    * cosine against everything selected so far. Every chained CTE is
    * MATERIALIZED: DuckDB inlines plain CTEs, and each round
    * references its predecessor ~3× — inlined, the expansion is
    * O(3^k) copies of the candidate scan (measured: minutes at k = 8;
    * materialized: milliseconds).
    */
  private def mmrOracleSql: String = {
    val sb = new StringBuilder
    sb.append(s"""WITH q AS (
       |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding,
       |    ${cosineSql("e.embedding", "q.qvec")} AS rel
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id LIMIT $MmrCand),
       |selu1 AS MATERIALIZED (
       |  SELECT 1 AS step, vec_id, embedding, rel, rel AS mmr
       |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin)
    for (step <- 2 to MmrK) {
      val prev = s"selu${step - 1}"
      sb.append(s""",
       |scored$step AS MATERIALIZED (
       |  SELECT c.vec_id, c.rel,
       |    c.rel - 0.5 * max(${cosineSql("c.embedding", "p.embedding")}) AS mmr
       |  FROM cand c, $prev p
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
       |  GROUP BY c.vec_id, c.rel),
       |pick$step AS MATERIALIZED (
       |  SELECT $step AS step, s.vec_id, c2.embedding, s.rel, s.mmr
       |  FROM scored$step s JOIN cand c2 USING (vec_id)
       |  ORDER BY s.mmr DESC, s.vec_id LIMIT 1),
       |selu$step AS MATERIALIZED (
       |  SELECT * FROM $prev UNION ALL SELECT * FROM pick$step)"""
        .stripMargin)
    }
    sb.append(s"""
       |SELECT CAST(step AS BIGINT) AS step, vec_id,
       |  CAST(floor(rel * 1e6) AS BIGINT) AS rel_micro,
       |  CAST(floor(mmr * 1e6) AS BIGINT) AS mmr_micro
       |FROM selu$MmrK ORDER BY step""".stripMargin)
    sb.toString
  }
}
