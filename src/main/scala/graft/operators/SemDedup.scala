package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SqDistI64

/** Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540,
  * public): k-means-cluster the embedding space, then prune
  * near-duplicates WITHIN each cluster only — the scalable middle ground
  * between exact dedup (misses paraphrases) and all-pairs cosine
  * ([[Dedup.embedNearDupPairs]]'s LSH bands, which target much higher
  * thresholds). Clustering bounds the pairwise work to
  * O(Σ clusterSize²) instead of O(n²): at corpus scale k grows with n
  * (the paper uses n/k ≈ 10⁴–10⁵ members per cluster), so per-cluster
  * pairwise stays constant-sized while the join parallelizes across
  * clusters.
  *
  * Keep rule (the paper's, made deterministic): within a similar pair,
  * keep the vector FARTHER from its centroid — retaining cluster-edge
  * diversity — with ties broken by id. Precisely: x is dropped iff some
  * same-cluster y has cos(x,y) ≥ τ and (dist_y, -y_id) > (dist_x,
  * -x_id). That order is total, so every similarity group keeps at
  * least its maximal element; like the paper's one-shot matrix
  * thresholding (and unlike transitive-closure clustering, [[Dedup
  * .connectedComponents]]), a chain a~b~c with cos(a,c) < τ may drop
  * both a and b — one-shot pruning, by design.
  *
  * Exactness: everything is integer. Clustering is
  * [[Clustering.kmeansAssign]] (exact-integer Lloyd); the cosine test
  * re-quantizes at `cosScale` and uses
  *   cos(a,b) ≥ num/den  ⇔  den²·(2·dot)² ≥ 4·num²·‖a‖²·‖b‖²  ∧  dot > 0
  * with 2·dot = ‖a‖² + ‖b‖² − ‖a−b‖² — three [[graft.functions
  * .SqDistI64]] calls (codegen'd), no division, no floats anywhere, so
  * a DuckDB oracle replays the whole chain bit-for-bit. Overflow bound:
  * den²·(2·dot)² ≤ 4·den²·(dims·(cosScale·maxAbs)²)² must stay < 2⁶³ —
  * cosScale 100 with unit-ish embeddings leaves ~10⁴ headroom; the
  * quantized cosine differs from float cosine by O(1/(cosScale·‖x‖)),
  * which a dedup threshold absorbs.
  *
  * Plan shape: assignment is a narrow projection (centroids are plan
  * literals); the prune is ONE shuffle join keyed on the cluster id
  * (left_anti with the dominance+similarity residual) — no global
  * pairwise stage, no driver collect beyond k·dims centroid rows.
  *
  * Reference analog: batched vector math over typed array fields
  * (reference `array_dataclass.py` vectorization); semantic dedup is a
  * north-star extension over the `embeddings` table.
  */
object SemDedup {

  /** Returns the SURVIVORS (idCol, cluster LONG) of semantic dedup at
    * threshold tauNum/tauDen over `df`'s `vecCol` (array<float>, length
    * `dims`).
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, dims: Int,
               k: Int, iters: Int, tauNum: Int, tauDen: Int,
               kmScale: Int = 1000, cosScale: Int = 100): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be in (0,1]: got $tauNum/$tauDen")

    val assign = Clustering.kmeansAssign(df, idCol, vecCol, k, iters, kmScale)
    val zero = typedlit(Seq.fill(dims)(0L))
    val qn = df.select(col(idCol),
        Clustering.quantize(col(vecCol), cosScale).as("__qv"))
      .withColumn("__n2", SqDistI64.col(col("__qv"), zero))
    // the assigned+quantized table feeds BOTH sides of the dominance
    // anti-join, and the assignment itself (k×dims argmin fold per row)
    // is the expensive projection — persist so it computes once.
    // Self-contained bounded-per-invocation persist, same convention as
    // indexedNearDupSurvivors' batch-shingle frame.
    val m = CacheTracker.truncate(qn.join(assign, idCol))

    val a = m.select(col(idCol), col("__qv").as("qa"), col("__n2").as("na"),
      col("cluster"), col("dist").as("da"))
    val b = m.select(col(idCol).as("ib"), col("__qv").as("qb"),
      col("__n2").as("nb"), col("cluster").as("clb"), col("dist").as("db"))

    // twoDot = 2·dot(a,b); the whole predicate stays in LONGs
    val twoDot = col("na") + col("nb") -
      SqDistI64.col(col("qa"), col("qb"))
    val similar = twoDot > 0 &&
      lit(tauDen.toLong * tauDen) * twoDot * twoDot >=
        lit(4L * tauNum * tauNum) * col("na") * col("nb")
    val dominates = col("db") > col("da") ||
      (col("db") === col("da") && col("ib") < col(idCol))

    a.join(b, col("cluster") === col("clb") && col(idCol) =!= col("ib") &&
        dominates && similar, "left_anti")
      .select(col(idCol), col("cluster"))
  }
}
