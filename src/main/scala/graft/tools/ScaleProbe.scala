// Scale probe for the dedup/ANN family: runs the SHIPPED candidate +
// verify pipelines of d2 (MinHash-LSH), d5 (prefix-filter Jaccard) and
// sim2 (LSH ANN) at two scale factors and records input rows, candidate
// pairs, output pairs, and wall time — the 100 TB claims rest on these
// volumes growing near-linearly with the corpus, and this tool turns
// that from plan-shape argument into measurement.
//
//   sbt "runMain graft.tools.ScaleProbe"            # sf0.01 then sf0.1
//   sbt "runMain graft.tools.ScaleProbe <dir> ..."  # explicit dirs
package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.queries.{QueryDef, Staged}

object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.Harness.session()
    graft.Harness.warmUp(spark, dirs.head)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val out = scala.collection.mutable.ArrayBuffer[String]()
    dirs.foreach { dir =>
      val nDocs = QueryDef.table(spark, dir, "documents").count()
      val nVecs = QueryDef.table(spark, dir, "embeddings").count()

      // d2: MinHash-LSH near-dup (staged pipeline, d2's exact defaults)
      val d2Cand = Dedup.lshCandidatesFromHashes(
        Staged.docShingleHashes(spark, dir), bands = 32, rows = 2).count()
      val (d2Pairs, d2Wall) = timed(Staged.docNearDupPairs(spark, dir).count())
      out += s"""{"probe":"d2_minhash_lsh","dir":"$dir","rows":$nDocs,"candidates":$d2Cand,"pairs":$d2Pairs,"wall_sec":$d2Wall}"""

      // d2 with TIGHTER banding (3 rows/band): the geometry knob that
      // controls background-collision candidate volume at scale —
      // P(random pair collides) = 1-(1-j0^rows)^bands drops sharply
      // with rows, at the cost of recall near the threshold
      val d2CandR3 = Dedup.lshCandidatesFromHashes(
        Staged.docShingleHashes(spark, dir), bands = 21, rows = 3).count()
      out += s"""{"probe":"d2_minhash_lsh_rows3","dir":"$dir","rows":$nDocs,"candidates":$d2CandR3}"""

      // d5: prefix-filter exact Jaccard at the d5 threshold (1/2)
      val d5Cand = Dedup.ngramJaccardCandidates(
        Staged.docShingles(spark, dir), "doc_id", "__sh", num = 1, den = 2).count()
      val (d5Pairs, d5Wall) = timed(Dedup.ngramJaccardPairs(
        Staged.docShingles(spark, dir), "doc_id", "__sh", num = 1, den = 2).count())
      out += s"""{"probe":"d5_ngram_jaccard","dir":"$dir","rows":$nDocs,"candidates":$d5Cand,"pairs":$d5Pairs,"wall_sec":$d5Wall}"""

      // sim2: LSH ANN (sim2's exact geometry: 24 planes, 3 rows/band)
      val emb = QueryDef.table(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id").isInCollection(Seq(0L, 1L, 2L)))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val simCand = Similarity.lshAnnCandidates(emb, queries, dims = 64,
        planes = 24, rowsPerBand = 3).count()
      val (simRes, simWall) = timed(Similarity.lshTopK(emb, queries, k = 10,
        dims = 64, planes = 24, rowsPerBand = 3).count())
      out += s"""{"probe":"sim2_lsh_ann","dir":"$dir","rows":$nVecs,"candidates":$simCand,"results":$simRes,"wall_sec":$simWall}"""

      // d7: corpus chunk dedup — candidate-free (agg-only); record the
      // exploded chunk volume and survivors
      val docsT = QueryDef.table(spark, dir, "documents")
      val nChunks = docsT.select(explode(
        graft.operators.TextOps.wordChunks(col("text"), 8))).count()
      val (d7Kept, d7Wall) = timed(
        Dedup.chunkDedup(docsT, "doc_id", "text", k = 8)
          .agg(sum("kept")).collect()(0).getLong(0))
      out += s"""{"probe":"d7_paragraph_dedup","dir":"$dir","rows":$nDocs,"chunks":$nChunks,"kept":$d7Kept,"wall_sec":$d7Wall}"""

      // d8: contamination — broadcast-side volume is the scaling risk
      val evGrams = docsT.filter(col("doc_id") % 50 === 0)
        .select(explode(graft.operators.TextOps.shingles(col("text"), 4)))
        .distinct().count()
      val (d8Rows, d8Wall) = timed(Dedup.contaminationReport(
        docsT, "doc_id", "text", n = 4, evalPred = id => id % 50 === 0).count())
      out += s"""{"probe":"d8_contamination","dir":"$dir","rows":$nDocs,"eval_grams":$evGrams,"contaminated":$d8Rows,"wall_sec":$d8Wall}"""

      // d14: span decontamination — the positional explode is the
      // volume to watch (train grams scanned; only HITS shuffle)
      val trainGrams = docsT.filter(col("doc_id") % 50 =!= 0)
        .select(explode(graft.operators.TextOps.ngrams(col("text"), 4))).count()
      val (d14Rows, d14Wall) = timed(Dedup.spanContamination(
        docsT, "doc_id", "text", n = 4, evalPred = id => id % 50 === 0).count())
      out += s"""{"probe":"d14_span_decontam","dir":"$dir","rows":$nDocs,"train_grams":$trainGrams,"hit_docs":$d14Rows,"wall_sec":$d14Wall}"""

      // d15: bloom membership — the prune ratio is the point: the
      // exact verify join's probe side is survivors, not incoming
      val d15Existing = docsT.filter(col("doc_id") % 10 =!= 0)
      val d15Incoming = docsT.filter(col("doc_id") % 10 === 0)
        .unionByName(docsT.filter(col("doc_id") % 10 === 3)
          .withColumn("doc_id", col("doc_id") + 1000000))
      val d15In = d15Incoming.count()
      val bfProbe = {
        val h = xxhash64(coalesce(col("text"), lit("")))
        val bf = d15Existing.select(h.as("__h"))
          .stat.bloomFilter("__h", math.max(1L, d15Existing.count()), 0.01)
        val hs = d15Incoming.select(h.as("__h")).collect().map(_.getLong(0))
        hs.count(bf.mightContainLong).toLong
      }
      val (d15Dups, d15Wall) = timed(Dedup.bloomMembership(
          d15Existing, d15Incoming, "text", "doc_id")
        .agg(sum("is_dup")).collect()(0).getLong(0))
      out += s"""{"probe":"d15_bloom_membership","dir":"$dir","incoming":$d15In,"probe_pass":$bfProbe,"dups":$d15Dups,"wall_sec":$d15Wall}"""

      // mm9: phash near-dup — band candidates vs verified pairs over
      // the real-decode sketch table (staged once, like the query)
      val mm9Sketches = graft.SparkEntry.queries("mm9_phash_neardup")
      val (mm9Pairs, mm9Wall) = timed(mm9Sketches(spark, dir).count())
      val mm9Cand = {
        val sk = Staged.cached(spark, s"mm9sketch:$dir")(
          sys.error("staged by the query run above"))
        val ch = sk.select(col("__id"),
          explode(transform(sequence(lit(0), lit(3)), j =>
            struct(j.as("band"), col("__sim").substr(j * 16 + 1, lit(16)).as("bits")))).as("__b"))
          .select(col("__id"), col("__b.band"), col("__b.bits"))
        ch.as("l").join(ch.as("r"),
            col("l.band") === col("r.band") && col("l.bits") === col("r.bits")
              && col("l.__id") < col("r.__id"))
          .select(col("l.__id"), col("r.__id")).distinct().count()
      }
      out += s"""{"probe":"mm9_phash_neardup","dir":"$dir","sketches":${nDocs * 2},"candidates":$mm9Cand,"pairs":$mm9Pairs,"wall_sec":$mm9Wall}"""

      Staged.release(spark)
    }
    out.foreach(println)
    spark.stop()
  }
}
