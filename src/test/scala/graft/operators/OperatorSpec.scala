package graft.operators

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import graft.core.SparkTestBase
import graft.functions.{DotF32, PolyHash, SqDistI64}

/** Semantics tests for the operators whose queries have no SQL oracle
  * (xxhash64 / approximate paths), plus as-of join edge cases.
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  test("exactSurvivors keeps min id per identical text") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z", 5L -> "x y z", 4L -> "solo")
    val out = Dedup.exactSurvivors(d, "text", "doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L, 4L))
  }

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
  private val nearDup = base.replace("lazy", "sleepy")   // tiny edit
  private val unrelated = "completely different content with no overlap whatsoever at all " * 5

  test("incremental near-dup: corpus hit and smaller-id batch hit drop; novel survives") {
    val corpus = docs(1L -> base, 2L -> ("distinct corpus article about mountains rivers " +
      "and weather patterns observed over decades " * 3))
    val novel = "a genuinely new piece of writing about spacecraft telemetry analysis " * 5
    val incoming = docs(
      10L -> (base + " appended re-crawl banner"), // near-dup of corpus 1 -> dropped
      11L -> novel,                                // survives
      12L -> (novel + " trailing edit"),           // near-dup of 11 (smaller id) -> dropped
      13L -> unrelated)                            // survives
    val out = Dedup.incrementalNearDupSurvivors(corpus, incoming, "text", "doc_id")
      .as[Long].collect().sorted
    assert(out.toSeq == Seq(11L, 13L))
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.nearDupPairs(d, "text", "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("prefix-filter ngram jaccard equals brute-force all-pairs at the threshold") {
    // deterministic corpus with planted near-dups, borderline pairs,
    // and short docs (empty shingle sets) to stress prefix lengths
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rows = (0 until 30).map { i =>
      val words = (0 until 20).map(j => pool((i * 7 + j * (1 + i % 3)) % pool.size))
      i.toLong -> words.mkString(" ")
    } :+ (100L -> base) :+ (101L -> nearDup) :+ (102L -> "tiny")
    val d = docs(rows: _*)
    val shingled = d.select(col("doc_id"), graft.operators.TextOps.shingles(col("text"), 3).as("__sh"))
    val out = Dedup.ngramJaccardPairs(shingled, "doc_id", "__sh", num = 1, den = 2)
      .select("doc_a", "doc_b", "jacc_pct").as[(Long, Long, Long)].collect().toSet
    // both-empty pairs are undefined (0/0) — exclude them, as the
    // prefix path necessarily does (no tokens, no candidates)
    val nonEmpty = shingled.filter(size(col("__sh")) > 0)
    val allPairs = nonEmpty.select(col("doc_id").as("doc_a"))
      .crossJoin(nonEmpty.select(col("doc_id").as("doc_b")))
      .filter(col("doc_a") < col("doc_b"))
    val exact = Dedup.verifyJaccard(allPairs, shingled, "doc_id", "__sh", num = 1, den = 2)
      .select("doc_a", "doc_b", "jacc_pct").as[(Long, Long, Long)].collect().toSet
    assert(out == exact)
    assert(out.contains((100L, 101L, out.collectFirst { case (100L, 101L, p) => p }.get)))
  }

  test("prefix-filter jaccard matches a driver-side model: random corpora x thresholds") {
    // independent oracle: pure-Scala shingle sets + brute-force jaccard
    // (does NOT reuse verifyJaccard), over a SMALL vocab so pairs
    // cluster near the threshold, exercising the prefix/positional
    // boundary; includes sub-3-word docs (empty shingle sets)
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a1", "b2", "c3", "d4", "e5", "f6", "g7", "h8")
    for (threshold <- Seq((1, 2), (2, 5), (3, 4))) {
      val (num, den) = threshold
      // planted structure: base docs + single-word-mutated copies (the
      // near-dups straddle the thresholds) + pure-random chaff
      val corpus = (0 until 8).flatMap { i =>
        val n = 4 + rnd.nextInt(25)
        val base = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
        val mutated = base.updated(rnd.nextInt(n), vocab(rnd.nextInt(vocab.size)))
        Seq((i * 10).toLong -> base.mkString(" "),
          (i * 10 + 1).toLong -> mutated.mkString(" "))
      } ++ (0 until 9).map { i =>
        val n = 1 + rnd.nextInt(30)
        (100 + i).toLong -> Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val model: Set[(Long, Long, Long)] = {
        def shingleSet(text: String): Set[String] = {
          val w = text.split(" ")
          if (w.length < 3) Set.empty
          else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
        }
        val sets = corpus.map { case (id, t) => id -> shingleSet(t) }.toMap
        (for {
          (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
          if a < b
          inter = (sa & sb).size.toLong
          union = (sa | sb).size.toLong
          if union > 0 && inter * den >= union * num
        } yield (a, b, math.floor(100.0 * inter / union).toLong)).toSet
      }
      val d = docs(corpus: _*)
      val shingled = d.select(col("doc_id"), graft.operators.TextOps.shingles(col("text"), 3).as("__sh"))
      val got = Dedup.ngramJaccardPairs(shingled, "doc_id", "__sh", num, den)
        .select("doc_a", "doc_b", "jacc_pct").as[(Long, Long, Long)].collect().toSet
      assert(got == model, s"threshold $num/$den")
      assert(model.nonEmpty, s"degenerate trial at $num/$den — tighten the generator")
    }
  }

  test("connected components: chains bridge, cliques collapse, components stay apart") {
    // component 1: a CHAIN 5-4-3-2-1 (A~B, B~C without A~C — the case
    // pairwise dedup cannot decide); component 2: a clique {10,11,12};
    // component 3: the pair {20,21}. Chain diameter forces multiple
    // propagation rounds.
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
    val rows = got.as[(Long, Long)].collect().toSet
    got.unpersist()
    assert(rows == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: maxIter too small for the diameter throws") {
    val chain = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
  }

  test("star contraction matches min-label on mixed components") {
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsStar(pairs)
    val rows = got.as[(Long, Long)].collect().toSet
    got.unpersist()
    assert(rows == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("star contraction labels a long path in logarithmic rounds") {
    // a 256-node path has diameter 255: min-label propagation would need
    // 255 rounds (and throws at its default 20), while alternating star
    // contraction must finish within the 20-round budget given here
    // (theory: O(log^2 n), practice ~log2(256)=8)
    val n = 256L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsStar(chain, maxIter = 20)
    val rows = got.as[(Long, Long)].collect()
    got.unpersist()
    assert(rows.length == n)
    assert(rows.forall(_._2 == 1L), s"non-min rep in ${rows.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("simhash pairs near-dups within hamming budget") {
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash sketches: bit j set iff the vote on bit j is positive") {
    def vote(hs: Seq[Long]): Long = (0 until 64).foldLeft(0L) { (acc, j) =>
      if (hs.map(h => if (((h >>> j) & 1L) != 0) 1 else -1).sum > 0) acc | (1L << j) else acc
    }
    val rnd = new scala.util.Random(7)
    val fixture = Map(
      1L -> Seq(-1L, Long.MinValue, 3L),                           // negative hashes: bit 63
      2L -> Seq(0x0F0F0F0F0F0F0F0FL, ~0x0F0F0F0F0F0F0F0FL),         // every vote tied
      3L -> Seq.fill(9)(rnd.nextLong() >>> 4),                      // below 2^60
      4L -> Seq.fill(25)(rnd.nextLong()))
    val hashed = fixture.toSeq.flatMap { case (id, hs) => hs.map(id -> _) }.toDF("__id", "__h")
    val got = Dedup.simhashColsFromHashes(hashed).as[(Long, Long)].collect().toMap
    assert(got == fixture.map { case (id, hs) => id -> vote(hs) })
    assert(got(1L) == (Long.MinValue | 3L))
    assert(got(2L) == 0L, "a tied vote leaves its bit clear")
    assert((got(3L) >>> 60) == 0L, "hashes below 2^60 leave bits 60-63 clear")
  }

  test("embedding near-dup: planted scaled/near copies found, far vectors skipped") {
    // deterministic 8-dim vectors: v2 = 2*v1 (cosine exactly 1),
    // v3 = v1 with a small perturbation (cosine just under 1),
    // v4 orthogonal-ish (cosine far below threshold)
    val v1 = Array(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)
    val v2 = v1.map(_ * 2f)
    val v3 = v1.clone(); v3(0) = 1.05f
    val v4 = Array(8f, -7f, 6f, -5f, 4f, -3f, 2f, -1f)
    val d = Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq), (4L, v4.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embedNearDupPairs(d, "vec_id", "embedding", dims = 8, minCosine = 0.99)
      .select("doc_a", "doc_b", "cos_micro").as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $pairs")
    // scaled copy: the x2 cancels exactly, leaving S / fl(sqrt(S)^2) —
    // within 1 ulp of 1.0 (deterministic, but not exactly 1)
    assert(pairs((1L, 2L)) >= 999999L && pairs((1L, 2L)) <= 1000000L)
  }

  test("chunkDedup keeps first occurrence globally, reassembles in order") {
    // k=2 chunks: doc 1 = [a b][c d], doc 2 = [a b][x y], doc 3 = [c d]
    // doc 1 owns "a b" and "c d"; doc 2 loses "a b", keeps "x y";
    // doc 3 is fully duplicated -> empty clean_text, 0 kept, 1 dropped
    val d = docs(1L -> "a b c d", 2L -> "a b x y", 3L -> "c d")
    val out = Dedup.chunkDedup(d, "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "a b c d", 2L, 0L),
      (2L, "x y", 1L, 1L),
      (3L, "", 0L, 1L)))
  }

  test("both CC variants label a vertex whose only edge is a self-loop") {
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("doc_a", "doc_b")
    val a = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toSet
    val b = Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toSet
    assert(a == Set((1L, 1L), (2L, 1L), (5L, 5L)))
    assert(b == a)
  }

  test("chunkDedup treats NULL text as empty text (no torn counts)") {
    val d = Seq((1L, "a b"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(d, "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "a b", 1L, 0L), (2L, "", 1L, 0L)))
  }

  /** Reference model of the signature kernel: the relational MinHash —
    * explode every shingle into an (id, hash) row, shuffle by id and
    * aggregate k `min` columns `__m0..` over the same permutations.
    */
  private def relationalMinHash(shingled: org.apache.spark.sql.DataFrame, k: Int,
                                hashFn: Column => Column): org.apache.spark.sql.DataFrame = {
    val p = Dedup.permModulus
    val folded = pmod(col("__h"), lit(p))
    val aggs = (0 until k).map { i =>
      val (a, b) = Dedup.permParams(i)
      min(pmod(lit(a) * folded + lit(b), lit(p))).as(s"__m$i")
    }
    Dedup.shingleHashTable(shingled, "doc_id", "__sh", hashFn)
      .groupBy("__id").agg(aggs.head, aggs.tail: _*)
  }

  /** Three sides agree on `texts`, per hash family: the kernel
    * ([[Dedup.signatures]]), the relational model and, for the default
    * family, the per-row [[Dedup.minhashSignatureLocal]]. A document
    * without shingles has no reference row, a NULL kernel signature
    * and no local one. Band rows of the kernel equal the Murmur3 hash
    * over the reference's signature columns, and the exploded-hash
    * candidate path equals the per-document one.
    */
  private def assertSignatureParity(texts: Seq[(Long, String)], k: Int, rows: Int): Unit = {
    val d = texts.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.shingles(col("text"), 3).as("__sh"))
    val families = Seq[(String, Column => Column)](
      "xxhash64" -> (c => xxhash64(c)), "portable60" -> Dedup.portableHash60)
    families.foreach { case (family, hashFn) =>
      val ref = relationalMinHash(d, k, hashFn)
      val refSig = ref.collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toSeq).toMap
      val signed = Dedup.signatures(d, "doc_id", "__sh", k, family)
      val kernel = signed.collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
      texts.foreach { case (id, t) =>
        assert(kernel(id) == refSig.get(id),
          s"$family doc $id: kernel=${kernel(id)} relational=${refSig.get(id)}")
        if (family == "xxhash64") {
          val local = Dedup.minhashSignatureLocal(TextOps.shinglesLocal(t, 3), k)
          assert(local.map(_.toSeq) == refSig.get(id), s"doc $id: local=$local relational=${refSig.get(id)}")
        }
      }
      val bands = k / rows
      val refBands = ref.select(col("__id"), explode(array((0 until bands).map { j =>
          struct(lit(j).as("band"),
            hash((0 until rows).map(r => col(s"__m${j * rows + r}")): _*).as("bh"))
        }: _*)).as("b"))
        .select("__id", "b.band", "b.bh").as[(Long, Int, Int)].collect().toSet
      val kernelBands = Dedup.bandBuckets(signed, bands, rows).as[(Long, Int, Int)].collect().toSet
      assert(kernelBands == refBands, s"$family band rows differ")
    }
    // the exploded-hash entry point signs through the same kernel
    def pairs(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toSet
    assert(pairs(Dedup.lshCandidatesFromHashes(Dedup.shingleHashTable(d, "doc_id", "__sh"), k / rows, rows)) ==
      pairs(Dedup.lshCandidates(Dedup.signatures(d, "doc_id", "__sh", k), k / rows, rows)))
  }

  test("minhashSignatureLocal + shinglesLocal mirror the Column path bit-for-bit") {
    assertSignatureParity(Seq(
      (1L, base), (2L, nearDup), (3L, unrelated),
      (4L, "a b"),         // shorter than shingle width: no signature
      (5L, "x  y z w")),   // double space: empty token must match split semantics
      k = 16, rows = 2)
  }

  test("signature mirror property: random corpora, weird whitespace, unicode") {
    // the streaming operator's correctness rests on the per-row mirror
    // staying bit-equal to the Column path — fuzz it beyond the fixed
    // fixture: random vocab docs plus adversarial shapes (leading /
    // trailing / doubled spaces, unicode, single char, empty)
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a1", "b2", "c3", "ü4", "e5", "漢6")
    val random = (0 until 20).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val adversarial = Seq(
      (100L, " leading space"), (101L, "trailing space "), (102L, "a  b   c d"),
      (103L, ""), (104L, "x"), (105L, "ü 漢 ü 漢 ü"))
    assertSignatureParity(random ++ adversarial, k = 8, rows = 4)
  }

  /** Per-document k=64 signatures of the probe corpus (sf0.1
    * documents, 5,000 docs): every default geometry bands a prefix.
    */
  private def sf01Signatures = Dedup.signatures(
    graft.queries.Staged.docShingles(spark, "/root/testdata/sf0.1"), "doc_id", "__sh", k = 64)

  test("banding auto-tuner reproduces PROBES volumes and picks by recall-then-budget") {
    // the probe corpus (sf0.1 documents, 5,000 docs): PROBES.md measured
    // 3,871 candidates at (32 bands × 2 rows) and 792 at (21 × 3) — the
    // tuner must reproduce both from the same shipped pipeline
    val choices = Dedup.tuneBanding(sf01Signatures, candidateBudget = 1000L, recallAt = 0.9)
    val byGeom = choices.map(c => (c.bands, c.rows) -> c).toMap
    assert(byGeom((32, 2)).candidates == 3871L, s"got ${byGeom((32, 2))}")
    assert(byGeom((21, 3)).candidates == 792L, s"got ${byGeom((21, 3))}")
    // all three geometries keep j=0.9 near-dups with >= 98% probability
    assert(choices.forall(_.recallOk))
    // recommendation: fewest candidates among recall-feasible in-budget
    val head = choices.head
    assert(head.withinBudget && head.recallOk)
    assert(head.candidates == choices.filter(c => c.recallOk && c.withinBudget)
      .map(_.candidates).min)
    assert(!byGeom((32, 2)).withinBudget) // 3,871 > 1,000
    // implied background similarity is small and positive on this corpus
    assert(byGeom((32, 2)).impliedJ0 > 0 && byGeom((32, 2)).impliedJ0 < 0.05)
  }

  test("banding auto-tuner: recall feasibility dominates budget") {
    // demanding recall AT the 0.4 threshold itself: only (32, 2) reaches
    // 98% there (recall(21,3) = 0.75, recall(16,4) = 0.34), so it must
    // be recommended even though it blows the candidate budget
    val choices = Dedup.tuneBanding(sf01Signatures, candidateBudget = 1000L, recallAt = 0.4)
    assert(choices.head.bands == 32 && choices.head.rows == 2)
    assert(choices.head.recallOk && !choices.head.withinBudget)
    assert(choices.tail.forall(!_.recallOk))
  }

  test("banding tuner on a deterministic half-sample estimates the same collision rate") {
    val half = Dedup.deterministicDocSample(sf01Signatures, den = 2)
    val full = Dedup.tuneBanding(sf01Signatures, 1000L, recallAt = 0.9,
      geometries = Seq((32, 2))).head
    val sampled = Dedup.tuneBanding(half, 1000L, recallAt = 0.9,
      geometries = Seq((32, 2))).head
    // collision rate (and so implied j0) is scale-free: the half-sample
    // estimate must land within 2x of the full-corpus value
    assert(sampled.impliedJ0 > full.impliedJ0 / 2 && sampled.impliedJ0 < full.impliedJ0 * 2,
      s"sampled j0 ${sampled.impliedJ0} vs full ${full.impliedJ0}")
    // and extrapolated volume (x den^2) lands within 2x of the measured
    assert(sampled.candidates * 4 > full.candidates / 2 &&
      sampled.candidates * 4 < full.candidates * 2)
  }

  // ---- reliable mode (the production fault-tolerance path): with a
  // session checkpoint dir, CacheTracker.truncate writes reliable
  // checkpoint files that survive executor loss ----

  private def ckptFiles(root: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
    finally s.close()
  }

  /** Run `body` with the shared session in reliable mode under a fresh
    * checkpoint dir (restored afterwards, so later suites truncate
    * locally); `body` gets the dir to count files under.
    */
  private def reliably[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    org.apache.spark.graft.SessionCheckpointDir.withDir(spark.sparkContext, dir)(body(dir))
  }

  private val ccExpected = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
    10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)

  private def ccPairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
    (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("doc_a", "doc_b")

  private def reliableCc(cc: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
    reliably { dir =>
      val got = cc(ccPairs)
      val rows = got.as[(Long, Long)].collect().toSet
      // the result is a reliable checkpoint leaf: its file-set must
      // exist while the frame is alive...
      assert(ckptFiles(dir).nonEmpty, "no reliable checkpoint files were written")
      CacheTracker.free(got)
      // ...and free() must delete it (plus every superseded round's —
      // ContextCleaner won't, cleanCheckpoints defaults to false)
      assert(ckptFiles(dir).isEmpty,
        s"free() left checkpoint files behind: ${ckptFiles(dir).take(3)}")
      assert(rows == ccExpected)
    }

  test("connectedComponents reliable checkpointDir mode: same labels, real files, cleaned on release") {
    reliableCc(Dedup.connectedComponents(_))
  }

  test("connectedComponentsStar reliable checkpointDir mode: same labels, files cleaned") {
    reliableCc(Dedup.connectedComponentsStar(_))
  }

  test("nearDupPairs writes no checkpoint files under a session checkpoint dir") {
    // the band table is a projection of the pinned shingle table, so
    // nothing is truncated: reliable mode has no files to write
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated, 4L -> (unrelated + " tail"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val local = pairs(Dedup.nearDupPairs(d, "text", "doc_id"))
    assert(local.contains(1L -> 2L))
    reliably { dir =>
      assert(pairs(Dedup.nearDupPairs(d, "text", "doc_id")) == local)
      assert(ckptFiles(dir).isEmpty, s"nearDupPairs wrote checkpoint files: ${ckptFiles(dir).take(3)}")
      CacheTracker.release(spark)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "session dir was not restored")
  }

  test("chunkDedup dedups repeats WITHIN one document too") {
    val d = docs(1L -> "a b a b c d")
    val out = Dedup.chunkDedup(d, "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long)].head()
    assert(out == ((1L, "a b c d", 2L, 1L)))
  }

  test("chunkDedup matches a driver-side model on random corpora") {
    // driver-side model: same segmentation, same global first-occurrence
    // rule, same reassembly — over corpora drawn from a tiny vocabulary
    // so cross-doc chunk collisions are common
    val vocab = Vector("a", "b", "c", "d")
    val rng = new scala.util.Random(7)
    (0 until 5).foreach { trial =>
      val k = 2 + trial % 2  // chunk sizes 2 and 3
      val corpus = (0L until 12L).map { id =>
        val len = 1 + rng.nextInt(9)
        id -> Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      }
      // model
      val chunksOf = corpus.map { case (id, text) =>
        id -> text.split(" ").grouped(k).map(_.mkString(" ")).toSeq
      }.toMap
      val seen = scala.collection.mutable.Set[String]()
      val model = corpus.map { case (id, _) =>
        val kept = chunksOf(id).filter(c => seen.add(c))
        (id, kept.mkString(" "), kept.size.toLong,
          (chunksOf(id).size - kept.size).toLong)
      }
      val got = Dedup.chunkDedup(docs(corpus: _*), "doc_id", "text", k)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == model, s"trial $trial k=$k")
    }
  }

  test("contaminationReport counts eval-overlapping grams per train doc") {
    // eval = ids divisible by 10; train doc 1 shares the 2-gram "q r"
    // and "r s"; train doc 2 shares nothing
    val d = docs(
      10L -> "q r s t",
      1L -> "q r s x y z",
      2L -> "completely different words here")
    val out = Dedup.contaminationReport(d, "doc_id", "text", n = 2,
        evalPred = id => id % 10 === 0)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 1: grams {q r, r s, s x, x y, y z} -> 2 of 5 overlap = 400‰
    assert(out == Seq((1L, 2L, 5L, 400L)))
  }

  test("contaminationReport matches a driver-side model on random corpora") {
    val vocab = Vector("a", "b", "c", "d", "e")
    val rng = new scala.util.Random(11)
    (0 until 4).foreach { trial =>
      val n = 2 + trial % 2  // gram sizes 2 and 3
      val corpus = (0L until 15L).map { id =>
        val len = n + rng.nextInt(10)
        id -> Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      }
      def grams(text: String): Set[String] =
        text.split(" ").sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet
      val evalGrams = corpus.filter(_._1 % 5 == 0).flatMap(d => grams(d._2)).toSet
      val model = corpus.filter(_._1 % 5 != 0).flatMap { case (id, text) =>
        val g = grams(text)
        val ov = g.count(evalGrams)
        if (ov > 0) Some((id, ov.toLong, g.size.toLong, (1000L * ov) / g.size))
        else None
      }.sortBy(_._1)
      val got = Dedup.contaminationReport(docs(corpus: _*), "doc_id", "text",
          n = n, evalPred = id => id % 5 === 0)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == model, s"trial $trial n=$n")
    }
  }

  test("spanContamination reports positions: duplicates kept, 0-based offsets") {
    // eval doc 10 contributes gram "q r"; train doc 1 hits it TWICE
    // (positions 0 and 3 — a repeated gram is two spans to cut) and
    // hits nothing else; doc 2 is clean
    val d = docs(
      10L -> "q r",
      1L -> "q r s q r z",
      2L -> "completely different words here")
    val out = Dedup.spanContamination(d, "doc_id", "text", n = 2,
        evalPred = id => id % 10 === 0)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 0L, 3L, 1L))) // 2 spans, pos 0..3, 1 distinct gram
  }

  test("spanContamination matches a driver-side positional model") {
    val vocab = Vector("a", "b", "c", "d")
    val rng = new scala.util.Random(7)
    val n = 2
    val corpus = (0L until 20L).map { id =>
      val len = rng.nextInt(12)
      id -> Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    def grams(text: String): Seq[String] = {
      val w = text.split(" ", -1)
      if (w.length < n) Seq.empty else w.sliding(n).map(_.mkString(" ")).toSeq
    }
    val evalGrams = corpus.filter(_._1 % 5 == 0).flatMap(d => grams(d._2)).toSet
    val model = corpus.filter(_._1 % 5 != 0).flatMap { case (id, text) =>
      val hits = grams(text).zipWithIndex.filter(g => evalGrams(g._1))
      if (hits.isEmpty) None
      else Some((id, hits.size.toLong, hits.map(_._2).min.toLong,
        hits.map(_._2).max.toLong, hits.map(_._1).distinct.size.toLong))
    }.sortBy(_._1)
    val got = Dedup.spanContamination(docs(corpus: _*), "doc_id", "text",
        n = n, evalPred = id => id % 5 === 0)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == model)
  }

  test("hammingPairsFromLongs == all-pairs popcount") {
    // pigeonhole banding has recall 1.0 at the budget and the verify is
    // exact, so the output must equal the brute-force all-pairs join
    val rnd = new scala.util.Random(13)
    val base = (0L until 150L).map(i => (i, rnd.nextLong()))
    val planted = base.take(30).zipWithIndex.map { case ((i, h), k) =>
      val flips = 1 + k % 4 // distances 1..4; 4 must NOT pair at maxDist 3
      val bits = rnd.shuffle((0 until 64).toList).take(flips)
      (i + 1000L, bits.foldLeft(h)((acc, b) => acc ^ (1L << b)))
    }
    val all = base ++ planted
    val got = Dedup.hammingPairsFromLongs(all.toDF("id", "h"), "id", "h", maxDist = 3)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val model = (for {
      (a, ha) <- all; (b, hb) <- all if a < b
      d = java.lang.Long.bitCount(ha ^ hb).toLong if d <= 3
    } yield (a, b, d)).sorted
    assert(got == model)
    assert(got.nonEmpty, "fixture must plant at least one qualifying pair")
    // distances 1..3 planted -> paired; distance-4 twins absent
    val dists = got.filter(p => p._2 == p._1 + 1000L).map(_._3).toSet
    assert(dists.subsetOf(Set(1L, 2L, 3L)) && !got.exists(_._3 > 3))
  }

  test("clusterCanonical: argmax score per cluster, smallest-id tie-break") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "rep")
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (9L, 4L))
      .toDF("doc_id", "score")
    val out = Dedup.clusterCanonical(labels, docs, "doc_id", "score")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // cluster 1: max score 30 tied between ids 2 and 3 -> keep 2
    assert(out == Seq((1L, 2L, 30L, 3L), (7L, 7L, 5L, 2L)))
  }

  test("bloomMembership: exact verdicts (no FN possible, FPs dropped by verify)") {
    val existing = docs(1L -> "alpha beta", 2L -> "gamma delta", 3L -> "epsilon zeta")
    val incoming = docs(
      10L -> "alpha beta",      // dup of 1
      11L -> "brand new text",  // new
      12L -> "gamma delta",     // dup of 2
      13L -> "another novel")   // new
    val out = Dedup.bloomMembership(existing, incoming, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(10L -> 1L, 11L -> 0L, 12L -> 1L, 13L -> 0L))
  }

  test("bloomMembership prefilter prunes: verify join sees only probe survivors") {
    // 200 existing docs, 200 incoming of which 10 are dups — at fpp
    // 0.01 the bloom probe must pass the 10 dups (no-FN guarantee) and
    // only a handful of the 190 novels (binomial fpp tail), so the
    // exact verify join's probe side is a small fraction of incoming
    val existing = docs((0L until 200L).map(i => i -> s"existing document number $i"): _*)
    val incoming = docs((0L until 200L).map { i =>
      if (i < 10) (1000L + i) -> s"existing document number $i" // dups
      else (1000L + i) -> s"fresh incoming document $i"
    }: _*)
    // exercise the shipped path end-to-end first
    val verdicts = Dedup.bloomMembership(existing, incoming, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert((1000L until 1010L).forall(id => verdicts(id) == 1L))
    assert((1010L until 1200L).forall(id => verdicts(id) == 0L))
    // then measure the prune on the same sketch construction
    val h = xxhash64(coalesce(col("text"), lit("")))
    val bf = existing.select(h.as("__h")).stat.bloomFilter("__h", 200L, 0.01)
    val probes = incoming.select(h.as("__h")).as[Long].collect()
    val passed = probes.count(bf.mightContainLong)
    assert(passed >= 10, "bloom lost a true member — impossible by contract")
    assert(passed <= 30, s"bloom passed $passed of 200 — fpp far above 1%")
  }
}

class FunnelSpec extends SparkTestBase {
  import spark.implicits._

  test("stageTimes: order-sensitive, strict-after, first-qualifying semantics") {
    val ev = Seq(
      // user 1: clean conversion
      (1L, "view", 1L, 10L), (1L, "click", 2L, 11L), (1L, "purchase", 3L, 12L),
      // user 2: everything present but in REVERSE order -> view only
      (2L, "purchase", 1L, 20L), (2L, "click", 2L, 21L), (2L, "view", 3L, 22L),
      // user 3: no click -> purchase cannot qualify
      (3L, "view", 1L, 30L), (3L, "purchase", 2L, 31L),
      // user 4: click at the SAME ts as the first view -> strict > rejects
      (4L, "view", 1L, 40L), (4L, "click", 1L, 41L),
      // user 5: pre-view click ignored; later click qualifies
      (5L, "click", 1L, 50L), (5L, "view", 2L, 51L), (5L, "click", 3L, 52L),
      (5L, "purchase", 4L, 53L))
      .toDF("user_id", "event_type", "t", "eid")
    val got = graft.operators.Funnel.stageTimes(ev, "user_id", "event_type",
        "t", "eid", Seq("view", "click", "purchase"))
      .orderBy("user_id")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
    assert(got(0) == ((1L, Some(1L), Some(2L), Some(3L))))
    assert(got(1) == ((2L, Some(3L), None, None)))
    assert(got(2) == ((3L, Some(1L), None, None)))
    assert(got(3) == ((4L, Some(1L), None, None)))
    assert(got(4) == ((5L, Some(2L), Some(3L), Some(4L))))
  }

  test("report: counts and conversion permille") {
    val ev = Seq(
      (1L, "view", 1L, 1L), (1L, "click", 2L, 2L), (1L, "purchase", 3L, 3L),
      (2L, "view", 1L, 4L), (2L, "click", 2L, 5L),
      (3L, "signup", 1L, 6L))
      .toDF("user_id", "event_type", "t", "eid")
    val r = graft.operators.Funnel.report(ev, "user_id", "event_type", "t",
        "eid", Seq("view", "click", "purchase"))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r == ((3L, 2L, 2L, 1L, 500L)))
  }
}

class SketchStateSpec extends SparkTestBase {
  import spark.implicits._

  private def hashed(ids: Range) = ids.map(i => ("g", i.toLong)).toDF("k", "v")
    .select(col("k"), graft.functions.KMinAgg.scramble(
      PolyHash.col(col("v").cast("string"))).as("hv"))

  test("HLL merge law: merge(build(A), build(B)) == build(A union B); merge idempotent") {
    val (p, maxRho) = (8, 23)
    val ra = SketchState.hllRegisters(hashed(0 until 600), Seq("k"), "hv", p, maxRho)
    val rb = SketchState.hllRegisters(hashed(400 until 1000), Seq("k"), "hv", p, maxRho)
    val rall = SketchState.hllRegisters(hashed(0 until 1000), Seq("k"), "hv", p, maxRho)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Int)].collect().toSet
    val merged = SketchState.mergeRegisters(ra, rb, Seq("k"))
    assert(asSet(merged) == asSet(rall))
    assert(asSet(SketchState.mergeRegisters(merged, merged, Seq("k"))) == asSet(rall))
  }

  test("estimateDistinct tracks the true cardinality within HLL error") {
    val regs = SketchState.hllRegisters(hashed(0 until 1000), Seq("k"), "hv", 8, 23)
    val est = SketchState.estimateDistinct(regs, Seq("k"), 8, 30)
      .as[(String, Long)].head()._2
    assert(math.abs(est - 1000) < 150, s"est $est vs true 1000")
  }
}

class ProductQuantSpec extends SparkTestBase {
  import spark.implicits._

  private def vec(seed: Long, dims: Int): Seq[Float] =
    (0 until dims).map(i => (((seed * 31 + i * 7) % 13) - 6) / 6.0f)

  test("codebooks: m x ks x (dims/m) shapes, codes in range, encode deterministic") {
    val dims = 8
    val corpus = (0L until 20L).map(i => (i, vec(i, dims))).toDF("vec_id", "embedding")
    val cbs = ProductQuant.trainCodebooks(corpus, "vec_id", "embedding",
      dims = dims, m = 2, ks = 2, iters = 1)
    assert(cbs.length == 2 && cbs.forall(_.length == 2) &&
      cbs.forall(_.forall(_._2.length == 4)))
    val codes = ProductQuant.encode(corpus, "vec_id", "embedding",
      dims = dims, m = 2, cbs = cbs)
      .as[(Long, Seq[Long])].collect().toMap
    assert(codes.size == 20 && codes.values.forall(c =>
      c.length == 2 && c.forall(x => x >= 0 && x < 2)))
    val again = ProductQuant.encode(corpus, "vec_id", "embedding",
      dims = dims, m = 2, cbs = cbs)
      .as[(Long, Seq[Long])].collect().toMap
    assert(codes == again)
  }

  test("adcTopK: an exact duplicate of the query ranks first with cosine 1") {
    val dims = 8
    val base = (0L until 20L).map(i => (i, vec(i, dims)))
    val corpus = (base :+ ((100L, vec(0L, dims)))).toDF("vec_id", "embedding")
    val queries = Seq((0L, vec(0L, dims))).toDF("qid", "qvec")
    val top = ProductQuant.adcTopK(corpus, queries, k = 3, dims = dims,
      m = 2, ks = 4, iters = 1, candC = 10)
      .orderBy("rank").as[(Long, Long, Long, Long)].collect()
    // identical vectors -> identical codes -> ADC distance 0 ->
    // candidates -> exact re-rank cos = 1.0 exactly. The fixture has
    // TWO exact duplicates of query 0 (id 100 planted; id 13 because
    // vec() is periodic mod 13) — ties break id-asc.
    assert(top.take(2).toSeq == Seq((0L, 1L, 13L, 1000000L), (0L, 2L, 100L, 1000000L)))
  }

  test("ivfPqTopK at nProbe = nCells equals the unfused full ADC scan") {
    // with every cell probed, the fusion's coarse filter admits the
    // whole corpus, training/seeds are identical, so the fused result
    // must equal adcTopK row-for-row — the equivalence pins the IVF
    // restriction as the ONLY behavioral difference between sim6 and
    // sim5
    val dims = 8
    val corpus = (0L until 40L).map(i => (i, vec(i * 3 + 1, dims)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, vec(4L, dims)), (2L, vec(7L, dims))).toDF("qid", "qvec")
    val fused = ProductQuant.ivfPqTopK(corpus, queries, k = 5, dims = dims,
      nCells = 4, nProbe = 4, m = 2, ks = 4, iters = 1, candC = 15)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val flat = ProductQuant.adcTopK(corpus, queries, k = 5, dims = dims,
      m = 2, ks = 4, iters = 1, candC = 15)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(fused == flat)
    assert(fused.nonEmpty)
    // and a REAL restriction (nProbe = 1) returns a subset ranking of
    // candidates from the probed cell only — never more than k rows
    // per query, possibly different members
    val probed = ProductQuant.ivfPqTopK(corpus, queries, k = 5, dims = dims,
      nCells = 4, nProbe = 1, m = 2, ks = 4, iters = 1, candC = 15)
      .as[(Long, Long, Long, Long)].collect()
    assert(probed.groupBy(_._1).values.forall(_.length <= 5))
  }
}

class SubstringDedupSpec extends SparkTestBase {
  import spark.implicits._

  test("substringDedup: overlapping dup windows merge their cover; first occurrence survives") {
    val docs = Seq(
      (1L, "a b c d e"),          // windows (k=4): [a b c d], [b c d e] — both first
      (2L, "z a b c d e y"),      // pos1 and pos2 windows duplicate doc1's -> cover 1..5
      (3L, "hi"),                 // shorter than k: no windows, untouched
      (4L, null.asInstanceOf[String])) // NULL text -> one empty token, untouched
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.substringDedup(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(got(0) == ((1L, "a b c d e", 5L, 0L)))
    assert(got(1) == ((2L, "z y", 7L, 5L)))
    assert(got(2) == ((3L, "hi", 1L, 0L)))
    assert(got(3) == ((4L, "", 1L, 0L)))
  }

  test("substringDedup: within-doc repeat keeps exactly the first copy") {
    val docs = Seq((7L, "p q r s p q r s")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.substringDedup(docs, "doc_id", "text", k = 4)
      .as[(Long, String, Long, Long)].head()
    // window at pos 4 duplicates pos 0; covers 4..7
    assert(got == ((7L, "p q r s", 8L, 4L)))
  }
}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val dims = 64
  private def corpus() = {
    // deterministic pseudo-vectors: 10 clusters of 20 vectors
    val rows = (0 until 200).map { id =>
      val cluster = id % 10
      val v = (0 until dims).map { i =>
        val centre = math.sin(cluster * 17.0 + i).toFloat
        centre + 0.05f * math.sin(id * 31.0 + i * 7.0).toFloat
      }
      (id.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("bootstrapCentroids: value stride fills on dense ids; fallback never fires on the registered table") {
    // The sim3/sim6/sim18 oracles replay ONLY the id-value stride in
    // SQL — so the rank-stride fallback must never fire on dense-id
    // corpora. Pin that: (a) on the synthetic dense corpus and (b) on
    // the actual registered embeddings table, the value stride alone
    // fills every cell with exactly the ids the oracle would derive.
    val dense = corpus() // ids 0..199, dense
    val cents = Similarity.bootstrapCentroids(dense, 8, "vec_id", "embedding")
    val stride = 200L / 8
    assert(cents.map(_.cell) == (0 until 8).map(_ * stride),
      s"got ${cents.map(_.cell)}")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val nCells = 16
    val st = math.max(1L, n / nCells)
    val fromTable = Similarity.bootstrapCentroids(emb, nCells, "vec_id", "embedding")
    val oracle = emb.filter(col("vec_id") % st === 0).orderBy("vec_id")
      .limit(nCells).select("vec_id").as[Long].collect().toSeq
    assert(fromTable.map(_.cell) == oracle,
      s"value-stride path diverged (fallback fired?): ${fromTable.map(_.cell)} vs $oracle")
  }

  test("bootstrapCentroids rank-stride fallback fills on sparse ids without a global window") {
    // every id ≡ 3 (mod 10): the value stride (id % stride == 0)
    // selects NOTHING, forcing the fallback — which must pick every
    // stride-th row in id order via the per-partition dense-index
    // idiom (no single-partition Window; ADVICE round-8).
    val rows = (0 until 40).map { i =>
      (3L + 10L * i, (0 until dims).map(d => math.sin(i * 7.0 + d).toFloat))
    }
    val sparse = rows.toDF("vec_id", "embedding").repartition(4)
    val cents = Similarity.bootstrapCentroids(sparse, 8, "vec_id", "embedding")
    // total=40, stride=5 -> ranks 0,5,...,35 -> ids 3, 53, ..., 353
    assert(cents.map(_.cell) == (0 until 8).map(i => 3L + 50L * i),
      s"got ${cents.map(_.cell)}")
  }

  test("brute-force top-k ranks cluster-mates first") {
    val c = corpus()
    val q = c.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Similarity.bruteForceTopK(c, q, 5)
      .select("vec_id").as[Long].collect()
    // neighbors of vec 0 (cluster 0) must be cluster 0 members (id % 10 == 0)
    assert(top.forall(_ % 10 == 0), s"got ${top.toSeq}")
  }

  /** The HOF left fold [[DotF32]] replaces: the reference its tests
    * check it against.
    */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("dot_f32 returns NULL on length mismatch and NULL elements, matching the HOF path") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f))).toDF("a", "b")
    val hof = df.select(hofDot(col("a"), col("b"))).collect().head
    val native = df.select(DotF32.col(col("a"), col("b"))).collect().head
    assert(hof.isNullAt(0) && native.isNullAt(0),
      s"length-mismatch must be NULL on both paths: hof=$hof native=$native")
    // NULL element poisons the sum on both paths
    val dfn = Seq((Seq(Some(1f), None, Some(3f)), Seq(Some(1f), Some(2f), Some(3f))))
      .toDF("a", "b")
    val hofN = dfn.select(hofDot(col("a"), col("b"))).collect().head
    val natN = dfn.select(DotF32.col(col("a"), col("b"))).collect().head
    assert(hofN.isNullAt(0) && natN.isNullAt(0),
      s"null element must be NULL on both paths: hof=$hofN native=$natN")
  }

  test("native dot_f32 expression is bit-identical to the HOF fold") {
    val c = corpus()
    val pairs = c.as("a").crossJoin(c.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id")).limit(500)
    val diff = pairs.select(
      (hofDot(col("a.embedding"), col("b.embedding")) -
        DotF32.col(col("a.embedding"), col("b.embedding"))).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(diff == 0L)
    // an array<double> side (a dequantized vector) enters as it is
    val deq = transform(col("b.embedding"), x => x.cast("double") / 3.0)
    val diffD = pairs.select((hofDot(col("a.embedding"), deq) -
        DotF32.col(col("a.embedding"), deq)).as("d"), hofDot(deq, deq).as("h"),
        DotF32.col(deq, deq).as("n"))
      .filter(col("d") =!= 0.0 || col("h") =!= col("n")).count()
    assert(diffD == 0L)
    // and usable straight from SQL
    graft.functions.VectorExpressions.register(spark)
    c.createOrReplaceTempView("emb_v")
    val viaSql = spark.sql(
      "SELECT dot_f32(embedding, embedding) FROM emb_v WHERE vec_id = 0")
      .first().getDouble(0)
    assert(viaSql > 0.0)
  }

  test("dot_f32 interpreted eval matches the HOF fold on array<float> and array<double> sides") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    def fl(xs: java.lang.Float*) = Literal.create(xs, ArrayType(FloatType))
    def db(xs: java.lang.Double*) = Literal.create(xs, ArrayType(DoubleType))
    // eval outside any plan: the path a HOF lambda or a codegen fallback takes
    val f = Seq(0.1f, 0.2f, 0.3f)
    val d = Seq(1.0 / 3, 2.0 / 7, 5.0 / 11)
    def fold(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).foldLeft(0.0) { case (s, (a, b)) => s + a * b }
    val fd = f.map(_.toDouble)
    val fs = f.map(x => x: java.lang.Float)
    val ds = d.map(x => x: java.lang.Double)
    assert(DotF32(fl(fs: _*), db(ds: _*)).eval() == fold(fd, d))
    assert(DotF32(db(ds: _*), fl(fs: _*)).eval() == fold(d, fd))
    assert(DotF32(db(ds: _*), db(ds: _*)).eval() == fold(d, d))
    assert(DotF32(fl(fs: _*), db(1.0, null, 2.0)).eval() == null)
    assert(DotF32(db(ds: _*), db(1.0, 2.0)).eval() == null)
    // the same pairs query, whole-stage codegen on and off: every
    // projection and filter of the second run evaluates through eval
    val c = corpus()
    val pairs = c.as("a").crossJoin(c.as("b"))
      .filter(col("a.vec_id") < 20 && col("a.vec_id") < col("b.vec_id"))
    val deq = transform(col("b.embedding"), x => x.cast("double") / 3.0)
    def dots() = pairs.select(col("a.vec_id"), col("b.vec_id"),
        DotF32.col(col("a.embedding"), deq), hofDot(col("a.embedding"), deq),
        DotF32.col(deq, deq), hofDot(deq, deq))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val generated = dots()
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val interpreted =
      try {
        spark.conf.set(keys(0), "false")
        spark.conf.set(keys(1), "NO_CODEGEN")
        dots()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(interpreted.size == generated.size && interpreted.nonEmpty)
    interpreted.foreach { case (k, r) =>
      assert(r.getDouble(2) == r.getDouble(3) && r.getDouble(4) == r.getDouble(5), r.toString)
      assert(r == generated(k), s"interpreted $r, generated ${generated(k)}")
    }
  }

  test("native sq_dist_i64 equals the HOF fold; NULL semantics match dot_f32") {
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)
    val df = Seq(
      (Seq(1L, -5L, 3L), Seq(4L, 0L, 3L)),
      (Seq(0L, 0L, 0L), Seq(0L, 0L, 0L)),
      (Seq(1000L, -1000L, 7L), Seq(-1000L, 1000L, 7L))).toDF("a", "b")
    val rows = df.select(hof(col("a"), col("b")).as("h"),
      SqDistI64.col(col("a"), col("b")).as("n")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    assert(rows.head.getLong(1) == 9L + 25L + 0L)
    // length mismatch and NULL elements -> NULL, like dot_f32
    val bad = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
      .select(SqDistI64.col(col("a"), col("b"))).collect().head
    assert(bad.isNullAt(0))
    val withNull = Seq((Seq(Some(1L), None), Seq(Some(1L), Some(2L)))).toDF("a", "b")
      .select(SqDistI64.col(col("a"), col("b"))).collect().head
    assert(withNull.isNullAt(0))
  }

  test("IVF ANN achieves high recall vs brute force") {
    val c = corpus()
    val q = c.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(c, q, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(c, q, 10, nCells = 8, nProbe = 3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall too low")
  }

  test("filtered ANN: IVF over the predicate-pruned corpus at full probe equals filtered brute force") {
    // sim13's index-layer contract: pre-filtering composes with the
    // IVF chain — an index built over the filtered corpus, probed with
    // nProbe = nCells, must return exactly the filtered brute-force
    // top-k (recall 1 by construction, same argument as sim6's
    // fused-vs-flat pin). At production scale the filter prunes cells'
    // posting lists; at full probe the two strategies coincide.
    val c = corpus().withColumn("label", (col("vec_id") % 10).cast("int"))
      .filter(col("label") === 3).drop("label")
    val q = corpus().filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(c, q, 10)
      .select("qid", "rank", "vec_id").as[(Long, Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(c, q, 10, nCells = 4, nProbe = 4)
      .select("qid", "rank", "vec_id").as[(Long, Long, Long)].collect().toSet
    assert(ivf == exact, s"filtered IVF != filtered brute force: $ivf vs $exact")
  }

  test("LSH ANN achieves high recall vs brute force") {
    val c = corpus()
    val q = c.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(c, q, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(c, q, 10, dims)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low (${(exact & approx).size}/${exact.size})")
  }

  test("multi-probe LSH: candidates are a superset of single-probe; recall never drops") {
    val c = corpus()
    val q = c.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val single = Similarity.lshAnnCandidates(c, q, dims)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.multiProbeCandidates(c, q, dims)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi),
      s"multi-probe lost candidates: ${single -- multi}")
    val exact = Similarity.bruteForceTopK(c, q, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val mp = Similarity.multiProbeTopK(c, q, 10, dims)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val sp = Similarity.lshTopK(c, q, 10, dims)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val rMulti = (exact & mp).size.toDouble / exact.size
    val rSingle = (exact & sp).size.toDouble / exact.size
    assert(rMulti >= rSingle,
      s"multi-probe recall $rMulti below single-probe $rSingle")
  }

  test("random-projection ANN achieves high recall vs brute force") {
    val c = corpus()
    val q = c.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(c, q, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.randProjTopK(c, q, 10, dims, projDims = 16, candC = 50)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"rand-proj recall $recall too low")
    // sanity of the JL contract: a 16-d ±1 projection of a duplicate
    // vector has projected distance exactly 0 -> the duplicate must be
    // rank 1 for its own query
    val dup = Similarity.randProjTopK(c, q.limit(1), 1, dims)
      .select("rank", "vec_id").as[(Long, Long)].collect()
    assert(dup.nonEmpty)
  }

  test("binary-Hamming ANN: full-width candidates equal brute force; narrow cut keeps recall") {
    val c = corpus()
    val q = c.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(c, q, 10)
      .select("qid", "rank", "vec_id", "cos_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    // candC = whole corpus -> the exact re-rank sees every vector, so
    // the result must EQUAL brute force row-for-row
    val full = Similarity.binaryHammingTopK(c, q, 10, dims, candC = 200)
      .select("qid", "rank", "vec_id", "cos_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(full == exact, "full-width Hamming candidates must reduce to brute force")
    val approx = Similarity.binaryHammingTopK(c, q, 10, dims, candC = 40)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact.map(r => (r._1, r._3)) & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"binary-Hamming recall $recall too low")
  }

  test("matryoshka ANN: full-width candidates equal brute force; prefix cut keeps recall") {
    val c = corpus()
    val q = c.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(c, q, 10)
      .select("qid", "rank", "vec_id", "cos_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    val full = Similarity.matryoshkaTopK(c, q, 10, prefixDims = 16, candC = 200)
      .select("qid", "rank", "vec_id", "cos_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(full == exact, "full-width matryoshka candidates must reduce to brute force")
    val approx = Similarity.matryoshkaTopK(c, q, 10, prefixDims = 16, candC = 40)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact.map(r => (r._1, r._3)) & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"matryoshka recall $recall too low")
  }

  test("materialized IVF index: partition-pruned probing matches inline ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toFile.getAbsolutePath
    val c = corpus()
    Similarity.buildIvfIndex(c, dir, nCells = 8, refineIters = 1)
    val q = c.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val fromIndex = Similarity.ivfIndexTopK(spark, dir, q, 10, nProbe = 3)
    val inline = Similarity.ivfTopK(c, q, 10, nCells = 8, nProbe = 3, refineIters = 1)
      .select("qid", "rank", "vec_id", "cos_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(fromIndex.select("qid", "rank", "vec_id", "cos_micro")
      .as[(Long, Long, Long, Long)].collect().toSet == inline)
    // the scan must PRUNE to the probed cells (nProbe*|q| <= 3*3 of 8
    // partition dirs), not read the whole index
    val vecsScan = {
      val qe = fromIndex.queryExecution
      qe.executedPlan.execute().foreachPartition(_ => ())
      qe.executedPlan.toString()
    }
    assert(vecsScan.contains("PartitionFilters: [cell"),
      s"expected a partition filter on cell in:\n$vecsScan")
  }
}

class ApproxAggSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  test("approx_count_distinct lands within 5% of exact on testdata") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val rows = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("a"),
        countDistinct(col("l_partkey")).as("e"))
      .collect()
    rows.foreach { r =>
      val (a, e) = (r.getLong(1), r.getLong(2))
      assert(math.abs(a - e).toDouble / e < 0.05, s"approx $a vs exact $e")
    }
  }

  test("KMV sketch estimates distinct within ~2/sqrt(k); exact below k") {
    import spark.implicits._
    import graft.functions.{KMinAgg, KmvSummary}
    val k = 64
    // group "big": 5000 distinct values; group "small": 10 distinct
    val rows = (0 until 5000).map(i => ("big", s"val_$i")) ++
      (0 until 200).map(i => ("small", s"s_${i % 10}"))
    val hashed = rows.toDF("g", "v")
      .select(col("g"), KMinAgg.scramble(PolyHash.col(col("v"))).as("h"))
      .as[(String, Long)]
    val est = hashed.groupByKey(_._1).mapValues(_._2)
      .agg(new KMinAgg(k).toColumn.name("s"))
      .map { case (g, s) => (g, KMinAgg.estimate(s, k, 1000000007L)) }
      .collect().toMap
    assert(est("small") == 10L) // below k: exact
    val err = math.abs(est("big") - 5000L).toDouble / 5000.0
    assert(err < 2.0 / math.sqrt(k), s"KMV estimate ${est("big")} err $err")
    // merge is order-insensitive: same result at 1 partition
    val one = hashed.repartition(1).groupByKey(_._1).mapValues(_._2)
      .agg(new KMinAgg(k).toColumn.name("s"))
      .map { case (g, s) => (g, KMinAgg.estimate(s, k, 1000000007L)) }
      .collect().toMap
    assert(one == est)
  }

  test("bottom-k hash sample estimates the median within sampling error") {
    import spark.implicits._
    import graft.functions.{KMinAgg, ScoredId, TopKAgg}
    val k = 101
    // 10k rows, values 0..9999 (true median 4999/5000)
    val rows = (0 until 10000).map(i => (s"row_$i", i.toLong)).toDF("rk", "v")
      .select(KMinAgg.scramble(PolyHash.col(col("rk"))).as("h"), col("v"))
      .as[(Long, Long)]
    val med = rows.map { case (h, v) => ("g", h, v) }
      .groupByKey(_._1)
      .mapValues { case (_, h, v) => ScoredId(v, -h.toDouble) }
      .agg(new TopKAgg(k).toColumn.name("sample"))
      .map { case (_, sample) =>
        val vals = sample.map(_.id).sorted
        vals((vals.size - 1) / 2)
      }.collect().head
    // binomial quantile error at n=101: sd ≈ 0.05 of the range; 3 sd
    assert(math.abs(med - 5000L) < 1500, s"sample median $med vs 5000")
  }
}

class TopKAggSpec extends SparkTestBase {
  import spark.implicits._
  import graft.functions.{ScoredId, TopKAgg}

  test("typed top-k aggregator matches the window formulation") {
    // 3 groups x 100 scored ids, deterministic scores with ties
    val rows = for (g <- 0 until 3; i <- 0 until 100)
      yield (g.toLong, ScoredId(i.toLong, (i % 10).toDouble))
    val ds = rows.toDS()
    val viaAgg = ds.groupByKey(_._1)
      .mapValues(_._2)
      .agg(new TopKAgg(5).toColumn.name("topk"))
      .flatMap { case (g, top) => top.zipWithIndex.map { case (s, r) => (g, r + 1, s.id) } }
      .collect().toSet
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val df = ds.map(t => (t._1, t._2.id, t._2.score)).toDF("g", "id", "score")
      val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
      df.withColumn("r", row_number().over(w)).filter(col("r") <= 5)
        .select("g", "r", "id").as[(Long, Int, Long)].collect().toSet
    }
    assert(viaAgg == viaWindow && viaAgg.size == 15)
  }
}

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("pngCaption extracts the embedded tEXt caption without touching pixels") {
    val bytes = Multimodal.encodePngCaptioned(9, 10, 3L, "a test caption 42")
    assert(Multimodal.pngCaption(bytes).contains((9, 10, "a test caption 42")))
    // a plain PNG has no Description entry -> None, not a crash
    assert(Multimodal.pngCaption(Multimodal.encodePng(8, 8, 1L)).isEmpty)
    // non-PNG bytes fall through as None
    assert(Multimodal.pngCaption("not a png".getBytes).isEmpty)
    assert(Multimodal.pngCaption(Array.emptyByteArray).isEmpty)
  }

  test("imagePatches tiles a real decode into the 8x8 grid with formula-exact checksums") {
    val (w, h, id) = (24, 16, 9L)
    val Some(patches) = Multimodal.imagePatches(Multimodal.encodePngAddr(w, h, id))
    assert(patches.map(p => (p._1, p._2)) ==
      (for (pj <- 0 until 2; pi <- 0 until 3) yield (pj, pi)))
    val want = patches.map { case (pj, pi, _) =>
      (for (dy <- 0 until 8; dx <- 0 until 8) yield
        Multimodal.addrPixel(id, (pj * 8 + dy).toLong * w + pi * 8 + dx).toLong).sum
    }
    assert(patches.map(_._3) == want)
    // ragged dims are the resize step's job: refuse, don't guess
    assert(Multimodal.imagePatches(Multimodal.encodePngAddr(20, 16, id)).isEmpty)
    assert(Multimodal.imagePatches(Array[Byte](1, 2)).isEmpty)
  }

  test("gifFrames decodes every frame of a real animated GIF bit-exactly") {
    val (w, h, nf, id) = (11, 9, 4, 42L)
    val bytes = Multimodal.encodeGifAnimated(w, h, nf, id)
    val Some(frames) = Multimodal.gifFrames(bytes)
    assert(frames.map(f => (f._1, f._2, f._3)) ==
      (0 until nf).map(f => (f, w, h)))
    // checksums must equal the formula EXACTLY — GIF gray is lossless
    val want = (0 until nf).map { f =>
      (0 until w * h).map(p => Multimodal.grayPixel(id, f.toLong, p.toLong).toLong).sum
    }
    assert(frames.map(_._4) == want)
    // frames genuinely differ (the animation is not a repeated still)
    assert(frames.map(_._4).distinct.size == nf)
    // corrupt / non-GIF bytes fall through as None
    assert(Multimodal.gifFrames("not a gif".getBytes).isEmpty)
    assert(Multimodal.gifFrames(Array.emptyByteArray).isEmpty)
    assert(Multimodal.gifFrames(Multimodal.encodePng(8, 8, 1L)).isEmpty)
  }

  test("audioSegments counts the planted utterance runs through a real WAV round-trip") {
    for (id <- Seq(0L, 5L, 17L)) {
      val nSeg = 1 + (id % 4).toInt
      val bytes = Multimodal.encodeWavSegments(
        channels = 1 + (id % 2).toInt, sampleRateHz = 8000,
        lead = (id % 6).toInt, nSeg = nSeg, trail = (id % 3).toInt, id = id)
      val Some((ch, _, segs, active)) = Multimodal.audioSegments(bytes)
      assert(ch == 1 + (id % 2).toInt && segs == nSeg, s"id=$id got $segs")
      assert(active == (0 until nSeg).map(i => 20 + ((id + i) % 30)).sum,
        s"id=$id active=$active")
    }
    // an all-silent clip has zero segments; corrupt bytes fall through
    val silent = Multimodal.encodeWavSilence(1, 8000, 12, 0, 0, 1L)
    assert(Multimodal.audioSegments(silent).contains((1, 12L, 0L, 0L)))
    assert(Multimodal.audioSegments(Array[Byte](7)).isEmpty)
  }

  test("trimSilence recovers the planted lead/trail geometry through a real WAV round-trip") {
    for (id <- Seq(0L, 3L, 14L, 29L)) {
      val (lead, active, trail) = ((id % 7).toInt, 5 + (id % 90).toInt, (id % 5).toInt)
      val bytes = Multimodal.encodeWavSilence(
        channels = 1 + (id % 2).toInt, sampleRateHz = 8000,
        lead = lead, active = active, trail = trail, id = id)
      val Some((ch, nf, ls, ts)) = Multimodal.trimSilence(bytes)
      assert(ch == 1 + (id % 2).toInt, s"id=$id channels")
      assert(nf == lead + active + trail, s"id=$id frames")
      assert(ls == lead && ts == trail, s"id=$id got ($ls, $ts) want ($lead, $trail)")
    }
    // all-silent clip: lead = nFrames, trail = 0 (documented convention)
    val silent = Multimodal.encodeWavSilence(1, 8000, lead = 10, active = 0,
      trail = 0, id = 1L)
    assert(Multimodal.trimSilence(silent).contains((1, 10L, 10L, 0L)))
    // corrupt / non-audio bytes fall through as None
    assert(Multimodal.trimSilence(Array[Byte](9, 9, 9)).isEmpty)
    assert(Multimodal.trimSilence(Array.emptyByteArray).isEmpty)
  }

  test("dHash: identical rasters hash equal; JPEG re-encode of a smooth image moves few bits") {
    val a = Multimodal.encodePngAddr(16, 12, id = 5L)
    val b = Multimodal.encodePngAddr(16, 12, id = 5L)
    val Some((w, h, ha)) = Multimodal.dHash(a)
    assert((w, h) == ((16, 12)) && Multimodal.dHash(b).get._3 == ha)
    // perceptual robustness: the SAME smooth gradient through PNG
    // (lossless) and JPEG (lossy) must land within a small hamming
    // distance — the property that makes dHash a near-dup key
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 64; x <- 0 until 64)
      img.setRGB(x, y, (x * 4 << 16) | (x * 4 << 8) | (x * 4))
    def enc(fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out); out.toByteArray
    }
    val Some((_, _, hp)) = Multimodal.dHash(enc("png"))
    val Some((_, _, hj)) = Multimodal.dHash(enc("jpg"))
    val hamming = java.lang.Long.bitCount(hp ^ hj)
    // monotone gradient: every left<right bit set
    assert(hp == -1L, s"gradient dHash should be all-ones, got $hp")
    assert(hamming <= 8, s"JPEG re-encode moved $hamming bits")
    // corrupt bytes fall through as None, not an exception
    assert(Multimodal.dHash(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.dHash(Array.emptyByteArray).isEmpty)
  }

  test("encodePngMixed twin: real decode, Hamming <= 1, decorrelated corpus") {
    // the planted near-dup contract behind mm9: for every >= 9x8
    // raster the inverted-first-pixel twin lands within Hamming 1
    for (id <- 0L until 40L) {
      val w = 9 + (id % 8).toInt
      val h = 8 + ((id * 7 + 3) % 8).toInt
      val Some((_, _, hb)) = Multimodal.dHash(Multimodal.encodePngMixed(w, h, id))
      val Some((_, _, ht)) = Multimodal.dHash(
        Multimodal.encodePngMixed(w, h, id, invertFirst = true))
      val d = java.lang.Long.bitCount(hb ^ ht)
      assert(d <= 1, s"twin of id=$id at ${w}x$h moved $d bits")
    }
    // and UNRELATED images must NOT pair: the addrPixel affine
    // structure made same-dims rasters constant-offset relatives
    // (super-linear pair growth); mixedPixel's xor breaks it
    val hashes = (0L until 60L).map { id =>
      Multimodal.dHash(Multimodal.encodePngMixed(12, 10, id)).get._3
    }
    val closePairs = (for {
      i <- hashes.indices; j <- hashes.indices if i < j
      if java.lang.Long.bitCount(hashes(i) ^ hashes(j)) <= 3
    } yield (i, j)).size
    assert(closePairs == 0, s"$closePairs same-dims base pairs within Hamming 3")
    // degenerate raster guard
    intercept[IllegalArgumentException](Multimodal.encodePngMixed(8, 8, 1L))
  }

  test("audioFingerprint: real decode, level-invariant contour, guarded fallthrough") {
    val bytes = Multimodal.encodeWavAddr(2, 8000, 100, id = 11L)
    // actual RIFF container, not fabricated bytes
    assert(bytes(0) == 'R'.toByte && bytes(1) == 'I'.toByte)
    val Some((ch, nf, contour, energy)) = Multimodal.audioFingerprint(bytes)
    assert(ch == 2 && nf == 100L && energy > 0L)
    assert(Multimodal.audioFingerprint(bytes).get == ((ch, nf, contour, energy)))
    // HALF-VOLUME copy: energies scale by ~1/4 uniformly, so the
    // rising/falling contour — the fingerprint — is unchanged
    val half = {
      import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
      val n = 100 * 2
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = Multimodal.addrSample(11L, i.toLong) / 2
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 2, true, false)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 100L),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val Some((_, _, halfContour, halfEnergy)) = Multimodal.audioFingerprint(half)
    assert(halfContour == contour, "level shift must not move the contour")
    assert(halfEnergy < energy)
    // guarded fallthrough: corrupt, empty, and too-short clips
    assert(Multimodal.audioFingerprint(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.audioFingerprint(Array.emptyByteArray).isEmpty)
    assert(Multimodal.audioFingerprint(
      Multimodal.encodeWavAddr(1, 8000, 4, id = 1L)).isEmpty)
  }

  test("decodeStub is deterministic and bounded") {
    val m = Multimodal.decodeStub(7L, "hello world".getBytes("UTF-8"))
    assert(m == Multimodal.decodeStub(7L, "hello world".getBytes("UTF-8")))
    assert(m.nBytes == 11L && m.width >= 64 && m.width < 320 && m.channels == 3)
  }

  test("decodeImage round-trips REAL PNG bytes written by ImageIO") {
    val bytes = Multimodal.encodePng(37, 21, seed = 42L)
    // sanity: actual PNG magic, not fabricated bytes
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'.toByte)
    val m = Multimodal.decodeImage(5L, bytes).get
    assert(m.width == 37 && m.height == 21 && m.channels == 3)
    assert(m.format == "image/png" && m.nBytes == bytes.length.toLong)
  }

  test("decodeImage reads JPEG and grayscale headers correctly") {
    import java.awt.image.BufferedImage
    def enc(img: BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val jpg = Multimodal.decodeImage(1L,
      enc(new BufferedImage(64, 48, BufferedImage.TYPE_3BYTE_BGR), "jpg")).get
    assert(jpg.width == 64 && jpg.height == 48 && jpg.format == "image/jpeg")
    val gray = Multimodal.decodeImage(2L,
      enc(new BufferedImage(8, 8, BufferedImage.TYPE_BYTE_GRAY), "png")).get
    assert(gray.channels == 1 && gray.format == "image/png")
  }

  test("resizeNearest decodes the REAL raster and samples exact pixels") {
    // identity resize = sum of ALL addrPixel values (PNG is lossless,
    // so a full-raster decode must reproduce the pattern exactly)
    val (w, h, id) = (11, 7, 123L)
    val bytes = Multimodal.encodePngAddr(w, h, id)
    val all = (0L until w.toLong * h).map(Multimodal.addrPixel(id, _)).map(_.toLong).sum
    assert(Multimodal.resizeNearest(bytes, w, h) == Some((w, h, all)))
    // 4x4 downsample = the 16 nearest-neighbor source indices
    val expect = (for (oy <- 0 until 4; ox <- 0 until 4) yield
      Multimodal.addrPixel(id, (oy * h / 4).toLong * w + (ox * w / 4)).toLong).sum
    assert(Multimodal.resizeNearest(bytes, 4, 4) == Some((w, h, expect)))
    // upsample replicates pixels; junk decodes to None
    assert(Multimodal.resizeNearest(Multimodal.encodePngAddr(1, 1, 5L), 3, 3) ==
      Some((1, 1, 9L * Multimodal.addrPixel(5L, 0L))))
    assert(Multimodal.resizeNearest("not a png".getBytes("UTF-8"), 4, 4).isEmpty)
  }

  test("wavContainer is byte-identical to AudioSystem.write across the fixture grid") {
    // the hand-rolled canonical RIFF writer replaced AudioSystem.write
    // in the encoders (its static synchronized provider registry made
    // 32 parallel encode tasks slower than one) — this pins the bytes
    // to the real JDK writer so the REAL-decode contract is unchanged
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    for (ch <- Seq(1, 2); rate <- Seq(8000, 44100); nf <- Seq(9, 64, 319)) {
      val ours = Multimodal.encodeWavAddr(ch, rate, nf, id = 42L)
      val pcm = new Array[Byte](nf * ch * 2)
      var i = 0
      while (i < nf * ch) {
        val s = Multimodal.addrSample(42L, i.toLong)
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(rate.toFloat, 16, ch, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nf.toLong)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      assert(java.util.Arrays.equals(ours, out.toByteArray),
        s"container bytes diverge at ch=$ch rate=$rate nf=$nf")
    }
  }

  test("decodeAudio round-trips REAL WAV bytes written by the JDK encoder") {
    val bytes = Multimodal.encodeWav(channels = 2, sampleRateHz = 16000,
      nFrames = 333, seed = 11L)
    // sanity: actual RIFF/WAVE container with the expected exact size
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(bytes.length == 44 + 333 * 2 * 2)
    val m = Multimodal.decodeAudio(9L, bytes).get
    assert(m.channels == 2 && m.sampleRateHz == 16000 && m.nFrames == 333L)
    assert(m.format == "audio/wav" && m.nBytes == bytes.length.toLong)
  }

  test("decodeAudio reads AIFF headers; rejects images and junk") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val pcm = new Array[Byte](100 * 2) // 100 mono 16-bit frames
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
      new AudioFormat(8000f, 16, 1, true, true), 100L)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.AIFF, out)
    val m = Multimodal.decodeAudio(1L, out.toByteArray).get
    assert(m.channels == 1 && m.sampleRateHz == 8000 && m.nFrames == 100L)
    assert(m.format == "audio/aif")
    assert(Multimodal.decodeAudio(2L, Multimodal.encodePng(4, 4, 0L)).isEmpty)
    assert(Multimodal.decodeAudio(3L, "not audio".getBytes("UTF-8")).isEmpty)
  }

  test("decodeAudioAll drops undecodable blobs instead of faking them") {
    val blobs = spark.createDataset(Seq(
      (1L, Multimodal.encodeWav(1, 8000, 10, seed = 1L)),
      (2L, "junk".getBytes("UTF-8"))))
    val metas = Multimodal.decodeAudioAll(spark, blobs).collect()
    assert(metas.map(_.id).toSeq == Seq(1L) && metas.head.nFrames == 10L)
  }

  test("decodeMp4 round-trips a minimal ISO-BMFF box tree; audio-track 0x0 dims skipped") {
    val bytes = Multimodal.encodeMp4(width = 640, height = 352, durationMs = 12345L)
    assert(new String(bytes.slice(4, 8), "US-ASCII") == "ftyp")
    val m = Multimodal.decodeMp4(3L, bytes).get
    assert(m.width == 640 && m.height == 352 && m.durationMs == 12345L)
    assert(m.format == "video/mp4" && m.nBytes == bytes.length.toLong)
    // not an MP4: PNG, WAV, junk, truncated box tree all reject cleanly
    assert(Multimodal.decodeMp4(1L, Multimodal.encodePng(4, 4, 0L)).isEmpty)
    assert(Multimodal.decodeMp4(2L, Multimodal.encodeWav(1, 8000, 5, 0L)).isEmpty)
    assert(Multimodal.decodeMp4(4L, "junk".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeMp4(5L, bytes.take(40)).isEmpty)
  }

  test("decodeMp4 parses layouts its own encoder never emits (v1 mvhd, free boxes, audio track first)") {
    // hand-built box tree breaking every encodeMp4 assumption: a `free`
    // box between top-level boxes, mvhd VERSION 1 (64-bit times,
    // timescale 90000), an AUDIO trak (0x0 dims) BEFORE the video trak
    // — the parser must skip the unknown box, read the v1 offsets, and
    // take the first NONZERO-dim track
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(t: String, p: Array[Byte]): Array[Byte] =
      be32(8L + p.length) ++ t.getBytes("US-ASCII") ++ p
    val mvhdV1 = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ new Array[Byte](16) ++ // v1 + ctime/mtime 8+8
        be32(90000L) ++ be32(0L) ++ be32(180000L) ++     // timescale, duration hi/lo
        new Array[Byte](80))
    def tkhd(w: Int, h: Int, ver: Byte) = box("tkhd",
      Array[Byte](ver, 0, 0, 0) ++
        new Array[Byte](if (ver == 1) 84 else 72) ++ // v1 times are 8 bytes
        be32(w.toLong << 16) ++ be32(h.toLong << 16))
    val bytes = box("ftyp", "isom".getBytes("US-ASCII")) ++
      box("free", new Array[Byte](13)) ++
      box("moov",
        box("trak", tkhd(0, 0, 0)) ++      // audio track: 0x0, must be skipped
          mvhdV1 ++
          box("trak", tkhd(1280, 720, 1))) // v1 tkhd, dims still last 8 bytes
    val m = Multimodal.decodeMp4(7L, bytes).get
    assert(m.width == 1280 && m.height == 720,
      s"wrong track picked: ${m.width}x${m.height}")
    assert(m.durationMs == 2000L, s"v1 mvhd misread: ${m.durationMs}") // 180000/90000 s
  }

  test("corrupt media bytes fall through cleanly (valid magic, truncated body)") {
    // PNG magic but the header chunk is cut off: reader init/getWidth
    // throws inside decodeImage and must yield None, not propagate
    val png = Multimodal.encodePng(20, 20, seed = 1L)
    assert(Multimodal.decodeImage(1L, png.take(16)).isEmpty)
    // RIFF magic but truncated before fmt: javax.sound rejects -> None
    val wav = Multimodal.encodeWav(1, 8000, 10, seed = 1L)
    assert(Multimodal.decodeAudio(2L, wav.take(10)).isEmpty)
    // and both truncations route to the stub, never crash decode()
    assert(Multimodal.decode(3L, png.take(16)).format == "fake/raw")
  }

  test("decode routes non-image bytes to the audio/video stub path") {
    val m = Multimodal.decode(3L, "not an image".getBytes("UTF-8"))
    assert(m.format == "fake/raw")
    assert(Multimodal.decodeImage(3L, "not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage(4L, Array.empty[Byte]).isEmpty)
  }

  test("decodeAll processes blobs per-partition (mapInPandas analog)") {
    val blobs = spark.createDataset(Seq(
      (1L, "abc".getBytes("UTF-8")), (2L, Array.empty[Byte]),
      (3L, Multimodal.encodePng(10, 4, seed = 3L))))
    val metas = Multimodal.decodeAll(spark, blobs).collect().sortBy(_.id)
    assert(metas.map(_.format).toSeq == Seq("fake/raw", "fake/raw", "image/png"))
    assert(metas(2).width == 10 && metas(2).height == 4)
  }

  test("frameOffsets yields at least one in-range frame") {
    assert(Multimodal.frameOffsets(0L) == Seq(0L))
    val offs = Multimodal.frameOffsets(2500L)
    assert(offs.size == 3 && offs.forall(o => o >= 0 && o < 2500))
  }
}

class AsOfJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("backward as-of join picks latest right <= left time, per key") {
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (2L, 10L, "e3"), (3L, 10L, "e4"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 5L, 100L), (1L, 20L, 200L), (1L, 30L, 300L), (2L, 10L, 400L))
      .toDF("rk", "rt", "v")
    val out = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("v"))
      .select("ev", "v").as[(String, Long)].collect().toMap
    assert(out == Map("e1" -> 100L, "e2" -> 200L, "e3" -> 400L)) // e4: no match, inner drops
  }

  test("as-of tolerance: matches beyond the lookback window count as no match") {
    // times are integer SECONDS (cast to timestamp); tolerance in µs.
    // key 1: match 15 s old — within 20 s tolerance, beyond 5 s.
    val left = Seq((1L, 100L, "e1"), (2L, 100L, "e2")).toDF("k", "t", "ev")
    val right = Seq((1L, 85L, 10L), (2L, 99L, 20L)).toDF("rk", "rt", "v")
    def run(tolUs: Option[Long], inner: Boolean) =
      AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("v"),
        inner = inner, toleranceUs = tolUs)
    assert(run(Some(20000000L), inner = true).select("ev", "v")
      .as[(String, Long)].collect().toMap == Map("e1" -> 10L, "e2" -> 20L))
    // 5 s tolerance: e1's 15 s-old match is rejected; inner drops it,
    // outer keeps the row with a NULL fill
    assert(run(Some(5000000L), inner = true).select("ev", "v")
      .as[(String, Long)].collect().toMap == Map("e2" -> 20L))
    val outer = run(Some(5000000L), inner = false)
      .select("ev", "v").collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(outer == Map("e1" -> true, "e2" -> false))
    // nearest honors the same gate in both directions
    val near = AsOfJoin.nearest(left, right, "k", "rk", "t", "rt", Seq("v"),
      toleranceUs = Some(5000000L)).select("ev", "v")
      .as[(String, Long)].collect().toMap
    assert(near == Map("e2" -> 20L))
  }

  test("forward as-of picks earliest right >= left time; exact tie matches") {
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (1L, 31L, "e3"), (2L, 20L, "e4"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 5L, 100L), (1L, 25L, 200L), (1L, 30L, 300L), (2L, 10L, 400L))
      .toDF("rk", "rt", "v")
    val out = AsOfJoin.forward(left, right, "k", "rk", "t", "rt", Seq("v"))
      .select("ev", "v").as[(String, Long)].collect().toMap
    // e2 matches its exact-time right row; e3 (past the last right row)
    // and e4 (right only earlier) drop under inner semantics
    assert(out == Map("e1" -> 200L, "e2" -> 200L))
  }

  test("nearest as-of: closer side wins, equidistant resolves backward") {
    val left = Seq((1L, 10L, "eq"), (1L, 14L, "fw"), (1L, 6L, "bw"),
      (1L, 2L, "only_fw"), (2L, 50L, "only_bw"), (3L, 1L, "none"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 5L, 100L), (1L, 15L, 200L), (2L, 10L, 400L))
      .toDF("rk", "rt", "v")
    val out = AsOfJoin.nearest(left, right, "k", "rk", "t", "rt", Seq("v"))
      .select("ev", "v").as[(String, Long)].collect().toMap
    // eq: both at distance 5 -> backward; only_fw/only_bw: one-sided;
    // none: no right rows for key 3, inner drops
    assert(out == Map("eq" -> 100L, "fw" -> 200L, "bw" -> 100L,
      "only_fw" -> 100L, "only_bw" -> 400L))
  }

  test("nearest as-of: exact-time right row is the zero-distance backward match") {
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "ev")
    val right = Seq((1L, 10L, 100L), (1L, 11L, 200L)).toDF("rk", "rt", "v")
    val out = AsOfJoin.nearest(left, right, "k", "rk", "t", "rt", Seq("v"))
      .select("ev", "v").as[(String, Long)].collect().toMap
    assert(out == Map("x" -> 100L))
  }

  test("as-of fill is atomic: a right row with NULL values is never torn") {
    // right at t=1 has (7, 5); right at t=5 has (9, NULL). A left row at
    // t=6 must get (9, NULL) — not orderkey from one row and total from
    // another.
    val left = Seq((1L, 6L, "e1")).toDF("k", "t", "ev")
    val right = Seq((1L, 1L, Some(7L), Some(5L)), (1L, 5L, Some(9L), None))
      .toDF("rk", "rt", "ok", "total")
    val out = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("ok", "total"))
      .select("ok", "total").collect().head
    assert(out.getLong(0) == 9L && out.isNullAt(1), s"torn row: $out")
  }

  test("left as-of keeps unmatched rows with null") {
    val left = Seq((3L, 10L, "e4")).toDF("k", "t", "ev")
    val right = Seq((1L, 5L, 100L)).toDF("rk", "rt", "v")
    val out = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("v"), inner = false)
    assert(out.count() == 1 && out.filter(col("v").isNull).count() == 1)
  }

  test("dedupRightBy collapses duplicate right (key,time) rows deterministically") {
    val left = Seq((1L, 10L, "e1"), (1L, 3L, "e2")).toDF("k", "t", "ev")
    // two right rows at (1, 5): without dedup the fill would be
    // nondeterministic; max_by(v) must keep v=200
    val right = Seq((1L, 5L, 100L), (1L, 5L, 200L), (1L, 8L, 50L))
      .toDF("rk", "rt", "v")
    val bw = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("v"),
      dedupRightBy = Some(col("v")))
      .select("ev", "v").as[(String, Long)].collect().toMap
    assert(bw == Map("e1" -> 50L)) // e2 at t=3 precedes all right rows
    val fw = AsOfJoin.forward(left, right, "k", "rk", "t", "rt", Seq("v"),
      dedupRightBy = Some(col("v")))
      .select("ev", "v").as[(String, Long)].collect().toMap
    assert(fw == Map("e2" -> 200L)) // earliest right >= 3 is the deduped (1,5) row
    val nr = AsOfJoin.nearest(left, right, "k", "rk", "t", "rt", Seq("v"),
      dedupRightBy = Some(col("v")))
      .select("ev", "v").as[(String, Long)].collect().toMap
    assert(nr == Map("e1" -> 50L, "e2" -> 200L))
  }

  test("agg variants match groupBy-then-join on every direction (r15 rewrite)") {
    // raw right with DUPLICATE (key, time) groups, a NULL value, an
    // exact-time tie, a left-only key and a right-only key — the agg
    // variants must reproduce groupBy(key,time).agg(...) + plain join
    // byte for byte (this is the q17/q39/q40 equivalence contract)
    val left = Seq((1L, 10L, "a"), (1L, 25L, "b"), (1L, 5L, "c"),
      (2L, 20L, "d"), (3L, 7L, "e")).toDF("k", "t", "ev")
    val rightRaw = Seq(
      (1L, 5L, Some(100L), Some(7L)), (1L, 5L, Some(150L), Some(3L)),
      (1L, 25L, Some(200L), None), (1L, 30L, None: Option[Long], Some(9L)),
      (2L, 50L, Some(400L), Some(1L)), (4L, 1L, Some(500L), Some(2L)))
      .toDF("rk", "rt", "ok", "total")
    val aggs = Seq("ok" -> max(col("ok")), "total" -> sum(col("total")))
    val pre = rightRaw.groupBy(col("rk"), col("rt"))
      .agg(max(col("ok")).as("ok"), sum(col("total")).as("total"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("ev", "ok", "total", "asof_time")
        .collect().map(_.toSeq).toSet
    for (inner <- Seq(true, false); tol <- Seq(None, Some(12000000L))) {
      assert(rows(AsOfJoin.backwardAgg(left, rightRaw, "k", "rk", "t", "rt",
          aggs, inner = inner, toleranceUs = tol)) ==
        rows(AsOfJoin.backward(left, pre, "k", "rk", "t", "rt",
          Seq("ok", "total"), inner = inner, toleranceUs = tol)),
        s"backwardAgg mismatch inner=$inner tol=$tol")
      assert(rows(AsOfJoin.forwardAgg(left, rightRaw, "k", "rk", "t", "rt",
          aggs, inner = inner, toleranceUs = tol)) ==
        rows(AsOfJoin.forward(left, pre, "k", "rk", "t", "rt",
          Seq("ok", "total"), inner = inner, toleranceUs = tol)),
        s"forwardAgg mismatch inner=$inner tol=$tol")
      assert(rows(AsOfJoin.nearestAgg(left, rightRaw, "k", "rk", "t", "rt",
          aggs, inner = inner, toleranceUs = tol)) ==
        rows(AsOfJoin.nearest(left, pre, "k", "rk", "t", "rt",
          Seq("ok", "total"), inner = inner, toleranceUs = tol)),
        s"nearestAgg mismatch inner=$inner tol=$tol")
    }
  }

  test("agg variants reject a right column with a reserved name (__s)") {
    // forwardAgg derives its own __s sort column on the union: a right
    // column of that name would be silently overwritten before the
    // aggs read it, so every agg variant must refuse it up front
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "ev")
    val rightRaw = Seq((1L, 5L, 100L)).toDF("rk", "rt", "__s")
    val aggs = Seq("v" -> max(col("__s")))
    def rejects(join: => Any): Unit = {
      val e = intercept[IllegalArgumentException](join)
      assert(e.getMessage.contains("reserved"), e.getMessage)
    }
    rejects(AsOfJoin.backwardAgg(left, rightRaw, "k", "rk", "t", "rt", aggs))
    rejects(AsOfJoin.forwardAgg(left, rightRaw, "k", "rk", "t", "rt", aggs))
    rejects(AsOfJoin.nearestAgg(left, rightRaw, "k", "rk", "t", "rt", aggs))
  }

  test("agg variants reject order-sensitive aggregates (first, last, collect_list)") {
    // right rows of one (key, time) group reach the group window in no
    // defined order: an order-sensitive agg would answer with whichever
    // row the shuffle delivered first, so every agg variant refuses it,
    // also when it sits inside a larger expression
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "ev")
    val rightRaw = Seq((1L, 5L, 100L), (1L, 5L, 200L)).toDF("rk", "rt", "v")
    val joins = Seq[Seq[(String, Column)] => Any](
      AsOfJoin.backwardAgg(left, rightRaw, "k", "rk", "t", "rt", _),
      AsOfJoin.forwardAgg(left, rightRaw, "k", "rk", "t", "rt", _),
      AsOfJoin.nearestAgg(left, rightRaw, "k", "rk", "t", "rt", _))
    for (bad <- Seq(first(col("v")), last(col("v"), ignoreNulls = true),
        size(collect_list(col("v"))) + 1); join <- joins) {
      val e = intercept[IllegalArgumentException](join(Seq("m" -> max(col("v")), "bad" -> bad)))
      assert(e.getMessage.contains("order-sensitive") && e.getMessage.contains("aggs bad "), e.getMessage)
    }
    // order-insensitive aggs still join
    joins.foreach(join => join(Seq("m" -> max(col("v")), "n" -> count(col("v")))))
  }

  test("agg variants plan ONE exchange for the whole join (no right pre-agg shuffle)") {
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "ev")
    val rightRaw = Seq((1L, 5L, 100L)).toDF("rk", "rt", "v")
    val aggs = Seq("v" -> max(col("v")))
    for ((name, out) <- Seq(
        "backwardAgg" -> AsOfJoin.backwardAgg(left, rightRaw, "k", "rk", "t", "rt", aggs),
        "forwardAgg" -> AsOfJoin.forwardAgg(left, rightRaw, "k", "rk", "t", "rt", aggs),
        "nearestAgg" -> AsOfJoin.nearestAgg(left, rightRaw, "k", "rk", "t", "rt", aggs))) {
      val plan = out.queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      assert(exchanges == 1, s"$name plans $exchanges exchanges (want 1):\n$plan")
      // the group agg's FULL-unbounded frame is the O(group)
      // UnboundedWindowFunctionFrame; only a moving-start frame ending
      // at unboundedfollowing re-aggregates the suffix per row (O(k²))
      assert(!plan.toLowerCase.contains("currentrow$(), unboundedfollowing$()"),
        s"suffix-re-aggregating window frame found in $name plan:\n$plan")
    }
  }

  test("forward/nearest fills use running frames only (no O(k^2) following frame)") {
    // plan-shape guard for the hot-key fix: every window frame in the
    // physical plan must be "unboundedpreceding$() ... currentrow$()" —
    // an unboundedfollowing$() frame would re-aggregate the partition
    // suffix per row
    val left = Seq((1L, 10L, "e1")).toDF("k", "t", "ev")
    val right = Seq((1L, 5L, 100L)).toDF("rk", "rt", "v")
    for (out <- Seq(
        AsOfJoin.forward(left, right, "k", "rk", "t", "rt", Seq("v")),
        AsOfJoin.nearest(left, right, "k", "rk", "t", "rt", Seq("v")))) {
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("unboundedfollowing"),
        s"following-frame window found in plan:\n$plan")
    }
  }
}

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("quality classifier: bag semantics, exact score under a 1-bucket model") {
    // buckets=1 pins every feature to bucket 0, whose synthetic weight
    // is knuthMix(0) % 2001 - 1000 = -1000 — so score = -1000 * n_feats
    // exactly, and n_feats = unigrams + bigrams = 2*words - 1.
    val docs = Seq((1L, "a b c a"), (2L, "solo"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val w1 = graft.operators.QualityModel.syntheticWeights(spark, 1)
    val got = graft.operators.QualityModel.score(docs, "doc_id", "text", w1, 1)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    assert(got(0) == ((1L, 7L, -7000L, 0L)))   // 4 words + 3 bigrams, repeats counted
    assert(got(1) == ((2L, 1L, -1000L, 0L)))   // 1 word, no bigram
    assert(got(2) == ((3L, 1L, -1000L, 0L)))   // NULL text -> one empty-string token
  }

  test("quality classifier: synthetic weights bounded and keep tracks score sign") {
    val w = graft.operators.QualityModel.syntheticWeights(spark, 4096)
    val (lo, hi, n) = w.agg(min("w"), max("w"), count(lit(1)))
      .as[(Long, Long, Long)].head()
    assert(n == 4096 && lo >= -1000 && hi <= 1000)
    val docs = Seq((1L, "x y z"), (2L, "p q")).toDF("doc_id", "text")
    val out = graft.operators.QualityModel.score(docs, "doc_id", "text", w, 4096)
      .as[(Long, Long, Long, Long)].collect()
    out.foreach { case (_, _, score, keep) =>
      assert(keep == (if (score > 0) 1L else 0L))
    }
  }

  test("urls + urlDomain: both schemes extracted, subdomains stripped, bare hosts kept") {
    val d = Seq(("read https://a.b.example.org/x and http://cdn.ref2.net/y done", 1L),
      ("no links here", 2L), ("bare http://localhost/z", 3L)).toDF("text", "id")
    val got = d.select(col("id"), explode(TextOps.urls(col("text"))).as("u"))
      .select(col("id"), TextOps.urlDomain(col("u")).as("dom"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "example.org"), (1L, "ref2.net"), (3L, "localhost")))
  }

  test("shingles: distinct n-grams; short docs empty") {
    val d = Seq(("a b c d", 1), ("a b", 2)).toDF("text", "id")
    val sh = d.orderBy("id").select(TextOps.shingles(col("text"), 3)).as[Seq[String]].collect()
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq.empty)
  }

  test("langId picks dominant profile with first-wins ties") {
    val d = Seq(
      ("the cat is in the house", "en"),
      ("der hund ist nicht zu haus", "de"),
      ("le chat est dans la maison", "fr"),
      ("nothing matching here", "en")).toDF("text", "expect")
    val out = d.select(col("expect"), TextOps.langId(col("text")).as("got"))
      .as[(String, String)].collect()
    out.foreach { case (e, g) => assert(e == g, s"expected $e got $g") }
  }

  test("fingerprint matches a local reference implementation") {
    val s = "hash me"
    val want = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    val got = Seq(s).toDF("text")
      .select(aggregate(
        transform(sequence(lit(1), length(col("text"))),
          i => ascii(col("text").substr(i, lit(1)))),
        lit(0L), (acc, c) => (acc * 31 + c) % 1000000007L)).as[Long].head()
    assert(got == want)
    // and the native codegen'd poly_hash computes the identical value
    val native = Seq(s, "", "another longer string with more text").toDF("text")
      .select(PolyHash.col(col("text"))).as[Long].collect().toSeq
    val model = Seq(s, "", "another longer string with more text")
      .map(_.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L))
    assert(native == model)
  }

  test("ngrams preserve duplicate occurrences; shingles dedup them") {
    val d = Seq(("a b a b a", 1)).toDF("text", "id")
    val g = d.select(TextOps.ngrams(col("text"), 2)).as[Seq[String]].head()
    assert(g == Seq("a b", "b a", "a b", "b a"))
    val sh = d.select(TextOps.shingles(col("text"), 2)).as[Seq[String]].head()
    assert(sh == Seq("a b", "b a"))
  }

  test("wordChunks: total cover, last chunk short, empty text one chunk") {
    val d = Seq("a b c d e f g", "a b c", "").toDF("text")
    val ch = d.select(TextOps.wordChunks(col("text"), 3)).as[Seq[String]].collect()
    assert(ch(0) == Seq("a b c", "d e f", "g"))
    assert(ch(1) == Seq("a b c"))
    assert(ch(2) == Seq(""))
  }

  test("PII count + redact: emails and IPs found and replaced, digit runs counted") {
    val d = Seq("mail me at bob99@corp.example.org or 192.168.0.1 ref 123456 x 12").toDF("text")
    val out = d.select(
      TextOps.countMatches(col("text"), TextOps.EmailRe),
      TextOps.countMatches(col("text"), TextOps.Ipv4Re),
      TextOps.countMatches(col("text"), TextOps.DigitRunRe),
      TextOps.redactPii(col("text"))).as[(Long, Long, Long, String)].head()
    assert(out._1 == 1 && out._2 == 1 && out._3 == 1)
    assert(out._4 == "mail me at <EMAIL> or <IP> ref 123456 x 12")
  }
}
