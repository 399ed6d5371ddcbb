package perfbench

import org.apache.spark.sql.Row

import graft.operators.{CacheTracker, Dedup, Similarity}

/** `index_upkeep`: set-up builds a persisted MinHash-LSH near-dup index
  * and an IVF vector index; each round makes one maintenance write
  * (merge a seeded delta into the near-dup index, append a delta to the
  * IVF index) and then read probes of seeded batches against both.
  */
final class IndexUpkeep(ctx: Ctx) extends Workload {
  import ctx.spark

  val nCorpus: Int = if (ctx.tiny) 800 else 2000
  val nVectors: Int = if (ctx.tiny) 1600 else 4000
  val deltaDocs: Int = if (ctx.tiny) 50 else 100
  val deltaVecs: Int = if (ctx.tiny) 100 else 200
  val probeDocs = 100
  val probeQueries = 16
  val TopK = 10
  val NCells = 16
  /** Read probes per round, alternating near-dup and vector probes. */
  val ProbesPerRound = 4
  val opUnit = "index probes (near-dup and IVF pooled)"
  val itemUnit = "rows admitted per second of maintenance wall (ingest_rows_per_s)"
  def describe = s"corpus_docs=$nCorpus vectors=$nVectors delta=$deltaDocs docs + $deltaVecs vectors per round, " +
    s"$ProbesPerRound probes per round ($probeDocs docs or $probeQueries queries each)"

  private val ProbeIdBase = 500000000L
  private val QueryIdBase = 900000000L

  private var base = ""
  private var index = ""
  private var spare = ""
  private var ivf = ""
  private var centres: Vector[Array[Float]] = Vector.empty
  private val deltas = scala.collection.mutable.ArrayBuffer.empty[Gen.Doc]
  private val deltaVectors = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private var corpusTexts: Vector[String] = Vector.empty
  private var nextDoc = 0L
  private var nextVec = 0L
  private var nextProbe = ProbeIdBase
  private var nextQuery = QueryIdBase
  private var roundNo = 0
  private var setupRecall = 0.0

  def setupRep(rep: Int): Unit = {
    base = s"${ctx.dir}/rep$rep"
    index = s"$base/neardup_a"
    spare = s"$base/neardup_b"
    ivf = s"$base/ivf"
    val r = Gen.rng(ctx.seed, 3)
    corpusTexts = Vector.fill(nCorpus)(Gen.randomText(r, 20, 100))
    Gen.toDF(spark, corpusTexts.zipWithIndex.map { case (t, i) => Gen.Doc(i.toLong, t, s"src${i % Gen.Sources}") }, 8)
      .write.mode("overwrite").parquet(s"$base/corpus")
    Dedup.buildNearDupIndex(spark.read.parquet(s"$base/corpus"), index, "text", "doc_id")
    centres = Gen.centres(ctx.seed)
    Gen.vecDF(spark, Gen.vectors(ctx.seed, 4, (0L until nVectors.toLong), centres), "vec_id", "embedding", 8)
      .write.mode("overwrite").parquet(s"$base/vectors")
    Similarity.buildIvfIndex(spark.read.parquet(s"$base/vectors"), ivf, NCells)
    deltas.clear(); deltaVectors.clear()
    nextDoc = nCorpus; nextVec = nVectors
    setupRecall = recall(queryRows())._1
  }

  def warm(m: Meter): Unit = round(m, record = false)

  def round(m: Meter): Unit = round(m, record = true)

  private def round(m: Meter, record: Boolean): Unit = {
    // maintenance write: near-dup merge and IVF append of a seeded delta
    val r = Gen.rng(ctx.seed, 100 + roundNo)
    val docs = Vector.fill(deltaDocs) {
      val d = Gen.Doc(nextDoc, Gen.randomText(r, 20, 100), "delta"); nextDoc += 1; d
    }
    val vecs = Gen.vectors(ctx.seed, 200 + roundNo, (nextVec until nextVec + deltaVecs), centres)
    nextVec += deltaVecs
    val (_, ms) = ctx.timed(ctx.op("maintenance") {
      ctx.step("merge") {
        Dedup.mergeNearDupIndex(spark, index, Gen.toDF(spark, docs, 4), spare, "text", "doc_id")
      }
      ctx.step("append") {
        Similarity.appendToIvfIndex(spark, Gen.vecDF(spark, vecs, "vec_id", "embedding", 4), ivf)
      }
    })
    val swap = index; index = spare; spare = swap
    deltas ++= docs
    deltaVectors ++= vecs
    m.check(spark.read.parquet(s"$index/hashes").count() == nextDoc,
      s"index_upkeep merge: hashes rows != ${nextDoc}")
    if (record) { m.items += deltaDocs + deltaVecs; m.itemSec += ms / 1000 }
    (0 until ProbesPerRound).foreach { p =>
      if (p % 2 == 0) m.guard("near-dup probe")(lshProbe(m, sampled = p == 0, record))
      else m.guard("IVF probe")(ivfProbe(m, sampled = p == 1, record))
    }
    if (record) m.pinnedMb += JvmCounters.cachedMb(spark)
    CacheTracker.release(spark)
    roundNo += 1
  }

  /** A probe batch: half near-copies of indexed documents (must be
    * dropped), half fresh documents (must survive).
    */
  private def lshProbe(m: Meter, sampled: Boolean, record: Boolean): Unit = {
    val r = Gen.rng(ctx.seed, 1000000L + nextProbe)
    val indexed = corpusTexts.size + deltas.size
    val batch = Vector.tabulate(probeDocs) { k =>
      val id = nextProbe + k
      if (k % 2 == 0) {
        val i = r.nextInt(indexed)
        val src = if (i < corpusTexts.size) corpusTexts(i) else deltas(i - corpusTexts.size).text
        Gen.Doc(id, Gen.nearCopy(r, src, Gen.NearJaccardLo, Gen.NearJaccardHi).getOrElse(src), "probe")
      } else Gen.Doc(id, Gen.randomText(r, 20, 100), "probe")
    }
    nextProbe += probeDocs
    val fresh = batch.indices.filter(_ % 2 == 1).map(k => batch(k).id).toSet
    val df = Gen.toDF(spark, batch, 4)
    val (got, ms) = ctx.timed(ctx.op("probe_neardup")(ctx.step("probe") {
      Dedup.indexedNearDupSurvivors(spark, index, df, "text", "doc_id").collect().map(_.getLong(0)).toSet
    }))
    val seen = if (ctx.plantFault()) got - got.head else got
    val inline = if (!sampled) seen else {
      val corpus = spark.read.parquet(s"$base/corpus").select("doc_id", "text")
        .unionByName(Gen.toDF(spark, deltas.toSeq, 4).select("doc_id", "text"))
      Dedup.incrementalNearDupSurvivors(corpus, df.select("doc_id", "text"), "text", "doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    m.check(seen == fresh && inline == seen,
      s"index_upkeep near-dup probe: ${seen.size} survivors, ${fresh.size} fresh, inline ${inline.size}")
    if (record) m.latMs += ms
  }

  private def queryRows(): Vector[(Long, Array[Float])] = {
    val q = Gen.vectors(ctx.seed, 5000000L + nextQuery, (nextQuery until nextQuery + probeQueries), centres)
    nextQuery += probeQueries
    q
  }

  /** (IVF recall@k against brute force, IVF result rows). */
  private def recall(q: Vector[(Long, Array[Float])]): (Double, Int) = {
    val qdf = Gen.vecDF(spark, q, "qid", "qvec", 1)
    val ivfRows = Similarity.ivfIndexTopK(spark, ivf, qdf, TopK).select("qid", "vec_id").collect()
    val all = spark.read.parquet(s"$base/vectors")
      .unionByName(Gen.vecDF(spark, deltaVectors.toSeq, "vec_id", "embedding", 4))
    val exact = Similarity.bruteForceTopK(all, qdf, TopK).select("qid", "vec_id").collect()
    def pairs(rs: Array[Row]) = rs.map(x => (x.getLong(0), x.getLong(1))).toSet
    ((pairs(ivfRows) intersect pairs(exact)).size.toDouble / exact.length, ivfRows.length)
  }

  private def ivfProbe(m: Meter, sampled: Boolean, record: Boolean): Unit = {
    val q = queryRows()
    val qdf = Gen.vecDF(spark, q, "qid", "qvec", 1)
    val (rows, ms) = ctx.timed(ctx.op("probe_ivf")(ctx.step("probe") {
      Similarity.ivfIndexTopK(spark, ivf, qdf, TopK).collect()
    }))
    val n = if (ctx.plantFault()) rows.length - 1 else rows.length
    val rec = if (sampled) {
      nextQuery -= probeQueries // re-check the same queries
      recall(queryRows())._1
    } else setupRecall
    m.check(n == probeQueries * TopK && rec >= setupRecall,
      s"index_upkeep IVF probe: $n rows, recall $rec vs set-up $setupRecall")
    if (record) m.latMs += ms
  }
}
