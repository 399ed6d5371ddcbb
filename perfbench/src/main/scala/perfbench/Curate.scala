package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, CacheTracker, Dedup, QualityModel, TextOps}

/** `curate`: one operation is one full pass of a document-curation
  * pipeline from source parquet to written output, composed of existing
  * operators only. Each step writes parquet and the next step reads it,
  * the way curation pipelines checkpoint between stages.
  */
final class Curate(ctx: Ctx) extends Workload {
  import ctx.spark

  val nDocs: Int = if (ctx.tiny) 600 else 2000
  val opUnit = "curate passes"
  val itemUnit = "input documents per second of pass wall (docs_per_s)"
  def describe = f"corpus_docs=$nDocs eval_docs=${corpus.eval.size} bpe_merges=${merges.size} " +
    f"planted: ${corpus.exactDups.size} exact, ${corpus.nearDups.size} near " +
    f"(Jaccard ${corpus.nearJaccard.min}%.2f-${corpus.nearJaccard.max}%.2f), " +
    f"${corpus.contaminated.size} contaminated, ${corpus.nonEnglish.size} non-English"

  private val QualityBuckets = 4096
  private val BpeRounds = 6
  private val PackBudget = 512

  private var corpus: Gen.Corpus = _
  private var merges: Seq[Bpe.Merge] = Nil
  private var input = ""
  private def out(k: Int) = s"${ctx.dir}/pass/step$k"
  private var digest: Option[(Long, Long)] = None

  def setupRep(rep: Int): Unit = {
    input = s"${ctx.dir}/rep$rep"
    corpus = Gen.corpus(ctx.seed, nDocs)
    Gen.toDF(spark, corpus.docs, 8).write.mode("overwrite").parquet(s"$input/docs")
    Gen.toDF(spark, corpus.eval, 1).write.mode("overwrite").parquet(s"$input/eval")
    val (ms, seg) = Bpe.train(Bpe.corpusVocab(spark.read.parquet(s"$input/docs"), "text"), BpeRounds)
    seg.unpersist()
    merges = ms
  }

  /** Two checked passes: the first measured pass otherwise still runs
    * measurably slower (JIT warm-up).
    */
  def warm(m: Meter): Unit = (1 to 2).foreach { _ =>
    pass()
    checkPass(m)
    CacheTracker.release(spark)
  }

  def round(m: Meter): Unit = m.guard("curate pass")(checkedPass(m))

  private def checkedPass(m: Meter): Unit = {
    val (_, ms) = ctx.timed(ctx.op("pass")(pass()))
    m.latMs += ms
    m.items += nDocs
    m.itemSec += ms / 1000
    m.pinnedMb += JvmCounters.cachedMb(spark)
    ctx.tracer.foreach(_ => countCandidates())
    checkPass(m)
    CacheTracker.release(spark)
  }

  private def read(path: String): DataFrame = spark.read.parquet(path)
  private def write(df: DataFrame, k: Int): Unit = df.write.mode("overwrite").parquet(out(k))

  /** The six pipeline steps. */
  def pass(): Unit = {
    ctx.step("filter") {
      val docs = read(s"$input/docs")
      val kept = docs.filter(TextOps.qualityPass(col("text"), col("n_chars")) &&
        TextOps.langId(col("text")) === "en")
      val scores = QualityModel.score(kept, "doc_id", "text",
        QualityModel.syntheticWeights(spark, QualityBuckets), QualityBuckets)
      write(kept.join(scores.select("doc_id", "score"), "doc_id"), 1)
    }
    ctx.step("exact_dedup") {
      val d = read(out(1))
      write(d.join(Dedup.exactSurvivors(d, "text", "doc_id"), Seq("doc_id"), "left_semi"), 2)
    }
    ctx.step("neardup") {
      val d = read(out(2))
      val dropped = Dedup.nearDupPairs(d, "text", "doc_id").select(col("doc_b").as("doc_id"))
      write(d.join(dropped, Seq("doc_id"), "left_anti"), 3)
    }
    ctx.step("decontam") {
      val d = read(out(3))
      val all = d.select("doc_id", "text").unionByName(read(s"$input/eval").select("doc_id", "text"))
      val report = Dedup.contaminationReport(all, "doc_id", "text", Gen.ContamGram,
        id => id >= Gen.EvalBase)
      write(d.join(report.select("doc_id"), Seq("doc_id"), "left_anti"), 4)
    }
    ctx.step("tokenize") {
      val d = read(out(4))
      val occ = d.select(col("doc_id"), col("source"), explode(TextOps.words(col("text"))).as("word"))
      val seg0 = occ.select("word").distinct().select(col("word"), Bpe.initSeg(col("word")).as("seg"))
      val seg = merges.foldLeft(seg0) { (s, mg) =>
        s.withColumn("seg", call_function("replace", col("seg"),
          lit(s"|${mg.lhs}||${mg.rhs}|"), lit(s"|${mg.lhs}${mg.rhs}|")))
      }
      val perWord = seg.select(col("word"), size(Bpe.symbols(col("seg"))).cast("long").as("n_syms"))
      write(occ.join(broadcast(perWord), "word")
        .groupBy("doc_id", "source").agg(sum("n_syms").as("n_tokens")), 5)
    }
    ctx.step("pack") {
      val w = Window.partitionBy("source").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      write(read(out(5))
        .withColumn("h", TextOps.knuthMix(col("doc_id")))
        .withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr(s"CAST((cum - n_tokens) DIV $PackBudget AS BIGINT)").as("bin")), 6)
    }
  }

  /** Traced runs only, outside the pass: LSH candidate volume behind the
    * near-dup step, and the verified pairs it kept.
    */
  private def countCandidates(): Unit = {
    val sh = read(out(2)).select(col("doc_id"), TextOps.shingles(col("text"), 3).as("__sh"))
    val cand = Dedup.lshCandidatesFromHashes(Dedup.shingleHashTable(sh, "doc_id", "__sh"), 32, 2).count()
    val pairs = read(out(2)).count() - read(out(3)).count()
    ctx.tracer.foreach { t =>
      t.countLast("neardup.candidates", cand.toDouble)
      t.countLast("neardup.pairs", pairs.toDouble)
    }
  }

  private def ids(k: Int): Set[Long] =
    read(out(k)).select("doc_id").collect().map(_.getLong(0)).toSet

  /** Drops at each step equal the planted ground truth, and the output
    * digest is identical across passes.
    */
  private def checkPass(m: Meter): Unit = {
    val s = (1 to 6).map(k => k -> ids(k)).toMap
    val s4 = if (ctx.plantFault()) s(4) - s(4).head else s(4)
    val dg = read(out(6)).agg(count(lit(1)),
      expr("bit_xor(xxhash64(doc_id, source, n_tokens, bin))")).head()
    val d = (dg.getLong(0), dg.getLong(1))
    val ok = (s(1) intersect corpus.nonEnglish).isEmpty &&
      (s(1) -- s(2)) == corpus.exactDups &&
      (s(2) -- s(3)) == corpus.nearDups &&
      (s(3) -- s4) == corpus.contaminated &&
      s(5) == s4 && s(6) == s4 && digest.forall(_ == d)
    if (digest.isEmpty) digest = Some(d)
    m.check(ok, s"curate pass: drops exact ${(s(1) -- s(2)).size}/${corpus.exactDups.size}, " +
      s"near ${(s(2) -- s(3)).size}/${corpus.nearDups.size}, " +
      s"contaminated ${(s(3) -- s4).size}/${corpus.contaminated.size}, digest $d vs ${digest.get}")
  }
}
