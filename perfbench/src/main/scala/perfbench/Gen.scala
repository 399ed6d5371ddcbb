package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextOps

/** Seeded input generators. The same seed gives byte-identical inputs;
  * everything is drawn on the driver with one `java.util.SplittableRandom`
  * per purpose, so the ground truth (which documents are planted
  * duplicates, near-duplicates, contaminated or non-English) is known
  * exactly.
  */
object Gen {

  /** The sf0.1 documents vocabulary (every word but the `dup` marker),
    * stopwords `the`/`a` included, so generated text passes the
    * quality and language filters the way the sf0.1 corpus does.
    */
  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  private val GermanWords: Vector[String] =
    TextOps.LangProfiles.collectFirst { case ("de", ws) => ws.toVector }.get
  private val NonStop: Vector[String] = Vocab.filterNot(TextOps.StopwordsEn.contains)

  /** Eval-split ids start here, far above any training id. */
  val EvalBase: Long = 1000000000L
  val Sources: Int = 20

  def rng(seed: Long, salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + salt)

  final case class Doc(id: Long, text: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def toDF(spark: SparkSession, docs: Seq[Doc], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text, d.source, d.nChars)), parts), DocSchema)

  def words(r: java.util.SplittableRandom, n: Int, from: Vector[String]): Vector[String] =
    Vector.fill(n)(from(r.nextInt(from.length)))

  def randomText(r: java.util.SplittableRandom, minWords: Int, maxWords: Int): String =
    words(r, minWords + r.nextInt(maxWords - minWords + 1), Vocab).mkString(" ")

  /** Driver mirror of `TextOps.qualityPass && TextOps.langId == "en"`,
    * used only to pick plant sources that survive the filter step.
    */
  def passesFilter(text: String): Boolean = {
    val w = text.split(" ")
    def hits(v: Seq[String]) = w.count(v.contains)
    val en = hits(TextOps.StopwordsEn)
    val others = TextOps.LangProfiles.tail.map { case (_, v) => hits(v) }
    text.length >= 100 && text.length <= 20000 && w.length >= 20 &&
      1000L * en / w.length >= 10 && others.forall(_ <= en)
  }

  def jaccard3(a: String, b: String): Double = {
    val sa = TextOps.shinglesLocal(a, 3).toSet
    val sb = TextOps.shinglesLocal(b, 3).toSet
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  /** Replace word positions until the 3-shingle Jaccard with the source
    * falls inside [lo, hi]; None when the source is too short to land
    * in the band.
    */
  def nearCopy(r: java.util.SplittableRandom, text: String, lo: Double, hi: Double): Option[String] = {
    val w = text.split(" ")
    var out = w.clone()
    var tries = 0
    while (tries < 60) {
      val j = jaccard3(text, out.mkString(" "))
      if (j >= lo && j <= hi) return Some(out.mkString(" "))
      if (j < lo) out = w.clone()
      val p = r.nextInt(out.length)
      out(p) = NonStop(r.nextInt(NonStop.length))
      tries += 1
    }
    None
  }

  /** A curation corpus with planted ground truth. Planted documents
    * occupy ids in the upper half of the corpus and their sources sit
    * in the lower half, so a planted copy always carries the larger id
    * (the one exact and near-dup removal drops).
    */
  final case class Corpus(docs: Vector[Doc], eval: Vector[Doc],
                          exactDups: Set[Long], nearDups: Set[Long],
                          contaminated: Set[Long], nonEnglish: Set[Long],
                          nearJaccard: Vector[Double])

  /** Planted rates (share of the corpus each). */
  val ExactRate = 0.03
  val NearRate = 0.03
  val ContamRate = 0.02
  val NonEnRate = 0.04
  /** Band the planted near-duplicates' 3-shingle Jaccard falls in; the
    * near-dup step drops pairs at Jaccard >= 0.4.
    */
  val NearJaccardLo = 0.6
  val NearJaccardHi = 0.85
  /** Words copied from an eval document into a contaminated one; the
    * decontamination step matches 8-word grams.
    */
  val ContamSpan = 12
  val ContamGram = 8

  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 1)
    val text = Array.tabulate(n)(_ => randomText(r, 10, 100))
    val nEval = math.max(8, n / 25)
    val eval = Vector.tabulate(nEval)(k => Doc(EvalBase + k, randomText(r, 30, 60), "eval"))
    val half = n / 2
    val slots = scala.util.Random.javaRandomToRandom(new java.util.Random(seed * 31 + 7))
      .shuffle((half until n).toVector)
    val sources = scala.util.Random.javaRandomToRandom(new java.util.Random(seed * 31 + 11))
      .shuffle((0 until half).toVector).filter(i => passesFilter(text(i)) && text(i).split(" ").length >= 40)
      .iterator
    val nExact = (n * ExactRate).toInt
    val nNear = (n * NearRate).toInt
    val nCont = (n * ContamRate).toInt
    val nNon = (n * NonEnRate).toInt
    val (exSlots, rest1) = slots.splitAt(nExact)
    val (nearSlots, rest2) = rest1.splitAt(nNear)
    val (contSlots, rest3) = rest2.splitAt(nCont)
    val nonSlots = rest3.take(nNon)
    exSlots.foreach { j => text(j) = text(sources.next()) }
    val nearJ = Vector.newBuilder[Double]
    nearSlots.foreach { j =>
      var done = false
      while (!done) {
        val s = sources.next()
        nearCopy(r, text(s), NearJaccardLo, NearJaccardHi).filter(passesFilter).foreach { t =>
          text(j) = t; nearJ += jaccard3(text(s), t); done = true
        }
      }
    }
    contSlots.foreach { j =>
      var t = ""
      while (!passesFilter(t)) {
        val base = words(r, 40 + r.nextInt(40), Vocab)
        val ev = eval(r.nextInt(nEval)).text.split(" ")
        val from = r.nextInt(ev.length - ContamSpan + 1)
        val at = r.nextInt(base.length + 1)
        t = (base.take(at) ++ ev.slice(from, from + ContamSpan) ++ base.drop(at)).mkString(" ")
      }
      text(j) = t
    }
    nonSlots.foreach { j =>
      text(j) = Vector.fill(30 + r.nextInt(50)) {
        if (r.nextInt(4) == 0) GermanWords(r.nextInt(GermanWords.length))
        else NonStop(r.nextInt(NonStop.length))
      }.mkString(" ")
    }
    val docs = Vector.tabulate(n)(i => Doc(i.toLong, text(i), s"src${i % Sources}"))
    Corpus(docs, eval, exSlots.map(_.toLong).toSet, nearSlots.map(_.toLong).toSet,
      contSlots.map(_.toLong).toSet, nonSlots.map(_.toLong).toSet, nearJ.result())
  }

  // ---- embeddings ------------------------------------------------------

  val Dims = 32
  val Clusters = 16

  /** Cluster centres; vectors are centre + small noise, so a query's
    * exact top-k lives in its own cluster.
    */
  def centres(seed: Long): Vector[Array[Float]] = {
    val r = rng(seed, 2)
    Vector.fill(Clusters)(Array.fill(Dims)((r.nextDouble() * 2 - 1).toFloat))
  }

  def vectors(seed: Long, salt: Long, ids: Seq[Long], cs: Vector[Array[Float]]): Vector[(Long, Array[Float])] = {
    val r = rng(seed, salt)
    ids.map { id =>
      val c = cs(r.nextInt(cs.length))
      id -> c.map(x => (x + r.nextGaussian() * 0.05).toFloat)
    }.toVector
  }

  def vecDF(spark: SparkSession, rows: Seq[(Long, Array[Float])], idCol: String, vecCol: String,
            parts: Int): DataFrame = {
    val schema = StructType(Seq(StructField(idCol, LongType, nullable = false),
      StructField(vecCol, ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(i, v.toSeq) }, parts), schema)
  }

  // ---- lineitem ----------------------------------------------------------

  /** Lineitem rows in (l_orderkey, l_linenumber) order, four lines per
    * order, so row i of the staged frame is generator row i. Values are
    * integer arithmetic on (seed, i); [[LineItem]] recomputes them on
    * the driver for the twin frames.
    */
  final case class LineItem(seed: Long) {
    private def mix(i: Long, salt: Long): Long = {
      val a = java.lang.Math.floorMod(i * 1103515245L + (seed * 7 + salt) * 12345L + 7L, 2147483647L)
      java.lang.Math.floorMod(a * 48271L, 2147483647L)
    }
    def orderKey(i: Long): Long = i / 4 + 1
    def lineNumber(i: Long): Long = i % 4 + 1
    def qtyCents(i: Long): Long = (mix(i, 1) % 50 + 1) * 100
    def priceCents(i: Long): Long = mix(i, 2) % 10000000
    def flag(i: Long): String = (mix(i, 3) % 4) match {
      case 0 => "A"
      case 3 => "R"
      case _ => "N"
    }
    def rows(n: Long): DataFrame = {
      val spark = SparkSession.active
      // the same arithmetic as `mix`, as Column expressions
      def m(salt: Long) = {
        val a = pmod(col("id") * lit(1103515245L) + lit((seed * 7 + salt) * 12345L + 7L), lit(2147483647L))
        pmod(a * lit(48271L), lit(2147483647L))
      }
      spark.range(0, n, 1, 4).select(
        (col("id") / 4).cast(LongType).plus(1L).as("l_orderkey"),
        (col("id") % 4 + 1).cast(IntegerType).as("l_linenumber"),
        (m(1) % 50 + 1).cast(DoubleType).as("l_quantity"),
        ((m(2) % 10000000) / 100.0).as("l_extendedprice"),
        when(m(3) % 4 === 0, "A").when(m(3) % 4 === 3, "R").otherwise("N").as("l_returnflag"))
    }
  }
}
