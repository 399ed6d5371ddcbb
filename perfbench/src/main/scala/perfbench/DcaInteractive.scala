package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.{DcaFrame, LocalDca, Shape}
import graft.core.Indexing.Ix
import graft.queries.Staged

/** `dca_interactive`: a seeded random sequence of small structural
  * DcaFrame operations over the staged lineitem frames, each
  * materialized with a noop sink or `collectLocal`. Every result is
  * checked against the same operation on a LocalDca twin built from
  * the generator's own rows.
  */
final class DcaInteractive(ctx: Ctx) extends Workload {
  import ctx.spark

  /** sf0.1 lineitem row count. */
  val nRows: Long = if (ctx.tiny) 24000L else 600000L
  val opUnit = "structural operations (build + action)"
  val itemUnit = "operations per second of operation wall"
  def describe = s"lineitem_rows=$nRows ops_per_round=${Kinds.size} (each kind once, seeded order; source frame and window size rotate by round)"

  private val Kinds = Vector("reshape", "einops", "stride_slice", "mask", "int_gather",
    "frame_gather", "mixed_index", "broadcast", "stack", "concat", "map_field",
    "replace_field", "zip", "collect_local")

  private val li = Gen.LineItem(ctx.seed)
  private val liSchema = StructType(Seq("l_orderkey", "l_linenumber", "qty_c")
    .map(StructField(_, LongType)))
  private val wideSchema = StructType(Seq("qty_c", "price_c").map(StructField(_, LongType)))
  private def liRow(i: Long) = Row(li.orderKey(i), li.lineNumber(i), li.qtyCents(i))
  private def wideRow(i: Long) = Row(li.qtyCents(i), li.priceCents(i))

  /** A staged frame and the generator's view of its rows. */
  private final case class Src(name: String, frame: () => DcaFrame, n: Long,
                               row: Long => Row, schema: StructType) {
    def window(s: Long, m: Long): DcaFrame = frame()(Ix.S(Some(s), Some(s + m)))
    def twin(s: Long, m: Long): LocalDca =
      LocalDca(Vector.tabulate(m.toInt)(k => row(s + k)), schema, Vector(m))
  }

  private var input = ""
  private var srcs: Map[String, Src] = Map.empty
  private val rng = Gen.rng(ctx.seed, 5)

  def setupRep(rep: Int): Unit = {
    Staged.release(spark)
    input = s"${ctx.dir}/rep$rep"
    li.rows(nRows).write.mode("overwrite").parquet(s"$input/lineitem.parquet")
    val dir = input
    val flagIds = (0L until nRows).groupBy(li.flag).map { case (f, v) => f -> v.toArray }
    def flagSrc(f: String) = Src(s"flag$f", () => Staged.liFlagFrame(spark, dir, f),
      flagIds(f).length.toLong, k => liRow(flagIds(f)(k.toInt)), liSchema)
    srcs = Map(
      "li" -> Src("li", () => Staged.liFrame(spark, dir), nRows, liRow, liSchema),
      "wide" -> Src("wide", () => Staged.liWideFrame(spark, dir), nRows, wideRow, wideSchema),
      "flagA" -> flagSrc("A"), "flagR" -> flagSrc("R"))
    srcs.values.foreach(s => require(s.frame().size == s.n, s"${s.name}: staged size"))
  }

  /** Two unchecked rounds of every kind: after one, the first measured
    * round still runs measurably slower (JIT warm-up).
    */
  def warm(m: Meter): Unit = (1 to 2).foreach { _ =>
    Kinds.indices.foreach(k => runOp(k, m, record = false))
    releaseRound(m, record = false)
  }

  /** Seeded shuffle of the operation kinds. */
  private def order(): Vector[Int] = {
    val a = Kinds.indices.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  private val owned = scala.collection.mutable.ArrayBuffer.empty[DcaFrame]

  private var roundNo = 0

  def round(m: Meter): Unit = {
    order().foreach(k => runOp(k, m, record = true))
    releaseRound(m, record = true)
    roundNo += 1
  }

  private def releaseRound(m: Meter, record: Boolean): Unit = {
    if (record) m.pinnedMb += JvmCounters.cachedMb(spark)
    owned.foreach(_.unpersist())
    owned.clear()
  }

  /** One drawn operation: how to build it, whether its action is
    * collectLocal (else a noop sink), and its twin.
    */
  private final case class Spec(build: () => DcaFrame, collect: Boolean, twin: () => LocalDca)

  private val SrcOrder = Vector("li", "wide", "flagA", "flagR")

  /** Source frame and window size rotate with (kind, round), so every
    * run measures the same mix whatever the seed; the seed draws
    * offsets, indices and factors.
    */
  private def draw(kind: String): Spec = {
    val k = Kinds.indexOf(kind) + roundNo
    val m = Seq(240L, 480L, 960L)(k % 3)
    val a = Seq(2L, 3L, 4L, 5L, 6L, 8L)(rng.nextInt(6))
    val (b1, b2) = Seq((2L, 3L), (4L, 5L), (3L, 8L), (2L, 5L))(rng.nextInt(4))
    def start(src: Src, len: Long) = (rng.nextDouble() * (src.n - 2 * len)).toLong
    def idxs(k: Int, d: Long) = Vector.fill(k)(rng.nextLong(-d, d))
    val src = srcs(SrcOrder(k % SrcOrder.size))
    val s = start(src, m)
    kind match {
      case "reshape" =>
        Spec(() => src.window(s, m).reshape(a, -1), collect = false, () => src.twin(s, m).reshape(a, -1))
      case "einops" =>
        val p = "x y z -> y (x z)"
        Spec(() => src.window(s, m).reshape(b1, b2, -1).reshapeEinops(p), collect = true,
          () => src.twin(s, m).reshape(b1, b2, -1).reshapeEinops(p))
      case "stride_slice" =>
        val step = Seq(2L, 3L, -1L, -2L)(rng.nextInt(4))
        val ix = Ix.S(Some(rng.nextLong(-m, m)), Some(rng.nextLong(-m, m)), step)
        Spec(() => src.window(s, m)(ix), collect = false, () => src.twin(s, m)(ix))
      case "mask" =>
        val q = src.schema.fieldIndex("qty_c")
        Spec(() => src.window(s, m).mask(col("qty_c") > 2500), collect = false,
          () => src.twin(s, m).mask(_.getLong(q) > 2500))
      case "int_gather" =>
        val ix = idxs(32, m)
        Spec(() => src.window(s, m).gather(ix), collect = true, () => src.twin(s, m).gather(ix))
      case "frame_gather" =>
        val ix = idxs(32, m)
        val schema = StructType(Seq(StructField("i", LongType)))
        Spec(() => src.window(s, m).gather(DcaFrame.fromLocal(spark, ix.map(Row(_)), schema)),
          collect = false, () => src.twin(s, m).gather(ix))
      case "mixed_index" =>
        val items = Seq(Ix.A(idxs(3, a)), Ix.S(Some(1L), None, 2L))
        Spec(() => src.window(s, m).reshape(a, -1)(items: _*), collect = false,
          () => src.twin(s, m).reshape(a, -1)(items: _*))
      case "broadcast" =>
        val q = math.min(m, 120L)
        Spec(() => src.window(s, q).reshape(1, q).broadcastTo(Seq(3L, q)), collect = false,
          () => src.twin(s, q).reshape(1, q).broadcastTo(Seq(3L, q)))
      case "stack" =>
        val (x, y) = (srcs("flagA"), srcs("flagR"))
        val (sx, sy) = (start(x, m), start(y, m))
        val axis = rng.nextInt(2)
        Spec(() => DcaFrame.stack(Seq(x.window(sx, m), y.window(sy, m)), axis), collect = false,
          () => LocalDca.stack(Seq(x.twin(sx, m), y.twin(sy, m)), axis))
      case "concat" =>
        val s2 = start(src, m / 2)
        Spec(() => DcaFrame.concat(Seq(src.window(s, m), src.window(s2, m / 2))), collect = true,
          () => LocalDca.concat(Seq(src.twin(s, m), src.twin(s2, m / 2))))
      case "map_field" =>
        Spec(() => src.window(s, m).mapField(c => c * 3 + 1), collect = false,
          () => src.twin(s, m).mapRows(r => Row.fromSeq(r.toSeq.map(v => v.asInstanceOf[Long] * 3 + 1))))
      case "replace_field" =>
        val w = srcs("wide")
        val sw = start(w, m)
        Spec(() => w.window(sw, m).replaceField("price_c", col("price_c") - col("qty_c")),
          collect = false,
          () => w.twin(sw, m).mapRows(r => Row(r.getLong(0), r.getLong(1) - r.getLong(0))))
      case "zip" =>
        val (x, y) = (srcs("li"), srcs("wide"))
        val sy = start(y, m / a)
        Spec(() => {
          val (l, r, _) = x.window(s, m).reshape(a, -1).alignForVectorize(y.window(sy, m / a).reshape(1, -1))
          l.zipJoin(r)
        }, collect = false, () => {
          val l = x.twin(s, m).reshape(a, -1)
          val r = y.twin(sy, m / a).reshape(1, -1).broadcastTo(l.shape)
          LocalDca(l.rows.zip(r.rows).map { case (p, q) => Row.fromSeq(p.toSeq ++ q.toSeq) },
            StructType(l.schema.fields ++ r.schema.fields), l.shape)
        })
      case "collect_local" =>
        Spec(() => src.window(s, m), collect = true, () => src.twin(s, m))
    }
  }

  private def runOp(kind: Int, m: Meter, record: Boolean): Unit =
    m.guard(s"dca ${Kinds(kind)}")(runChecked(kind, m, record))

  private def runChecked(kind: Int, m: Meter, record: Boolean): Unit = {
    val name = Kinds(kind)
    val spec = draw(name)
    val (res, ms) = ctx.timed(ctx.op(name) {
      val f = ctx.step("build")(spec.build())
      ctx.step("materialize") {
        if (spec.collect) (f, Some(f.collectLocal()))
        else { f.df.write.format("noop").mode("overwrite").save(); (f, None) }
      }
    })
    val (f, local) = res
    if (f.staging.isDefined) owned += f
    if (!record) return
    val (shape, rows) = local match {
      case Some(l) => (l.shape, l.rows)
      case None => (f.shape, f.collectOrdered().toVector)
    }
    val twin = spec.twin()
    val got = rows.map(_.toSeq)
    val seen = if (ctx.plantFault() && got.nonEmpty) got.drop(1) else got
    m.check(shape == twin.shape && seen.size.toLong == Shape.size(shape) &&
      seen == twin.rows.map(_.toSeq),
      s"dca $name: shape $shape vs ${twin.shape}, ${seen.size} rows vs ${twin.rows.size}")
    m.latMs += ms
    m.items += 1
    m.itemSec += ms / 1000
  }
}
