package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Samples one measured phase collects. */
final class Meter {
  /** Per-operation latency, ms. */
  val latMs = mutable.ArrayBuffer.empty[Double]
  /** Items processed and the wall seconds they took (items_per_s). */
  var items = 0.0
  var itemSec = 0.0
  /** Cached MB held at the end of each round, before its release. */
  val pinnedMb = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Run one operation; an exception counts as a failed operation. */
  def guard(what: String)(body: => Unit): Unit =
    try body catch {
      case scala.util.control.NonFatal(e) => check(ok = false, s"$what threw $e")
    }

  /** Count one checked operation; a failed check is logged once. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) { failures += what; System.err.println(s"[perfbench] WRONG: $what") }
    }
  }
}

/** Timing helpers shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: String,
                val tiny: Boolean, val fault: Boolean) {
  @volatile var tracer: Option[Tracer] = None
  private var faultArmed = fault

  /** True once, for the first check, when a planted wrong output is asked for. */
  def plantFault(): Boolean = { val f = faultArmed; faultArmed = false; f }

  def op[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.op(name)(body)
    case None => body
  }

  def step[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(Level.Step, name)(body)
    case None => body
  }

  /** Wall ms of `body`, with its result. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}

trait Workload {
  /** What one latency sample is, and what items_per_s counts. */
  def opUnit: String
  def itemUnit: String
  /** One input set-up: generate inputs from the seed and build what the
    * measured operations read. A later repetition replaces the inputs.
    */
  def setupRep(rep: Int): Unit
  /** One-time warm-up after set-up (checked like a measured round). */
  def warm(m: Meter): Unit
  /** One round of operations. Rounds always complete, so every run
    * measures whole rounds with the same mix of operations.
    */
  def round(m: Meter): Unit
  /** Size facts for the report. */
  def describe: String
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, tiny: Boolean = false, fault: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--tiny" :: t => parse(t, acc.copy(tiny = true))
    case "--fault" :: t => parse(t, acc.copy(fault = true))
    case Nil => acc
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val t0 = System.nanoTime()
    val base = new java.io.File(".bench_build").getAbsoluteFile
    val spark = graft.GraftSession.builder("local[4]", "4")
      .appName("perfbench")
      .config("spark.local.dir", new java.io.File(base, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorExpressions.register(spark)
    val dir = new java.io.File(base, s"data/${args.workload}-${args.seed}-${ProcessHandle.current().pid()}").getPath
    val ctx = new Ctx(spark, args.seed, dir, args.tiny, args.fault)
    val wl: Workload = args.workload match {
      case "curate" => new Curate(ctx)
      case "dca_interactive" => new DcaInteractive(ctx)
      case "index_upkeep" => new IndexUpkeep(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    try run(args, ctx, wl, (System.nanoTime() - t0) / 1e9)
    finally {
      ctx.rmrf(dir)
      spark.stop()
    }
  }

  private def run(args: Args, ctx: Ctx, wl: Workload, sessionS: Double): Unit = {
    val spark = ctx.spark
    val inputS = ctx.timed(wl.setupRep(1))._2 / 1000
    val checks = new Meter
    val warmS = ctx.timed(wl.warm(checks))._2 / 1000
    val setupS = sessionS + inputS + warmS
    // traced runs repeat the (now warm) input set-up plain and traced, so
    // the tracing overhead of set-up compares like with like
    val setupOverheadS = if (!args.trace) 0.0 else {
      val plainS = ctx.timed(wl.setupRep(2))._2 / 1000
      val t = new Tracer(spark)
      t.install()
      ctx.tracer = Some(t)
      try ctx.timed(t.span(Level.Workload, "setup")(wl.setupRep(3)))._2 / 1000 - plainS
      finally { t.uninstall(); ctx.tracer = None }
    }
    val out = new StringBuilder

    def phase(seconds: Double): Meter = {
      val m = new Meter
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < deadline) wl.round(m)
      m
    }
    def e2e(m: Meter, setup: Double): Seq[(String, Double, String)] = Seq(
      ("setup_s", setup, "s"),
      ("op_p50_ms", quantile(m.latMs.toSeq, 0.5), "ms"),
      ("items_per_s", m.items / m.itemSec, "items/s"),
      ("pinned_mb", median(m.pinnedMb.toSeq), "MB"))

    val plain = phase(if (args.trace) args.seconds / 2 else args.seconds)
    val plainE2e = e2e(plain, setupS)
    out ++= s"[perfbench] workload=${args.workload} seed=${args.seed} ${wl.describe}\n"
    out ++= f"  setup_s      $setupS%10.3f s       session $sessionS%.2f + input set-up $inputS%.2f + warm-up $warmS%.2f\n"
    // p90 is printed, not gated: a run has fewer than the ten samples
    // beyond it that would make it steady
    val p90 = ("op_p90_ms", quantile(plain.latMs.toSeq, 0.9), "ms")
    (plainE2e.tail.take(1) ++ Seq(p90) ++ plainE2e.drop(2)).foreach { case (n, v, u) =>
      val extra = n match {
        case "op_p50_ms" => s"n=${plain.latMs.size} ${wl.opUnit}"
        case "op_p90_ms" => s"n=${plain.latMs.size} (printed only); samples ${plain.latMs.map(x => f"$x%.0f").mkString(" ")}"
        case "items_per_s" => s"${wl.itemUnit}; ${plain.items.toLong} in ${"%.2f".format(plain.itemSec)} s"
        case "pinned_mb" => s"median over ${plain.pinnedMb.size} rounds, read before release"
        case _ => ""
      }
      out ++= f"  $n%-12s $v%10.3f $u%-7s $extra\n"
    }
    val all = Seq(checks, plain)
    def errLine(ms: Seq[Meter]) = {
      val att = ms.map(_.attempted).sum
      val fail = ms.map(_.failed).sum
      f"  error_rate   ${if (att == 0) 0.0 else fail.toDouble / att}%10.4f ratio   $fail failed of $att checked operations (warm-up included)\n"
    }

    val (metrics, meters) = if (!args.trace) {
      out ++= errLine(all)
      (plainE2e, all)
    } else {
      val t = new Tracer(spark)
      t.install()
      ctx.tracer = Some(t)
      val traced = try t.span(Level.Workload, args.workload)(phase(args.seconds / 2))
        finally { t.uninstall(); ctx.tracer = None }
      val r = t.report()
      val tracedE2e = e2e(traced, setupS + setupOverheadS)
      val overhead = plainE2e.zip(tracedE2e).map { case ((n, a, u), (_, b, _)) =>
        (s"overhead.$n", b - a, u)
      }
      val layer = Layers.metrics(r) ++ overhead
      out ++= errLine(all :+ traced)
      out ++= Layers.table(args.workload, r, overhead)
      val traceDir = new java.io.File(".bench_build/traces")
      traceDir.mkdirs()
      val f = new java.io.File(traceDir, s"${args.workload}-seed${args.seed}.json")
      java.nio.file.Files.writeString(f.toPath, r.json)
      out ++= s"  spans: ${r.spans.size} written to ${f.getPath}\n"
      (layer, all :+ traced)
    }
    print(out.toString)
    val attempted = meters.map(_.attempted).sum
    val failed = meters.map(_.failed).sum
    val ms = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}""")
  }
}
