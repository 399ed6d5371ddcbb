package graft

import org.apache.spark.sql.SparkSession

import graft.queries.Staged

/** Registry timing harness:
  *   sbt "runMain graft.Bench [--sf=DIR] [--cpus=N] [query ...]"
  * Without names it times every registered query and writes the full
  * artifact (`BENCH_FULL.json`, or `SPARK_GRAFT_BENCH_OUT`); a named run
  * times only those queries and leaves the artifact alone, since it has
  * no registry total. Every query prints one line with its net time and
  * work counters, then its stages, outside the timed region.
  */
object Bench {
  /** One query in one pass. `net` excludes the staged first-touch billed
    * to `staging` and is NaN when the query failed; `staged` lists the
    * staged keys it accessed (hit or build).
    */
  final case class Record(
      name: String,
      net: Double,
      staging: Double,
      work: WorkSnap,
      stages: Seq[StageRecord],
      staged: Seq[String]) {
    def failed: Boolean = net.isNaN

    def line: String =
      (if (failed) f"[bench] $name%-20s   FAILED"
       else f"[bench] $name%-20s ${net}%8.2f s" +
         (if (staging > 0.0005) f" (+ ${staging}%.2f s staging)" else "")) +
        f"  [tasks=${work.tasks} shufR=${work.shuffleRead} shufW=${work.shuffleWrite}" +
        f" input=${work.inputBytes} spill=${work.memSpill}/${work.diskSpill}]"
  }

  /** One pass over the queries, plus each staged key's build seconds. */
  final case class Pass(records: Seq[Record], staging: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val a = Harness.parse(args.toSeq, "/root/testdata/sf0.1")
    // Passes over the FULL suite; per-query time is the min across passes.
    // A single-shot run is one sample per query — one background compile /
    // GC pause / page-cache miss lands on some query and records a phantom
    // regression (the r4 artifact had 7 of them, up to 9× the quiet time).
    // Min-of-passes discards per-query load spikes. Spark-level staged
    // caches are RELEASED between passes (below) so every pass re-pays
    // staging first-touch; OS page cache and JIT warmth DO carry across
    // passes, so the min runs mildly warmer than a literal single-pass
    // protocol — compare rounds run under the same multi-pass protocol,
    // not against pre-r5 single-pass artifacts.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    val spark = Harness.session(a.cpus)
    // Deterministic work metrics (r14 VERDICT item 1): wall-clock on this
    // host drifts ±40% with load, so seconds alone cannot adjudicate a
    // round. Task counts and shuffle/scan bytes are functions of the
    // physical plan only — emitted per query into the FULL artifact
    // (additions-only; the one-line stdout contract is unchanged).
    val wm = WorkMetricsListener.install(spark)
    Harness.warmUp(spark, a.sfDir)
    val passes = measure(spark, wm, a, runs)
    report(passes, a, java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")))
    spark.stop()
  }

  /** Time the queries `a` names (all when none) over `runs` passes,
    * releasing every staged cache after each pass so the next one
    * re-pays staged first-touch.
    */
  def measure(spark: SparkSession, wm: WorkMetricsListener, a: Harness.Args,
      runs: Int): Seq[Pass] = {
    Staged.accessLog.clear() // warm-up touches are nobody's
    (1 to runs).map { pass =>
      val records = Harness.queries(a.names).map { name =>
        val fn = SparkEntry.queries(name)
        val snap0 = wm.snapshotAfterDrain(spark) // untimed: bus drain sits outside t0
        wm.takeStages()
        val st0 = Staged.stagingNanos.get()
        val t0 = System.nanoTime()
        // noop sink: materializes EVERY output column (count() would let
        // Catalyst prune payload expressions and under-measure); fn is
        // timed too, since queries that stage or prune driver-side do
        // real work inside it
        val failed = try { fn(spark, a.sfDir).write.format("noop").mode("overwrite").save(); false }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getMessage}"); true }
        // staged first-touch (Staged.staged forces materialization at
        // build time) is billed to `staging`, NOT to whichever query
        // alphabetically touches the shared artifact first — the
        // round-11 sim6/t51 adjudication problem, now explicit per row
        val staging = (Staged.stagingNanos.get() - st0) / 1e9
        val elapsed = (System.nanoTime() - t0) / 1e9 - staging
        val work = wm.snapshotAfterDrain(spark) - snap0
        val rec = Record(name, if (failed) Double.NaN else elapsed, staging, work,
          wm.takeStages(), Iterator.continually(Staged.accessLog.poll()).takeWhile(_ != null).toList)
        println(rec.line)
        rec.stages.foreach(s => println(s.line))
        rec
      }
      val staging = Staged.stagingByKey.toMap
      Staged.stagingByKey.clear()
      // steady-state protocol: release every staged/dense-index cache so the
      // next pass (or a repeated in-JVM run) starts from a clean
      // executor-memory state instead of inheriting this pass's caches
      Staged.release(spark)
      Pass(records, staging)
    }
  }

  /** Print the two stdout JSON lines; a full run also writes `artifact`. */
  def report(passes: Seq[Pass], a: Harness.Args, artifact: java.nio.file.Path): Unit = {
    val names = Harness.queries(a.names)
    val records = passes.flatMap(_.records)
    // per-query best NET time across passes; absent = never succeeded
    val best = records.filterNot(_.failed).groupMapReduce(_.name)(_.net)(math.min)
    // per-staged-key best build seconds across passes — each pass
    // rebuilds every staged artifact, so min-of-passes applies to
    // staging exactly like it does to queries
    val bestStage = passes.flatMap(_.staging).groupMapReduce(_._1)(_._2)(math.min)
    // staged-key -> queries that ACCESSED it, split by whether the
    // consuming execution succeeded. Per-query rows are NET of staged
    // first-touch, so a key consumed by exactly one query means that
    // query's row understates its intrinsic cost by the key's build
    // time — the consumer map makes that explicit in the artifact
    // instead of leaving "sub-linear" claims resting on a hidden
    // single-consumer split.
    def consumers(failed: Boolean): Map[String, Seq[String]] =
      records.filter(_.failed == failed).flatMap(r => r.staged.map(_ -> r.name))
        .groupMap(_._1)(_._2).map { case (k, v) => k -> v.distinct.sorted }
    val consumersOk = consumers(failed = false)
    val consumersFailed = consumers(failed = true)
    def strs(xs: Iterable[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def obj(kvs: Iterable[(String, Any)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // a query that never succeeded records NEGATIVE elapsed (clamped away
    // from -0.0 so a fast crash cannot read as a 0.0s success) plus an
    // explicit errors entry — the sentinel is redundant on purpose. A query
    // that failed on some pass but succeeded on another reports its best
    // successful time (the failure was load/transient; stderr has the log).
    val qs = obj(names.map(k => k -> best.getOrElse(k, -0.001)))
    val errs = strs(names.filterNot(best.contains))
    // grand total = query nets + staged-build seconds, so `value` stays
    // comparable with pre-r12 artifacts (which billed staging inside
    // whichever query touched each artifact first)
    val stagingTotal = bestStage.values.sum
    val total = best.values.sum + stagingTotal
    val stg = obj(bestStage.toSeq.sortBy(-_._2).map { case (k, v) => k -> f"$v%.3f" })
    // adjudication metadata: which queries consumed each staged key
    // (successful executions), and keys whose ONLY consumers failed —
    // their build cost sits in staging_total with no surviving query
    // row, so flag them rather than silently skewing the grand total
    val stgKeys = bestStage.keys.toSeq.sorted
    val stgConsumers = obj(stgKeys.map(k => k -> strs(consumersOk.getOrElse(k, Nil))))
    val orphaned = strs(stgKeys.filterNot(consumersOk.contains))
    // failed consumers, recorded so an orphaned key is adjudicable
    // (this map says which failed query put its cost there); r13 ADVICE
    val stgConsumersFailed = obj(consumersFailed.toSeq.sortBy(_._1).map { case (k, v) => k -> strs(v) })
    // deterministic work metrics from the LAST pass (passes agree on the
    // plan-shape fields; metrics_unstable lists any query where they did
    // not — identical code should report [] there, making plan changes
    // adjudicable under host drift where seconds are not)
    val passMetrics = passes.map(_.records.map(r => r.name -> r.work).toMap)
    val lastM = passMetrics.last
    val metricsJson = obj(names.filter(lastM.contains).map(k => k -> lastM(k).json))
    val unstable = strs(names.filter(k => passMetrics.exists(m => !m(k).closeTo(passMetrics.head(k)))))
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"staging":$stg,"staging_total":$stagingTotal,"staging_consumers":$stgConsumers,"staging_consumers_failed":$stgConsumersFailed,"staging_orphaned":$orphaned,"metrics":$metricsJson,"metrics_unstable":$unstable,"errors":$errs,"runs":${passes.size},"sf":"${a.sfDir}"}"""
    println(line)
    // Self-contained artifact: the stdout line is captured by the driver
    // as a LOG TAIL, which truncated the first ~28 queries out of two
    // rounds' BENCH artifacts. Persist the complete per-query JSON to a
    // repo file so the record never depends on log capture. Protocol
    // note: since r12, staged-artifact build time (Staged.staged forces
    // materialization at build) rides the `staging` map — `queries`
    // rows are NET of shared first-touch, directly comparable to
    // standalone re-measures; pre-r12 artifacts billed staging to the
    // alphabetically first consumer.
    if (a.names.isEmpty)
      try java.nio.file.Files.writeString(artifact, line + "\n")
      catch { case e: Exception =>
        System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
    // The driver's tail capture is 2000 chars — the full line above has
    // never fit (every BENCH_r{N}.json through round 10 records
    // parsed:null). Print a COMPACT summary as the LAST stdout line so
    // a tail-parse sees one complete JSON object: same shape, but
    // `queries` carries only the slowest entries that fit the budget,
    // with the full per-query map in the artifact file.
    val slowest = names.filter(best.contains).sortBy(-best(_))
    val budget = 1500
    val kept = new scala.collection.mutable.ListBuffer[String]()
    var used = 150 + errs.length // envelope overhead + error list
    slowest.foreach { k =>
      val ent = "\"" + k + "\":" + f"${best(k)}%.3f"
      if (used + ent.length + 1 <= budget) { kept += ent; used += ent.length + 1 }
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":{${kept.mkString(",")}},"queries_total":${names.size},"staging_total":$stagingTotal,"queries_in_full_artifact":"BENCH_FULL.json or SPARK_GRAFT_BENCH_OUT","errors":$errs,"runs":${passes.size},"sf":"${a.sfDir}"}""")
  }
}
