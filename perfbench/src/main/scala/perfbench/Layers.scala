package perfbench

/** The per-layer metrics of a traced phase and their text report.
  * Counts and times are per operation (one curate pass, one structural
  * DcaFrame operation, one index probe) unless the unit says otherwise;
  * `operators.*_s` are the mean wall of one call of that step.
  */
object Layers {
  def metrics(r: Report): Seq[(String, Double, String)] = {
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val accesses = r.total("staged.accesses")
    val builds = r.total("staged.builds")
    val cand = r.total("neardup.candidates")
    val pairs = r.total("neardup.pairs")
    val buildMs = r.spans.filter(s => s.level == Level.Step && s.name == "build")
      .map(s => s.end - s.start).sum / 1000.0
    Seq(
      ("core.build_ms", ratio(buildMs, r.nOps), "ms/op"),
      ("core.eager_jobs", ratio(r.buildJobs, r.nOps), "count/op"),
      ("operators.filter_s", r.stepS("filter"), "s"),
      ("operators.exact_dedup_s", r.stepS("exact_dedup"), "s"),
      ("operators.neardup_s", r.stepS("neardup"), "s"),
      ("operators.decontam_s", r.stepS("decontam"), "s"),
      ("operators.tokenize_s", r.stepS("tokenize"), "s"),
      ("operators.pack_s", r.stepS("pack"), "s"),
      ("operators.merge_s", r.stepS("merge"), "s"),
      ("operators.probe_s", r.stepS("probe"), "s"),
      ("operators.neardup.candidates", r.perOp("neardup.candidates"), "count/op"),
      ("operators.neardup.pairs", r.perOp("neardup.pairs"), "count/op"),
      ("operators.neardup.yield", ratio(pairs, cand), "ratio"),
      ("staged.builds", r.perOp("staged.builds"), "count/op"),
      ("staged.hits", ratio(accesses - builds, r.nOps), "count/op"),
      ("staged.hit_ratio", ratio(accesses - builds, accesses), "ratio"),
      ("staged.build_s", r.perOp("staged.build_s"), "s/op"),
      ("io.input_mb", r.perOp("io.input_mb"), "MB/op"),
      ("io.output_mb", r.perOp("io.output_mb"), "MB/op"),
      ("io.files_written", r.perOp("io.files_written"), "count/op"),
      ("io.files_read", r.perOp("io.files_read"), "count/op"),
      ("io.prune_ratio", ratio(r.total("io.files_read"), r.total("io.files_listed")), "ratio"),
      ("catalyst.analysis_ms", r.perOp("catalyst.analysis_ms"), "ms/op"),
      ("catalyst.optimization_ms", r.perOp("catalyst.optimization_ms"), "ms/op"),
      ("catalyst.planning_ms", r.perOp("catalyst.planning_ms"), "ms/op"),
      ("catalyst.actions", r.perOp("catalyst.actions"), "count/op"),
      ("codegen.compile_ms", r.perOp("codegen.compile_ms"), "ms/op"),
      ("codegen.compiles", r.perOp("codegen.compiles"), "count/op"),
      ("sched.jobs", r.perOp("sched.jobs"), "count/op"),
      ("sched.stages", r.perOp("sched.stages"), "count/op"),
      ("sched.tasks", r.perOp("sched.tasks"), "count/op"),
      ("sched.delay_ms", r.perOp("sched.delay_ms"), "ms/op"),
      ("sched.job_gap_ms", ratio(r.jobGapMs, r.nOps), "ms/op"),
      ("exec.run_ms", r.perOp("exec.run_ms"), "ms/op"),
      ("exec.cpu_ms", r.perOp("exec.cpu_ms"), "ms/op"),
      ("exec.gc_ms", r.perOp("exec.gc_ms"), "ms/op"),
      ("exec.parallelism", ratio(r.total("exec.run_ms"), r.opWallMs), "ratio"),
      ("exec.straggler_ratio", r.stragglerRatio, "ratio"),
      ("shuffle.write_mb", r.perOp("shuffle.write_mb"), "MB/op"),
      ("shuffle.read_mb", r.perOp("shuffle.read_mb"), "MB/op"),
      ("shuffle.fetch_wait_ms", r.perOp("shuffle.fetch_wait_ms"), "ms/op"),
      ("shuffle.spill_mb", r.perOp("shuffle.spill_mb"), "MB/op"),
      ("storage.cached_mb_peak", r.cachedPeakMb, "MB"),
      ("jvm.heap_peak_mb", r.heapPeakMb, "MB"),
      ("jvm.gc_ms", r.perOp("jvm.gc_ms"), "ms/op")) ++
      (Level.Workload to Level.Stage).map { l =>
        (s"selftime.${Level.names(l)}_ms", ratio(r.selfMs.getOrElse(l, 0.0), r.nOps), "ms/op")
      }
  }

  private val meaning: Map[Int, String] = Map(
    Level.Workload -> "harness between operations (output checks, listener drains)",
    Level.Operation -> "operation wall outside its steps",
    Level.Step -> "in operator / DcaFrame calls, no SQL execution running (driver plan building)",
    Level.Action -> "SQL execution, no job running: Catalyst phases, AQE re-planning, results",
    Level.Job -> "job running, no stage running: scheduling between stages",
    Level.Stage -> "a stage running: task execution, codegen compile inside tasks")

  def table(workload: String, r: Report, overhead: Seq[(String, Double, String)]): String = {
    val sb = new StringBuilder
    val opMs = if (r.nOps == 0) 0.0 else r.opWallMs / r.nOps
    sb ++= f"  per-layer self time, traced phase: ${r.nOps} operations, mean operation wall $opMs%.1f ms\n"
    sb ++= f"    ${"level"}%-10s ${"ms/op"}%10s ${"share"}%7s  what it is\n"
    (Level.Workload to Level.Stage).foreach { l =>
      val v = if (r.nOps == 0) 0.0 else r.selfMs.getOrElse(l, 0.0) / r.nOps
      val share = if (l == Level.Workload || opMs == 0) "" else f"${100 * v / opMs}%6.1f%%"
      sb ++= f"    ${Level.names(l)}%-10s $v%10.1f $share%7s  ${meaning(l)}\n"
    }
    def per(k: String) = r.perOp(k)
    def self(l: Int) = if (r.nOps == 0) 0.0 else r.selfMs.getOrElse(l, 0.0) / r.nOps
    val catalyst = per("catalyst.analysis_ms") + per("catalyst.optimization_ms") + per("catalyst.planning_ms")
    sb ++= f"    blocking steps per $workload operation: plan ${self(Level.Step) + self(Level.Action)}%.1f ms " +
      f"(step + action self; Catalyst phases $catalyst%.1f ms), codegen ${per("codegen.compile_ms")}%.1f ms " +
      f"(${per("codegen.compiles")}%.1f compiles, inside plan or execute), schedule ${self(Level.Job)}%.1f ms " +
      f"(job self; plus ${per("sched.delay_ms")}%.1f ms of task launch delay summed over tasks), " +
      f"execute ${self(Level.Stage)}%.1f ms (stage self, parallelism ${if (r.opWallMs == 0) 0.0 else r.total("exec.run_ms") / r.opWallMs}%.2f)\n"
    sb ++= "    tracing overhead (traced - plain): " + overhead.map { case (n, v, u) =>
      f"${n.stripPrefix("overhead.")} $v%+.3f $u" }.mkString(", ") + "\n"
    sb.toString
  }
}
