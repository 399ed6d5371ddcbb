package graft

import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source guards: a decision that one module owns is spelled only in
  * that module's files under `src/main`.
  *
  *  - Storage lifecycle: lineage truncation and the per-session registry
  *    live in `CacheTracker` only, so the truncation policy (reliable
  *    with a session checkpoint dir, local otherwise) and the release
  *    sweep cover every pinned frame. A bare `.localCheckpoint(` or
  *    `.checkpoint(` anywhere else would pin blocks the policy never
  *    sees; a second `WeakHashMap[SparkSession` would be a registry the
  *    sweep never reaches.
  *  - One harness: every main gets its session from `Harness`, so core
  *    count, confs and warm-up cannot drift between entry points, and
  *    `WorkMetricsListener` is the only listener, so every per-query and
  *    per-stage counter comes from one place.
  *  - Session confs: `.config("spark.…")` is spelled only in
  *    `GraftSession`, so every engine session carries the same confs;
  *    the JVM-wide codegen cache in particular is sized by whichever
  *    session compiles first.
  *  - Spark's private SQL surface (the classic session and Dataset,
  *    `Dataset.ofRows`, `LogicalRDD` construction) is reached only
  *    through `GraftSqlBridge`, so that dependency stays in one file.
  *  - Dense positions: a row's dense index is its position in a
  *    staged cache, read through `DcaFrame.Staging`'s windows. No file
  *    under `src/main` derives one from `monotonically_increasing_id`,
  *    whose partition-id encoding needs a per-partition offset literal
  *    that changes from run to run.
  *  - Native kernels: the SQL names of the six `graft.functions`
  *    kernels appear in string literals only under `graft/functions`.
  *    Everywhere else a kernel is its Column constructor
  *    (`DotF32.col`, `PolyHash.col`, …), which resolves in any session;
  *    a `call_function("poly_hash", …)` resolves only where something
  *    registered the name first.
  */
class SourceGuardSpec extends AnyFunSuite {
  private def sources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
  }

  private def hits(f: java.io.File, banned: Regex): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().zipWithIndex.collect {
      case (line, i) if banned.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
    }.toList
    finally src.close()
  }

  /** `banned` matches in some owner file (the pattern is live) and in no
    * other file under src/main.
    */
  private def guard(banned: Regex, owners: Set[String], advice: String): Unit = {
    val (own, rest) = sources.partition(f => owners(f.getName))
    assert(own.map(_.getName).sorted == owners.toSeq.sorted,
      s"expected exactly one each of $owners, found ${own.map(_.getPath)}")
    assert(own.exists(hits(_, banned).nonEmpty), s"guard pattern $banned matches nothing in $owners")
    val found = rest.flatMap(hits(_, banned))
    assert(found.isEmpty, s"$advice instead of:\n" + found.mkString("\n"))
  }

  /** The string literals of `f`: triple-quoted ones (which may span
    * lines), then one-line ones.
    */
  private def literals(f: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val text = try src.mkString finally src.close()
    val triple = "\"{3}(?s:.*?)\"{3}".r
    val single = "\"(?:[^\"\\\\\\n]|\\\\.)*\"".r
    triple.findAllIn(text).toList ++ single.findAllIn(triple.replaceAllIn(text, "")).toList
  }

  test("native kernels are named in string literals only in graft/functions") {
    val kernel = """\b(dot_f32|sq_dist_i64|poly_hash|minhash_signature|kmin_sketch|topk_sketch)\b""".r
    val (own, rest) = sources.partition(_.getPath.contains("/graft/functions/"))
    def named(f: java.io.File): Seq[String] = literals(f).filter(kernel.findFirstIn(_).isDefined)
    assert(own.exists(named(_).nonEmpty), s"guard pattern $kernel matches no literal in graft/functions")
    val found = rest.flatMap(f => named(f).map(l => s"${f.getPath}: $l"))
    assert(found.isEmpty,
      "build the kernel with its Column constructor (DotF32.col, PolyHash.col, …) instead of:\n" +
        found.mkString("\n"))
  }

  test("truncation and session registries appear only in CacheTracker") {
    guard("""\.(localCheckpoint|checkpoint)\b|WeakHashMap\[SparkSession""".r, Set("CacheTracker.scala"),
      "pin through graft.operators.CacheTracker (persist / truncate / track)")
  }

  test("sessions are built only through Harness") {
    guard("""GraftSession\.builder\(""".r, Set("GraftSession.scala", "Harness.scala"),
      "get the session from graft.Harness.session")
  }

  test("session confs are set only in GraftSession") {
    guard("""\.config\("spark\.""".r, Set("GraftSession.scala"),
      "add the conf to graft.GraftSession.builder")
  }

  test("WorkMetricsListener is the only SparkListener registered") {
    guard("""addSparkListener\(""".r, Set("WorkMetrics.scala"),
      "collect task and stage counters through graft.WorkMetricsListener")
  }

  test("dense positions come only from Staging, never monotonically_increasing_id") {
    val found = sources.flatMap(hits(_, """monotonically_increasing_id""".r))
    assert(found.isEmpty, "index rows by their position in a staged cache " +
      "(DcaFrame.fromDF, Staging.window) instead of:\n" + found.mkString("\n"))
  }

  test("Spark's private SQL surface is reached only through GraftSqlBridge") {
    guard("""sql\.classic\b|Dataset\.ofRows\(|LogicalRDD\(""".r, Set("GraftSqlBridge.scala"),
      "add the call to org.apache.spark.sql.graftbridge.GraftSqlBridge and use it from there")
  }
}
