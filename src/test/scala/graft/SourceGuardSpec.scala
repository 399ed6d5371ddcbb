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

  test("truncation and session registries appear only in CacheTracker") {
    guard("""\.(localCheckpoint|checkpoint)\b|WeakHashMap\[SparkSession""".r, Set("CacheTracker.scala"),
      "pin through graft.operators.CacheTracker (persist / truncate / track)")
  }

  test("sessions are built only through Harness") {
    guard("""GraftSession\.builder\(""".r, Set("GraftSession.scala", "Harness.scala"),
      "get the session from graft.Harness.session")
  }

  test("WorkMetricsListener is the only SparkListener registered") {
    guard("""addSparkListener\(""".r, Set("WorkMetrics.scala"),
      "collect task and stage counters through graft.WorkMetricsListener")
  }
}
