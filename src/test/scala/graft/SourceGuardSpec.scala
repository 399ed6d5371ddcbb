package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the storage lifecycle: lineage truncation and the
  * per-session registry live in `CacheTracker` only, so the truncation
  * policy (reliable with a session checkpoint dir, local otherwise) and
  * the release sweep cover every pinned frame. A bare `.localCheckpoint(`
  * or `.checkpoint(` anywhere else would pin blocks the policy never
  * sees; a second `WeakHashMap[SparkSession` would be a registry the
  * sweep never reaches.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val owner = "CacheTracker.scala"
  private val banned = """\.(localCheckpoint|checkpoint)\b|WeakHashMap\[SparkSession""".r

  private def sources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
  }

  private def hits(f: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().zipWithIndex.collect {
      case (line, i) if banned.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
    }.toList
    finally src.close()
  }

  test("truncation and session registries appear only in CacheTracker") {
    val (own, rest) = sources.partition(_.getName == owner)
    assert(own.size == 1, s"expected exactly one $owner, found ${own.map(_.getPath)}")
    // the patterns are live: the owner itself matches them
    assert(hits(own.head).nonEmpty, s"guard patterns match nothing in $owner")
    val found = rest.flatMap(hits)
    assert(found.isEmpty,
      "pin through graft.operators.CacheTracker (persist / truncate / track) instead of:\n" +
        found.mkString("\n"))
  }
}
