// Determinism audit: run every registered query TWICE under different
// shuffle-partition counts and compare canonicalized results. The
// driver's oracle gate hash-compares ONE run against DuckDB — a query
// whose output depends on partitioning (ties broken by arrival order,
// a limit over a non-unique sort, a float reduction whose grouping
// varies) could pass that gate by luck and flake later. This tool
// makes partition-sensitivity a measured property.
//
//   sbt "runMain graft.tools.DeterminismCheck [--sf=DIR] [--cpus=N] [name ...]"
package graft.tools

object DeterminismCheck {
  def main(args: Array[String]): Unit = {
    val a = graft.Harness.parse(args.toSeq, "/root/testdata/sf0.001")
    val names = graft.Harness.queries(a.names)
    val spark = graft.Harness.session(a.cpus)

    // canonical form mirrors the driver's compare: sort columns by
    // name, then sort row strings — multiset equality up to order
    def canon(name: String): String = {
      val df0 = graft.SparkEntry.queries(name)(spark, a.sfDir)
      val df = df0.select(df0.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
      df.collect().map(_.toString).sorted.mkString("\n")
    }

    var bad = List.empty[String]
    names.foreach { name =>
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        val a = canon(name)
        graft.queries.Staged.release(spark) // re-stage under the new setting
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val b = canon(name)
        graft.queries.Staged.release(spark)
        if (a != b) {
          bad ::= name
          println(s"[determinism] $name DIVERGES across partition counts")
        } else println(s"[determinism] $name ok")
      } catch {
        case e: Throwable =>
          bad ::= name
          println(s"[determinism] $name ERROR: ${e.getMessage}")
      }
    }
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    println(s"[determinism] ${names.size - bad.size}/${names.size} stable" +
      (if (bad.nonEmpty) s"; UNSTABLE: ${bad.sorted.mkString(", ")}" else ""))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
