package graft

import org.apache.spark.sql.SparkSession

/** Shared setup for every graft main: argument parsing, the query-name
  * check, and the local session with its warm-up. The registry loops are
  * [[Bench]] (timing), [[Verify]] (result dump), [[graft.tools.ExplainAll]]
  * (plan audit) and [[graft.tools.DeterminismCheck]].
  */
object Harness {
  /** Parsed `[--sf=DIR] [--cpus=N] [query ...]`; `names` is empty for a
    * run over the whole registry.
    */
  final case class Args(sfDir: String, cpus: String, names: Seq[String])

  /** `names` in the order given, else every registered query in sorted
    * order (stable across runs, so staged first-touch lands on the same
    * query every time).
    */
  def queries(names: Seq[String]): Seq[String] =
    if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted

  /** Flags beat the `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` env vars:
    * under `run / fork := true` a forked JVM inherits the sbt server's
    * environment, so env set on an `sbt --client` command line does not
    * reach the main. Unknown flags and query names fail here, before
    * any session starts.
    */
  def parse(args: Seq[String], defaultSf: String): Args = {
    val (flags, names) = args.partition(_.startsWith("--"))
    def flag(k: String): Option[String] =
      flags.collectFirst { case f if f.startsWith(s"--$k=") => f.drop(k.length + 3) }
    val unknown = flags.filterNot(f => f.startsWith("--sf=") || f.startsWith("--cpus="))
    require(unknown.isEmpty,
      s"unknown flags: ${unknown.mkString(" ")} (usage: [--sf=DIR] [--cpus=N] [query ...])")
    val cpus = flag("cpus").getOrElse(envCpus)
    require(cpus.nonEmpty && cpus.forall(_.isDigit) && cpus.toInt > 0, s"--cpus=$cpus is not a positive core count")
    Args(flag("sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(defaultSf),
      cpus, checked(names))
  }

  /** `names` without duplicates; fails listing every name that is not a
    * registered query.
    */
  def checked(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.distinct
  }

  private def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A `local[cpus]` graft session, shuffle partitions sized to the cores. */
  def session(cpus: String = envCpus): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm the JVM once so the first measured query is not billed for
    * one-time init: codegen, parquet reader, broadcast + shuffle
    * machinery (worth ~3-8 s on whichever query runs first otherwise).
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, upper}
    val r = spark.read.parquet(s"$sfDir/region.parquet")
    r.join(broadcast(r.limit(1)), r.columns.headOption.toSeq)
      .groupBy(r.columns.head).count()
      .write.format("noop").mode("overwrite").save()
    // first upper()/lower() call loads the ICU case-mapping tables
    // (collation-aware string functions) — a one-time ~14 s JVM cost
    // that would otherwise bill whichever query touches upper first
    // (measured: q14 5.5 s first run, 0.3 s after; bare upper() 14 s
    // first call, 0.09 s after)
    r.select(upper(col(r.columns(1)))).write.format("noop").mode("overwrite").save()
  }
}
