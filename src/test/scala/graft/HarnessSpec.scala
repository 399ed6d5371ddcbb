package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.{FilterExec, ProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.core.SparkTestBase
import graft.operators.CacheTracker
import graft.tools.ExplainAll

/** The three registry mains and their shared [[Harness]]: argument and
  * name checks, Bench's timing loop, Verify's dump, ExplainAll's codegen
  * audit.
  */
class HarnessSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  private val sf = "/root/testdata/sf0.001"

  test("flags parse, and unknown flags or query names fail naming them") {
    assert(Harness.parse(Seq("--sf=/d", "--cpus=2", "q1_agg", "q1_agg"), "dflt") ==
      Harness.Args("/d", "2", Seq("q1_agg")))
    val e = intercept[IllegalArgumentException] {
      Harness.parse(Seq("q1_agg", "no_such_query", "q0_nope"), sf)
    }
    assert(e.getMessage.contains("no_such_query, q0_nope"), e.getMessage)
    val f = intercept[IllegalArgumentException](Harness.parse(Seq("--shuffle=8", "q1_agg"), sf))
    assert(f.getMessage.contains("--shuffle=8"), f.getMessage)
    intercept[IllegalArgumentException](Harness.parse(Seq("--cpus=0"), sf))
  }

  test("Bench bills staged first touch apart, counts work, and a named run keeps the artifact") {
    CacheTracker.release(spark) // earlier suites may have staged liFrame at this scale
    val a = Harness.parse(Seq(s"--sf=$sf", "q1_agg", "dca_s7_mask"), "unused")
    val artifact = Files.createTempFile("bench_full", ".json")
    Files.writeString(artifact, "previous full run\n")
    val wm = WorkMetricsListener.install(spark)
    val passes = try Bench.measure(spark, wm, a, runs = 1)
      finally spark.sparkContext.removeSparkListener(wm)
    Bench.report(passes, a, artifact)
    assert(Files.readString(artifact) == "previous full run\n")

    val Seq(pass) = passes
    assert(pass.records.map(_.name) == Seq("q1_agg", "dca_s7_mask"))
    pass.records.foreach { r =>
      assert(!r.failed, r.name)
      assert(r.work.tasks > 0, r.name)
      assert(r.stages.nonEmpty && r.stages.forall(_.tasks > 0), r.name)
    }
    val Seq(q1, s7) = pass.records
    assert(q1.staging == 0.0 && q1.staged.isEmpty)
    // the staged frame is built on first touch: its build seconds go to
    // `staging`, per key in the pass map, and not into the net time
    assert(s7.staged.nonEmpty && pass.staging.keySet.subsetOf(s7.staged.toSet))
    assert(s7.staging > 0.0)
    assert(math.abs(s7.staging - pass.staging.values.sum) < 1e-3, (s7.staging, pass.staging))
    assert(s7.net >= 0.0)
  }

  test("Verify drops a stale result of a failing query, and names restrict oracle_sql.json") {
    val out = Files.createTempDirectory("verify_out").toString
    val noTables = Files.createTempDirectory("no_tables").toString
    spark.range(3).write.parquet(s"$out/q1_agg") // a wrong result from an earlier run
    Verify.dump(spark, noTables, out, Seq("q1_agg", "q3_join_topk"))
    assert(!new File(s"$out/q1_agg").exists(), "stale parquet would reach the oracle compare")
    val keys = new ObjectMapper().readTree(new File(s"$out/oracle_sql.json")).fieldNames().asScala.toSet
    assert(keys == Set("q1_agg", "q3_join_topk"))
  }

  test("ExplainAll counts interpreted operators on every join branch") {
    // a join over an aggregate: the aggregate and its filter sit under
    // the join's left child, where the plan string's lines start with ':'
    def audit(wholeStage: String, adaptive: String): (ExplainAll.Codegen, Int) = withConfs(
        "spark.sql.codegen.wholeStage" -> wholeStage,
        "spark.sql.adaptive.enabled" -> adaptive,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val agg = spark.range(200).filter(col("id") % 3 =!= 0)
        .groupBy((col("id") % 10).as("k")).agg(sum("id").as("s"))
      val dim = spark.range(50).select((col("id") % 10).as("k"), (col("id") * 2).as("v"))
        .filter(col("v") > 4)
      val qe = agg.join(dim, "k").queryExecution
      qe.executedPlan.execute().foreachPartition(_ => ())
      val plan = qe.executedPlan
      val Seq(smj) = collect(plan) { case j: SortMergeJoinExec => j }
      val leftAgg = collect(smj.left) { case p @ (_: HashAggregateExec | _: FilterExec) => p }
      assert(leftAgg.size >= 3, s"sample plan lost its aggregate under the left branch:\n$plan")
      val ops = collect(plan) {
        case p @ (_: SortMergeJoinExec | _: HashAggregateExec | _: FilterExec | _: ProjectExec) => p
      }
      (ExplainAll.codegen(plan), ops.size)
    }
    for (adaptive <- Seq("false", "true")) {
      val (off, ops) = audit("false", adaptive)
      assert(off.spans == 0 && off.nonCodegen == ops, s"AQE $adaptive: $off vs $ops operators")
      val (on, _) = audit("true", adaptive)
      assert(on.spans > 0 && on.nonCodegen == 0, s"AQE $adaptive: $on")
    }
  }

  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
