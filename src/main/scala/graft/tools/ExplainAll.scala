package graft.tools

import org.apache.spark.sql.execution.{DeserializeToObjectExec, FilterExec, FormattedMode, InputAdapter,
  MapElementsExec, MapPartitionsExec, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Plan-hygiene audit over the final (post-AQE) physical plan of each
  * query: grep-able scan / join / exchange lines, codegen coverage, then
  * the formatted plan. Run:
  *   sbt "runMain graft.tools.ExplainAll [--sf=DIR] [--cpus=N] [query ...]"
  * (no names = every query; redirect stdout to keep the plans on disk).
  */
object ExplainAll extends AdaptiveSparkPlanHelper {
  /** Codegen coverage of an executed plan: distinct whole-stage codegen
    * spans, operators that could codegen but run interpreted (per-row
    * virtual calls), and typed object boundaries (expected on
    * Dataset.map / mapPartitions paths, so counted, not flagged).
    */
  final case class Codegen(spans: Int, nonCodegen: Int, objectOps: Int)

  def codegen(plan: SparkPlan): Codegen = {
    var spans = Set.empty[Int]
    var slow, objs = 0
    // `inStage`: inside a codegen stage, i.e. below a WholeStageCodegenExec
    // with no InputAdapter (the stage's input boundary) in between
    def walk(p: SparkPlan, inStage: Boolean): Unit = {
      val below = p match {
        case w: WholeStageCodegenExec => spans += w.codegenStageId; true
        case _: InputAdapter => false
        case _: SortMergeJoinExec | _: HashAggregateExec | _: FilterExec | _: ProjectExec =>
          if (!inStage) slow += 1
          inStage
        case _: MapElementsExec | _: MapPartitionsExec | _: DeserializeToObjectExec =>
          objs += 1
          inStage
        case _ => inStage
      }
      allChildren(p).foreach(walk(_, below))
    }
    walk(plan, inStage = false)
    Codegen(spans.size, slow, objs)
  }

  def main(args: Array[String]): Unit = {
    val a = graft.Harness.parse(args.toSeq, "/root/testdata/sf0.001")
    val spark = graft.Harness.session(a.cpus)
    graft.Harness.queries(a.names).foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, a.sfDir)
        // execute THIS queryExecution's plan: under AQE the pre-execution
        // plan is the initial one — runtime join picks and codegen stages
        // only exist in the final plan (a separate write would plan its
        // own execution and leave this one unfinalized)
        val qe = df.queryExecution
        qe.executedPlan.execute().foreachPartition(_ => ())
        val plan = qe.executedPlan.toString()
        val scans = plan.linesIterator.filter(_.contains("FileScan")).map(_.trim.take(200)).toList
        val joins = plan.linesIterator.filter(l =>
          l.contains("Join") || l.contains("CartesianProduct")).map(_.trim.take(120)).toList
        val exchanges = plan.linesIterator.filter(_.contains("Exchange"))
          .map(_.trim.stripPrefix("+- ").stripPrefix(":- ").take(160)).toList
        val cg = codegen(qe.executedPlan)
        println(s"== $name  (exchanges~${exchanges.size}, codegenSpans=${cg.spans}, " +
          s"nonCodegen=${cg.nonCodegen}, objectOps=${cg.objectOps})" +
          (if (cg.spans == 0 && cg.objectOps == 0) "  <-- NO-CODEGEN" else ""))
        scans.foreach(s => println(s"   scan: $s"))
        joins.foreach(j => println(s"   join: $j"))
        exchanges.foreach(e => println(s"   xchg: $e"))
        println(qe.explainString(FormattedMode))
      } catch { case e: Exception =>
        println(s"== $name  ERROR ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
