package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType

/** The ONE access point this library takes into Spark's `private[sql]`
  * surface: constructing a DataFrame from a custom [[LogicalPlan]]
  * (`Dataset.ofRows`) — the standard bridge every Spark library that
  * ships its own operator uses, because plan-bearing Datasets have no
  * public constructor. Kept to a single file in a clearly-marked
  * package so the private-API dependency stays auditable; everything
  * else in the repo goes through public API.
  */
object GraftSqlBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** A leaf DataFrame over `rdd` (rows laid out as `schema`) that
    * reports `rowCount` as its exact statistics, so the optimizer sizes
    * it like a local relation (joins on it plan as broadcasts) instead
    * of the default unknown-size RDD estimate. Building it runs no job.
    */
  def sizedRddFrame(spark: org.apache.spark.sql.SparkSession, schema: StructType,
                    rdd: RDD[InternalRow], rowCount: Long): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    val output = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(sizeInBytes = rowBytes(schema) * rowCount, rowCount = Some(BigInt(rowCount)))
    ofRows(session, LogicalRDD(output, rdd)(session, Some(stats)))
  }

  /** The RDDs that the leaves built by [[sizedRddFrame]] read in `df`'s optimized plan. */
  def leafRdds(df: DataFrame): Seq[RDD[InternalRow]] =
    df.queryExecution.optimizedPlan.collect { case r: LogicalRDD => r.rdd }

  /** The bytes the optimizer sizes one row of `schema` at: exact for
    * fixed-width fields, the type's default size for the others.
    */
  def rowBytes(schema: StructType): Long =
    EstimationUtils.getSizePerRow(DataTypeUtils.toAttributes(schema)).toLong

  /** `spark.sql.autoBroadcastJoinThreshold`: the bytes one broadcast may ship. */
  def broadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[ClassicSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Whether building the RDD of `plan` runs no job: it holds no
    * exchange, adaptive plan or subquery.
    */
  def buildsWithoutJobs(plan: SparkPlan): Boolean = !plan.exists {
    case _: Exchange | _: AdaptiveSparkPlanExec => true
    case p => p.subqueries.nonEmpty
  }

  /** The rows of `df`, as `Dataset.collect` returns them, from one job
    * billed to its own SQL execution like any action. The job's
    * function is a named object: Spark's closure cleaner parses the
    * class file of every lambda it is handed (for `collect`, the whole
    * of `RDD`), and skips a named function's.
    */
  def collectRows(df: DataFrame): Array[Row] = {
    val qe = df.queryExecution
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    val parts = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      df.sparkSession.sparkContext.runJob(rdd, CopyRows, 0 until rdd.getNumPartitions)
    }
    parts.flatMap(_.map(r => toRow(r).asInstanceOf[Row]))
  }

  private object CopyRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.map(_.copy()).toArray
  }

  /** The aggregate column `agg` as a Catalyst expression resolved
    * against `df`'s columns, for checks that inspect what a caller
    * passed: function names are looked up, so `first(x)` is a `First`
    * node. Analysis only; no job runs.
    */
  def resolvedAgg(df: DataFrame, agg: Column): Expression =
    df.agg(agg).queryExecution.analyzed.expressions.last

  /** A Catalyst expression as a Column, for the library's own
    * expressions (`graft.functions`) that no SQL name can carry.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** A Column as the (unresolved) Catalyst expression it wraps. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
