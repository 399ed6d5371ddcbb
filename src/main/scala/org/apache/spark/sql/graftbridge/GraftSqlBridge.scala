package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
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
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(output) * rowCount,
      rowCount = Some(BigInt(rowCount)))
    ofRows(session, LogicalRDD(output, rdd)(session, Some(stats)))
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
