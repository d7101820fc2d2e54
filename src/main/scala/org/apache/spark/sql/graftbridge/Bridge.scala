package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Accessor for Spark's private[sql] Column ↔ Expression converters,
  * needed to expose custom Catalyst expressions through the public
  * Column API (same approach as other Spark extension libraries).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** private[sql] Dataset.ofRows — wrap an analyzed LogicalPlan back
    * into a DataFrame (the MERGE source plan → the native writers'
    * source frame).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A V1 streaming relation over a DSv1 StreamSourceProvider (the
    * plan `spark.readStream.format(provider).options(…).load()`
    * builds) — the v1Relation fallback graft's analyzer rule plants
    * into a catalog table's StreamingRelationV2, so
    * `spark.readStream.table("graft.…")` executes through the proven
    * DSv1 stream sources. Constructed here because DataSource is
    * private[sql].
    */
  def v1StreamingRelation(
      spark: org.apache.spark.sql.SparkSession,
      provider: String,
      options: Map[String, String])
  : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(
      org.apache.spark.sql.execution.datasources.DataSource(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        className = provider,
        options = options))

  /** private[sql] SparkSession.internalCreateDataFrame — the only way
    * a V1 streaming Source can hand back a batch whose plan is marked
    * `isStreaming` (the same call Spark's own FileStreamSource makes).
    */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  /** Spark's own per-task write statistics (bytes and rows written,
    * which feed the task output metrics); its Hadoop configuration
    * wrapper is private[spark].
    */
  def basicWriteStatsTracker(hadoopConf: org.apache.hadoop.conf.Configuration)
  : org.apache.spark.sql.execution.datasources.WriteJobStatsTracker =
    new org.apache.spark.sql.execution.datasources.BasicWriteJobStatsTracker(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      org.apache.spark.sql.execution.datasources.BasicWriteJobStatsTracker.metrics)
}
