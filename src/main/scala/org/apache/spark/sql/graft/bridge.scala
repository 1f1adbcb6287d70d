package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** The ONE place the engine touches `private[sql]` Spark API, from a
  * package nested under `org.apache.spark.sql` — the standard
  * external-connector seam (delta-spark compiles inside
  * `org.apache.spark.sql.delta` for exactly this access). Everything
  * here is COMPILE-CHECKED against the Spark version on the classpath:
  * an API change surfaces as a build error, never a runtime reflection
  * failure.
  */
object Bridge {
  /** A hand-built `LogicalPlan` as a public `DataFrame`
    * (`Dataset.ofRows` is package-private by design). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Expression ↔ Column hops for the engine's INTERNAL folds — lets a
    * native aggregate run on ANY session (the foreign-table tails run
    * under whatever session the user owns; function-registry
    * registration is only guaranteed on extensions-configured ones). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Whether the session's planner already carries `strategy` — covers
    * BOTH registration paths (extension-injected strategies and
    * `experimental.extraStrategies`), so callers can self-heal without
    * double-registering on an extensions-configured session.
    */
  def hasStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Boolean =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.planner.strategies.contains(strategy)

  /** Re-wrap a micro-batch DataFrame handed to a DSv1 `Sink.addBatch`
    * as a BATCH DataFrame over the already-planned batch RDD — the
    * identical move `ForeachBatchSink` makes: the incoming Dataset's
    * logical plan still contains the streaming scan relations, so any
    * re-planning (a `.write`, an aggregate) would trip the
    * streaming-execution guard; `queryExecution.toRdd` pins THIS
    * batch's physical plan and `LogicalRDD` presents it as batch
    * input. */
  def asBatch(df: DataFrame): DataFrame = {
    val data = df.asInstanceOf[classic.DataFrame]
    val node = LogicalRDD.fromDataset(
      data.queryExecution.toRdd, data, isStreaming = false)
    classic.Dataset.ofRows(data.sparkSession, node)
  }

  /** Catalyst predicate → DSv2 [[org.apache.spark.sql.sources.Filter]],
    * Spark's own translation (`protected[sql]`) — how the graft-txlog
    * source turns its `filterExpr` option into the same filter objects
    * the batch pushdown path receives. */
  def translateFilter(predicate: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(predicate, supportNestedPredicatePushdown = true)
}
