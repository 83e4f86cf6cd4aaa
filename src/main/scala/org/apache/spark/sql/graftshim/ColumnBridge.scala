package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark 4's `private[sql]` Column <-> Expression plumbing
  * (`org.apache.spark.sql.classic.ExpressionUtils`, columnNodeSupport
  * .scala). Spark 4 detached the public Column API from Catalyst for
  * Spark Connect; a classic-mode library registering its own Catalyst
  * expressions (graft.functions.*) needs exactly these two calls, so
  * this shim lives under the sql package tree to satisfy the
  * private[sql] scope — the standard extension-library technique.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Parse SQL text to a logical plan with the session's own parser
    * (for created-table discovery — strictly better than regex when
    * the dialect is Spark's).
    */
  def parsePlan(
      spark: org.apache.spark.sql.SparkSession,
      sql: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parsePlan(sql)

  /** Register a SQL function builder on an EXISTING session (the
    * builder-time path is `SparkSession.builder().withExtensions(new
    * GraftExtensions)`; this covers sessions we didn't construct).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point
    * for library-defined logical operators (graft.plans.AsOfJoinNode)
    * into the Dataset API. `Dataset.ofRows` is `private[sql]`, hence
    * the shim.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (resolved attributes for
    * constructing library-defined logical operators over it).
    */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Free an RDD's blocks the way `RDD.unpersist` does, through
    * `SparkContext.unpersistRDD` (`private[spark]`), without its WARN
    * that a locally checkpointed RDD's lineage cannot be recomputed —
    * for a superseded loop round ([[graft.ops.Ops.release]]) that is
    * the point.
    */
  def unpersistRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Install a planner strategy on an EXISTING session (builder-time
    * path: `SparkSessionExtensions.injectPlannerStrategy`) — idempotent
    * by strategy identity, via Spark's sanctioned runtime hook
    * (`experimentalMethods.extraStrategies`).
    */
  def addPlannerStrategy(
      spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val em = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.experimentalMethods
    if (!em.extraStrategies.contains(strategy))
      em.extraStrategies = em.extraStrategies :+ strategy
  }

  /** Install an optimizer rule on an EXISTING session (builder-time
    * path: `SparkSessionExtensions.injectOptimizerRule`) — idempotent
    * by rule identity, Spark's sanctioned runtime hook
    * (`experimentalMethods.extraOptimizations`).
    */
  def addOptimizerRule(
      spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val em = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.experimentalMethods
    if (!em.extraOptimizations.contains(rule))
      em.extraOptimizations = em.extraOptimizations :+ rule
  }
}
