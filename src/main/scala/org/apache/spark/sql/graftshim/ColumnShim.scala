package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to Spark's `private[sql]` Column ⇄ Expression
  * converters (`org.apache.spark.sql.classic.ExpressionUtils`), needed to
  * expose custom Catalyst expressions (e.g. `graft.functions.PorterStem`)
  * through the public Column API. Lives under `org.apache.spark.sql` only
  * for visibility — the standard technique for out-of-tree Catalyst
  * extensions; no Spark internals are modified.
  */
object ColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — needed to hand plans containing custom logical
    * nodes (e.g. `graft.plans.TopKPerKey`) back to the public API.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (`queryExecution` is
    * classic-only in Spark 4's split API).
    */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The INITIAL physical plan (pre-AQE, planning only — nothing runs):
    * cheap whole-gate physical assertions (e.g. the CartesianProduct ban
    * in `PlanSmellSpec`) without executing a single job.
    */
  def sparkPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.sparkPlan

  /** The EXECUTED physical plan of a DataFrame (post-AQE when adaptive
    * is on); collect the frame first so AQE has finalized. CAVEAT for
    * plan assertions: under AQE the finalized exchanges are wrapped in
    * `ShuffleQueryStageExec` LEAF nodes — `plan.collect` cannot see
    * through them, so count exchanges in the plan RENDERING (see
    * `BucketedJoinSpec.shuffles`), never via `collect { case e:
    * ShuffleExchangeExec => }`.
    */
  def executedPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  /** Wait until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)

  /** A frame over `l`'s rdd under fresh attribute ids, with no origin
    * statistics or constraints (it plans as a default-sized leaf); the
    * rdd's declared partitioning and ordering are kept.
    */
  def freshLeaf(spark: SparkSession,
      l: org.apache.spark.sql.execution.LogicalRDD): DataFrame =
    ofRows(spark, l.newInstance()
      .copy()(spark.asInstanceOf[classic.SparkSession], None, None))

  /** Idempotently add a planner strategy to a LIVE session (the
    * runtime-registration face of `injectPlannerStrategy`, for sessions
    * built without extensions — e.g. the driver's harness session).
    */
  def addStrategy(spark: SparkSession,
      s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** Register a custom-Expression SQL function on a LIVE session (the
    * runtime face of `injectFunction`, for sessions built without
    * extensions — e.g. the driver's harness session). Idempotent:
    * re-registration overwrites with the same builder.
    */
  def addFunction(spark: SparkSession, name: String,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit = {
    val registry = spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry
    registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
