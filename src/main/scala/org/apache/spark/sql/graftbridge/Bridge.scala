package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for custom Catalyst expressions.
  * Spark 4 made the converters `private[sql]`; this shim lives under
  * `org.apache.spark.sql` solely to re-export them and the one
  * `private[spark]` call `tools.Probe` needs (public Spark API surface,
  * no internals copied).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a hand-built logical plan into a DataFrame so it flows through
    * analyze→optimize→plan, where an injected `SparkStrategy` can claim
    * it (the planner-extension entry point, used by the native as-of
    * join).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's analyzed plan, for composing it as a child of a
    * custom logical node.
    */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
      org.apache.spark.sql.Row]].queryExecution.analyzed

  /** A checkpointed `df` re-made without the constraints it inherited
    * from the plan it cut; the rows, partitioning and size estimate stay.
    * Spark matches the inherited constraints to the output by attribute
    * with nullability, so when the cut plan filtered a column to
    * non-null, a renewed copy of the leaf (a self-union or self-join
    * renews one) keeps constraints on the old attribute id, and a `Union`
    * over it fails its constraint rewrite with `key not found`. Any other
    * `df` is returned as it is.
    */
  def withoutInheritedConstraints(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = analyzed(df) match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      val spark = df.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      // built anew, not by `transform`: LogicalRDD's equality ignores
      // the constraints, so a transform would keep the old node
      ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(r.output, r.rdd,
        r.outputPartitioning, r.outputOrdering, r.isStreaming)(
        spark, Some(r.computeStats())))
    case _ => df
  }

  /** Blocks until every queued listener event has been delivered, so a
    * listener read after an action has seen all of that action's stages.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
