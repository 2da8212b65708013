package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to construct a DataFrame from a custom LogicalPlan, and a
  * Column from a custom Expression. `Dataset.ofRows` is `private[sql]`, so
  * library code that introduces its own plan nodes (graft.plans.CosineTopK)
  * or expressions (graft.functions.MinhashSignature) needs these one-liners
  * inside the Spark package — the standard technique for third-party plan
  * extensions.
  */
object GraftPlanBridgeImpl {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** `f` applied to the column's expression, as a Column. */
  def mapExpr(c: Column)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(c)))
}
