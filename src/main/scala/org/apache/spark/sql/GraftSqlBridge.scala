package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{DataType, ObjectType}

/** Bridge into Spark 4's sql-private Column ⇄ Catalyst-Expression
  * conversion (org.apache.spark.sql.classic.ExpressionUtils is
  * private[sql]). The standard pattern for extension libraries that
  * expose Catalyst expressions as public `Column` functions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER ColumnNode → Catalyst conversion. `expression` wraps the
    * Column's node in a lazy ColumnNodeExpression adapter, which classic
    * Dataset analysis converts — but an adapter returned from a
    * FunctionRegistry builder into a pure-SQL plan is never revisited and
    * reaches codegen unconverted (INTERNAL_ERROR). Converting eagerly
    * yields plain UnresolvedFunction/Literal trees the SQL analyzer
    * resolves like any parsed expression. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** A row kernel: the public method `fn` of the Scala object `obj`,
    * called on each row as `obj.fn(args…)` through Spark's
    * `StaticInvoke` — one static call in generated code, the same method
    * by reflection in interpreted mode. Arguments arrive in Catalyst's
    * internal form (`ArrayData`, `UTF8String`, `InternalRow`, Java
    * primitives); a [[model]] arrives as the object itself. A null
    * argument yields null without calling `fn`, and `fn` never returns
    * null. */
  def kernel(obj: AnyRef, fn: String, dataType: DataType, args: Column*): Column =
    column(StaticInvoke(obj.getClass, dataType, fn, args.map(catalystExpression),
      returnNullable = false))

  /** A driver-side model (centroid matrix, seed set, filter bytes,
    * weights, seed string) as a plan constant a [[kernel]] receives
    * as-is. Literal equality is the model's own `==` (by reference for
    * arrays and the ref classes, by content for byte arrays and strings),
    * so two distinct models never collapse into one. */
  def model(ref: AnyRef): Column = column(Literal(ref, ObjectType(ref.getClass)))

  def analyzedPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
