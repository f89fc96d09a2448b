package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one sanctioned crossing into Spark's `private[sql]` surface: turning a
  * custom [[LogicalPlan]] node into a user-facing [[DataFrame]], and a custom
  * [[Expression]] into a [[Column]] (and back) so the `graft_*` Column
  * helpers build their expression directly instead of looking a name up in
  * the session's function registry. Every Spark-native library that ships
  * its own logical operators (the pattern documented in SURVEY.md §4.3 for
  * delta/iceberg/sedona-class extensions) uses exactly this
  * package-placement bridge, because Spark deliberately exposes plan
  * *injection* (SparkSessionExtensions) but not plan *construction*.
  * Nothing else in graft reaches past the public API.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
