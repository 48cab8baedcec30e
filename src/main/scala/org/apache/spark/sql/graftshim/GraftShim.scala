package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the private[sql] Column↔Expression converters — the standard
  * escape hatch for third-party connectors registering native expressions
  * (Spark 4 removed the public Column(expr) constructor). */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst predicate -> DSv1 `sources.Filter` (the filter-compiler
    * currency) — used by the logical index-semi-join rule, which must make
    * the same pushability/selectivity judgments at OPTIMIZER time that the
    * scan builder makes at pushdown time. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)

  /** `df`'s logical plan as a frame of session `s`, analyzed in `s` and
    * run by `s`: its jobs carry `s`'s conf and artifact state. Nothing is
    * planned again when the plan is a `LogicalRDD` (a foreachBatch frame). */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
