package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge: Spark 4 hides the classic converters as
  * private[sql]; this shim lives in an org.apache.spark.sql subpackage
  * purely to expose them to graft's custom expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A checkpoint (`df` is one LogicalRDD) whose size estimate is `rows`
    * rows; any other plan is returned as is. A checkpoint otherwise keeps
    * its origin plan's estimate, and joins multiply estimates, so over
    * checkpointed join rounds the estimate squares every round.
    */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.logicalPlan match {
      case r: LogicalRDD =>
        val stats = Statistics(EstimationUtils.getOutputSize(r.output, rows), Some(rows))
        classic.Dataset.ofRows(ds.sparkSession, r.copy()(ds.sparkSession, Some(stats), None))
      case _ => df
    }
  }
}
