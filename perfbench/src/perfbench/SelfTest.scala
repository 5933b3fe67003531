package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Guard against timing pruned work: a cardinality-preserving LEFT JOIN
  * (unique right keys, the semdedup precedent) is eliminated under
  * `count()` but must survive in the plan of the benchmark's timed
  * action, [[Digest.materialize]].
  */
object SelfTest extends AdaptiveSparkPlanHelper {

  def pruning(spark: SparkSession): String = {
    val left = spark.range(0, 20000).select(col("id").as("k"), (col("id") * 3).as("a"))
    val right = spark.range(0, 20000).groupBy((col("id") % 10000).as("k")).agg(max(col("id")).as("b"))
    val joined = left.join(right, Seq("k"), "left")

    def joins(qe: QueryExecution): Int = collectWithSubqueries(qe.executedPlan) { case j: BaseJoinExec => j }.size

    val counted = joined.groupBy().count()
    counted.collect()
    val countJoins = joins(counted.queryExecution)

    @volatile var timedJoins = -1
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        timedJoins = math.max(timedJoins, joins(qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val d = Digest.materialize(joined, "selftest", withStats = false)
    Trace.drainBus(spark)
    spark.listenerManager.unregister(listener)
    Json.obj(Map(
      "count_plan_joins" -> countJoins.toString,
      "timed_plan_joins" -> timedJoins.toString,
      "timed_rows" -> d.rows.toString
    )) + "\n"
  }
}
