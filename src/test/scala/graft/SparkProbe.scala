package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark runs for one block of test code: its jobs and the plans
  * of its actions, construction-time checkpoints and collects included.
  * Suites in one test JVM run one at a time, so the session-wide
  * listeners see only the block's own work.
  */
object SparkProbe {
  import TestSpark.spark

  /** `body`'s value and the number of Spark jobs it started, counted on
    * a job group of its own.
    */
  def jobs[T](body: => T): (T, Int) = {
    val group = s"spark-probe-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "spark probe")
    try {
      val out = body
      drain()
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `body`'s value and the executed plan of every action it ran. */
  def actionPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      drain()
      (out, plans.toArray(Array.empty[SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of a plan, through AQE's initial plan and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case other => other.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  // listener events arrive asynchronously; wait for the bus to empty
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }
}
