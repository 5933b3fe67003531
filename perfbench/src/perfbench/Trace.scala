package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval with a parent: one per op, with children `build`,
  * `plan` and `exec`. Times are nanoseconds since the run started.
  */
final case class Span(
    id: Int,
    parent: Int, // -1 for a root
    name: String,
    start: Long,
    end: Long,
    counters: Map[String, Double]
)

/** Counters of one op, split by the phase the benchmark was in when
  * Spark saw the work: `build` (graft constructing the answer, which
  * may run eager jobs) or `exec` (the timed noop write).
  */
final class PhaseCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakTaskMem = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Planning numbers from one QueryExecution (QueryPlanningTracker). */
final case class PlanInfo(
    startMs: Long,
    analysisMs: Long,
    optimizationMs: Long,
    planningMs: Long,
    graftRuleNs: Long,
    graftRuleRuns: Long,
    graftRuleHits: Long,
    nodes: Int,
    topJoinRows: Long
)

/** SparkListener + QueryExecutionListener the benchmark registers on
  * its own session. Events are tagged through the `perfbench.phase`
  * local property; [[drain]] waits for the listener bus so an op's
  * counters are complete before they are read.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var enabled = false
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private var counters = Map("build" -> new PhaseCounters, "exec" -> new PhaseCounters)
  private val plans = mutable.ArrayBuffer.empty[PlanInfo]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def drain(): Unit = Trace.drainBus(spark)

  def setPhase(p: String): Unit = spark.sparkContext.setLocalProperty("perfbench.phase", p)

  /** Counters and plans since the last call; resets them. */
  def take(): (Map[String, PhaseCounters], Seq[PlanInfo]) = synchronized {
    val out = (counters, plans.toVector)
    counters = Map("build" -> new PhaseCounters, "exec" -> new PhaseCounters)
    plans.clear()
    stagePhase.clear()
    out
  }

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("exec")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    counters(phaseOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) synchronized {
    val p = phaseOf(e.properties)
    stagePhase.put(e.stageInfo.stageId, p)
    counters(p).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(Option(stagePhase.get(e.stageId)).getOrElse("exec"))
      val info = e.taskInfo
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedDelayMs += math.max(
        0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      )
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled
      c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
      c.bytesRead += m.inputMetrics.bytesRead
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val graftRules = qe.tracker.rules.filter { case (name, _) => name.startsWith("graft.") }.values
      val nodes = allNodes(qe.executedPlan)
      val topJoin = nodes.collectFirst { case j: BaseJoinExec => j }
      val info = PlanInfo(
        startMs = ph.values.map(_.startTimeMs).minOption.getOrElse(0L),
        analysisMs = ms("analysis"),
        optimizationMs = ms("optimization"),
        planningMs = ms("planning"),
        graftRuleNs = graftRules.map(_.totalTimeNs).sum,
        graftRuleRuns = graftRules.map(_.numInvocations).sum,
        graftRuleHits = graftRules.map(_.numEffectiveInvocations).sum,
        nodes = nodes.size,
        topJoinRows = topJoin.flatMap(_.metrics.get("numOutputRows")).map(_.value).getOrElse(0L)
      )
      synchronized { plans += info; () }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {

  /** Waits until the listener bus has delivered every event so far
    * (`listenerBus` is private[spark], hence reflection).
    */
  def drainBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  /** Spans as a JSON array, written at exit. */
  def json(spans: Seq[Span]): String =
    spans
      .map { s =>
        val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.start},""" +
          s""""end_ns":${s.end},"self_ns":${selfNs(s, spans)},"counters":{${cs.mkString(",")}}}"""
      }
      .mkString("[\n", ",\n", "\n]\n")

  /** Duration minus the part of the interval covered by its children. */
  def selfNs(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    (s.end - s.start) - covered
  }
}
