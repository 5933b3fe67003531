package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{count, lit}

/** The one instrument the in-repo tools share: the session they run in
  * (`graft.Bench`, `graft.Verify`, `graft.Prof`), the whole-answer write
  * they time, and the per-block record of what Spark ran.
  */
object Harness {

  /** What one probed block ran: wall seconds, Spark jobs and stages
    * (skipped stages included), the largest per-task peak execution
    * memory, the bytes spilled from memory, and the seconds and count of
    * generated-code compilations (`CodeGenerator.compileTime` and
    * `CodegenMetrics.METRIC_COMPILATION_TIME`). The compile counters are
    * JVM-wide: in local mode they include the executors' compiles, and
    * any other work the JVM runs meanwhile.
    *
    * `peakTaskMem` counts only memory Spark's memory manager hands out
    * (sorts, aggregation and hash-join buffers). It misses what a kernel
    * holds in plain JVM objects, which never spills either:
    * `core.ChannelScan`'s block windows (FIR, CWT, resample, Welch/STFT
    * frames, IIR blocks) and their FFT segments, `Dedup.bandPairs`' current
    * bucket, `Dedup.LongUnionFind` in components, and the per-document
    * arrays of the row kernels (`chunkSums`, `winnowFps`, the curate and
    * gopher counts). A 0 there means "no managed buffer", not "no memory".
    */
  final case class Run(
      seconds: Double, jobs: Int, stages: Int, peakTaskMem: Long, spill: Long, compileSeconds: Double, compiles: Long)

  /** The production session: `local[SPARK_GRAFT_CPUS]` (default 4), one
    * shuffle partition per core, UTC, UI off, the production extensions
    * installed and the analysis-time global-window guard armed, so any
    * plan `GlobalWindowCheck` rejects is a finding.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.failOnGlobalWindow", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Writes every column of every row of `df` to the noop sink and
    * returns the row count, observed in the same pass. `count()` would
    * let Catalyst prune the columns a kernel computes, and with them any
    * work or crash they hold.
    */
  def written(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** `body`'s value and what it ran, counted on a job group of its own,
    * so jobs still queued on the listener bus from earlier work are never
    * charged here.
    */
  def probe[T](spark: SparkSession)(body: => T): (T, Run) = {
    val sc = spark.sparkContext
    val group = s"graft-probe-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          stages.addAndGet(e.stageInfos.size)
          e.stageIds.foreach(ours.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && ours.contains(e.stageId)) {
          peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
          spill.addAndGet(m.memoryBytesSpilled)
          ()
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "graft probe")
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    try {
      val compile0 = CodeGenerator.compileTime
      val compiles0 = compiled.getCount
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      drain(spark)
      val compileSec = (CodeGenerator.compileTime - compile0) / 1e9
      (out, Run(sec, jobs.get, stages.get, peak.get, spill.get, compileSec, compiled.getCount - compiles0))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Waits until every listener event posted so far has been delivered
    * (the bus is private[spark]: reflection, with a sleep fallback).
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }
    ()
  }
}
