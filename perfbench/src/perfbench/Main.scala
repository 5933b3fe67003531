package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A benchmark workload: seeded inputs and a fixed cycle of ops. */
trait Workload {

  /** Generates the inputs and builds any index under `dir`. */
  def setup(dir: String): Unit

  /** The ops of pass `i`, in order. */
  def pass(i: Int): Seq[Op]

  /** Input records one pass processes, for records_per_s. */
  def recordsPerPass: Long
}

object Workload {

  /** A write after every second read, the rest at the end: writes run
    * beside reads, and each pass yields several write samples.
    */
  def interleave(reads: Seq[Op], writes: Seq[Op]): Seq[Op] = {
    val early = reads.zipWithIndex.flatMap { case (r, i) =>
      if (i % 2 == 1 && i / 2 < writes.size) Seq(r, writes(i / 2)) else Seq(r)
    }
    early ++ writes.drop(reads.size / 2)
  }
}

/** What one op did in one pass. */
final case class OpRun(
    pass: Int,
    op: Op,
    startNs: Long,
    buildNs: Long,
    endNs: Long,
    digest: Option[Digest],
    error: Option[String],
    traced: Boolean
) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark program: one JVM, one workload, one closed-loop
  * client. Usage:
  *
  * {{{
  * perfbench.Main --workload eeg_dsp|corpus_curation|ann_serve --seed N
  *   --seconds S --trace 0|1 --size full|smoke --work DIR --out RESULT.json
  * perfbench.Main --selftest-pruning --work DIR --out RESULT.json
  * }}}
  *
  * It writes the whole result (environment, metrics, every op, the
  * oracle inputs) to `--out`; perfbench/run.py runs the DuckDB oracle
  * and prints the final line.
  */
object Main {

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session every run uses; `extra` holds a workload's own pins. */
  def session(work: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession
      .builder()
      .config(extra)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.failOnGlobalWindow", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    // --key value pairs; a --key followed by another --key is a flag
    val args = argv.indices.collect {
      case i if argv(i).startsWith("--") => argv(i).drop(2) -> argv.lift(i + 1).filterNot(_.startsWith("--"))
    }.toMap
    val flags = args.collect { case (k, None) => k }.toSet
    def arg(k: String): String = args.get(k).flatten.getOrElse(throw new IllegalArgumentException(s"--$k missing"))
    val work = new File(arg("work")).getAbsolutePath
    new File(work).mkdirs()
    val out = arg("out")
    if (flags("selftest-pruning")) {
      val spark = session(work)
      try Files.writeString(Paths.get(out), SelfTest.pruning(spark))
      finally spark.stop()
      return
    }
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val smoke = args.get("size").flatten.contains("smoke")

    val spark = session(work, Workloads.conf(workload))
    try {
      // charge session start and first-job JIT to set-up, not to an op
      spark.range(1000000).selectExpr("sum(id)").collect()
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val (wl, size) = Workloads(workload, spark, seed, smoke)
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val runner = new Runner(wl, work, seconds, tracer)
      runner.run()
      val measured = runner.json(sessionS) // before the checks below add to the heap high-water mark
      val extra = wl match {
        case e: Eeg => Map("oracle_events" -> Json.str(e.oracleInput()), "reference" -> Json.obj(
          e.referenceStats().map { case (k, m) => k -> Json.obj(m.map { case (a, b) => a -> Json.num(b) }) }
        ))
        case a: Ann => Map("store_check" -> a.checkStore().map(Json.str).getOrElse("null"))
        case _ => Map.empty[String, String]
      }
      val env = Map(
        "seed" -> seed.toString,
        "nproc" -> cores.toString,
        "master" -> Json.str(spark.sparkContext.master),
        "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
        "spark" -> Json.str(spark.version),
        "scala" -> Json.str(scala.util.Properties.versionNumberString),
        "extensions" -> Json.str(spark.conf.get("spark.sql.extensions")),
        "size" -> Json.str(size)
      )
      val body = measured ++ extra ++ Map("env" -> Json.obj(env), "workload" -> Json.str(workload))
      Files.writeString(Paths.get(out), Json.obj(body) + "\n")
      tracer.foreach(_ => Files.writeString(Paths.get(s"$work/trace.json"), Trace.json(runner.spans.toSeq)))
    } finally spark.stop()
  }
}

object Workloads {

  /** Session settings a workload pins beyond the common ones.
    * corpus_curation is the workload larger than memory: its inputs are
    * scaled down to fit the run budget, so the sorters' in-memory budget
    * is scaled down with them, to 50k records (winnow_topk's pair sort
    * spills, as it does at corpus scale).
    */
  def conf(name: String): Map[String, String] = name match {
    case "corpus_curation" => Map("spark.shuffle.spill.numElementsForceSpillThreshold" -> "50000")
    case _ => Map.empty
  }

  /** The workload and a description of its input size. */
  def apply(name: String, spark: SparkSession, seed: Long, smoke: Boolean): (Workload, String) =
    name match {
      case "eeg_dsp" =>
        val (ch, n) = if (smoke) (4, 2000) else (8, 4000)
        (new Eeg(spark, ch, n, seed), s"$ch channels x $n samples")
      case "corpus_curation" =>
        val docs = if (smoke) 300 else 1500
        (new Corpus(spark, docs, seed), s"$docs docs")
      case "ann_serve" =>
        val (v, k) = if (smoke) (2000, 8) else (5000, 16)
        (new Ann(spark, v, k, seed), s"$v x 64-dim vectors, $k cells")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Runs set-up several times, a cold first pass, then warm passes until
  * `seconds` have passed. With a tracer, warm passes alternate untraced
  * and traced, starting and ending untraced (at least three), so the
  * same run yields the tracing overhead.
  */
final class Runner(
    wl: Workload,
    work: String,
    seconds: Double,
    tracer: Option[Tracer]
) {
  private val t0 = System.nanoTime()
  private val runs = mutable.ArrayBuffer.empty[OpRun]
  private val passWall = mutable.ArrayBuffer.empty[(Int, Double, Boolean)] // (pass, s, traced)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val layerCounters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val firstDigest = mutable.Map.empty[String, Digest]
  private var setupTimes: Seq[Double] = Nil
  private var jitWaitS = 0.0

  private def now(): Long = System.nanoTime() - t0

  def run(): Unit = {
    setupTimes = (0 until 3).map { i =>
      val dir = s"$work/setup$i"
      deleteTree(new File(dir))
      val a = System.nanoTime()
      wl.setup(dir)
      (System.nanoTime() - a) / 1e9
    }
    var pass = 0
    runPass(pass, traced = false) // cold: first_pass_s
    val quiet = System.nanoTime()
    awaitQuietJit()
    jitWaitS = (System.nanoTime() - quiet) / 1e9
    val warmStart = System.nanoTime()
    while ((System.nanoTime() - warmStart) / 1e9 < seconds || (tracer.nonEmpty && (pass < 3 || pass % 2 == 0))) {
      pass += 1
      runPass(pass, traced = tracer.nonEmpty && pass % 2 == 0)
    }
  }

  /** Lets the JIT finish compiling what the cold pass made hot (no
    * compile time added for half a second, at most ten seconds), so the
    * warm passes do not race the compiler for the cores.
    */
  private def awaitQuietJit(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < deadline) {
      last = jit.getTotalCompilationTime
      Thread.sleep(500)
    }
  }

  private def runPass(p: Int, traced: Boolean): Unit = {
    tracer.foreach { t => t.drain(); t.take(); t.enabled = traced }
    val a = System.nanoTime()
    wl.pass(p).foreach(op => runs += runOp(p, op, traced))
    passWall += ((p, (System.nanoTime() - a) / 1e9, traced))
  }

  private def runOp(p: Int, op: Op, traced: Boolean): OpRun = {
    val compile0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    tracer.foreach(_.setPhase("build"))
    val start = now()
    var buildEnd = start
    val (digest, error) =
      try {
        val df = op.build()
        buildEnd = now()
        tracer.foreach(_.setPhase("exec"))
        val d = Digest.materialize(df, s"op$p-${runs.size}", op.stats)
        val err = op.check(d).orElse {
          firstDigest.get(op.name) match {
            case Some(f) if op.stable && f.key != d.key =>
              Some(s"output changed between passes: ${d.key} vs ${f.key}")
            case None => firstDigest(op.name) = d; None
            case _ => None
          }
        }
        (Some(d), err)
      } catch {
        case e: Throwable => (None, Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)))
      }
    val end = now()
    if (buildEnd == start) buildEnd = end
    tracer.filter(_ => traced).foreach { t =>
      t.drain()
      val (cs, plans) = t.take()
      val compileS = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - compile0) / 1e9
      // the write is the last query the op ran; earlier ones ran while building
      val writePlan = plans.sortBy(_.startMs).lastOption
      val planS = writePlan.map(w => (w.optimizationMs + w.planningMs) / 1000.0).getOrElse(0.0)
      val planEnd = math.min(end, buildEnd + (planS * 1e9).toLong)
      recordTrace(p, op, start, buildEnd, planEnd, end, cs, plans, writePlan, compileS, digest)
    }
    OpRun(p, op, start, buildEnd, end, digest, error, traced)
  }

  private def recordTrace(
      p: Int,
      op: Op,
      start: Long,
      buildEnd: Long,
      planEnd: Long,
      end: Long,
      cs: Map[String, PhaseCounters],
      plans: Seq[PlanInfo],
      writePlan: Option[PlanInfo],
      compileS: Double,
      digest: Option[Digest]
  ): Unit = {
    val id = spans.size
    val b = cs("build")
    val x = cs("exec")
    def add(k: String, v: Double): Unit = layerCounters(k) += v
    val buildS = (buildEnd - start) / 1e9
    val execS = (end - buildEnd) / 1e9
    add(s"${op.layer}.build_s", buildS)
    if (op.layer != "sources") {
      add(s"${op.layer}.build_jobs", b.jobs.toDouble)
      add(s"${op.layer}.build_stages", b.stages.toDouble)
    }
    if (op.layer == "sources") add(if (op.write) "sources.write_s" else "sources.read_s", (end - start) / 1e9)
    add("functions.codegen_compile_s", compileS)
    Seq(b, x).foreach { c =>
      add("exec.task_cpu_s", c.taskCpuNs / 1e9)
      add("exec.gc_s", c.gcMs / 1000.0)
      add("exec.task_launch_wait_s", c.schedDelayMs / 1000.0)
      add("exec.shuffle_write_bytes", c.shuffleWrite.toDouble)
      add("exec.shuffle_read_bytes", c.shuffleRead.toDouble)
      add("exec.spill_bytes", c.spill.toDouble)
      add("exec.jobs", c.jobs.toDouble)
      add("sources.bytes_read", c.bytesRead.toDouble)
      add("sources.bytes_written", c.bytesWritten.toDouble)
      layerCounters("exec.peak_task_mem_bytes") = math.max(layerCounters("exec.peak_task_mem_bytes"), c.peakTaskMem.toDouble)
      c.stageTaskMs.values.filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) { add("skew.sum", sorted.last / med); add("skew.n", 1) }
      }
    }
    add("exec.exec_wall_s", execS)
    add("exec.exec_task_run_s", x.taskRunMs / 1000.0)
    plans.foreach { pl =>
      add("plans.analyze_s", pl.analysisMs / 1000.0)
      add("plans.optimize_s", pl.optimizationMs / 1000.0)
      add("plans.physical_s", pl.planningMs / 1000.0)
      add("plans.graft_rule_s", pl.graftRuleNs / 1e9)
      add("plans.graft_rule_runs", pl.graftRuleRuns.toDouble)
      add("plans.graft_rule_hits", pl.graftRuleHits.toDouble)
    }
    writePlan.foreach(w => add("plans.plan_nodes", w.nodes.toDouble))
    if (op.scores) {
      add("llm.scored_rows", writePlan.map(_.topJoinRows.toDouble).getOrElse(0.0))
      add("llm.result_rows", digest.map(_.rows.toDouble).getOrElse(0.0))
    }
    add("op.time_s", (end - start) / 1e9)
    add("op.build_time_s", buildS)
    add("op.exec_time_s", execS)
    val counters = Map(
      "build_jobs" -> b.jobs.toDouble, "exec_jobs" -> x.jobs.toDouble,
      "task_cpu_s" -> (b.taskCpuNs + x.taskCpuNs) / 1e9,
      "shuffle_write_bytes" -> (b.shuffleWrite + x.shuffleWrite).toDouble,
      "spill_bytes" -> (b.spill + x.spill).toDouble,
      "rows" -> digest.map(_.rows.toDouble).getOrElse(-1.0)
    )
    spans += Span(id, -1, s"${op.layer}.${op.name}#$p", start, end, counters)
    spans += Span(id + 1, id, "build", start, buildEnd, Map("jobs" -> b.jobs.toDouble, "stages" -> b.stages.toDouble))
    spans += Span(id + 2, id, "plan", buildEnd, planEnd, Map(
      "optimize_s" -> writePlan.map(_.optimizationMs / 1000.0).getOrElse(0.0),
      "physical_s" -> writePlan.map(_.planningMs / 1000.0).getOrElse(0.0)
    ))
    spans += Span(id + 3, id, "exec", planEnd, end, Map("jobs" -> x.jobs.toDouble, "tasks" -> x.tasks.toDouble))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The value at the highest percentile with at least ten samples
    * beyond it (the slowest sample when there are ten or fewer), and
    * that percentile.
    */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.lastOption.getOrElse(0.0), 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  /** Read latencies by op kind. A pass mixes kinds whose latencies
    * differ by 30x, so a pooled median or tail jumps between kinds as
    * run lengths vary; per-kind statistics do not.
    */
  private def byKind(rs: Seq[OpRun]): Seq[Seq[Double]] =
    rs.groupBy(_.op.name).values.map(_.map(_.seconds)).toSeq

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def json(sessionS: Double): Map[String, String] = {
    val warm = runs.filter(_.pass > 0)
    val untracedWarm = warm.filterNot(_.traced)
    val reads = byKind(untracedWarm.filterNot(_.op.write).toSeq)
    val writes = untracedWarm.filter(_.op.write).map(_.seconds)
    val untracedPasses = passWall.filter(p => p._1 > 0 && !p._3)
    val tracedPasses = passWall.filter(_._3)
    // kind-balanced median: geometric mean of each kind's median
    val p50 = math.exp(reads.map(k => math.log(median(k))).sum / reads.size)
    // the slowest kind's tail: the longest single step a user waits for
    val (tailV, tailPct) = reads.map(tail).maxBy(_._1)
    val failed = runs.count(_.error.nonEmpty)
    val e2e = Seq(
      ("setup_s", sessionS + median(setupTimes), "s"),
      ("records_per_s", wl.recordsPerPass * untracedPasses.size / untracedPasses.map(_._2).sum, "1/s"),
      ("op_p50_s", p50, "s"),
      ("op_tail_s", tailV, "s"),
      ("write_p50_s", median(writes.toSeq), "s"),
      ("first_pass_s", passWall.head._2, "s"),
      ("failed_frac", failed.toDouble / runs.size, "fraction"),
      ("peak_rss_mb", vmHwmMb(), "MB")
    )
    val nTraced = tracedPasses.size.toDouble
    val lc = layerCounters
    def per(k: String): Double = if (nTraced == 0) 0.0 else lc(k) / nTraced
    val opTime = lc("op.time_s")
    val layer = if (tracer.isEmpty) Seq.empty else Seq(
      ("operators.build_s", per("operators.build_s"), "s"),
      ("functions.codegen_compile_s", per("functions.codegen_compile_s"), "s"),
      ("exec.task_cpu_s", per("exec.task_cpu_s"), "s"),
      ("exec.core_busy_frac", if (lc("exec.exec_wall_s") > 0) lc("exec.exec_task_run_s") / (lc("exec.exec_wall_s") * Main.cores) else 0.0, "fraction"),
      ("exec.task_skew", if (lc("skew.n") > 0) lc("skew.sum") / lc("skew.n") else 0.0, "ratio"),
      ("llm.build_s", per("llm.build_s"), "s"),
      ("llm.build_jobs", per("llm.build_jobs"), "count"),
      ("llm.build_stages", per("llm.build_stages"), "count"),
      ("exec.shuffle_write_bytes", per("exec.shuffle_write_bytes"), "bytes"),
      ("exec.shuffle_read_bytes", per("exec.shuffle_read_bytes"), "bytes"),
      ("exec.spill_bytes", per("exec.spill_bytes"), "bytes"),
      ("exec.peak_task_mem_bytes", lc("exec.peak_task_mem_bytes"), "bytes"),
      ("exec.gc_s", per("exec.gc_s"), "s"),
      ("plans.analyze_s", per("plans.analyze_s"), "s"),
      ("plans.optimize_s", per("plans.optimize_s"), "s"),
      ("plans.physical_s", per("plans.physical_s"), "s"),
      ("plans.graft_rule_s", per("plans.graft_rule_s"), "s"),
      ("plans.graft_rule_hit_ratio", if (lc("plans.graft_rule_runs") > 0) lc("plans.graft_rule_hits") / lc("plans.graft_rule_runs") else 0.0, "ratio"),
      ("plans.plan_nodes", per("plans.plan_nodes"), "count"),
      ("exec.jobs", per("exec.jobs"), "count"),
      ("exec.task_launch_wait_s", per("exec.task_launch_wait_s"), "s"),
      ("sources.read_s", per("sources.read_s"), "s"),
      ("sources.bytes_read", per("sources.bytes_read"), "bytes"),
      ("sources.write_s", per("sources.write_s"), "s"),
      ("sources.bytes_written", per("sources.bytes_written"), "bytes"),
      ("llm.scored_rows_per_result", if (lc("llm.result_rows") > 0) lc("llm.scored_rows") / lc("llm.result_rows") else 0.0, "ratio"),
      ("op.build_share", if (opTime > 0) lc("op.build_time_s") / opTime else 0.0, "fraction"),
      ("op.exec_share", if (opTime > 0) lc("op.exec_time_s") / opTime else 0.0, "fraction"),
      ("trace.overhead_frac",
        if (tracedPasses.isEmpty || untracedPasses.isEmpty) 0.0
        else median(tracedPasses.map(_._2).toSeq) / median(untracedPasses.map(_._2).toSeq) - 1, "fraction")
    )
    def metrics(ms: Seq[(String, Double, String)]): String =
      Json.obj(ms.map { case (n, v, u) => n -> Json.obj(Map("value" -> Json.num(v), "unit" -> Json.str(u))) }.toMap)
    val opsJson = runs.map { r =>
      Json.obj(Map(
        "pass" -> r.pass.toString,
        "op" -> Json.str(r.op.name),
        "write" -> r.op.write.toString,
        "seconds" -> Json.num(r.seconds),
        "build_s" -> Json.num((r.buildNs - r.startNs) / 1e9),
        "traced" -> r.traced.toString,
        "digest" -> r.digest.map(d => Json.str(d.key)).getOrElse("null"),
        "error" -> r.error.map(Json.str).getOrElse("null")
      ))
    }
    // oracle inputs: each oracle op's first-pass stats and its SQL
    val oracle = runs.filter(r => r.pass == 0 && r.digest.nonEmpty && r.op.stats)
      .map { r =>
        val d = r.digest.get
        r.op.name -> Json.obj(Map(
          "sql" -> r.op.oracleSql.map(Json.str).getOrElse("null"),
          "rows" -> d.rows.toString,
          "stats" -> Json.obj(d.stats.map { case (k, v) => k -> Json.num(v) })
        ))
      }.toMap
    Map(
      "metrics" -> metrics(e2e),
      "layer_metrics" -> metrics(layer),
      "tail_percentile" -> Json.num(tailPct),
      "read_samples" -> reads.map(_.size).sum.toString,
      "write_samples" -> writes.size.toString,
      "passes" -> passWall.size.toString,
      "setup_runs_s" -> Json.arr(setupTimes.map(Json.num)),
      "jit_wait_s" -> Json.num(jitWaitS),
      "attempted" -> runs.size.toString,
      "failed" -> failed.toString,
      "ops" -> Json.arr(opsJson.toSeq),
      "oracle" -> Json.obj(oracle)
    )
  }
}

/** Minimal JSON writer: values are passed pre-rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Map[String, String]): String = m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
