package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Signal
import graft.operators.FirOps

/** Composable processing pipelines (reference: openseize
  * `tools/pipeline.py:16` Pipeline — compose callables with frozen
  * kwargs and apply them in order).
  *
  * The Spark-native composition unit is `DataFrame => DataFrame`; a
  * Pipeline is a fold over those. Because every stage is declarative,
  * the composed pipeline is ONE Catalyst plan — stages fuse into shared
  * whole-stage-codegen spans instead of materializing between steps.
  */
final case class Pipeline(stages: Vector[DataFrame => DataFrame] = Vector.empty) {

  /** Append a stage (reference Pipeline.append). */
  def append(stage: DataFrame => DataFrame): Pipeline = Pipeline(stages :+ stage)

  /** Apply all stages in order (reference Pipeline.__call__). */
  def apply(df: DataFrame): DataFrame = stages.foldLeft(df)((d, f) => f(d))
}

object PipelineOps {

  /** Demo pipeline: hamming lowpass → decimate by 2 → per-channel
    * standardize — a filter → resample → normalize chain as one plan.
    */
  def demo: Pipeline = Pipeline()
    .append(FirOps.same(_, FirOps.hammingLp))
    .append { df =>
      df.filter(col("n") % 2 === 0)
        .select(col("channel"), (col("n") / 2).cast("bigint").as("n"), col("y"))
    }
    .append { df =>
      val w = Window.partitionBy(col("channel"))
      df.select(
        col("channel"),
        col("n"),
        round((col("y") - avg(col("y")).over(w)) / stddev_pop(col("y")).over(w), 6).as("z")
      )
    }

  /** The reference's tutorial EEG workflow (docs/tutorials/) as ONE
    * composed pipeline: 15 Hz notch → decimate ×2 → common-average
    * re-reference → event-related epoching → per-epoch band power.
    * Every stage is an already-gate-green operator; this query proves
    * COMPOSITION correctness (the curate_full precedent on the DSP
    * side). Stage boundaries round to 6 dp on both engines, and the
    * per-epoch DFT sums round BEFORE squaring — squaring first would
    * amplify sum-order ulp noise past the 6 dp grid.
    *
    * Scale shape: notch + decimate ride the presorted channel
    * partitioning (blocked sosfilt → polyphase, no re-exchange); the
    * re-reference is the one inherent channel→sample transpose; the
    * epoch join is the q9_range bucketized broadcast; the DFT is a
    * 6-column aggregation over literal weight tables (mm_wav_spec
    * pattern — zero runtime trig).
    */
  private val epochPre = 4L
  private val epochPost = 8L
  private val epochSpan = 16L
  private val nEp = (epochPre + epochPost).toInt // DFT length
  private val bins = Seq(1, 2, 3)
  private def cw(k: Int) = Array.tabulate(nEp)(t => math.cos(2 * math.Pi * k * t / nEp))
  private def sw(k: Int) = Array.tabulate(nEp)(t => math.sin(2 * math.Pi * k * t / nEp))

  def eegWorkflow(s: SparkSession, dir: String): DataFrame = {
    import graft.core.Dsp
    import graft.operators.{AnnoOps, IirOps, ResampleOps}
    val notch: DataFrame => DataFrame = sig =>
      IirOps
        .sosfilt(sig, IirOps.notch15, presorted = true)
        .select(col("channel"), col("n"), Dsp.round6(col("y")).as("x"))
    val decimate: DataFrame => DataFrame = df =>
      ResampleOps
        .downsample(df, 2, ResampleOps.hDown2, presorted = true)
        .select(col("channel"), col("n"), col("y").as("x"))
    // CAR over round6-grid inputs: an avg(double) here puts x − car on
    // exact-half 6dp boundaries where the engines' float-sum orders
    // coin-flip the rounding (found at sf0.1). Sum exact integer micros
    // instead — bigint addition is order-independent, so both engines
    // derive bit-identical doubles before round6.
    val reref: DataFrame => DataFrame = df => {
      val mic = df.withColumn("m", floor(col("x") * lit(1e6) + lit(0.5)).cast("long"))
      val sums = mic.groupBy(col("n")).agg(sum(col("m")).as("sm"), count(lit(1)).as("nch"))
      mic
        .join(sums, Seq("n"))
        .select(
          col("channel"),
          col("n"),
          Dsp
            .round6(
              (col("m") * col("nch") - col("sm")).cast("double") /
                (col("nch").cast("double") * lit(1e6))
            )
            .as("x")
        )
    }
    val epoch: DataFrame => DataFrame = df => {
      val errs = graft.core.Tables.events(s, dir).filter(col("event_type") === "error").select(col("event_id"))
      val anno = AnnoOps
        .globalRank(errs, "event_id")
        .select(col("k"), expr(s"(k * ${AnnoOps.strideMul}) div 2").as("center"))
        .withColumn(
          "bucket",
          explode(
            array(
              expr(s"(center - $epochPre) div $epochSpan"),
              expr(s"(center + $epochPost - 1) div $epochSpan")
            )
          )
        )
        .dropDuplicates()
      df.withColumn("bucket", expr(s"n div $epochSpan"))
        .join(broadcast(anno), Seq("bucket"))
        .filter(col("n") >= col("center") - epochPre && col("n") < col("center") + epochPost)
        .select(col("k").as("epoch_id"), col("channel"), (col("n") - col("center")).as("rel_n"), col("x"))
    }
    val bandPower: DataFrame => DataFrame = df => {
      // pivot the ≤12 epoch samples into columns first (each a one-row
      // sum — exact, order-free), THEN combine with a left-associated
      // literal-weight chain: the raw DFT sums land on exact-half 6dp
      // boundaries (round6'd inputs × ±1/±0.5 weights), where an
      // unordered aggregate sum is a per-engine coin flip — the
      // lag-sum-FIR bit-exactness rule applies
      val pivots = (0 until nEp).map(t =>
        sum(when(col("rel_n") === lit(t - epochPre), col("x"))).as(s"x$t")
      )
      def dot(w: Array[Double]) =
        (0 until nEp)
          .map(t => coalesce(col(s"x$t"), lit(0.0)) * lit(w(t)))
          .reduce(_ + _)
      val power = bins
        .flatMap(k => Seq(col(s"c$k") * col(s"c$k"), col(s"s$k") * col(s"s$k")))
        .reduce(_ + _) / lit((nEp * nEp).toDouble)
      df.groupBy(col("epoch_id"), col("channel"))
        .agg(pivots.head, pivots.tail: _*)
        .select(
          Seq(col("epoch_id"), col("channel")) ++
            bins.flatMap(k =>
              Seq(Dsp.round6(dot(cw(k))).as(s"c$k"), Dsp.round6(dot(sw(k))).as(s"s$k"))
            ): _*
        )
        .select(col("epoch_id"), col("channel"), Dsp.round6(power).as("band_power"))
    }
    Pipeline()
      .append(notch)
      .append(decimate)
      .append(reref)
      .append(epoch)
      .append(bandPower)
      .apply(Signal.long(s, dir))
  }

  val eegWorkflowSql: String = {
    import graft.core.Dsp
    import graft.operators.{AnnoOps, IirOps, ResampleOps}
    // pivot-then-ordered-dot, mirroring the Spark side exactly (see
    // bandPower: exact-half DFT sums need a deterministic term order)
    val pivotCols = (0 until nEp)
      .map(t => s"sum(CASE WHEN rel_n = ${t - epochPre} THEN x END) AS x$t")
      .mkString(", ")
    def dotSql(w: Array[Double]): String =
      (0 until nEp).map(t => s"coalesce(x$t, 0.0) * ${Dsp.lit(w(t))}").mkString(" + ")
    val dftCols = bins
      .flatMap { k =>
        Seq(
          s"${Dsp.round6Sql(dotSql(cw(k)))} AS c$k",
          s"${Dsp.round6Sql(dotSql(sw(k)))} AS s$k"
        )
      }
      .mkString(", ")
    val power =
      "(" + bins.map(k => s"c$k * c$k + s$k * s$k").mkString(" + ") + s") / ${Dsp.lit((nEp * nEp).toDouble)}"
    s"WITH RECURSIVE sig AS MATERIALIZED (${Signal.longSql}), " +
      "inp AS MATERIALIZED (SELECT channel, n, x AS v FROM sig), " +
      IirOps.sosfiltCte(IirOps.notch15, "inp", "fwd", None) + ", " +
      "nf AS MATERIALIZED (SELECT channel, n, round(y, 6) AS x FROM fwd), " +
      s"conv AS (SELECT channel, n, ${Dsp.round6Sql(FirOps.sameExprSql(ResampleOps.hDown2))} AS y " +
      "FROM nf WINDOW w AS (PARTITION BY channel ORDER BY n)), " +
      "ds AS MATERIALIZED (SELECT channel, n // 2 AS n, y AS x FROM conv WHERE n % 2 = 0), " +
      "mic AS MATERIALIZED (SELECT channel, n, CAST(floor(x * 1.0e6 + 0.5e0) AS BIGINT) AS m FROM ds), " +
      "sm AS (SELECT n, sum(m) AS sm, count(*) AS nch FROM mic GROUP BY n), " +
      s"rr AS MATERIALIZED (SELECT s.channel, s.n, ${Dsp
          .round6Sql("CAST(s.m * t.nch - t.sm AS DOUBLE) / (CAST(t.nch AS DOUBLE) * 1.0e6)")} AS x " +
      "FROM mic s JOIN sm t ON t.n = s.n), " +
      "anno AS (SELECT row_number() OVER (ORDER BY event_id) - 1 AS k, " +
      s"((row_number() OVER (ORDER BY event_id) - 1) * ${AnnoOps.strideMul}) // 2 AS center " +
      "FROM events WHERE event_type = 'error'), " +
      "ep AS MATERIALIZED (SELECT a.k AS epoch_id, s.channel, s.n - a.center AS rel_n, s.x " +
      s"FROM rr s JOIN anno a ON s.n >= a.center - $epochPre AND s.n < a.center + $epochPost), " +
      s"piv AS (SELECT epoch_id, channel, $pivotCols FROM ep GROUP BY epoch_id, channel), " +
      s"agg AS (SELECT epoch_id, channel, $dftCols FROM piv) " +
      s"SELECT epoch_id, channel, ${Dsp.round6Sql(power)} AS band_power FROM agg"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_demo" -> { (s, dir) => demo(Signal.long(s, dir)) },
    "eeg_workflow" -> { (s, dir) => eegWorkflow(s, dir) }
  )

  def oracleSql: Map[String, String] = Map(
    "pipeline_demo" ->
      (s"${Signal.sigCte}, conv AS (SELECT channel, n, round(${FirOps.sameExprSql(FirOps.hammingLp)}, 6) AS y " +
        "FROM sig WINDOW w AS (PARTITION BY channel ORDER BY n)), " +
        "dec AS (SELECT channel, n // 2 AS n, y FROM conv WHERE n % 2 = 0) " +
        "SELECT channel, n, round((y - avg(y) OVER (PARTITION BY channel)) / " +
        "stddev_pop(y) OVER (PARTITION BY channel), 6) AS z FROM dec"),
    "eeg_workflow" -> eegWorkflowSql
  )
}
