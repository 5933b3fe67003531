package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

import graft.core.{ChannelScan, Dsp, Iir, Signal}

/** IIR filtering over the long-format signal.
  *
  * Reference: openseize `filtering/iir.py` designs applied via
  * `core/numerical.py:301` sosfilt / `:338` sosfiltfilt (zero initial
  * state for the forward filter; steady-state zi scaled by the first
  * sample for the zero-phase variant, scipy padtype=None semantics).
  *
  * Spark-first shape: an IIR recursion is genuinely sequential **within**
  * a channel but embarrassingly parallel **across** channels — at corpus
  * scale (recordings × channels ≫ cores) that is all the parallelism
  * there is to have. We repartition by channel, sort within partitions,
  * and run the DF2T cascade in one `mapPartitions` pass: a single
  * shuffle, O(sections) state per channel, streaming through Tungsten
  * rows without materializing a channel in memory.
  *
  * The DuckDB oracle replays the identical recursion as a recursive CTE
  * carrying the per-section state columns.
  */
object IirOps {

  // ---- blocked recursion engine (r5) ----
  //
  // The recursion itself is a per-sample scalar loop either way; what
  // the blocked layout removes is the per-sample JVM row codec and the
  // per-pass exchanges. Rows are decoded exactly once into ~4096-sample
  // blocks; every cascade pass and the zero-phase flip then touch only
  // n/4096 array rows, and the final per-sample rows are re-created by
  // codegen'd explode, not the tuple Encoder. With `presorted` (true
  // straight off Signal.long, whose ranking window leaves the data
  // channel-partitioned and (channel, n)-sorted) a forward pass adds no
  // exchange at all, and sosfiltfilt's backward pass needs only a
  // partition-local sort of block rows.

  /** (channel, n0, sample indices, samples) — one fixed-size block. */
  private type Blk = (String, Long, Array[Long], Array[Double])

  private val blockLen = 4096

  /** One sequential recurrence: `reset` seeds the state from the first
    * processed sample of a channel, `step` advances one sample.
    */
  private trait Cascade extends Serializable {
    def reset(x0: Double): Unit
    def step(x: Double): Double
  }

  /** DF2T second-order-section cascade (scipy sosfilt recurrence). */
  private final class SosCascade(
      sos: Array[Array[Double]],
      ziUnit: Option[Array[Array[Double]]]
  ) extends Cascade {
    private val nSec = sos.length
    private val flat = sos.flatten // (b0 b1 b2 a0 a1 a2) * nSec
    private val ziFlat = ziUnit.map(_.flatten).orNull
    private val z1 = new Array[Double](nSec)
    private val z2 = new Array[Double](nSec)
    def reset(x0: Double): Unit =
      if (ziFlat == null) { java.util.Arrays.fill(z1, 0.0); java.util.Arrays.fill(z2, 0.0) }
      else {
        var s = 0
        while (s < nSec) { z1(s) = ziFlat(2 * s) * x0; z2(s) = ziFlat(2 * s + 1) * x0; s += 1 }
      }
    def step(x: Double): Double = {
      var u = x
      var s = 0
      while (s < nSec) {
        val b0 = flat(6 * s); val b1 = flat(6 * s + 1); val b2 = flat(6 * s + 2)
        val a1 = flat(6 * s + 4); val a2 = flat(6 * s + 5)
        val y = b0 * u + z1(s)
        z1(s) = b1 * u + z2(s) - a1 * y
        z2(s) = b2 * u - a2 * y
        u = y
        s += 1
      }
      u
    }
  }

  /** DF2T general-order ba-form recurrence (scipy lfilter). */
  private final class BaCascade(
      b0: Array[Double],
      a0: Array[Double],
      ziUnit: Option[Array[Double]]
  ) extends Cascade {
    private val nn = math.max(b0.length, a0.length)
    private val b = java.util.Arrays.copyOf(b0, nn)
    private val a = java.util.Arrays.copyOf(a0, nn)
    private val m = nn - 1
    private val zi = ziUnit.orNull
    private val z = new Array[Double](m)
    def reset(x0: Double): Unit =
      if (zi == null) java.util.Arrays.fill(z, 0.0)
      else { var i = 0; while (i < m) { z(i) = zi(i) * x0; i += 1 } }
    def step(x: Double): Double = {
      val y = b(0) * x + (if (m > 0) z(0) else 0.0)
      var i = 0
      while (i < m - 1) {
        z(i) = b(i + 1) * x + z(i + 1) - a(i + 1) * y
        i += 1
      }
      if (m > 0) z(m - 1) = b(m) * x - a(m) * y
      y
    }
  }

  /** Decode (channel, n)-ordered rows into blocks, once: each
    * [[ChannelScan]] block is one block row.
    */
  private def toBlocks(sig: DataFrame, presorted: Boolean): Dataset[Blk] = {
    val spark = sig.sparkSession
    import spark.implicits._
    ChannelScan.scan(sig, presorted, blockLen, keepN = true) { () =>
      new ChannelScan.Step[Blk] {
        def emit(w: ChannelScan.Window, out: ArrayBuffer[Blk]): Long = {
          val k = (w.end - w.base).toInt
          out += ((w.channel, w.n(w.base), w.readN(w.base, new Array[Long](k)), w.read(w.base, new Array[Double](k))))
          w.end
        }
      }
    }
  }

  /** Run a recurrence over blocks. Forward expects blocks ascending by
    * (channel, n0); `reverse` expects them descending and iterates each
    * block's samples high-to-low (anti-causal pass). State carries
    * across a channel's blocks; arithmetic is sample-for-sample the
    * recurrence the recursive-CTE oracle replays.
    */
  private def scanBlocks(blocks: Dataset[Blk], mk: () => Cascade, reverse: Boolean): Dataset[Blk] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.mapPartitions { it =>
      val c = mk()
      var cur: String = null
      it.map { case (ch, n0, ns, xs) =>
        val m = xs.length
        val ys = new Array[Double](m)
        if (reverse) {
          if (ch != cur) { cur = ch; c.reset(xs(m - 1)) }
          var i = m - 1
          while (i >= 0) { ys(i) = c.step(xs(i)); i -= 1 }
        } else {
          if (ch != cur) { cur = ch; c.reset(xs(0)) }
          var i = 0
          while (i < m) { ys(i) = c.step(xs(i)); i += 1 }
        }
        (ch, n0, ns, ys)
      }
    }
  }

  /** Partition-local descending block order for an anti-causal pass. */
  private def descending(blocks: Dataset[Blk]): Dataset[Blk] =
    blocks.sortWithinPartitions(col("_1"), col("_2").desc)

  private def fromBlocks(blocks: Dataset[Blk]): DataFrame =
    blocks
      .toDF("channel", "n0", "ns", "ys")
      .select(col("channel"), explode(arrays_zip(col("ns"), col("ys"))).as("z"))
      .select(col("channel"), col("z.ns").as("n"), col("z.ys").as("y"))

  /** Forward sosfilt. `ziUnit = None` → zero initial state;
    * `Some(zi)` → state = zi * (first sample of each channel).
    * `reverse = true` runs anti-causally (descending n). `presorted`:
    * caller guarantees channel-partitioned, (channel, n)-sorted input.
    */
  def sosfilt(
      sig: DataFrame,
      sos: Array[Array[Double]],
      ziUnit: Option[Array[Array[Double]]] = None,
      reverse: Boolean = false,
      presorted: Boolean = false
  ): DataFrame = {
    val blocks = toBlocks(sig, presorted)
    val ordered = if (reverse) descending(blocks) else blocks
    fromBlocks(scanBlocks(ordered, () => new SosCascade(sos, ziUnit), reverse))
  }

  /** Zero-phase forward-backward filter (openseize sosfiltfilt,
    * scipy padtype=None): forward with zi·x0, then the reverse pass with
    * zi·y_last on the flipped forward output. Both passes stay in the
    * blocked layout — the flip is a partition-local sort of block rows,
    * not a row-level exchange.
    */
  def sosfiltfilt(
      sig: DataFrame,
      sos: Array[Array[Double]],
      presorted: Boolean = false
  ): DataFrame = {
    val zi = Some(Iir.sosfiltZi(sos))
    val fwd = scanBlocks(toBlocks(sig, presorted), () => new SosCascade(sos, zi), reverse = false)
    fromBlocks(scanBlocks(descending(fwd), () => new SosCascade(sos, zi), reverse = true))
  }

  /** ba-form lfilter (reference numerical.py:414): direct-form II
    * transposed, same blocked channel-parallel engine as sosfilt.
    */
  def lfilter(
      sig: DataFrame,
      b: Array[Double],
      a: Array[Double],
      ziUnit: Option[Array[Double]] = None,
      reverse: Boolean = false,
      presorted: Boolean = false
  ): DataFrame = {
    val blocks = toBlocks(sig, presorted)
    val ordered = if (reverse) descending(blocks) else blocks
    fromBlocks(scanBlocks(ordered, () => new BaCascade(b, a, ziUnit), reverse))
  }

  /** ba-form zero-phase filtfilt (reference numerical.py:449). */
  def filtfiltBa(
      sig: DataFrame,
      b: Array[Double],
      a: Array[Double],
      presorted: Boolean = false
  ): DataFrame = {
    val zi = Some(Iir.lfilterZi(b, a))
    val fwd = scanBlocks(toBlocks(sig, presorted), () => new BaCascade(b, a, zi), reverse = false)
    fromBlocks(scanBlocks(descending(fwd), () => new BaCascade(b, a, zi), reverse = true))
  }

  private def rounded(df: DataFrame): DataFrame =
    df.select(col("channel"), col("n"), round(col("y"), 6).as("y"))

  // ---- DuckDB oracle: the same recursion as a recursive CTE ----

  /** One cascade step as SQL select-expressions using lateral aliases.
    * Input sample expr `u0`, prior states z1_s/z2_s; emits y plus new
    * states, textually matching the Scala recurrence.
    */
  private def cascadeExprs(sos: Array[Array[Double]], u0: String, st: Int => (String, String)): String = {
    val sb = new StringBuilder
    var u = u0
    for (s <- sos.indices) {
      val Array(b0, b1, b2, _, a1, a2) = sos(s)
      val (z1, z2) = st(s)
      sb.append(s"${Dsp.lit(b0)} * $u + $z1 AS y$s, ")
      sb.append(s"${Dsp.lit(b1)} * $u + $z2 - ${Dsp.lit(a1)} * y$s AS nz1_$s, ")
      sb.append(s"${Dsp.lit(b2)} * $u - ${Dsp.lit(a2)} * y$s AS nz2_$s, ")
      u = s"y$s"
    }
    sb.append(s"$u AS y")
    sb.toString
  }

  private def stateCols(sos: Array[Array[Double]]): String =
    sos.indices.map(s => s"nz1_$s AS z1_$s, nz2_$s AS z2_$s").mkString(", ")

  /** Recursive-CTE forward sosfilt over input CTE `inp(channel, n, v)`;
    * emits CTE `outName(channel, n, y)`. zi as unit-scale pairs or zeros.
    */
  private[graft] def sosfiltCte(
      sos: Array[Array[Double]],
      inp: String,
      outName: String,
      ziUnit: Option[Array[Array[Double]]]
  ): String = {
    val initStates = sos.indices
      .map { s =>
        val (i1, i2) = ziUnit
          .map(z => (s"${Dsp.lit(z(s)(0))} * s.v", s"${Dsp.lit(z(s)(1))} * s.v"))
          .getOrElse(("0.0", "0.0"))
        s"$i1 AS z1_$s, $i2 AS z2_$s"
      }
      .mkString(", ")
    // The recursion carries ONLY (channel, n, y, z1_*, z2_*): the lateral
    // aliases (y0, nz1_0, …) live in an inner subquery and are renamed by
    // an outer projection — otherwise a carried column named y0 would
    // shadow the lateral alias in the next iteration.
    val keep = "channel, n, y, " + stateCols(sos)
    // base: seed states from sample 0, then run the cascade on sample 0
    val base =
      s"SELECT $keep FROM (SELECT channel, n, ${cascadeExprs(sos, "v", i => (s"z1_$i", s"z2_$i"))} FROM " +
        s"(SELECT s.channel, s.n, s.v, $initStates FROM $inp s WHERE s.n = 0))"
    val step =
      s"SELECT $keep FROM (SELECT s.channel, s.n, " +
        cascadeExprs(sos, "s.v", i => (s"f.z1_$i", s"f.z2_$i")) +
        s" FROM ${outName}_rec f JOIN $inp s ON s.channel = f.channel AND s.n = f.n + 1)"
    s"${outName}_rec AS ($base UNION ALL $step), " +
      s"$outName AS MATERIALIZED (SELECT channel, n, y FROM ${outName}_rec)"
  }

  /** Full oracle for forward sosfilt on the event signal. */
  def sosfiltSql(sos: Array[Array[Double]]): String =
    s"WITH RECURSIVE sig AS MATERIALIZED (${Signal.longSql}), inp AS MATERIALIZED (SELECT channel, n, x AS v FROM sig), " +
      sosfiltCte(sos, "inp", "fwd", None) +
      " SELECT channel, n, round(y, 6) AS y FROM fwd"

  /** Full oracle for sosfiltfilt: forward recursion, flip, backward
    * recursion, flip back.
    */
  def sosfiltfiltSql(sos: Array[Array[Double]]): String = {
    val zi = Some(Iir.sosfiltZi(sos))
    s"WITH RECURSIVE sig AS MATERIALIZED (${Signal.longSql}), inp AS MATERIALIZED (SELECT channel, n, x AS v FROM sig), " +
      sosfiltCte(sos, "inp", "fwd", zi) + ", " +
      "mx AS (SELECT channel, max(n) AS mxn FROM sig GROUP BY channel), " +
      "rev AS MATERIALIZED (SELECT f.channel, m.mxn - f.n AS n, f.y AS v FROM fwd f JOIN mx m ON f.channel = m.channel), " +
      sosfiltCte(sos, "rev", "bwd", zi) +
      " SELECT b.channel, m.mxn - b.n AS n, round(b.y, 6) AS y FROM bwd b JOIN mx m ON b.channel = m.channel"
  }

  /** Recursive-CTE forward ba-form lfilter over input CTE
    * `inp(channel, n, v)`; emits CTE `outName(channel, n, y)`. Textually
    * replays the DF2T recurrence in [[lfilter]]: y = b0·u + z_0,
    * z_i' = b_{i+1}·u + z_{i+1} − a_{i+1}·y (last state has no z term).
    */
  private def lfilterCte(
      b: Array[Double],
      a: Array[Double],
      inp: String,
      outName: String,
      ziUnit: Option[Array[Double]]
  ): String = {
    val m = math.max(b.length, a.length) - 1
    // The lateral alias must NOT be named `y`: the recursion carries a
    // column `y`, and in the step a real column shadows the lateral
    // alias (same trap sosfiltCte documents). Use y0, rename on keep.
    def stepExprs(u: String, st: Int => String): String = {
      val sb = new StringBuilder
      sb.append(s"${Dsp.lit(b(0))} * $u + ${st(0)} AS y0")
      for (i <- 0 until m - 1)
        sb.append(s", ${Dsp.lit(b(i + 1))} * $u + ${st(i + 1)} - ${Dsp.lit(a(i + 1))} * y0 AS nz_$i")
      sb.append(s", ${Dsp.lit(b(m))} * $u - ${Dsp.lit(a(m))} * y0 AS nz_${m - 1}")
      sb.toString
    }
    val initStates = (0 until m)
      .map { i =>
        val init = ziUnit.map(z => s"${Dsp.lit(z(i))} * s.v").getOrElse("0.0")
        s"$init AS z_$i"
      }
      .mkString(", ")
    val keep = "channel, n, y0 AS y, " + (0 until m).map(i => s"nz_$i AS z_$i").mkString(", ")
    val base =
      s"SELECT $keep FROM (SELECT channel, n, ${stepExprs("v", i => s"z_$i")} FROM " +
        s"(SELECT s.channel, s.n, s.v, $initStates FROM $inp s WHERE s.n = 0))"
    val step =
      s"SELECT $keep FROM (SELECT s.channel, s.n, ${stepExprs("s.v", i => s"f.z_$i")} " +
        s"FROM ${outName}_rec f JOIN $inp s ON s.channel = f.channel AND s.n = f.n + 1)"
    s"${outName}_rec AS ($base UNION ALL $step), " +
      s"$outName AS MATERIALIZED (SELECT channel, n, y FROM ${outName}_rec)"
  }

  /** Full oracle for forward ba-form lfilter on the event signal. */
  def lfilterSql(b: Array[Double], a: Array[Double]): String =
    s"WITH RECURSIVE sig AS MATERIALIZED (${Signal.longSql}), inp AS MATERIALIZED (SELECT channel, n, x AS v FROM sig), " +
      lfilterCte(b, a, "inp", "fwd", None) +
      " SELECT channel, n, round(y, 6) AS y FROM fwd"

  /** Full oracle for ba-form filtfilt: forward, flip, backward, flip. */
  def filtfiltBaSql(b: Array[Double], a: Array[Double]): String = {
    val zi = Some(Iir.lfilterZi(b, a))
    s"WITH RECURSIVE sig AS MATERIALIZED (${Signal.longSql}), inp AS MATERIALIZED (SELECT channel, n, x AS v FROM sig), " +
      lfilterCte(b, a, "inp", "fwd", zi) + ", " +
      "mx AS (SELECT channel, max(n) AS mxn FROM sig GROUP BY channel), " +
      "rev AS MATERIALIZED (SELECT f.channel, m.mxn - f.n AS n, f.y AS v FROM fwd f JOIN mx m ON f.channel = m.channel), " +
      lfilterCte(b, a, "rev", "bwd", zi) +
      " SELECT b.channel, m.mxn - b.n AS n, round(b.y, 6) AS y FROM bwd b JOIN mx m ON b.channel = m.channel"
  }

  // ---- designed filters over the test signal (fs nominal 100 Hz) ----

  private val fs = 100.0

  /** Butter(fpass=10, fstop=20, gpass=1, gstop=40, fs=100) → order 5ish
    * cascade; Cheby1 same bands; Notch at 15 Hz, Q=30.
    */
  lazy val butterLp: Array[Array[Double]] = Iir.butterSos(10, 20, 1.0, 40.0, fs)
  lazy val cheby1Lp: Array[Array[Double]] = Iir.cheby1Sos(10, 20, 1.0, 40.0, fs)
  lazy val cheby2Hp: Array[Array[Double]] = Iir.cheby2Sos(20, 10, 1.0, 40.0, fs)
  lazy val ellipLp: Array[Array[Double]] = graft.core.Elliptic.ellipSos(10, 20, 1.0, 40.0, fs)
  lazy val notch15: Array[Array[Double]] = Iir.notchSos(15.0, 30.0, fs)

  /** Butter bandpass 10–20 Hz (stop <5, >30) — the theta/gamma band-
    * isolation call shape, openseize's most common Butter usage
    * (iir.py:44 with fpass=[f1,f2]). Order-5 prototype → 5 biquads.
    */
  lazy val butterBp: Array[Array[Double]] =
    Iir.butterBandSos((10.0, 20.0), (5.0, 30.0), 1.0, 40.0, fs)

  /** Elliptic bandstop: pass outside 10/30 Hz, reject 15–25 Hz. */
  lazy val ellipBs: Array[Array[Double]] =
    graft.core.Elliptic.ellipBandSos((10.0, 30.0), (15.0, 25.0), 1.0, 40.0, fs)

  /** Cheby1 bandpass, same 10–20 Hz band as butterBp (iir.py:123 with
    * fpass=[f1,f2]): equiripple passband needs order 4 vs Butter's 5.
    */
  lazy val cheby1Bp: Array[Array[Double]] =
    Iir.cheby1BandSos((10.0, 20.0), (5.0, 30.0), 1.0, 40.0, fs)

  /** Cheby2 bandstop, same 15–25 Hz notch as ellipBs (iir.py:200 with
    * fpass=[f1,f2]): flat passband, equiripple −40 dB stop floor.
    */
  lazy val cheby2Bs: Array[Array[Double]] =
    Iir.cheby2BandSos((10.0, 30.0), (15.0, 25.0), 1.0, 40.0, fs)

  /** Order-3 Butterworth lowpass at wn=0.2 (10 Hz @ fs=100) in ba form —
    * the transfer-function twin of the sos designs, exercising the
    * reference's ba-form lfilter/filtfilt path (numerical.py:414,449).
    */
  lazy val butterBa: (Array[Double], Array[Double]) = {
    val proto = Iir.bilinear(Iir.lp2lp(Iir.buttap(3), 4.0 * math.tan(math.Pi * 0.2 / 2)))
    Iir.zpk2tf(proto)
  }

  // presorted = true: Signal.long's ranking window leaves the data
  // channel-partitioned and (channel, n)-sorted, so the forward scans
  // fuse into the window stage with zero additional exchanges.
  private def sosQ(sos: Array[Array[Double]])(s: SparkSession, dir: String): DataFrame =
    rounded(sosfilt(Signal.long(s, dir), sos, presorted = true))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "iir_butter_lp" -> sosQ(butterLp) _,
    "iir_cheby1_lp" -> sosQ(cheby1Lp) _,
    "iir_cheby2_hp" -> sosQ(cheby2Hp) _,
    "iir_ellip_lp" -> sosQ(ellipLp) _,
    "iir_notch" -> sosQ(notch15) _,
    "iir_butter_bp" -> sosQ(butterBp) _,
    "iir_ellip_bs" -> sosQ(ellipBs) _,
    "iir_cheby1_bp" -> sosQ(cheby1Bp) _,
    "iir_cheby2_bs" -> sosQ(cheby2Bs) _,
    "iir_butter_filtfilt" -> { (s, dir) =>
      rounded(sosfiltfilt(Signal.long(s, dir), butterLp, presorted = true))
    },
    "iir_lfilter_lp" -> { (s, dir) =>
      rounded(lfilter(Signal.long(s, dir), butterBa._1, butterBa._2, presorted = true))
    },
    "iir_filtfilt_ba" -> { (s, dir) =>
      rounded(filtfiltBa(Signal.long(s, dir), butterBa._1, butterBa._2, presorted = true))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "iir_butter_lp" -> sosfiltSql(butterLp),
    "iir_cheby1_lp" -> sosfiltSql(cheby1Lp),
    "iir_cheby2_hp" -> sosfiltSql(cheby2Hp),
    "iir_ellip_lp" -> sosfiltSql(ellipLp),
    "iir_notch" -> sosfiltSql(notch15),
    "iir_butter_bp" -> sosfiltSql(butterBp),
    "iir_ellip_bs" -> sosfiltSql(ellipBs),
    "iir_cheby1_bp" -> sosfiltSql(cheby1Bp),
    "iir_cheby2_bs" -> sosfiltSql(cheby2Bs),
    "iir_butter_filtfilt" -> sosfiltfiltSql(butterLp),
    "iir_lfilter_lp" -> lfilterSql(butterBa._1, butterBa._2),
    "iir_filtfilt_ba" -> filtfiltBaSql(butterBa._1, butterBa._2)
  )
}
