package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

import graft.core.{ChannelScan, Dsp, Signal}

/** FIR filtering over the long-format signal.
  *
  * Reference: openseize `filtering/fir.py` (window families) applied via
  * `core/numerical.py:158` `oaconvolve` with numpy modes full/same/valid.
  *
  * Spark-first shape: 'same' mode is one channel-partitioned scan
  * ([[convBank]]) — a JIT'd per-kernel loop over fixed blocks with a
  * halo, no per-tap window frames. 'valid' and 'full' are a fixed
  * pattern of `lag`/`lead` references within one
  * `PARTITION BY channel ORDER BY n` window. Edge samples use zero
  * extension (numpy conv semantics).
  *
  * The same coefficient array also renders the DuckDB oracle expression
  * ([[sameExprSql]]), and the scan accumulates term-for-term in that
  * expression's left-associated order, so both engines agree to the
  * last ulp; outputs are rounded to 6 dp on both sides to make the
  * comparison hash-stable.
  *
  * Scale: one channel sort, then O(M) work per output sample per
  * kernel. For M ≳ 128 the segmented overlap-add FFT path
  * (`functions.SegConv`) is preferred.
  */
object FirOps {

  private def chanWindow = Window.partitionBy(col("channel")).orderBy(col("n"))

  /** x[n + j] as a Column (j may be negative = past). */
  private def shifted(j: Int): Column =
    if (j > 0) lead(col("x"), j).over(chanWindow)
    else if (j < 0) lag(col("x"), -j).over(chanWindow)
    else col("x")

  private def shiftedSql(j: Int): String =
    if (j > 0) s"lead(x, $j) OVER w"
    else if (j < 0) s"lag(x, ${-j}) OVER w"
    else "x"

  /** Same-mode convolution as a DuckDB lag-sum: Σ_k h[k]·x[n − k + L],
    * left-associated in ascending k — the term order [[convBank]]
    * reproduces. Expects window `w` over (channel, n).
    */
  def sameExprSql(h: Array[Double]): String = {
    val l = (h.length - 1) / 2
    h.zipWithIndex
      .map { case (c, k) => s"${Dsp.lit(c)} * coalesce(${shiftedSql(l - k)}, 0.0)" }
      .mkString(" + ")
  }

  /** Centered ('same') convolution: y[n] = Σ_k h[k]·x[n − k + L], L = (M−1)/2. */
  def same(sig: DataFrame, h: Array[Double]): DataFrame =
    convPlus(sig, h).select(col("channel"), col("n"), round(col("y"), 6).as("y"))

  def sameSql(h: Array[Double]): String =
    s"${Signal.sigCte} SELECT channel, n, round(${sameExprSql(h)}, 6) AS y FROM sig " +
      "WINDOW w AS (PARTITION BY channel ORDER BY n)"

  /** 'valid' convolution: y[j] = Σ_k h[k]·x[j + M−1 − k], only full overlaps. */
  def valid(sig: DataFrame, h: Array[Double]): DataFrame = {
    val m = h.length
    val y = h.zipWithIndex
      .map { case (c, k) => lit(c) * coalesce(shifted(m - 1 - k), lit(0.0)) }
      .reduceLeft(_ + _)
    val last = lead(col("x"), m - 1).over(chanWindow)
    sig
      .select(col("channel"), col("n"), round(y, 6).as("y"), last.as("_last"))
      .filter(col("_last").isNotNull)
      .drop("_last")
  }

  def validSql(h: Array[Double]): String = {
    val m = h.length
    val expr = h.zipWithIndex
      .map { case (c, k) => s"${Dsp.lit(c)} * coalesce(${shiftedSql(m - 1 - k)}, 0.0)" }
      .mkString(" + ")
    s"${Signal.sigCte} SELECT channel, n, y FROM (" +
      s"SELECT channel, n, round($expr, 6) AS y, lead(x, ${m - 1}) OVER w AS _last FROM sig " +
      "WINDOW w AS (PARTITION BY channel ORDER BY n)) WHERE _last IS NOT NULL"
  }

  /** 'full' convolution: y[j] = Σ_k h[k]·x[j−k], j ∈ [0, len+M−2] — the
    * signal is extended with M−1 trailing null rows per channel so the
    * window lag terms cover the kernel run-out.
    */
  def full(sig: DataFrame, h: Array[Double]): DataFrame = {
    val m = h.length
    val bounds = sig.groupBy(col("channel")).agg(max(col("n")).as("max_n"))
    val tail = bounds.select(
      col("channel"),
      explode(sequence(col("max_n") + 1, col("max_n") + (m - 1))).as("n"),
      lit(null).cast("double").as("x")
    )
    val ext = sig.unionByName(tail)
    val w = Window.partitionBy(col("channel")).orderBy(col("n"))
    val y = h.zipWithIndex
      .map { case (c, k) =>
        val t = if (k == 0) col("x") else lag(col("x"), k).over(w)
        lit(c) * coalesce(t, lit(0.0))
      }
      .reduceLeft(_ + _)
    ext.select(col("channel"), col("n"), round(y, 6).as("y"))
  }

  def fullSql(h: Array[Double]): String = {
    val m = h.length
    val expr = h.zipWithIndex
      .map { case (c, k) =>
        val t = if (k == 0) "x" else s"lag(x, $k) OVER w"
        s"${Dsp.lit(c)} * coalesce($t, 0.0)"
      }
      .mkString(" + ")
    s"${Signal.sigCte}, bounds AS (SELECT channel, max(n) AS max_n FROM sig GROUP BY channel), " +
      s"ext AS (SELECT channel, n, x FROM sig UNION ALL " +
      s"SELECT channel, max_n + gs.g AS n, CAST(NULL AS DOUBLE) AS x FROM bounds, generate_series(1, ${m - 1}) gs(g)) " +
      s"SELECT channel, n, round($expr, 6) AS y FROM ext WINDOW w AS (PARTITION BY channel ORDER BY n)"
  }

  /** Halo-extended segment assembly: (channel, s, len, xs[segLen + 2l])
    * where xs covers positions [s·segLen − l, s·segLen + segLen + l),
    * zero outside the signal. Shared by the long-kernel consumers that
    * run one or several FFT convolutions per assembled segment
    * ([[sameFast]]; the long-scale CWT runs its re and im kernels over
    * one assembly). REQUIRES the Signal contract: contiguous
    * n = 0..cnt−1 per channel.
    *
    * One [[ChannelScan]] pass emits each segment once with its halos —
    * no scatter of samples into their three destination segments and no
    * collect_list reassembly (that shuffle spilled 17.6 GB at the
    * 128M-sample decade). Trailing segments whose core lies wholly past
    * the signal end are not emitted. `len` is the segment's number of
    * in-signal core samples, min(segLen, cnt − s·segLen), so callers
    * clip their output to core positions j < 2l + len without a second
    * pass for per-channel bounds.
    */
  private[graft] def segAssemble(
      sig: DataFrame,
      l: Int,
      segLen: Int,
      presorted: Boolean = false
  ): DataFrame = {
    require(segLen > 2 * l, s"segLen $segLen must exceed kernel overlap ${2 * l}")
    val spark = sig.sparkSession
    import spark.implicits._
    val extLen = segLen + 2 * l
    // extended index m = n + l; segment s occupies [s·segLen, s·segLen + extLen)
    ChannelScan
      .scan(sig, presorted, math.max(1 << 16, 4 * extLen), headZeros = l) { () =>
        new ChannelScan.Step[(String, Long, Int, Array[Double])] {
          // pad so the last core segment, (cnt−1) div segLen, completes
          override def padTo(count: Long): Long = lastSeg(count) * segLen + extLen
          private def lastSeg(count: Long): Long = (count - 1).max(0L) / segLen
          def emit(w: ChannelScan.Window, out: ArrayBuffer[(String, Long, Int, Array[Double])]): Long = {
            while (w.next * segLen + extLen <= w.end && (!w.done || w.next <= lastSeg(w.count))) {
              val s = w.next
              // a segment emitted before its channel ends has a whole core
              // in-signal (it needed l samples past it), so `count` is exact
              val len = math.min(segLen.toLong, w.count - s * segLen).toInt
              out += ((w.channel, s, len, w.read(s * segLen, new Array[Double](extLen))))
              w.next += 1
            }
            w.next * segLen
          }
        }
      }
      .toDF("channel", "s", "len", "xs")
  }

  /** Segmented overlap-add fast path for 'same' convolution — the
    * reference's `oaconvolve` (numerical.py:158) re-expressed for
    * Spark: [[segAssemble]] cuts each channel into fixed segments with
    * L-sample halos on both sides, each extended segment runs one FFT
    * convolution inside the custom `SegConv` expression, and the core
    * region explodes back to rows. O(log S) per sample vs O(M) for the
    * direct [[convBank]] scan — the win for kernels with hundreds+ taps.
    */
  def sameFast(sig: DataFrame, h: Array[Double], segLen: Int = 1024): DataFrame = {
    val m = h.length
    val l = (m - 1) / 2
    // full conv of xs (extLen) with h → index j = p + 2l maps to sample
    // n = s*segLen + p; the clip keeps the segment's in-signal core
    segAssemble(sig, l, segLen)
      .select(
        col("channel"),
        col("s"),
        col("len"),
        posexplode(graft.functions.exprs.seg_conv(col("xs"), h)).as(Seq("j", "y"))
      )
      .filter(col("j") >= 2 * l && col("j") < col("len") + 2 * l)
      .select(
        col("channel"),
        (col("s") * segLen + col("j") - 2 * l).cast("bigint").as("n"),
        round(col("y"), 6).as("y")
      )
  }

  /** 'same'-mode convolution of ONE kernel: the `ys[0]` projection of
    * [[convBank]]. Output: (channel, n, x, y).
    */
  def convPlus(
      sig: DataFrame,
      h: Array[Double],
      presorted: Boolean = false,
      blockSizeHint: Int = 1 << 16
  ): DataFrame =
    convBank(sig, Seq(h), presorted, blockSizeHint)
      .select(col("channel"), col("n"), col("x"), col("ys")(0).as("y"))

  /** 'same'-mode convolution of K kernels in ONE [[ChannelScan]]
    * pass, bit-exact with [[sameExprSql]]: per kernel,
    * terms accumulate in ascending-k left-associated order with
    * `h(k) * 0.0` contributions outside the signal.
    *
    * Why it exists: WindowExec evaluates each lag/lead as an interpreted
    * per-row frame — at 100+ taps that overhead dominates. Here each
    * kernel is one JIT'd loop over a shared sample buffer; channels
    * remain the parallel unit exactly like the IIR scan.
    *
    * Memory-bounded: the longest kernel's halos carry between blocks,
    * so peak task memory is O(blockSize + max m) at any channel length.
    * Output: (channel, n, x, ys) with `ys(q)` = kernel q's convolution.
    */
  def convBank(
      sig: DataFrame,
      hs: Seq[Array[Double]],
      presorted: Boolean = false,
      blockSizeHint: Int = 1 << 16
  ): DataFrame = {
    require(hs.nonEmpty && hs.forall(_.nonEmpty), "convBank needs at least one non-empty kernel")
    val spark = sig.sparkSession
    import spark.implicits._
    val bank = hs.map(_.clone()).toArray
    val nk = bank.length
    val ls = bank.map(h => (h.length - 1) / 2)
    val mMax = bank.map(_.length).max
    val lookahead = (mMax - 1) / 2      // largest l: both halos grow with m
    val lookback = mMax - 1 - lookahead // largest m−1−l
    // presorted: caller guarantees channel-partitioned, (channel, n)-
    // sorted input — true when chaining directly off a convPlus output
    // (mapPartitions emits in order and Catalyst can't see it) — so the
    // redundant exchange+sort is skipped
    ChannelScan
      .scan(sig, presorted, math.max(blockSizeHint, 4 * mMax), keepN = true) { () =>
        new ChannelScan.Step[(String, Long, Double, Array[Double])] {
          def emit(w: ChannelScan.Window, out: ArrayBuffer[(String, Long, Double, Array[Double])]): Long = {
            val end = w.end
            val last = if (w.done) end - 1 else end - 1 - lookahead
            while (w.next <= last) {
              val i = w.next
              val ys = new Array[Double](nk)
              var q = 0
              while (q < nk) {
                val h = bank(q)
                val l = ls(q)
                var acc = 0.0
                var k = 0
                while (k < h.length) {
                  val idx = i + l - k
                  val t = h(k) * (if (idx >= 0 && idx < end) w.x(idx) else 0.0)
                  acc = if (k == 0) t else acc + t
                  k += 1
                }
                ys(q) = acc
                q += 1
              }
              out += ((w.channel, w.n(i), w.x(i), ys))
              w.next += 1
            }
            math.max(0L, w.next - lookback) // keep the lookback halo
          }
        }
      }
      .toDF("channel", "n", "x", "ys")
  }

  // ---- designed filters over the test signal (fs nominal 100 Hz) ----

  private val fs = 100.0

  /** Designs (window family, fpass, fstop[, gpass, gstop]) mirroring the
    * reference's constructors; taps counts: rect 21, bartlett 41,
    * hamming 41, hann-bandpass 81, blackman-highpass 61, kaiser 25.
    */
  lazy val rect: Array[Double] = Dsp.firDesign("rectangular", Seq(10), Seq(20), fs)
  lazy val bartlettLp: Array[Double] = Dsp.firDesign("bartlett", Seq(15), Seq(25), fs)
  lazy val hammingLp: Array[Double] = Dsp.firDesign("hamming", Seq(10), Seq(20), fs)
  lazy val hannBp: Array[Double] = Dsp.firDesign("hann", Seq(10, 20), Seq(5, 25), fs)
  lazy val blackmanHp: Array[Double] = Dsp.firDesign("blackman", Seq(20), Seq(10), fs)
  lazy val kaiserLp: Array[Double] =
    Dsp.firDesign("kaiser", Seq(10), Seq(20), fs, gpass = 1.0, gstop = 40.0)

  /** Kaiser bandstop: pass below 5 / above 30 Hz, reject 10–25 Hz —
    * exercises the firwin "bandstop" band assembly (two passbands, DC
    * normalization), the one designed band type no other query covers.
    */
  lazy val kaiserBs: Array[Double] =
    Dsp.firDesign("kaiser", Seq(5, 30), Seq(10, 25), fs, gpass = 1.0, gstop = 40.0)
  lazy val remezLp: Array[Double] =
    graft.core.Remez.lowpass(fpass = 10, fstop = 20, fs = fs, gpass = 1.0, gstop = 40.0)

  /** Remez bandpass 10–20 Hz (stop <5, >30): the multiband
    * Parks–McClellan call shape (three bands, per-band weights).
    */
  lazy val remezBp: Array[Double] =
    graft.core.Remez.bandpass(5, 10, 20, 30, fs = fs, gpass = 1.0, gstop = 40.0)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fir_oa_fast" -> { (s, dir) => sameFast(Signal.long(s, dir), kaiserLp) },
    "fir_rect" -> { (s, dir) => same(Signal.long(s, dir), rect) },
    "fir_rect_valid" -> { (s, dir) => valid(Signal.long(s, dir), rect) },
    "fir_rect_full" -> { (s, dir) => full(Signal.long(s, dir), rect) },
    "fir_bartlett_lp" -> { (s, dir) => same(Signal.long(s, dir), bartlettLp) },
    "fir_hamming_lp" -> { (s, dir) => same(Signal.long(s, dir), hammingLp) },
    "fir_hann_bp" -> { (s, dir) => same(Signal.long(s, dir), hannBp) },
    "fir_blackman_hp" -> { (s, dir) => same(Signal.long(s, dir), blackmanHp) },
    "fir_kaiser_lp" -> { (s, dir) => same(Signal.long(s, dir), kaiserLp) },
    "fir_kaiser_bs" -> { (s, dir) => same(Signal.long(s, dir), kaiserBs) },
    "fir_remez_lp" -> { (s, dir) => same(Signal.long(s, dir), remezLp) },
    "fir_remez_bp" -> { (s, dir) => same(Signal.long(s, dir), remezBp) }
  )

  def oracleSql: Map[String, String] = Map(
    // the FFT fast path computes the same 'same'-mode convolution as the
    // lag-sum; both round to 6 dp, well above FFT rounding error
    "fir_oa_fast" -> sameSql(kaiserLp),
    "fir_rect" -> sameSql(rect),
    "fir_rect_valid" -> validSql(rect),
    "fir_rect_full" -> fullSql(rect),
    "fir_bartlett_lp" -> sameSql(bartlettLp),
    "fir_hamming_lp" -> sameSql(hammingLp),
    "fir_hann_bp" -> sameSql(hannBp),
    "fir_blackman_hp" -> sameSql(blackmanHp),
    "fir_kaiser_lp" -> sameSql(kaiserLp),
    "fir_kaiser_bs" -> sameSql(kaiserBs),
    "fir_remez_lp" -> sameSql(remezLp),
    "fir_remez_bp" -> sameSql(remezBp)
  )
}
