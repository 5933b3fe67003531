package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

import graft.core.{ChannelScan, Dsp, Signal}

/** Rational resampling (reference: openseize `resampling/resampling.py`
  * downsample/upsample/resample via `core/numerical.py:523`
  * polyphase_resample = scipy resample_poly).
  *
  * Semantics (derived from upfirdn with scipy's centering):
  * y[j] = L · Σ_i x[i] · h[c + jM − iL], c = (len(h)−1)/2, zero-extended,
  * j ∈ [0, ceil(n·L/M)). Equivalently: zero-stuff by L → centered FIR
  * with gain L → keep every Mth sample. The anti-alias/interpolation
  * Kaiser is designed exactly as the reference defaults:
  * cutoff = fs/(2·max(L,M)), fpass/fstop = cutoff ∓ cutoff/10,
  * gpass = 0.1 dB, gstop = 40 dB.
  *
  * Spark shape: the zero-stuffed grid is an explode (row-local), the
  * convolution one channel-sorted window pass, decimation a filter that
  * Catalyst pushes into the same stage — one shuffle total. A true
  * polyphase split (computing only surviving phases) is the planned
  * round-2 optimization; it cuts the conv work by M but changes nothing
  * in the shuffle structure.
  */
object ResampleOps {

  private val fs = 100.0

  /** Reference-default Kaiser for a rational L/M stage. */
  def antiAlias(l: Int, m: Int, fs: Double = fs): Array[Double] = {
    val cutoff = fs / (2.0 * math.max(l, m))
    Dsp.firDesign(
      "kaiser",
      Seq(cutoff - cutoff / 10.0),
      Seq(cutoff + cutoff / 10.0),
      fs,
      gpass = 0.1,
      gstop = 40.0
    )
  }

  lazy val hDown2: Array[Double] = antiAlias(1, 2)
  lazy val hUp3: Array[Double] = antiAlias(3, 1)
  lazy val hRes32: Array[Double] = antiAlias(3, 2)

  private def zeroStuffSql(l: Int): String =
    s"SELECT channel, n * $l + r.g AS n, CASE WHEN r.g = 0 THEN x ELSE 0.0 END AS x " +
      s"FROM sig, generate_series(0, ${l - 1}) r(g)"

  /** True polyphase rational resampler: y[j] = Σ_k h'(k)·g(jM + c − k)
    * where g is the L-stuffed zero-extended grid, h' = L·h (L>1),
    * c = (taps−1)/2 — evaluated directly on the ORIGINAL samples for the
    * surviving output phases only. vs the naive stuff→conv→decimate:
    * M× fewer conv evaluations AND the shuffle moves n rows, not n·L
    * (the stuffed grid never exists as rows). Term order matches the
    * lag-sum oracle exactly (ascending k, left-associated, literal 0.0
    * for stuffed/out-of-range slots) so hashes are unchanged.
    *
    * One [[ChannelScan]] pass like FirOps.convPlus: fixed input blocks
    * with a taps-wide halo; peak task memory O(block + taps) regardless
    * of channel length. Assumes dense per-channel n starting at 0 (the
    * producer contract).
    */
  def polyResample(
      sig: DataFrame,
      l: Int,
      m: Int,
      h: Array[Double],
      blockSizeHint: Int = 1 << 16,
      presorted: Boolean = false
  ): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    val hl = if (l > 1) h.map(_ * l) else h.clone()
    val taps = hl.length
    val c = (taps - 1) / 2
    val L = l.toLong
    val M = m.toLong
    ChannelScan
      .scan(sig, presorted, math.max(blockSizeHint, 4 * taps)) { () =>
        new ChannelScan.Step[(String, Long, Double)] {
          def emit(w: ChannelScan.Window, out: ArrayBuffer[(String, Long, Double)]): Long = {
            val gridLen = w.end * L
            // without full right context, output j needs grid up to jM + c
            val lastGrid = if (w.done) gridLen - 1 else gridLen - 1 - c
            val lastJ = if (lastGrid < 0) -1L else lastGrid / M
            while (w.next <= lastJ) {
              val j = w.next
              val t = j * M
              var acc = 0.0
              var k = 0
              while (k < taps) {
                val g = t + c - k
                val v = if (g < 0 || g >= gridLen || g % L != 0L) 0.0 else w.x(g / L)
                val term = hl(k) * v
                acc = if (k == 0) term else acc + term
                k += 1
              }
              out += ((w.channel, j, acc))
              w.next += 1
            }
            math.max(0L, Math.floorDiv(w.next * M + c - (taps - 1), L))
          }
        }
      }
      .toDF("channel", "n", "y")
      .select(col("channel"), col("n"), Dsp.round6(col("y")).as("y"))
  }

  def downsample(sig: DataFrame, m: Int, h: Array[Double], presorted: Boolean = false): DataFrame =
    polyResample(sig, 1, m, h, presorted = presorted)

  def upsample(sig: DataFrame, l: Int, h: Array[Double], presorted: Boolean = false): DataFrame =
    polyResample(sig, l, 1, h, presorted = presorted)

  def resample(
      sig: DataFrame,
      l: Int,
      m: Int,
      h: Array[Double],
      presorted: Boolean = false
  ): DataFrame =
    polyResample(sig, l, m, h, presorted = presorted)

  // ---- oracle SQL twins (FirOps' lag-sum rendering) ----

  def downsampleSql(m: Int, h: Array[Double]): String =
    s"${Signal.sigCte}, conv AS (SELECT channel, n, ${Dsp.round6Sql(FirOps.sameExprSql(h))} AS y " +
      "FROM sig WINDOW w AS (PARTITION BY channel ORDER BY n)) " +
      s"SELECT channel, n // $m AS n, y FROM conv WHERE n % $m = 0"

  def upsampleSql(l: Int, h: Array[Double]): String =
    s"${Signal.sigCte}, stuffed AS (${zeroStuffSql(l)}) " +
      s"SELECT channel, n, ${Dsp.round6Sql(FirOps.sameExprSql(h.map(_ * l)))} AS y " +
      "FROM stuffed WINDOW w AS (PARTITION BY channel ORDER BY n)"

  def resampleSql(l: Int, m: Int, h: Array[Double]): String =
    s"${Signal.sigCte}, stuffed AS (${zeroStuffSql(l)}), " +
      s"conv AS (SELECT channel, n, ${Dsp.round6Sql(FirOps.sameExprSql(h.map(_ * l)))} AS y " +
      "FROM stuffed WINDOW w AS (PARTITION BY channel ORDER BY n)) " +
      s"SELECT channel, n // $m AS n, y FROM conv WHERE n % $m = 0"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // presorted: Signal.long leaves the data channel-partitioned and
    // (channel, n)-sorted — the polyphase scan adds no exchange
    "down_2" -> { (s, dir) => downsample(Signal.long(s, dir), 2, hDown2, presorted = true) },
    "up_3" -> { (s, dir) => upsample(Signal.long(s, dir), 3, hUp3, presorted = true) },
    "resample_3_2" -> { (s, dir) => resample(Signal.long(s, dir), 3, 2, hRes32, presorted = true) }
  )

  def oracleSql: Map[String, String] = Map(
    "down_2" -> downsampleSql(2, hDown2),
    "up_3" -> upsampleSql(3, hUp3),
    "resample_3_2" -> resampleSql(3, 2, hRes32)
  )
}
