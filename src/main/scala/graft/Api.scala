package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Dsp, Elliptic, Iir, Remez}
import graft.operators.{CwtOps, FirOps, HilbertOps, IirOps, ProTools, ResampleOps, ResponseOps, SpectraOps, XcorrOps}

/** User-facing façade mirroring the reference's public API, so an
  * openseize user can port call-for-call:
  *
  * {{{
  * // openseize:                       graft:
  * Kaiser(300, 350, 5000, 1, 40)      Api.Kaiser(300, 350, 5000, 1, 40)
  *   .__call__(pro, chunksize)          .apply(sig)          // mode="same"
  * Butter(500, 600, 5000)(pro, ..,    Api.Butter(500, 600, 5000)
  *   dephase=True)                      .apply(sig, dephase = true)
  * downsample(pro, M=10, fs, cs)      Api.downsample(sig, 10, fs)
  * psd(pro, fs)                       Api.psd(sig)  // over (channel,n,x)
  * }}}
  *
  * Data is the long-format signal `(channel, n, x)` — the distributed
  * analogue of the reference's producer; chunksize disappears because
  * Spark owns partitioning. Only openseize call shapes live here: the
  * LLM-data, streaming and scale operators are called in their own
  * modules (the `llm` and `streaming` packages, `core.Scale`).
  */
object Api {

  /** Linear-phase FIR with a concrete window design; apply in numpy
    * conv modes (reference FIR.__call__).
    */
  final case class FirFilter(coeffs: Array[Double]) {
    def apply(sig: DataFrame, mode: String = "same"): DataFrame = mode match {
      case "same" => FirOps.same(sig, coeffs)
      case "full" => FirOps.full(sig, coeffs)
      case "valid" => FirOps.valid(sig, coeffs)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    def numtaps: Int = coeffs.length

    /** Reference FIRViewer.frequency_response (mixins.py:288) as a
      * DataFrame: (k, freq, mag, db) over worN points in [0, fs/2).
      */
    def frequencyResponse(
        spark: SparkSession,
        fs: Double,
        worN: Int = 512,
        ropeDb: Double = -120.0
    ): DataFrame = ResponseOps.freqz(spark, coeffs, Array(1.0), fs, worN, ropeDb)

    /** Reference FIRViewer.impulse_response (mixins.py:277): the taps
      * padded to a 1-second pulse response.
      */
    def impulseResponse(spark: SparkSession, fs: Double): DataFrame =
      ResponseOps.impulseFir(spark, coeffs, fs)
  }

  def Kaiser(fpass: Double, fstop: Double, fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): FirFilter =
    FirFilter(Dsp.firDesign("kaiser", Seq(fpass), Seq(fstop), fs, gpass, gstop))
  def Rectangular(fpass: Double, fstop: Double, fs: Double): FirFilter =
    FirFilter(Dsp.firDesign("rectangular", Seq(fpass), Seq(fstop), fs))
  def Bartlett(fpass: Double, fstop: Double, fs: Double): FirFilter =
    FirFilter(Dsp.firDesign("bartlett", Seq(fpass), Seq(fstop), fs))
  def Hann(fpass: Double, fstop: Double, fs: Double): FirFilter =
    FirFilter(Dsp.firDesign("hann", Seq(fpass), Seq(fstop), fs))
  def Hamming(fpass: Double, fstop: Double, fs: Double): FirFilter =
    FirFilter(Dsp.firDesign("hamming", Seq(fpass), Seq(fstop), fs))
  def Blackman(fpass: Double, fstop: Double, fs: Double): FirFilter =
    FirFilter(Dsp.firDesign("blackman", Seq(fpass), Seq(fstop), fs))
  def KaiserBand(fpass: Seq[Double], fstop: Seq[Double], fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): FirFilter =
    FirFilter(Dsp.firDesign("kaiser", fpass, fstop, fs, gpass, gstop))
  def RemezLp(fpass: Double, fstop: Double, fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): FirFilter =
    FirFilter(Remez.lowpass(fpass, fstop, fs, gpass, gstop))
  def RemezBp(fstop1: Double, fpass1: Double, fpass2: Double, fstop2: Double, fs: Double,
      gpass: Double = 1.0, gstop: Double = 40.0): FirFilter =
    FirFilter(Remez.bandpass(fstop1, fpass1, fpass2, fstop2, fs, gpass, gstop))
  def Hilbert(width: Double, fs: Double, gpass: Double = 0.01, gstop: Double = 60.0): FirFilter =
    FirFilter(HilbertOps.hilbertDesign(width, fs, gpass, gstop))

  /** IIR in SOS form; `dephase = true` (reference default) runs the
    * zero-phase forward-backward variant.
    */
  final case class IirFilter(sos: Array[Array[Double]]) {
    def apply(sig: DataFrame, dephase: Boolean = true): DataFrame =
      if (dephase) IirOps.sosfiltfilt(sig, sos) else IirOps.sosfilt(sig, sos)
    def order: Int = sos.map(s => if (s(5) == 0.0 && s(2) == 0.0) 1 else 2).sum

    /** Reference IIRViewer.frequency_response (mixins.py:240). */
    def frequencyResponse(
        spark: SparkSession,
        fs: Double,
        worN: Int = 512,
        ropeDb: Double = -120.0
    ): DataFrame = ResponseOps.sosFreqz(spark, sos, fs, worN, ropeDb)

    /** Reference IIRViewer.impulse_response (mixins.py:226): a 1-second
      * unit pulse through the cascade.
      */
    def impulseResponse(spark: SparkSession, fs: Double): DataFrame =
      ResponseOps.impulseSos(spark, sos, fs)
  }

  def Butter(fpass: Double, fstop: Double, fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): IirFilter =
    IirFilter(Iir.butterSos(fpass, fstop, gpass, gstop, fs))
  def Cheby1(fpass: Double, fstop: Double, fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): IirFilter =
    IirFilter(Iir.cheby1Sos(fpass, fstop, gpass, gstop, fs))
  def Cheby2(fpass: Double, fstop: Double, fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): IirFilter =
    IirFilter(Iir.cheby2Sos(fpass, fstop, gpass, gstop, fs))
  def Ellip(fpass: Double, fstop: Double, fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): IirFilter =
    IirFilter(Elliptic.ellipSos(fpass, fstop, gpass, gstop, fs))
  def Notch(f0: Double, q: Double, fs: Double): IirFilter =
    IirFilter(Iir.notchSos(f0, q, fs))

  /** IIR band designs (reference passes 2-element fpass/fstop arrays to
    * the same constructors; fpass inside fstop → bandpass, outside →
    * bandstop with scipy's fminbound passband-edge order optimization).
    */
  private def band2(fp: Seq[Double], fst: Seq[Double]): ((Double, Double), (Double, Double)) = {
    require(fp.length == 2 && fst.length == 2, s"band specs need 2 edges: fpass=$fp fstop=$fst")
    ((fp(0), fp(1)), (fst(0), fst(1)))
  }
  def ButterBand(fpass: Seq[Double], fstop: Seq[Double], fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): IirFilter = {
    val (p, s) = band2(fpass, fstop); IirFilter(Iir.butterBandSos(p, s, gpass, gstop, fs))
  }
  def Cheby1Band(fpass: Seq[Double], fstop: Seq[Double], fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): IirFilter = {
    val (p, s) = band2(fpass, fstop); IirFilter(Iir.cheby1BandSos(p, s, gpass, gstop, fs))
  }
  def Cheby2Band(fpass: Seq[Double], fstop: Seq[Double], fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): IirFilter = {
    val (p, s) = band2(fpass, fstop); IirFilter(Iir.cheby2BandSos(p, s, gpass, gstop, fs))
  }
  def EllipBand(fpass: Seq[Double], fstop: Seq[Double], fs: Double, gpass: Double = 1.0, gstop: Double = 40.0): IirFilter = {
    val (p, s) = band2(fpass, fstop); IirFilter(Elliptic.ellipBandSos(p, s, gpass, gstop, fs))
  }

  /** Resampling (reference resampling.resampling). */
  def downsample(sig: DataFrame, m: Int, fs: Double): DataFrame =
    ResampleOps.downsample(sig, m, ResampleOps.antiAlias(1, m, fs))
  def upsample(sig: DataFrame, l: Int, fs: Double): DataFrame =
    ResampleOps.upsample(sig, l, ResampleOps.antiAlias(l, 1, fs))
  def resample(sig: DataFrame, l: Int, m: Int, fs: Double): DataFrame =
    ResampleOps.resample(sig, l, m, ResampleOps.antiAlias(l, m, fs))

  /** Spectral estimators (reference spectra.estimators). */
  def psd(sig: DataFrame): DataFrame = SpectraOps.psdWelch(sig)
  def coherence(sig: DataFrame): DataFrame = SpectraOps.coherence(sig)

  /** EEG preprocessing: common-average re-reference and per-channel
    * z-score artifact screen (flag computed on the rounded z).
    */
  def carReref(sig: DataFrame): DataFrame = ProTools.carReref(sig)
  def artifactMask(sig: DataFrame, threshold: Double = 2.5): DataFrame =
    ProTools.artifactMask(sig, threshold)
  def stft(sig: DataFrame): DataFrame = SpectraOps.stft(sig)
  def psdCi(sig: DataFrame): DataFrame = SpectraOps.psdCi(sig)

  /** plotting.banded display assembly: per-channel f-ascending
    * (freqs, lower, upper) fill_between arrays.
    */
  def psdBanded(sig: DataFrame): DataFrame = SpectraOps.psdBanded(sig)

  /** 3-level Haar discrete wavelet transform per channel: details
    * d1/d2/d3 + approximation a3, one shuffle (8-sample group pivot).
    */
  def dwtHaar(sig: DataFrame): DataFrame = SpectraOps.dwtHaar(sig)

  /** Thomson multitaper PSD: K DPSS tapers (driver-solved) through one
    * streaming frame scan, averaged over tapers and segments.
    */
  def psdMultitaper(sig: DataFrame): DataFrame = SpectraOps.psdMultitaper(sig)

  /** Normalized cross-correlation per channel pair at lags -L..+L. */
  def xcorr(sig: DataFrame): DataFrame = XcorrOps.xcorr(sig)

  /** Spectral entropy of the Welch PSD per channel (entropy_norm: 1 =
    * white spectrum, 0 = pure tone).
    */
  def psdEntropy(sig: DataFrame): DataFrame = SpectraOps.psdEntropy(sig)

  /** Threshold-crossing local-max peak detection on the rounded z-score. */
  def detectPeaks(sig: DataFrame): DataFrame = ProTools.detectPeaks(sig)

  /** Union of overlapping (label, lo, hi) annotation intervals. */
  def mergeIntervals(intervals: DataFrame): DataFrame =
    graft.operators.AnnoOps.mergeIntervals(intervals)

  /** Complex-Morlet CWT scalogram: |W_s x|^2 per sample at each scale —
    * the whole bank rides one channel-window pass.
    */
  def cwtMorlet(sig: DataFrame): DataFrame = CwtOps.cwtMorlet(sig)

  /** Analytic transform + coupling (reference experimental.coupling). */
  def analytic(sig: DataFrame): DataFrame = HilbertOps.analytic(sig)
  def plv(sig: DataFrame): DataFrame = HilbertOps.plv(sig)
  def phasePower(sig: DataFrame): DataFrame = HilbertOps.phasePower(sig)

  // ---- ba-form filtering (reference lfilter/filtfilt) ----

  def lfilter(sig: DataFrame, b: Array[Double], a: Array[Double]): DataFrame =
    IirOps.lfilter(sig, b, a)
  def filtfilt(sig: DataFrame, b: Array[Double], a: Array[Double]): DataFrame =
    IirOps.filtfiltBa(sig, b, a)

  // ---- file I/O (reference file_io.edf / annotations) ----

  /** Distributed EDF read: (src, channel, n, x) one task per file. */
  def readEdf(spark: SparkSession, pathGlob: String): DataFrame =
    sources.Edf.readSpark(spark, pathGlob)

  /** Distributed per-recording EDF write (executor-side sink). */
  def writeEdf(sig: DataFrame, outDir: String, fs: Double, samplesPerRecord: Int = 256): Unit =
    sources.Edf.writeSpark(sig, outDir, fs, samplesPerRecord)
}
