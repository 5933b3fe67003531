package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Dsp, Signal}

/** Spectral estimation (reference: openseize `spectra/estimators.py`
  * psd/stft over `core/numerical.py` modified_dft/periodogram/welch).
  *
  * Welch semantics mirrored exactly: segments of nfft samples at hop
  * nfft·(1−overlap); per segment constant-detrend, periodic-hann window,
  * real DFT, density scaling 1/(fs·Σw²), one-sided doubling except DC and
  * Nyquist; PSD = mean over segments. STFT adds the reference's
  * boundary (nfft/2 zero-extension) + zero padding, no doubling.
  *
  * Spark-first shape: a sample row fans out to the ≤ nfft/hop segments
  * containing it (explode), the DFT is an explicit inner product over
  * (frame, freq) groups — everything is groupBy aggregation with map-side
  * partial combine, shrinking data by ~nfft per shuffle hop. Window and
  * twiddle factors are array literals indexed by position, identical in
  * the generated DuckDB oracle. The per-segment radix-2 FFT fast path
  * for large nfft is the planned round-2 `functions.Fft` expression.
  */
object SpectraOps {

  private val fsv = 100.0
  val nfft = 64
  val hop = 32 // overlap 0.5
  val nFreq: Int = nfft / 2 + 1

  /** Periodic ('fftbins') Hann, as scipy get_window returns. */
  lazy val hannWin: Array[Double] =
    Array.tabulate(nfft)(p => 0.5 - 0.5 * math.cos(2.0 * math.Pi * p / nfft))
  lazy val winSumSq: Double = hannWin.map(w => w * w).sum
  lazy val densityNorm: Double = 1.0 / (fsv * winSumSq)
  lazy val cosTab: Array[Double] = Array.tabulate(nfft)(k => math.cos(2.0 * math.Pi * k / nfft))
  lazy val sinTab: Array[Double] = Array.tabulate(nfft)(k => math.sin(2.0 * math.Pi * k / nfft))

  private def arrSql(xs: Array[Double]): String = xs.map(Dsp.lit).mkString("[", ", ", "]")

  /** Welch/stft estimator parameters mirroring the reference psd()
    * surface (estimators.py:60): window family, overlap (as hop),
    * detrend ('constant' | 'linear'), scaling ('density' | 'spectrum').
    * The default is the reference's default combination.
    */
  final case class WelchCfg(
      nfft: Int = 64,
      hop: Int = 32,
      winName: String = "hann",
      scaling: String = "density",
      detrend: String = "constant",
      winOverride: Option[Array[Double]] = None // explicit taper (multitaper path)
  ) {
    /** Periodic ('fftbins') window, as scipy get_window returns. */
    lazy val win: Array[Double] = winOverride.getOrElse(Dsp.window(winName, nfft + 1).take(nfft))
    lazy val norm: Double = scaling match {
      case "density" => 1.0 / (fsv * win.map(w => w * w).sum)
      case "spectrum" => 1.0 / (win.sum * win.sum)
      case other => throw new IllegalArgumentException(s"unknown scaling $other")
    }
    lazy val cosT: Array[Double] = Array.tabulate(nfft)(k => math.cos(2.0 * math.Pi * k / nfft))
    lazy val sinT: Array[Double] = Array.tabulate(nfft)(k => math.sin(2.0 * math.Pi * k / nfft))
    val pBar: Double = (nfft - 1) / 2.0
    /** population variance of positions 0..nfft-1 */
    val pVar: Double = (nfft - 1.0) * (2.0 * nfft - 1.0) / 6.0 - pBar * pBar
  }

  /** Modified periodograms per (channel, seg, f).
    * boundary=false → welch framing; true → stft framing (zero-extended
    * by nfft/2, padded to cover the tail).
    *
    * Implementation (r5): a streaming channel-partitioned mapPartitions
    * frame scan, replacing the explode(×nfft/hop) + groupBy(collect_list
    * + sort_array(struct)) assembly. Shuffle volume drops from
    * (nfft/hop)·n exploded rows to the n input rows — and to zero extra
    * exchanges when `presorted` (the caller guarantees channel-
    * partitioned, (channel, n)-sorted input, true straight off
    * Signal.long, same contract as FirOps.convPlus). Each full frame
    * runs the fused detrend→window→|RFFT|² kernel ([[graft.functions.Fft.Periodogram]]).
    * Task memory is O(block + nfft) regardless
    * of channel length; stft boundary zeros are synthesized inside the
    * scan, so the head/tail union and the per-channel count broadcast
    * join disappear. This is the same rewrite that took the Hilbert
    * family from 5.0 s to 1.0 s (convPlus).
    */
  def periodograms(
      sig: DataFrame,
      boundary: Boolean,
      doubled: Boolean,
      cfg: WelchCfg = WelchCfg(),
      presorted: Boolean = false
  ): DataFrame = {
    val segs = frameScan(sig, boundary, doubled, cfg, presorted)((k, fr) => k(fr))
    segs.select(col("channel"), col("s"), posexplode(col("p2s")).as(Seq("f", "p2")))
  }

  /** The streaming frame assembly shared by the power (`periodograms`)
    * and complex (`complexFrames`) paths: `kfn` maps each full frame
    * through the per-partition kernel; emits (channel, s, p2s).
    */
  private def frameScan(
      sig: DataFrame,
      boundary: Boolean,
      doubled: Boolean,
      cfg: WelchCfg,
      presorted: Boolean
  )(kfn: (graft.functions.Fft.Periodogram, Array[Double]) => Array[Double]): DataFrame = {
    require(cfg.detrend == "constant" || cfg.detrend == "linear", s"unknown detrend ${cfg.detrend}")
    val win = cfg.win
    val detrend = cfg.detrend
    val norm = cfg.norm
    frameScanMk(sig, boundary, cfg.nfft, cfg.hop, presorted) { () =>
      val kernel = new graft.functions.Fft.Periodogram(win, detrend, norm, doubled)
      fr => kfn(kernel, fr)
    }
  }

  /** The raw streaming frame iterator: `mk` builds the executor-local
    * per-frame kernel (called once per partition).
    */
  private def frameScanMk(
      sig: DataFrame,
      boundary: Boolean,
      nfftP: Int,
      hopP: Int,
      presorted: Boolean
  )(mk: () => Array[Double] => Array[Double]): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    require(nfftP % hopP == 0 && (!boundary || nfftP % 2 == 0), s"nfft $nfftP hop $hopP")
    val blockSize = math.max(1 << 16, 4 * nfftP)
    val typed = sig
      .select(col("channel"), col("n"), col("x"))
      .as[(String, Long, Double)]
    val ordered =
      if (presorted) typed
      else typed.repartition(col("channel")).sortWithinPartitions(col("channel"), col("n"))
    ordered
      .mapPartitions { (it0: Iterator[(String, Long, Double)]) =>
        val kernel = mk()
        val in = it0.buffered
        new Iterator[Iterator[(String, Long, Array[Double])]] {
          private var ch: String = null
          // extended-coordinate samples from index `base` (boundary mode
          // prepends nfft/2 zeros and pads the tail to E = ceil(cnt/hop)
          // ·hop + nfft, matching the reference's stft zero-extension)
          private val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
          private var base = 0L
          private var s = 0L // next frame index to emit
          private var nData = 0L
          def hasNext: Boolean = in.hasNext || xs.nonEmpty

          def next(): Iterator[(String, Long, Array[Double])] = {
            if (xs.isEmpty) {
              ch = in.head._1; base = 0L; s = 0L; nData = 0L
              if (boundary) { var i = 0; while (i < nfftP / 2) { xs += 0.0; i += 1 } }
            }
            var read = 0
            while (read < blockSize && in.hasNext && in.head._1 == ch) {
              xs += in.next()._3; nData += 1; read += 1
            }
            val channelDone = !in.hasNext || in.head._1 != ch
            if (channelDone && boundary) {
              val e = ((nData + hopP - 1) / hopP) * hopP + nfftP
              var i = base + xs.length
              while (i < e) { xs += 0.0; i += 1 }
            }
            val avail = base + xs.length
            val frame = new Array[Double](nfftP)
            val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Array[Double])]
            while (s * hopP + nfftP <= avail) {
              var i = 0
              while (i < nfftP) { frame(i) = xs((s * hopP + i - base).toInt); i += 1 }
              out += ((ch, s, kernel(frame)))
              s += 1
            }
            if (channelDone) xs.clear() // frames all emitted; next call starts fresh
            else {
              val dropTo = math.max(base, s * hopP)
              val dropCount = (dropTo - base).toInt
              if (dropCount > 0) { xs.remove(0, dropCount); base = dropTo }
            }
            out.iterator
          }
        }.flatten
      }
      .toDF("channel", "s", "p2s")
  }

  /** SQL twin of [[periodograms]] as a CTE chain ending in
    * `pgram(channel, s, f, p2)`. Expects `sig` CTE in scope. Takes the
    * same [[WelchCfg]] so every (window, overlap, detrend, scaling)
    * variant — and the FFT fast path's larger nfft — gets the identical
    * explicit-DFT oracle.
    */
  def periodogramsSql(
      boundary: Boolean,
      doubled: Boolean,
      cfg: WelchCfg = WelchCfg(),
      suffix: String = "" // CTE-name suffix so chains can coexist (multitaper)
  ): String = {
    val nfftP = cfg.nfft
    val hopP = cfg.hop
    val baseExpr =
      if (!boundary) "SELECT channel, n AS m, x FROM sig"
      else
        s"SELECT channel, n + ${nfftP / 2} AS m, x FROM sig " +
          s"UNION ALL SELECT channel, h.g AS m, 0.0 AS x FROM bounds$suffix, generate_series(0, ${nfftP / 2 - 1}) h(g) " +
          s"UNION ALL SELECT channel, cnt + ${nfftP / 2} + t.g AS m, 0.0 AS x FROM bounds$suffix, " +
          s"generate_series(0, ${nfftP - 1}) t(g) " +
          s"WHERE cnt + ${nfftP / 2} + t.g < CAST(ceil(cnt / $hopP) * $hopP AS BIGINT) + $nfftP"
    val boundsCte =
      if (boundary) s"bounds$suffix AS (SELECT channel, count(*) AS cnt FROM sig GROUP BY channel), "
      else ""
    val nsegsExpr =
      s"CAST(floor((count(*) OVER (PARTITION BY channel) - $nfftP) / $hopP) + 1 AS BIGINT)"
    val detrendExpr = cfg.detrend match {
      case "constant" => "x - avg(x) OVER sw"
      case "linear" =>
        val slope =
          s"((avg(p * x) OVER sw) - ${Dsp.lit(cfg.pBar)} * (avg(x) OVER sw)) / ${Dsp.lit(cfg.pVar)}"
        s"x - ((avg(x) OVER sw) + ($slope) * (p - ${Dsp.lit(cfg.pBar)}))"
      case other => throw new IllegalArgumentException(s"unknown detrend $other")
    }
    val oneExpr = s"(xre * xre + xim * xim) * ${Dsp.lit(cfg.norm)}"
    val p2Expr =
      if (doubled)
        s"CASE WHEN f = 0 OR f = ${nfftP / 2} THEN $oneExpr ELSE ($oneExpr) * 2.0 END"
      else oneExpr
    boundsCte +
      s"ext$suffix AS ($baseExpr), " +
      s"marked$suffix AS (SELECT channel, m, x, $nsegsExpr AS nsegs FROM ext$suffix), " +
      s"frames$suffix AS (SELECT channel, s, CAST(m - s * $hopP AS INT) AS p, x FROM " +
      s"(SELECT channel, x, m // $hopP - d.g AS s, m, nsegs FROM marked$suffix, generate_series(0, ${nfftP / hopP - 1}) d(g)) " +
      "WHERE s >= 0 AND s < nsegs), " +
      s"windowed$suffix AS (SELECT channel, s, p, ($detrendExpr) * " +
      s"list_extract(${arrSql(cfg.win)}, p + 1) AS xw FROM frames$suffix " +
      "WINDOW sw AS (PARTITION BY channel, s)), " +
      s"terms$suffix AS (SELECT channel, s, f.g AS f, xw * list_extract(${arrSql(cfg.cosT)}, CAST((f.g * p) % $nfftP + 1 AS INT)) AS tre, " +
      s"-xw * list_extract(${arrSql(cfg.sinT)}, CAST((f.g * p) % $nfftP + 1 AS INT)) AS tim " +
      s"FROM windowed$suffix, generate_series(0, ${nfftP / 2}) f(g)), " +
      s"spec$suffix AS (SELECT channel, s, f, sum(tre) AS xre, sum(tim) AS xim FROM terms$suffix GROUP BY channel, s, f), " +
      s"pgram$suffix AS (SELECT channel, s, f, $p2Expr AS p2 FROM spec$suffix)"
  }

  /** Welch PSD per (channel, f). */
  def psdWelch(
      sig: DataFrame,
      cfg: WelchCfg = WelchCfg(),
      presorted: Boolean = false
  ): DataFrame =
    periodograms(sig, boundary = false, doubled = true, cfg, presorted)
      .groupBy(col("channel"), col("f"))
      .agg(avg(col("p2")).as("psd"), count(lit(1)).as("nsegs"))
      .select(
        col("channel"),
        col("f"),
        round(col("f") * (fsv / cfg.nfft), 4).as("freq_hz"),
        round(col("psd"), 6).as("psd"),
        col("nsegs")
      )

  def psdWelchSql(cfg: WelchCfg = WelchCfg()): String =
    s"${Signal.sigCte}, ${periodogramsSql(boundary = false, doubled = true, cfg)}, " +
      "welch AS (SELECT channel, f, avg(p2) AS psd, count(*) AS nsegs FROM pgram GROUP BY channel, f) " +
      s"SELECT channel, f, round(f * ${Dsp.lit(fsv / cfg.nfft)}, 4) AS freq_hz, round(psd, 6) AS psd, nsegs FROM welch"

  /** Magnitude-squared coherence Cxy = |Pxy|²/(Pxx·Pyy) per channel
    * pair and frequency bin (Welch framing) — the standard EEG
    * connectivity metric, a capability beyond the reference's own
    * estimators but built from the same frame scan. The complex
    * spectra come from one streaming pass; the channel-pair alignment
    * is an equi-join on (segment, bin) — at corpus scale pairs form
    * within a recording's few channels, never across the corpus.
    * All norm/doubling scalings cancel in the ratio, as does any FFT
    * conjugation convention.
    */
  /** Averaged cross-/auto-spectra per channel pair and bin — the shared
    * frame under [[coherence]] and [[icoherence]].
    */
  private def crossSpectra(sig: DataFrame, cfg: WelchCfg, presorted: Boolean): DataFrame = {
    val fr = frameScan(sig, boundary = false, doubled = false, cfg, presorted)((k, f) =>
      k.complexSpec(f)
    ).select(
      col("channel"),
      col("s"),
      explode(
        expr(
          s"transform(sequence(0, ${cfg.nfft / 2}), ff -> " +
            "struct(ff AS f, p2s[ff * 2] AS re, p2s[ff * 2 + 1] AS im))"
        )
      ).as("t")
    ).select(col("channel"), col("s"), col("t.f").as("f"), col("t.re").as("re"), col("t.im").as("im"))
    // ONE pass over the frame scan: a self-join would execute the
    // whole detrend+window+FFT scan twice (no exchange below it to
    // reuse when presorted). Instead group the few channels per
    // (segment, bin) and form the a<b pairs row-locally.
    fr.groupBy(col("s"), col("f"))
      .agg(collect_list(struct(col("channel"), col("re"), col("im"))).as("cs"))
      .select(
        col("s"),
        col("f"),
        explode(
          expr(
            "filter(flatten(transform(cs, a -> transform(cs, b -> " +
              "struct(a.channel AS ch_a, b.channel AS ch_b, a.re AS ra, a.im AS ia, " +
              "b.re AS rb, b.im AS ib)))), p -> p.ch_a < p.ch_b)"
          )
        ).as("p")
      )
      .select(
        col("s"),
        col("f"),
        col("p.ch_a").as("ch_a"),
        col("p.ch_b").as("ch_b"),
        col("p.ra").as("ra"),
        col("p.ia").as("ia"),
        col("p.rb").as("rb"),
        col("p.ib").as("ib")
      )
      .groupBy(col("ch_a"), col("ch_b"), col("f"))
      .agg(
        avg(col("ra") * col("rb") + col("ia") * col("ib")).as("pxy_re"),
        avg(col("ia") * col("rb") - col("ra") * col("ib")).as("pxy_im"),
        avg(col("ra") * col("ra") + col("ia") * col("ia")).as("pxx"),
        avg(col("rb") * col("rb") + col("ib") * col("ib")).as("pyy")
      )
  }

  /** SQL twin of [[coherence]]: the periodogram chain's `spec` CTE
    * carries the same complex spectra the frame scan emits.
    */
  def coherence(sig: DataFrame, cfg: WelchCfg = WelchCfg(), presorted: Boolean = false): DataFrame =
    crossSpectra(sig, cfg, presorted)
      .select(
        col("ch_a"),
        col("ch_b"),
        col("f"),
        Dsp.round6(
          (col("pxy_re") * col("pxy_re") + col("pxy_im") * col("pxy_im")) /
            (col("pxx") * col("pyy"))
        ).as("coh")
      )

  /** Imaginary coherency Im(Cxy) = Pxy_im / sqrt(Pxx·Pyy) (Nolte et
    * al. 2004): zero-lag (volume-conduction) coupling is purely real,
    * so the imaginary part isolates genuinely lagged interactions —
    * the spectral-domain counterpart of [[graft.operators.HilbertOps.pli]].
    * Same shared cross-spectra frame and shuffle shape as coherence.
    */
  def icoherence(sig: DataFrame, cfg: WelchCfg = WelchCfg(), presorted: Boolean = false): DataFrame =
    crossSpectra(sig, cfg, presorted)
      .select(
        col("ch_a"),
        col("ch_b"),
        col("f"),
        Dsp.round6(col("pxy_im") / sqrt(col("pxx") * col("pyy"))).as("icoh")
      )

  private def crossSpectraCtes(cfg: WelchCfg): String =
    s"${Signal.sigCte}, ${periodogramsSql(boundary = false, doubled = false, cfg)}, " +
      "ja AS (SELECT a.channel AS ch_a, b.channel AS ch_b, a.s, a.f, " +
      "a.xre AS ra, a.xim AS ia, b.xre AS rb, b.xim AS ib " +
      "FROM spec a JOIN spec b ON a.s = b.s AND a.f = b.f AND a.channel < b.channel), " +
      "cs AS (SELECT ch_a, ch_b, f, avg(ra * rb + ia * ib) AS pxy_re, " +
      "avg(ia * rb - ra * ib) AS pxy_im, avg(ra * ra + ia * ia) AS pxx, " +
      "avg(rb * rb + ib * ib) AS pyy FROM ja GROUP BY ch_a, ch_b, f)"

  def coherenceSql(cfg: WelchCfg = WelchCfg()): String =
    s"${crossSpectraCtes(cfg)} " +
      s"SELECT ch_a, ch_b, f, ${Dsp.round6Sql("(pxy_re * pxy_re + pxy_im * pxy_im) / (pxx * pyy)")} AS coh FROM cs"

  def icoherenceSql(cfg: WelchCfg = WelchCfg()): String =
    s"${crossSpectraCtes(cfg)} " +
      s"SELECT ch_a, ch_b, f, ${Dsp.round6Sql("pxy_im / sqrt(pxx * pyy)")} AS icoh FROM cs"

  /** STFT spectrogram |X|² per (channel, s, f), boundary + padded. */
  def stft(sig: DataFrame, presorted: Boolean = false): DataFrame =
    periodograms(sig, boundary = true, doubled = false, presorted = presorted)
      .select(col("channel"), col("s"), col("f"), round(col("p2"), 6).as("sxx"))

  def stftSql: String =
    s"${Signal.sigCte}, ${periodogramsSql(boundary = true, doubled = false)} " +
      "SELECT channel, s, f, round(p2, 6) AS sxx FROM pgram"

  // ---- metrics (spectra/metrics.py) ----

  /** Composite-Simpson weights over freq indices [a, b] (b−a even). */
  private def simpsonWeight(fCol: Column, a: Int, b: Int): Column =
    when(col("f") === a || col("f") === b, 1.0)
      .otherwise(when((fCol - a) % 2 === 1, 4.0).otherwise(2.0))

  private def simpsonWeightSql(a: Int, b: Int): String =
    s"CASE WHEN f = $a OR f = $b THEN 1.0 WHEN (f - $a) % 2 = 1 THEN 4.0 ELSE 2.0 END"

  private val df = fsv / nfft // frequency step, Hz
  private val bandA = 6 // 9.375 Hz
  private val bandB = 20 // 31.25 Hz  (14 intervals, even, Simpson-exact)

  /** Integrated band power per channel (metrics.power, Simpson rule). */
  def bandPower(sig: DataFrame, presorted: Boolean = false): DataFrame =
    psdWelch(sig, presorted = presorted)
      .filter(col("f") >= bandA && col("f") <= bandB)
      .groupBy(col("channel"))
      .agg(
        round(sum(col("psd") * simpsonWeight(col("f"), bandA, bandB)) * (df / 3.0), 6)
          .as("band_power")
      )

  def bandPowerSql: String =
    s"${Signal.sigCte}, ${periodogramsSql(boundary = false, doubled = true)}, " +
      "welch AS (SELECT channel, f, round(avg(p2), 6) AS psd FROM pgram GROUP BY channel, f) " +
      s"SELECT channel, round(sum(psd * ${simpsonWeightSql(bandA, bandB)}) * ${Dsp.lit(df / 3.0)}, 6) AS band_power " +
      s"FROM welch WHERE f >= $bandA AND f <= $bandB GROUP BY channel"

  /** Band-power TIME COURSE: the Simpson-integrated band power of
    * every STFT frame — "theta power over time", the sliding-window
    * analytic an EEG session review runs after the global [[bandPower]]
    * summary. Pure composition: the stft frame scan (rounded sxx, the
    * band_power parity precedent) plus one (channel, frame) aggregation
    * over ≤ band-width rows — no new shuffle beyond the stft's own.
    */
  // the frame sum runs on INTEGER MICROS of the rounded sxx (exact
  // BIGINT weighted sum, order-independent) with ONE shared literal
  // scale multiply at the end — a float sum of the ~15 band terms
  // differed by 1 ulp across engines and flipped the 6th decimal at
  // sf0.1 row counts (caught by the full sf0.1 parity sweep; the
  // 5-row global band_power has never hit the boundary)
  private val tcScale = df / 3.0 / 1.0e6

  private def simpsonWeightInt(a: Int, b: Int): Column =
    when(col("f") === a || col("f") === b, 1L)
      .otherwise(when((col("f") - a) % 2 === 1, 4L).otherwise(2L))

  def bandPowerTc(sig: DataFrame, presorted: Boolean = false): DataFrame =
    stft(sig, presorted = presorted)
      .filter(col("f") >= bandA && col("f") <= bandB)
      .groupBy(col("channel"), col("s"))
      .agg(
        Dsp
          .round6(
            sum(expr("CAST(floor(sxx * 1.0e6 + 0.5e0) AS BIGINT)") * simpsonWeightInt(bandA, bandB))
              .cast("double") * lit(tcScale)
          )
          .as("band_power")
      )

  def bandPowerTcSql: String = {
    val wInt = s"CASE WHEN f = $bandA OR f = $bandB THEN 1 WHEN (f - $bandA) % 2 = 1 THEN 4 ELSE 2 END"
    s"${Signal.sigCte}, ${periodogramsSql(boundary = true, doubled = false)}, " +
      "sg AS (SELECT channel, s, f, round(p2, 6) AS sxx FROM pgram) " +
      "SELECT channel, s, " +
      Dsp.round6Sql(
        s"CAST(sum(CAST(floor(sxx * 1.0e6 + 0.5e0) AS BIGINT) * ($wInt)) AS DOUBLE) * ${Dsp.lit(tcScale)}"
      ) + s" AS band_power FROM sg WHERE f >= $bandA AND f <= $bandB GROUP BY channel, s"
  }

  /** PSD normalized by total power over the full band (metrics.power_norm). */
  def psdNorm(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val psd = psdWelch(sig, presorted = presorted).select(col("channel"), col("f"), col("psd"))
    val cw = Window.partitionBy(col("channel"))
    psd
      .select(
        col("channel"),
        col("f"),
        round(
          col("psd") / (sum(col("psd") * simpsonWeight(col("f"), 0, nfft / 2)).over(cw) * (df / 3.0)),
          6
        ).as("psd_norm")
      )
  }

  def psdNormSql: String =
    s"${Signal.sigCte}, ${periodogramsSql(boundary = false, doubled = true)}, " +
      "welch AS (SELECT channel, f, round(avg(p2), 6) AS psd FROM pgram GROUP BY channel, f) " +
      s"SELECT channel, f, round(psd / (sum(psd * ${simpsonWeightSql(0, nfft / 2)}) OVER (PARTITION BY channel) * ${Dsp.lit(df / 3.0)}), 6) AS psd_norm FROM welch"

  /** Spectral entropy per channel: Shannon entropy of the
    * probability-normalized Welch PSD, plus the flatness-style
    * normalization by ln(nbins) (1 = white spectrum, 0 = pure tone) —
    * the standard scalar EEG complexity metric on top of the existing
    * PSD scan; one window total + one channel aggregate, shrinking to
    * channels rows.
    */
  def psdEntropy(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val psd = psdWelch(sig, presorted = presorted).select(col("channel"), col("f"), col("psd"))
    val cw = Window.partitionBy(col("channel"))
    val nBins = nfft / 2 + 1
    val hTerm = when(col("p") > 0, -col("p") * log(col("p"))).otherwise(lit(0.0))
    psd
      .select(col("channel"), (col("psd") / sum(col("psd")).over(cw)).as("p"))
      .groupBy(col("channel"))
      .agg(
        Dsp.round6(sum(hTerm)).as("entropy"),
        Dsp.round6(sum(hTerm) / lit(math.log(nBins.toDouble))).as("entropy_norm")
      )
  }

  def psdEntropySql: String = {
    val nBins = nfft / 2 + 1
    val hTerm = "sum(CASE WHEN p > 0 THEN -p * ln(p) ELSE 0.0e0 END)"
    s"${Signal.sigCte}, ${periodogramsSql(boundary = false, doubled = true)}, " +
      "welch AS (SELECT channel, f, round(avg(p2), 6) AS psd FROM pgram GROUP BY channel, f), " +
      "pn AS (SELECT channel, psd / sum(psd) OVER (PARTITION BY channel) AS p FROM welch) " +
      s"SELECT channel, ${Dsp.round6Sql(hTerm)} AS entropy, " +
      s"${Dsp.round6Sql(s"$hTerm / ${Dsp.lit(math.log(nBins.toDouble))}")} AS entropy_norm " +
      "FROM pn GROUP BY channel"
  }

  /** Chi-squared 95% CI factors via the Wilson–Hilferty approximation
    * (reference metrics.confidence_interval uses exact chi2.ppf; WH is
    * accurate to ~1e-3 at the dof here and is evaluated identically on
    * both engines from the dof column).
    */
  private val z975 = 1.959963985 // N(0,1) 97.5% quantile
  private def wilsonHilferty(dof: Column, z: Double): Column = {
    val t = lit(1.0) - lit(2.0) / (lit(9.0) * dof) + lit(z) * sqrt(lit(2.0) / (lit(9.0) * dof))
    dof * t * t * t
  }
  private def whSql(dofExpr: String, z: String): String =
    s"($dofExpr) * power(1.0 - 2.0 / (9.0 * ($dofExpr)) + ($z) * sqrt(2.0 / (9.0 * ($dofExpr))), 3)"

  /** 95% CI bounds per (channel, f) (metrics.confidence_interval). */
  def psdCi(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val psd = psdWelch(sig, presorted = presorted)
    val dof = (col("nsegs") * 2).cast("double")
    psd.select(
      col("channel"),
      col("f"),
      round(col("psd") * dof / wilsonHilferty(dof, z975), 6).as("ci_lo"),
      round(col("psd") * dof / wilsonHilferty(dof, -z975), 6).as("ci_hi")
    )
  }

  /** CTE chain ending in `cib(channel, f, ci_lo, ci_hi)` — shared by
    * the flat CI dump and the banded plot-array assembly.
    */
  private def psdCiCtes: String = {
    val dof = "CAST(nsegs * 2 AS DOUBLE)"
    s"${Signal.sigCte}, ${periodogramsSql(boundary = false, doubled = true)}, " +
      "welch AS (SELECT channel, f, round(avg(p2), 6) AS psd, count(*) AS nsegs FROM pgram GROUP BY channel, f), " +
      s"cib AS (SELECT channel, f, round(psd * $dof / (${whSql(dof, Dsp.lit(z975))}), 6) AS ci_lo, " +
      s"round(psd * $dof / (${whSql(dof, Dsp.lit(-z975))}), 6) AS ci_hi FROM welch)"
  }

  def psdCiSql: String = s"$psdCiCtes SELECT channel, f, ci_lo, ci_hi FROM cib"

  /** Banded-CI plot arrays (spectra/plotting.py:23 `banded` minus the
    * matplotlib axis): per channel, the f-ascending (freqs, lower,
    * upper) arrays that fill_between takes — the display-math assembly
    * the reference viewer computes before plotting. API + spec only:
    * the driver's row canon compares scalars, so the flat `psd_ci`
    * gate query stays the hash-checked twin of these values
    * ([[psdBandedSql]] is the DuckDB twin for SQL-first users).
    */
  def psdBanded(sig: DataFrame, presorted: Boolean = false): DataFrame =
    psdCi(sig, presorted = presorted)
      .groupBy(col("channel"))
      .agg(sort_array(collect_list(struct(col("f"), col("ci_lo"), col("ci_hi")))).as("t"))
      .select(
        col("channel"),
        expr("transform(t, s -> s.f)").as("freqs"),
        expr("transform(t, s -> s.ci_lo)").as("lower"),
        expr("transform(t, s -> s.ci_hi)").as("upper")
      )

  def psdBandedSql: String =
    s"$psdCiCtes SELECT channel, list(f ORDER BY f) AS freqs, " +
      "list(ci_lo ORDER BY f) AS lower, list(ci_hi ORDER BY f) AS upper " +
      "FROM cib GROUP BY channel"

  /** Segmented FFT Welch PSD — the large-nfft scale path: the same
    * streaming frame scan as [[periodograms]] at nfft=nfftF, O(nfft·log
    * nfft) radix-2 kernel per frame (left-associated mean,
    * (|X|²·norm)·2 association).
    */
  def psdWelchFast(sig: DataFrame, nfftF: Int, presorted: Boolean = false): DataFrame = {
    require((nfftF & (nfftF - 1)) == 0)
    val cfg = WelchCfg(nfft = nfftF, hop = nfftF / 2)
    periodograms(sig, boundary = false, doubled = true, cfg, presorted)
      .select(col("channel"), col("f").cast("bigint").as("f"), col("p2"))
      .groupBy(col("channel"), col("f"))
      .agg(round(avg(col("p2")), 6).as("psd"), count(lit(1)).as("nsegs"))
  }

  /** Explicit-DFT oracle for [[psdWelchFast]]: same framing/detrend/
    * window/density math at nfftF, agreeing with the FFT path to
    * rounding error (outputs rounded to 6 dp on both engines).
    */
  def psdWelchFastSql(nfftF: Int): String =
    s"${Signal.sigCte}, ${periodogramsSql(boundary = false, doubled = true, WelchCfg(nfft = nfftF, hop = nfftF / 2))} " +
      "SELECT channel, f, round(avg(p2), 6) AS psd, count(*) AS nsegs FROM pgram GROUP BY channel, f"

  /** Multitaper (Thomson / DPSS) PSD — the low-variance spectral
    * estimator EEG practice reaches for beyond Welch (a capability the
    * reference lacks). K Slepian tapers solve driver-side
    * ([[Dsp.dpss]], Jacobi on the tridiagonal commuting matrix) and
    * ride the SAME streaming frame scan as Welch: each non-overlapping
    * nfft frame runs all K taper kernels in ONE visit (K small
    * constant — no K-pass re-scan, no extra exchange), and the final
    * (channel, f) aggregation averages over tapers AND segments
    * together. Unit-norm tapers ⇒ density scaling per taper is
    * 1/(fs·Σw²) with Σw² ≈ 1 from the actual array — driver-computed,
    * embedded identically in both plans.
    */
  val mtK = 3
  val mtNw = 4.0
  lazy val mtTapers: Array[Array[Double]] = Dsp.dpss(nfft, mtNw, mtK)
  lazy val mtCfgs: Array[WelchCfg] =
    mtTapers.map(t => WelchCfg(nfft = nfft, hop = nfft, winOverride = Some(t)))

  def psdMultitaper(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val wins = mtTapers
    val norms = mtCfgs.map(_.norm)
    val fr = frameScanMk(sig, boundary = false, nfft, nfft, presorted) { () =>
      val kernels = wins.zip(norms).map { case (w, nm) =>
        new graft.functions.Fft.Periodogram(w, "constant", nm, doubled = true)
      }
      frame => {
        val out = new Array[Double](mtK * nFreq)
        var k = 0
        while (k < kernels.length) {
          val p = kernels(k)(frame)
          System.arraycopy(p, 0, out, k * nFreq, nFreq)
          k += 1
        }
        out
      }
    }
    fr.select(col("channel"), posexplode(col("p2s")).as(Seq("i", "p2")))
      .select(col("channel"), (col("i") % nFreq).cast("bigint").as("f"), col("p2"))
      .groupBy(col("channel"), col("f"))
      .agg(avg(col("p2")).as("psd"), count(lit(1)).as("nper"))
      .select(
        col("channel"),
        col("f"),
        round(col("f") * (fsv / nfft), 4).as("freq_hz"),
        round(col("psd"), 6).as("psd"),
        col("nper")
      )
  }

  /** Oracle: one explicit-DFT periodogram chain per taper (suffixed
    * CTEs), unioned, then the same avg-over-everything.
    */
  def psdMultitaperSql: String = {
    val chains = mtCfgs.zipWithIndex
      .map { case (c, i) => periodogramsSql(boundary = false, doubled = true, c, s"_t$i") }
    val union = mtCfgs.indices
      .map(i => s"SELECT channel, f, p2 FROM pgram_t$i")
      .mkString(" UNION ALL ")
    s"${Signal.sigCte}, ${chains.mkString(", ")}, allp AS ($union), " +
      "mt AS (SELECT channel, f, avg(p2) AS psd, count(*) AS nper FROM allp GROUP BY channel, f) " +
      s"SELECT channel, f, round(f * ${Dsp.lit(fsv / nfft)}, 4) AS freq_hz, round(psd, 6) AS psd, nper FROM mt"
  }

  /** 3-level Haar discrete wavelet transform per channel — the
    * time-frequency decomposition EEG pipelines run besides Welch/STFT
    * (beyond the reference's estimators). ONE exchange: samples group
    * by (channel, n div 8) and the complete-8-sample pivot computes
    * all three levels row-locally (the epoch-DFT conditional-agg
    * pattern) — details d1 (4/group), d2 (2), d3 (1) plus the level-3
    * approximation a3 (1): 8 coefficients per 8 samples, an orthogonal
    * transform in one shuffle. Incomplete tail groups drop identically
    * on both engines (HAVING count = 8). Both engines evaluate the
    * SAME nested expression tree (fixed-order scalar arithmetic →
    * exact IEEE parity), outputs round6.
    */
  private val haarC = 0.7071067811865476 // 1/sqrt 2

  def dwtHaar(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val base = if (presorted) sig else sig.repartition(col("channel"))
    val aggs = count(lit(1)).as("cnt") +:
      (0 until 8).map(i => max(when(col("n") % 8 === i, col("x"))).as(s"s$i"))
    val p = base
      .groupBy(col("channel"), expr("n div 8").as("g"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("cnt") === 8)
    def a1(j: Int): Column = (col(s"s${2 * j}") + col(s"s${2 * j + 1}")) * haarC
    def d1(j: Int): Column = (col(s"s${2 * j}") - col(s"s${2 * j + 1}")) * haarC
    def a2(j: Int): Column = (a1(2 * j) + a1(2 * j + 1)) * haarC
    def d2(j: Int): Column = (a1(2 * j) - a1(2 * j + 1)) * haarC
    val a3 = (a2(0) + a2(1)) * haarC
    val d3 = (a2(0) - a2(1)) * haarC
    def row(kind: String, k: Column, coef: Column) =
      struct(lit(kind).as("kind"), k.cast("bigint").as("k"), Dsp.round6(coef).as("coef"))
    val rows = array(
      (0 until 4).map(j => row("d1", col("g") * 4 + j, d1(j))) ++
        (0 until 2).map(j => row("d2", col("g") * 2 + j, d2(j))) ++
        Seq(row("d3", col("g"), d3), row("a3", col("g"), a3)): _*
    )
    p.select(col("channel"), inline(rows))
  }

  val dwtHaarSql: String = {
    val C = Dsp.lit(haarC)
    def a1(j: Int): String = s"(s${2 * j} + s${2 * j + 1}) * $C"
    def d1(j: Int): String = s"(s${2 * j} - s${2 * j + 1}) * $C"
    def a2(j: Int): String = s"(${a1(2 * j)} + ${a1(2 * j + 1)}) * $C"
    def d2(j: Int): String = s"(${a1(2 * j)} - ${a1(2 * j + 1)}) * $C"
    val a3 = s"(${a2(0)} + ${a2(1)}) * $C"
    val d3 = s"(${a2(0)} - ${a2(1)}) * $C"
    val pivots = (0 until 8).map(i => s"max(CASE WHEN n % 8 = $i THEN x END) AS s$i").mkString(", ")
    val arms =
      (0 until 4).map(j => s"SELECT channel, 'd1' AS kind, g * 4 + $j AS k, ${Dsp.round6Sql(d1(j))} AS coef FROM q") ++
        (0 until 2).map(j => s"SELECT channel, 'd2' AS kind, g * 2 + $j AS k, ${Dsp.round6Sql(d2(j))} AS coef FROM q") ++
        Seq(
          s"SELECT channel, 'd3' AS kind, g AS k, ${Dsp.round6Sql(d3)} AS coef FROM q",
          s"SELECT channel, 'a3' AS kind, g AS k, ${Dsp.round6Sql(a3)} AS coef FROM q"
        )
    s"${Signal.sigCte}, p AS (SELECT channel, n // 8 AS g, count(*) AS cnt, $pivots " +
      "FROM sig GROUP BY channel, n // 8), q AS MATERIALIZED (SELECT * FROM p WHERE cnt = 8) " +
      arms.mkString(" UNION ALL ")
  }

  /** Reference-psd parameter variants (estimators.py:60): scaling=
    * 'spectrum', hamming window at 75% overlap, detrend='linear'.
    */
  val cfgSpectrum: WelchCfg = WelchCfg(scaling = "spectrum")
  val cfgHamm75: WelchCfg = WelchCfg(winName = "hamming", hop = 16)
  val cfgLinear: WelchCfg = WelchCfg(detrend = "linear")

  // presorted = true: Signal.long's ranking window leaves the data
  // channel-partitioned and (channel, n)-sorted, so the frame scan fuses
  // into the window stage with zero additional exchanges.
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "psd_welch_fast" -> { (s, dir) => psdWelchFast(Signal.long(s, dir), 128, presorted = true) },
    "psd_welch" -> { (s, dir) => psdWelch(Signal.long(s, dir), presorted = true) },
    "coherence" -> { (s, dir) => coherence(Signal.long(s, dir), presorted = true) },
    "icoherence" -> { (s, dir) => icoherence(Signal.long(s, dir), presorted = true) },
    "psd_welch_spectrum" -> { (s, dir) =>
      psdWelch(Signal.long(s, dir), cfgSpectrum, presorted = true)
    },
    "psd_welch_hamm75" -> { (s, dir) => psdWelch(Signal.long(s, dir), cfgHamm75, presorted = true) },
    "psd_welch_linear" -> { (s, dir) => psdWelch(Signal.long(s, dir), cfgLinear, presorted = true) },
    "stft64" -> { (s, dir) => stft(Signal.long(s, dir), presorted = true) },
    "band_power" -> { (s, dir) => bandPower(Signal.long(s, dir), presorted = true) },
    "band_power_tc" -> { (s, dir) => bandPowerTc(Signal.long(s, dir), presorted = true) },
    "psd_norm" -> { (s, dir) => psdNorm(Signal.long(s, dir), presorted = true) },
    "psd_ci" -> { (s, dir) => psdCi(Signal.long(s, dir), presorted = true) },
    "dwt_haar" -> { (s, dir) => dwtHaar(Signal.long(s, dir), presorted = true) },
    "psd_multitaper" -> { (s, dir) => psdMultitaper(Signal.long(s, dir), presorted = true) },
    "psd_entropy" -> { (s, dir) => psdEntropy(Signal.long(s, dir), presorted = true) }
  )

  def oracleSql: Map[String, String] = Map(
    "psd_welch_fast" -> psdWelchFastSql(128),
    "psd_welch" -> psdWelchSql(),
    "coherence" -> coherenceSql(),
    "icoherence" -> icoherenceSql(),
    "psd_welch_spectrum" -> psdWelchSql(cfgSpectrum),
    "psd_welch_hamm75" -> psdWelchSql(cfgHamm75),
    "psd_welch_linear" -> psdWelchSql(cfgLinear),
    "stft64" -> stftSql,
    "band_power" -> bandPowerSql,
    "band_power_tc" -> bandPowerTcSql,
    "psd_norm" -> psdNormSql,
    "psd_ci" -> psdCiSql,
    "dwt_haar" -> dwtHaarSql,
    "psd_multitaper" -> psdMultitaperSql,
    "psd_entropy" -> psdEntropySql
  )
}
