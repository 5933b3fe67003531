package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Dsp, Signal}

/** Analytic signal via a Type III FIR Hilbert transformer and the
  * phase-locking value between channel pairs.
  *
  * Reference: openseize `filtering/special.py:16` Hilbert (Kaiser-windowed
  * truncated impulse response h[t] = (1−cos(πt))/(πt), h[0]=0, odd taps),
  * `experimental/coupling/transforms.py:109` Analytic
  * (x + i·H{x} → amplitude envelope + phase in [0, 2π)), and the
  * phase-synchrony core of `experimental/coupling/estimators.py:26`
  * PhaseLock (the windowed phase-to-power Canolty estimator builds on the
  * same analytic transform; its Monte-Carlo surrogate machinery is
  * round-2 work).
  *
  * Spark shape: the Hilbert FIR is one [[FirOps.convPlus]] channel scan
  * — envelope and phase are row-local expressions on top; PLV is a
  * channel-pair equi-join on n followed by one aggregation.
  */
object HilbertOps {

  private val fs = 100.0

  /** Kaiser-windowed Type III Hilbert coefficients (width=5 Hz, 0.01 dB
    * ripple, 60 dB attenuation → 75 taps at fs=100).
    */
  lazy val hilbertH: Array[Double] = hilbertDesign(width = 5.0, fs = fs)

  def hilbertDesign(width: Double, fs: Double, gpass: Double = 0.01, gstop: Double = 60.0): Array[Double] = {
    val nyq = fs / 2.0
    val ripple = math.max(Dsp.passAttenuation(gpass), gstop)
    val n0 = Dsp.kaiserord(ripple, width / nyq)
    val numtaps = if (n0 % 2 == 0) n0 + 1 else n0
    val beta = Dsp.kaiserBeta(ripple)
    val win = Dsp.window("kaiser", numtaps, beta)
    val order = numtaps - 1
    Array.tabulate(numtaps) { i =>
      val t = i - order / 2.0
      val h = if (t == 0.0) 0.0 else (1.0 - math.cos(t * math.Pi)) / (t * math.Pi)
      h * win(i)
    }
  }

  /** (channel, n, x, hx, env, phase): analytic amplitude and phase in
    * [0, 2π), reference Analytic semantics.
    */
  def analytic(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val withH = FirOps
      .convPlus(sig, hilbertH, presorted = presorted)
      .withColumnRenamed("y", "hx")
    val ph = atan2(col("hx"), col("x"))
    withH.select(
      col("channel"),
      col("n"),
      col("x"),
      col("hx"),
      sqrt(col("x") * col("x") + col("hx") * col("hx")).as("env"),
      when(ph < 0, ph + 2 * math.Pi).otherwise(ph).as("phase")
    )
  }

  private def analyticCteSql: String =
    s"${Signal.sigCte}, hil AS (SELECT channel, n, x, ${FirOps.sameExprSql(hilbertH)} AS hx " +
      "FROM sig WINDOW w AS (PARTITION BY channel ORDER BY n)), " +
      "ana AS (SELECT channel, n, x, hx, sqrt(x * x + hx * hx) AS env, " +
      "CASE WHEN atan2(hx, x) < 0 THEN atan2(hx, x) + 2 * pi() ELSE atan2(hx, x) END AS phase FROM hil)"

  /** Envelope + phase per sample. */
  def hilbertEnv(sig: DataFrame, presorted: Boolean = false): DataFrame =
    analytic(sig, presorted).select(
      col("channel"),
      col("n"),
      round(col("env"), 6).as("env"),
      round(col("phase"), 6).as("phase")
    )

  def hilbertEnvSql: String =
    s"$analyticCteSql SELECT channel, n, round(env, 6) AS env, round(phase, 6) AS phase FROM ana"

  /** Phase-locking value |⟨e^{i(φa−φb)}⟩| for every ordered channel pair.
    * One analytic pass + one shuffle by n: per-sample phases collect
    * into a small per-n array and the ordered channel pairs expand
    * row-locally — the self-join formulation computed the (75-tap)
    * analytic transform once per side and shuffled both into the join.
    */
  /** Per-sample channel-pair frame (ch_a < ch_b, pa, pb, ea, eb)
    * shared by the phase-connectivity estimators ([[plv]], [[pli]],
    * [[wpli]]) — phases AND envelopes ride the one n-keyed shuffle.
    */
  private def phasePairs(sig: DataFrame, presorted: Boolean): DataFrame = {
    val ana = analytic(sig, presorted).select(col("channel"), col("n"), col("phase"), col("env"))
    val byN = ana
      .groupBy(col("n"))
      .agg(collect_list(struct(col("channel"), col("phase"), col("env"))).as("cs"))
    byN
      .select(col("cs"), explode(col("cs")).as("a"))
      .select(col("a"), explode(col("cs")).as("b"))
      .filter(col("a.channel") < col("b.channel"))
      .select(
        col("a.channel").as("ch_a"),
        col("b.channel").as("ch_b"),
        col("a.phase").as("pa"),
        col("b.phase").as("pb"),
        col("a.env").as("ea"),
        col("b.env").as("eb")
      )
  }

  def plv(sig: DataFrame, presorted: Boolean = false): DataFrame =
    phasePairs(sig, presorted)
      .groupBy(col("ch_a"), col("ch_b"))
      .agg(
        round(
          sqrt(
            pow(avg(cos(col("pa") - col("pb"))), 2) + pow(avg(sin(col("pa") - col("pb"))), 2)
          ),
          6
        ).as("plv"),
        count(lit(1)).as("n_samples")
      )

  /** Phase-Lag Index (Stam et al. 2007): |mean(sign(sin Δφ))| — unlike
    * [[plv]] it discounts zero-lag (volume-conduction) coupling, which
    * contributes sign 0/symmetric terms. The sign sum is ±1 integers
    * (exact in any order); the k/n mean is an exact-half 6dp hazard
    * class, hence Dsp.round6 on both engines. Same single pair frame
    * and shuffle shape as plv.
    */
  def pli(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val s = sin(col("pa") - col("pb"))
    phasePairs(sig, presorted)
      .groupBy(col("ch_a"), col("ch_b"))
      .agg(
        Dsp
          .round6(abs(avg(when(s > 0, 1.0).when(s < 0, -1.0).otherwise(0.0))))
          .as("pli"),
        count(lit(1)).as("n_samples")
      )
  }

  /** Weighted Phase-Lag Index (Vinck et al. 2011): |Σ Im S_ab| /
    * Σ |Im S_ab| with Im S_ab = e_a·e_b·sin Δφ — [[pli]] weighted by
    * the imaginary cross-spectrum magnitude, discounting near-zero-lag
    * noise flips. Im terms are float PRODUCTS whose cross-engine SUM
    * order differs (the band_power_tc 1-ulp class), so both engines
    * accumulate floor(Im·1e6 + 0.5) micro-unit BIGINTs exactly and the
    * ratio of the two exact integer sums rounds once at the end
    * (micro-quantized estimator — documented, deterministic).
    */
  def wpli(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val im = col("ea") * col("eb") * sin(col("pa") - col("pb"))
    phasePairs(sig, presorted)
      .select(col("ch_a"), col("ch_b"), floor(im * lit(1.0e6) + lit(0.5)).cast("long").as("iw"))
      .groupBy(col("ch_a"), col("ch_b"))
      .agg(
        // A pair whose Im terms are all zero (in-phase or constant
        // channels) would divide 0/0 — NaN on Spark, engine-dependent on
        // DuckDB. Both engines pin the undefined ratio to 0.0.
        Dsp
          .round6(
            when(sum(abs(col("iw"))) === 0, lit(0.0))
              .otherwise(abs(sum(col("iw"))).cast("double") / sum(abs(col("iw"))).cast("double"))
          )
          .as("wpli"),
        count(lit(1)).as("n_samples")
      )
  }

  private def imSqlExpr: String = "a.env * b.env * sin(a.phase - b.phase)"

  def wpliSql: String =
    s"$analyticCteSql, " +
      "pw AS (SELECT a.channel AS ch_a, b.channel AS ch_b, " +
      s"CAST(floor(($imSqlExpr) * 1.0e6 + 0.5e0) AS BIGINT) AS iw " +
      "FROM ana a JOIN ana b ON a.n = b.n AND a.channel < b.channel) " +
      "SELECT ch_a, ch_b, " +
      Dsp.round6Sql(
        "CASE WHEN sum(abs(iw)) = 0 THEN 0.0e0 " +
          "ELSE CAST(abs(sum(iw)) AS DOUBLE) / CAST(sum(abs(iw)) AS DOUBLE) END"
      ) + " AS wpli, " +
      "count(*) AS n_samples FROM pw GROUP BY ch_a, ch_b"

  def pliSql: String =
    s"$analyticCteSql " +
      "SELECT a.channel AS ch_a, b.channel AS ch_b, " +
      Dsp.round6Sql(
        "abs(avg(CASE WHEN sin(a.phase - b.phase) > 0 THEN 1.0 " +
          "WHEN sin(a.phase - b.phase) < 0 THEN -1.0 ELSE 0.0 END))"
      ) + " AS pli, " +
      "count(*) AS n_samples " +
      "FROM ana a JOIN ana b ON a.n = b.n AND a.channel < b.channel " +
      "GROUP BY a.channel, b.channel"

  def plvSql: String =
    s"$analyticCteSql " +
      "SELECT a.channel AS ch_a, b.channel AS ch_b, " +
      "round(sqrt(power(avg(cos(a.phase - b.phase)), 2) + power(avg(sin(a.phase - b.phase)), 2)), 6) AS plv, " +
      "count(*) AS n_samples " +
      "FROM ana a JOIN ana b ON a.n = b.n AND a.channel < b.channel " +
      "GROUP BY a.channel, b.channel"

  // ---- phase-to-power coupling (PhaseLock, Canolty method) ----

  /** Phase-band Kaiser (8–12 Hz pass, 6–14 stop) and amplitude-band
    * Kaiser (26–34 pass, 22–38 stop) mirroring the estimator's defaults
    * shape; ±25-sample power windows; phase target 0 ± 0.05 rad.
    */
  lazy val phaseBandH: Array[Double] = Dsp.firDesign("kaiser", Seq(8, 12), Seq(6, 14), fs, 1.0, 40.0)
  lazy val ampBandH: Array[Double] = Dsp.firDesign("kaiser", Seq(26, 34), Seq(22, 38), fs, 1.0, 40.0)
  private val winHalf = 25
  private val epsi = 0.05

  /** Average amplitude-band power in windows centered on phase-band
    * phase events (reference PhaseLock.index + _avg: phase indices where
    * the phase is within epsi of 0; windows shorter than full are
    * discarded). Output: (offset, avg_pow, n_events) per window offset.
    * The Monte-Carlo surrogate machinery (index shifting for p-values)
    * is driver-side orchestration of this same plan and is round-2.
    */
  /** (events, pw) building blocks shared by [[phasePower]] and
    * [[phasePowerSig]]: phase events (channel, ne, nlen) with full
    * windows only, and per-sample standardized amplitude-band power.
    */
  private def phaseEventsAndPower(
      sig: DataFrame,
      presorted: Boolean = false
  ): (DataFrame, DataFrame) = {
    val s1 = sig.filter(col("channel") === "click")
    // per-channel stats via tiny aggregate + broadcast join, NOT a
    // channel window: Catalyst can't see mapPartitions output
    // partitioning, so a Window here would re-exchange + re-sort the
    // whole signal — the broadcast join is narrow and keeps the convPlus
    // chain physically (channel, n)-ordered for the next presorted pass
    // phase path: bandpass -> analytic -> phase events
    val pb = FirOps
      .convPlus(s1, phaseBandH, presorted = presorted)
      .select(col("channel"), col("n"), col("y").as("x"))
    // pb is a projection directly over convPlus output: already channel-
    // partitioned and (channel, n)-sorted
    val phc = FirOps.convPlus(pb, hilbertH, presorted = true).withColumnRenamed("y", "hx")
    val phv = atan2(col("hx"), col("x"))
    val mxs = phc.groupBy(col("channel")).agg(max(col("n")).as("max_n"))
    val ph = phc
      .join(broadcast(mxs), Seq("channel"))
      .select(
        col("channel"),
        col("n"),
        round(when(phv < 0, phv + 2 * math.Pi).otherwise(phv), 6).as("ph"),
        col("max_n")
      )
    val events = ph
      .filter(
        (col("ph") < epsi || col("ph") > 2 * math.Pi - epsi) &&
          col("n") >= winHalf && col("n") <= col("max_n") - winHalf
      )
      .select(col("channel"), col("n").as("ne"), (col("max_n") + 1).as("nlen"))
    // amplitude path: bandpass -> standardize -> analytic power
    val ab = FirOps
      .convPlus(s1, ampBandH, presorted = presorted)
      .select(col("channel"), col("n"), col("y").as("x"))
    val stats = ab
      .groupBy(col("channel"))
      .agg(avg(col("x")).as("_mu"), stddev_pop(col("x")).as("_sd"))
    val z = ab
      .join(broadcast(stats), Seq("channel"))
      .select(col("channel"), col("n"), ((col("x") - col("_mu")) / col("_sd")).as("x"))
    val zp = FirOps.convPlus(z, hilbertH, presorted = true).withColumnRenamed("y", "hx")
    val pw =
      zp.select(col("channel"), col("n"), (col("x") * col("x") + col("hx") * col("hx")).as("pow"))
    (events, pw)
  }

  def phasePower(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val (events, pw) = phaseEventsAndPower(sig, presorted)
    // exploded equi-join: each event fans out to its 2·winHalf+1 window
    // positions — a hash join on (channel, n), not a range nested loop
    events
      .select(col("channel"), col("ne"), explode(sequence(lit(-winHalf), lit(winHalf))).as("off"))
      .select(col("channel"), col("ne"), col("off"), (col("ne") + col("off")).as("n"))
      .join(pw, Seq("channel", "n"))
      .groupBy(col("off").cast("bigint").as("offset"))
      .agg(round(avg(col("pow")), 6).as("avg_pow"), countDistinct(col("ne")).as("n_events"))
  }

  def phasePowerSql: String = {
    val w = "WINDOW w AS (PARTITION BY channel ORDER BY n)"
    s"${Signal.sigCte}, s1 AS (SELECT channel, n, x FROM sig WHERE channel = 'click'), " +
      s"pb AS (SELECT channel, n, ${FirOps.sameExprSql(phaseBandH)} AS x FROM s1 $w), " +
      s"phc AS (SELECT channel, n, x, ${FirOps.sameExprSql(hilbertH)} AS hx FROM pb $w), " +
      "ph AS (SELECT channel, n, round(CASE WHEN atan2(hx, x) < 0 THEN atan2(hx, x) + 2 * pi() ELSE atan2(hx, x) END, 6) AS ph, " +
      "max(n) OVER (PARTITION BY channel) AS max_n FROM phc), " +
      s"pevents AS (SELECT channel, n AS ne FROM ph WHERE (ph < ${Dsp.lit(epsi)} OR ph > 2 * pi() - ${Dsp.lit(epsi)}) " +
      s"AND n >= $winHalf AND n <= max_n - $winHalf), " +
      s"ab AS (SELECT channel, n, ${FirOps.sameExprSql(ampBandH)} AS x FROM s1 $w), " +
      "z AS (SELECT channel, n, (x - avg(x) OVER (PARTITION BY channel)) / stddev_pop(x) OVER (PARTITION BY channel) AS x FROM ab), " +
      s"zp AS (SELECT channel, n, x, ${FirOps.sameExprSql(hilbertH)} AS hx FROM z $w), " +
      "pw AS (SELECT channel, n, x * x + hx * hx AS pow FROM zp) " +
      s"SELECT p.n - e.ne AS offset, round(avg(p.pow), 6) AS avg_pow, count(DISTINCT e.ne) AS n_events " +
      s"FROM pevents e JOIN pw p ON p.channel = e.channel AND p.n >= e.ne - $winHalf AND p.n <= e.ne + $winHalf " +
      "GROUP BY p.n - e.ne"
  }

  // ---- Monte-Carlo surrogate significance (PhaseLock.shuffle/_estimate) ----

  private val nSurr = 16

  /** Deterministic surrogate shift fractions (the reference draws
    * rng.integers(0, max_shift) per replicate; here shift_k =
    * floor(frac_k · N) with driver-side fixed fracs so both engines see
    * identical shifts at any data size).
    */
  lazy val surrFracs: Array[Double] = {
    val r = new scala.util.Random(7)
    Array.fill(nSurr)(r.nextDouble())
  }

  /** Upper-tail normal probability 1−Φ(z) via Abramowitz–Stegun 7.1.26
    * (~1.5e−7 abs error; the reference uses scipy's exact CDF — same
    * precedent as the Wilson–Hilferty chi2 in psd_ci, evaluated
    * identically on both engines).
    */
  private def upperTail(z: Column): Column = {
    val a = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * a)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) + t * (lit(1.781477937) +
      t * (lit(-1.821255978) + t * lit(1.330274429)))))
    val q = exp(-a * a / 2.0) * lit(1.0 / math.sqrt(2.0 * math.Pi)) * poly
    when(z >= 0, q).otherwise(lit(1.0) - q)
  }

  private def upperTailSql(z: String): String = {
    val a = s"abs($z)"
    val t = s"(1.0 / (1.0 + ${Dsp.lit(0.2316419)} * $a))"
    val poly = s"($t * (${Dsp.lit(0.319381530)} + $t * (${Dsp.lit(-0.356563782)} + $t * (${Dsp.lit(1.781477937)} + " +
      s"$t * (${Dsp.lit(-1.821255978)} + $t * ${Dsp.lit(1.330274429)})))))"
    val q = s"(exp(-($a) * ($a) / 2.0) * ${Dsp.lit(1.0 / math.sqrt(2.0 * math.Pi))} * $poly)"
    s"CASE WHEN ($z) >= 0 THEN $q ELSE 1.0 - $q END"
  }

  /** Phase-to-power significance: the [[phasePower]] window average per
    * offset, z-scored against `nSurr` circular-shift surrogates
    * (reference PhaseLock._estimate). Window extraction is an exploded
    * equi-join on (channel, n) — events fan out to their 2·winHalf+1
    * positions; no range join, so surrogates cost nSurr× rows, not
    * nSurr× nested-loop probes.
    */
  def phasePowerSig(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val (events, pw) = phaseEventsAndPower(sig, presorted)
    // one event-set table covering base (k = −1, unshifted) and the
    // nSurr circular-shift replicates — built in a single pass over
    // `events` so the FIR/power chains evaluate once, then one
    // exploded equi-join + one (k, off) aggregation serves base and
    // surrogates together
    val shifts = array(
      (struct(lit(-1).as("k"), lit(0.0).as("frac")) +:
        surrFracs.zipWithIndex.map { case (f, k) =>
          struct(lit(k).as("k"), lit(f).as("frac"))
        }.toSeq): _*
    )
    val eventSets = events
      .select(col("channel"), col("ne"), col("nlen"), explode(shifts).as("s"))
      .select(
        col("channel"),
        col("s.k").as("k"),
        ((col("ne") + floor(col("s.frac") * col("nlen")).cast("bigint")) % col("nlen")).as("ns"),
        col("nlen")
      )
      .filter(col("ns") >= winHalf && col("ns") <= col("nlen") - 1 - winHalf)
    val apow = eventSets
      .select(
        col("channel"),
        col("k"),
        col("ns"),
        explode(sequence(lit(-winHalf), lit(winHalf))).as("off")
      )
      .select(col("channel"), col("k"), col("off"), (col("ns") + col("off")).as("n"))
      .join(pw, Seq("channel", "n"))
      .groupBy(col("k"), col("off"))
      .agg(avg(col("pow")).as("apow"))
    val base = apow.filter(col("k") === -1).select(col("off"), col("apow").as("avg_pow"))
    val sstat = apow
      .filter(col("k") >= 0)
      .groupBy(col("off"))
      .agg(avg(col("apow")).as("mean_s"), stddev_pop(col("apow")).as("std_s"))
    val zv = (col("avg_pow") - col("mean_s")) / (col("std_s") / math.sqrt(nSurr.toDouble))
    base
      .join(sstat, Seq("off"))
      .select(
        col("off").cast("bigint").as("offset"),
        round(col("avg_pow"), 6).as("avg_pow"),
        round(col("mean_s"), 6).as("mean_surr"),
        round(col("std_s"), 6).as("std_surr"),
        round(zv, 6).as("z"),
        round(upperTail(zv), 6).as("p_value")
      )
  }

  def phasePowerSigSql: String = {
    val w = "WINDOW w AS (PARTITION BY channel ORDER BY n)"
    val fracList = surrFracs.map(Dsp.lit).mkString("[", ", ", "]")
    val zvExpr = s"(avg_pow - mean_s) / (std_s / ${Dsp.lit(math.sqrt(nSurr.toDouble))})"
    s"${Signal.sigCte}, s1 AS (SELECT channel, n, x FROM sig WHERE channel = 'click'), " +
      s"pb AS (SELECT channel, n, ${FirOps.sameExprSql(phaseBandH)} AS x FROM s1 $w), " +
      s"phc AS (SELECT channel, n, x, ${FirOps.sameExprSql(hilbertH)} AS hx FROM pb $w), " +
      "ph AS (SELECT channel, n, round(CASE WHEN atan2(hx, x) < 0 THEN atan2(hx, x) + 2 * pi() ELSE atan2(hx, x) END, 6) AS ph, " +
      "max(n) OVER (PARTITION BY channel) AS max_n FROM phc), " +
      s"pevents AS (SELECT channel, n AS ne, max_n + 1 AS nlen FROM ph WHERE (ph < ${Dsp.lit(epsi)} OR ph > 2 * pi() - ${Dsp.lit(epsi)}) " +
      s"AND n >= $winHalf AND n <= max_n - $winHalf), " +
      s"ab AS (SELECT channel, n, ${FirOps.sameExprSql(ampBandH)} AS x FROM s1 $w), " +
      "z AS (SELECT channel, n, (x - avg(x) OVER (PARTITION BY channel)) / stddev_pop(x) OVER (PARTITION BY channel) AS x FROM ab), " +
      s"zp AS (SELECT channel, n, x, ${FirOps.sameExprSql(hilbertH)} AS hx FROM z $w), " +
      "pw AS (SELECT channel, n, x * x + hx * hx AS pow FROM zp), " +
      s"base AS (SELECT o.g AS off, avg(p.pow) AS avg_pow FROM pevents e, generate_series(-$winHalf, $winHalf) o(g), pw p " +
      "WHERE p.channel = e.channel AND p.n = e.ne + o.g GROUP BY o.g), " +
      s"sev AS (SELECT e.channel, k.g AS k, (e.ne + CAST(floor(list_extract($fracList, k.g + 1) * e.nlen) AS BIGINT)) % e.nlen AS ns, e.nlen " +
      s"FROM pevents e, generate_series(0, ${nSurr - 1}) k(g)), " +
      s"sfull AS (SELECT channel, k, ns FROM sev WHERE ns >= $winHalf AND ns <= nlen - 1 - $winHalf), " +
      s"sagg AS (SELECT s.k, o.g AS off, avg(p.pow) AS spow FROM sfull s, generate_series(-$winHalf, $winHalf) o(g), pw p " +
      "WHERE p.channel = s.channel AND p.n = s.ns + o.g GROUP BY s.k, o.g), " +
      "sstat AS (SELECT off, avg(spow) AS mean_s, stddev_pop(spow) AS std_s FROM sagg GROUP BY off) " +
      s"SELECT b.off AS offset, round(avg_pow, 6) AS avg_pow, round(mean_s, 6) AS mean_surr, round(std_s, 6) AS std_surr, " +
      s"round($zvExpr, 6) AS z, round(${upperTailSql(zvExpr)}, 6) AS p_value " +
      "FROM base b JOIN sstat s ON s.off = b.off"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // presorted: Signal.long leaves the data channel-partitioned and
    // (channel, n)-sorted — the first convPlus pass adds no exchange
    "hilbert_env" -> { (s, dir) => hilbertEnv(Signal.long(s, dir), presorted = true) },
    "plv" -> { (s, dir) => plv(Signal.long(s, dir), presorted = true) },
    "pli" -> { (s, dir) => pli(Signal.long(s, dir), presorted = true) },
    "wpli" -> { (s, dir) => wpli(Signal.long(s, dir), presorted = true) },
    "phase_power" -> { (s, dir) => phasePower(Signal.long(s, dir), presorted = true) },
    "phase_power_sig" -> { (s, dir) => phasePowerSig(Signal.long(s, dir), presorted = true) }
  )

  def oracleSql: Map[String, String] = Map(
    "hilbert_env" -> hilbertEnvSql,
    "plv" -> plvSql,
    "pli" -> pliSql,
    "wpli" -> wpliSql,
    "phase_power" -> phasePowerSql,
    "phase_power_sig" -> phasePowerSigSql
  )
}
