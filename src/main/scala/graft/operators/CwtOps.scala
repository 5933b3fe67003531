package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Dsp, Signal}

/** Continuous wavelet transform scalogram with a complex Morlet bank —
  * the variable-resolution time-frequency view the fixed-window
  * [[SpectraOps]] stft64 can't give (beyond the reference's estimators;
  * complements the orthonormal [[SpectraOps.dwtHaar]] decomposition).
  *
  * ψ_s(t) = π^(−1/4)/√s · e^(iω₀t/s) · e^(−(t/s)²/2), ω₀ = 6 (the
  * standard admissibility-respecting choice), sampled on the integer
  * grid with ±4s support (≤ 121 taps — inside the left-associated
  * oracle-parity bound). Output per sample: |W_s x|² at each scale.
  *
  * Spark shape: the whole bank — re and im kernels for every scale —
  * runs as ONE [[FirOps.convBank]] channel scan, the kernel every
  * 'same'-mode FIR rides; with `presorted` it adds zero shuffles. The
  * scan accumulates in [[FirOps.sameExprSql]]'s term order, so re/im
  * agree to the last bit cross-engine and the squared magnitude hashes
  * exactly (FIR precedent). At production scale, larger scales (>128
  * taps) run through the segmented FFT path (`functions.SegConv`) like
  * any long kernel.
  */
object CwtOps {

  val omega0 = 6.0
  val scales: Array[Int] = Array(2, 4, 8, 15)

  /** (real, imag) Morlet taps at integer sample offsets, scale s. */
  def kernel(s: Int): (Array[Double], Array[Double]) = {
    val half = 4 * s
    val norm = math.pow(math.Pi, -0.25) / math.sqrt(s.toDouble)
    val re = Array.tabulate(2 * half + 1) { k =>
      val t = (k - half).toDouble / s
      norm * math.cos(omega0 * t) * math.exp(-t * t / 2)
    }
    val im = Array.tabulate(2 * half + 1) { k =>
      val t = (k - half).toDouble / s
      norm * math.sin(omega0 * t) * math.exp(-t * t / 2)
    }
    (re, im)
  }

  /** (channel, n, pow_s2, pow_s4, pow_s8, pow_s15): squared scalogram
    * magnitude per scale, zero-extended edges (numpy conv semantics).
    */
  def cwtMorlet(sig: DataFrame, presorted: Boolean = false): DataFrame = {
    val bank = scales.toSeq.flatMap { s => val (re, im) = kernel(s); Seq(re, im) }
    val ys = col("ys")
    FirOps
      .convBank(sig, bank, presorted)
      .select(
        Seq(col("channel"), col("n")) ++ scales.indices.map { i =>
          val (re, im) = (ys(2 * i), ys(2 * i + 1))
          Dsp.round6(re * re + im * im).as(s"pow_s${scales(i)}")
        }: _*
      )
  }

  def cwtMorletSql: String = {
    val reIm = scales
      .flatMap { s =>
        val (re, im) = kernel(s)
        Seq(
          s"${FirOps.sameExprSql(re)} AS re$s",
          s"${FirOps.sameExprSql(im)} AS im$s"
        )
      }
      .mkString(", ")
    val pows = scales
      .map(s => s"${Dsp.round6Sql(s"re$s * re$s + im$s * im$s")} AS pow_s$s")
      .mkString(", ")
    s"${Signal.sigCte}, " +
      s"w8 AS (SELECT channel, n, $reIm FROM sig WINDOW w AS (PARTITION BY channel ORDER BY n)) " +
      s"SELECT channel, n, $pows FROM w8"
  }

  /** The production route for scales past the oracle lag-sum bound:
    * 257 taps at scale 32 (>128 — outside the left-associated
    * oracle-parity window, which is why this path is spec-pinned rather
    * than hash-gated).
    */
  val longScale = 32

  /** Long-scale scalogram power through the segmented overlap-add FFT
    * path — the ">128-tap scales route through SegConv" promise made
    * by [[cwtMorlet]]'s scaladoc, delivered: ONE [[FirOps.segAssemble]]
    * scatter/densify pass per channel, then BOTH Morlet quadrature
    * kernels run as [[graft.functions.exprs.seg_conv]] FFT convolutions
    * over the same assembled segment (re/im never pay assembly twice),
    * core regions explode back to rows. O(log segLen) per sample vs
    * O(M) for the direct [[FirOps.convBank]] scan. Contract (CwtLongSpec
    * pins it): round6(re² + im²) on the 6-dp-rounded 'same' convolutions
    * equals the direct [[FirOps.same]] path under the same rounding —
    * the fir_oa_fast parity bar.
    */
  def cwtMorletLong(sig: DataFrame, s: Int = longScale, segLen: Int = 1024): DataFrame = {
    val (re, im) = kernel(s)
    val l = (re.length - 1) / 2
    FirOps
      .segAssemble(sig, l, segLen)
      .select(
        col("channel"),
        col("s"),
        col("len"),
        graft.functions.exprs.seg_conv(col("xs"), re).as("yr"),
        graft.functions.exprs.seg_conv(col("xs"), im).as("yi")
      )
      .select(
        col("channel"),
        col("s"),
        col("len"),
        posexplode(arrays_zip(col("yr"), col("yi"))).as(Seq("j", "z"))
      )
      .filter(col("j") >= 2 * l && col("j") < col("len") + 2 * l)
      .select(
        col("channel"),
        (col("s") * segLen + col("j") - 2 * l).cast("bigint").as("n"),
        round(col("z.yr"), 6).as("re"),
        round(col("z.yi"), 6).as("im")
      )
      .select(
        col("channel"),
        col("n"),
        Dsp.round6(col("re") * col("re") + col("im") * col("im")).as(s"pow_s$s")
      )
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cwt_morlet" -> { (s, dir) => cwtMorlet(Signal.long(s, dir), presorted = true) }
  )

  def oracleSql: Map[String, String] = Map(
    "cwt_morlet" -> cwtMorletSql
  )
}
