package graft.functions

/** Iterative radix-2 FFT (pure JVM, allocation-light) — the vectorized
  * kernel behind the segmented spectral/convolution fast paths.
  * Public-textbook Cooley–Tukey; no external deps.
  */
object Fft {

  /** In-place radix-2 FFT over interleaved (re, im) arrays, length 2^k. */
  def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require((n & (n - 1)) == 0, s"FFT length must be a power of two, got $n")
    if (n <= 1) return
    // bit reversal
    var i = 1; var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    // butterflies
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var base = 0
      while (base < n) {
        var cr = 1.0; var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val i0 = base + k
          val i1 = base + k + len / 2
          val xr = re(i1) * cr - im(i1) * ci
          val xi = re(i1) * ci + im(i1) * cr
          re(i1) = re(i0) - xr; im(i1) = im(i0) - xi
          re(i0) = re(i0) + xr; im(i0) = im(i0) + xi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        base += len
      }
      len <<= 1
    }
  }

  /** |RFFT(x)|² for bins 0..n/2 (one-sided), x length 2^k. */
  def rfftMag2(x: Array[Double]): Array[Double] = {
    val n = x.length
    val re = java.util.Arrays.copyOf(x, n)
    val im = new Array[Double](n)
    fft(re, im)
    Array.tabulate(n / 2 + 1)(f => re(f) * re(f) + im(f) * im(f))
  }

  /** Reusable modified-periodogram kernel over one segment: detrend
    * (none/constant/linear over implicit positions 0..n−1) → window →
    * |RFFT|² (tabled DFT for non-2^k lengths) → normalization with
    * optional one-sided doubling (skipping DC, and Nyquist only when it
    * exists, i.e. for even n — scipy one-sided semantics). One instance
    * caches the DFT trig tables; use one instance per task/thread.
    * Used by the streaming frame scan in SpectraOps (Welch, STFT). The
    * input array is not retained.
    */
  final class Periodogram(
      win: Array[Double],
      detrend: String,
      norm: Double,
      doubled: Boolean
  ) extends Serializable {
    require(
      detrend == "constant" || detrend == "linear" || detrend == "none",
      s"unknown detrend $detrend"
    )
    @transient private var cosT: Array[Double] = null
    @transient private var sinT: Array[Double] = null

    private def windowed(xs: Array[Double]): Array[Double] = {
      val n = xs.length
      val xw = new Array[Double](n)
      detrend match {
        case "constant" =>
          var s = 0.0; var i = 0
          while (i < n) { s += xs(i); i += 1 }
          val m = s / n
          i = 0
          while (i < n) { xw(i) = (xs(i) - m) * win(i); i += 1 }
        case "linear" =>
          val pBar = (n - 1) / 2.0
          val pVar = (n - 1.0) * (2.0 * n - 1.0) / 6.0 - pBar * pBar
          var s = 0.0; var sp = 0.0; var i = 0
          while (i < n) { s += xs(i); sp += i * xs(i); i += 1 }
          val m = s / n
          val slope = (sp / n - pBar * m) / pVar
          i = 0
          while (i < n) { xw(i) = (xs(i) - (m + slope * (i - pBar))) * win(i); i += 1 }
        case _ =>
          var i = 0
          while (i < n) { xw(i) = xs(i) * win(i); i += 1 }
      }
      xw
    }

    /** One-sided COMPLEX spectrum of the detrended+windowed frame,
      * interleaved [re0, im0, …, re_{n/2}, im_{n/2}], unscaled — the
      * cross-spectral input (coherence). Any global conjugation-
      * convention difference cancels in |Pxy|²/(Pxx·Pyy).
      */
    def complexSpec(xs: Array[Double]): Array[Double] = {
      val xw = windowed(xs)
      val n = xw.length
      val out = new Array[Double](2 * (n / 2 + 1))
      if ((n & (n - 1)) == 0) {
        val re = xw.clone(); val im = new Array[Double](n)
        Fft.fft(re, im)
        var f = 0
        while (f <= n / 2) { out(2 * f) = re(f); out(2 * f + 1) = im(f); f += 1 }
      } else {
        if (cosT == null || cosT.length != n) {
          cosT = Array.tabulate(n)(k => math.cos(2.0 * math.Pi * k / n))
          sinT = Array.tabulate(n)(k => math.sin(2.0 * math.Pi * k / n))
        }
        var f = 0
        while (f <= n / 2) {
          var re = 0.0; var im = 0.0; var p = 0
          while (p < n) {
            val idx = (f * p) % n
            re += xw(p) * cosT(idx)
            im -= xw(p) * sinT(idx)
            p += 1
          }
          out(2 * f) = re; out(2 * f + 1) = im
          f += 1
        }
      }
      out
    }

    def apply(xs: Array[Double]): Array[Double] = {
      val n = xs.length
      val xw = windowed(xs)
      val mag2 = if ((n & (n - 1)) == 0) rfftMag2(xw) else dftMag2(xw)
      val out = new Array[Double](mag2.length)
      var f = 0
      while (f < mag2.length) {
        val one = mag2(f) * norm
        val isNyquist = (n % 2 == 0) && f == n / 2
        out(f) = if (doubled && f != 0 && !isNyquist) one * 2.0 else one
        f += 1
      }
      out
    }

    // non-2^k n (the reference allows any): direct tabled DFT —
    // O(n·nfreq) per segment but still one in-kernel loop, no row blowup
    private def dftMag2(xw: Array[Double]): Array[Double] = {
      val n = xw.length
      if (cosT == null || cosT.length != n) {
        cosT = Array.tabulate(n)(k => math.cos(2.0 * math.Pi * k / n))
        sinT = Array.tabulate(n)(k => math.sin(2.0 * math.Pi * k / n))
      }
      Array.tabulate(n / 2 + 1) { f =>
        var re = 0.0; var im = 0.0; var p = 0
        while (p < n) {
          val idx = (f * p) % n
          re += xw(p) * cosT(idx)
          im -= xw(p) * sinT(idx)
          p += 1
        }
        re * re + im * im
      }
    }
  }

  /** Linear convolution x ⊛ h via zero-padded FFT (length 2^k ≥ nx+nh−1). */
  def convolve(x: Array[Double], h: Array[Double]): Array[Double] = {
    val outLen = x.length + h.length - 1
    var n = 1
    while (n < outLen) n <<= 1
    val xr = java.util.Arrays.copyOf(x, n); val xi = new Array[Double](n)
    val hr = java.util.Arrays.copyOf(h, n); val hi = new Array[Double](n)
    fft(xr, xi); fft(hr, hi)
    var i = 0
    while (i < n) {
      val r = xr(i) * hr(i) - xi(i) * hi(i)
      val im = xr(i) * hi(i) + xi(i) * hr(i)
      xr(i) = r; xi(i) = im
      i += 1
    }
    // inverse via conjugate trick
    i = 0
    while (i < n) { xi(i) = -xi(i); i += 1 }
    fft(xr, xi)
    val inv = 1.0 / n
    Array.tabulate(outLen)(k => xr(k) * inv)
  }
}
