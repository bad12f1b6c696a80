package graft.kernel

/** Continuous wavelet transform with a complex Morlet wavelet — the
  * reference's cwt/scaleogram (xcorr/signal/cwt.py:28-261: pywt cmor
  * wavelet, log-spaced scales, scaleogram = |cwt| cropped to a frequency
  * band). Implemented as FFT-domain convolution per scale (O(n log n) per
  * scale), double precision.
  *
  * Morlet (cmorB-C convention): psi(t) = (pi*B)^(-1/2) exp(2*pi*i*C*t)
  * exp(-t^2/B) with bandwidth B = [[Bandwidth]] and center frequency
  * C = [[CenterFreq]], the reference's cmor1.5-1.0 wavelet; a scale `a`
  * maps to pseudo-frequency f = C / (a * delta).
  */
object Cwt {

  /** Bandwidth B of the reference's cmor1.5-1.0 wavelet (cwt.py). */
  private val Bandwidth = 1.5

  /** Center frequency C of the reference's cmor1.5-1.0 wavelet (cwt.py). */
  private val CenterFreq = 1.0

  /** @return (nScales x n) matrix of |CWT| magnitudes and the
    *         pseudo-frequency axis.
    */
  def scaleogram(
      x: Array[Double],
      delta: Double,
      scales: Array[Double]
  ): (Array[Array[Double]], Array[Double]) = {
    val n = x.length
    val m = Integer.highestOneBit(math.max(2 * n - 1, 2)) * 2
    // FFT of the (zero-padded) signal, once
    val xr = java.util.Arrays.copyOf(x, m)
    val xi = new Array[Double](m)
    Fft.fft(xr, xi)
    val out = Array.ofDim[Double](scales.length, n)
    val freqAxis = scales.map(a => CenterFreq / (a * delta))
    var s = 0
    while (s < scales.length) {
      val a = scales(s)
      // wavelet spectrum sampled directly in the frequency domain:
      // FT of psi_a(t)/sqrt(a) at freq f is sqrt(a) * Psi(a f);
      // Psi(f) = exp(-pi^2 B (f - C)^2) (analytic, positive-f support)
      val wr = new Array[Double](m)
      val wi = new Array[Double](m)
      var k = 0
      while (k < m) {
        val f = (if (k <= m / 2) k else k - m) / (m * delta) // cycles/sec
        // pseudo-frequency relation: f = C / (a * delta) ⇒ match when
        // a * delta * f == C (dimensionless wavelet argument)
        val arg = a * delta * f - CenterFreq
        val mag = math.exp(-math.Pi * math.Pi * Bandwidth * arg * arg) * math.sqrt(a)
        // conv theorem: Y = X * conj(Psi(a f)) — Morlet spectrum is real
        wr(k) = xr(k) * mag
        wi(k) = xi(k) * mag
        k += 1
      }
      Fft.ifft(wr, wi)
      var i = 0
      while (i < n) { out(s)(i) = math.hypot(wr(i), wi(i)); i += 1 }
      s += 1
    }
    (out, freqAxis)
  }

  /** Log-spaced scales covering [fMin, fMax] (cwt.py default layout). */
  def logScales(fMin: Double, fMax: Double, nScales: Int, delta: Double): Array[Double] = {
    val aMax = CenterFreq / (fMin * delta)
    val aMin = CenterFreq / (fMax * delta)
    Array.tabulate(nScales)(i => aMin * math.pow(aMax / aMin, i.toDouble / (nScales - 1)))
  }

  /** CWT with the pywt ALGORITHM (pywt/_cwt.py `method='conv'` semantics,
    * which is what the reference calls — cwt.py:28-180 delegates to
    * pywt.cwt with a cmorB-C wavelet):
    *
    *  1. the wavelet is numerically integrated ONCE on a fine grid of
    *     2^10 points (pywt's default precision) over its [-8, 8] support
    *     (pywt.integrate_wavelet: cumulative sum × step), conjugated for
    *     complex wavelets;
    *  2. each scale `a` subsamples the integrated wavelet at
    *     j = floor(k / (a·step)) and reverses it;
    *  3. coef = −sqrt(a) · diff(conv(x, int_psi_scale)) trimmed centrally
    *     to the input length.
    *
    * Returns the (nScales × n) magnitude matrix (the scaleogram uses |coef|)
    * and the pseudo-frequency axis C/(a·delta).
    */
  def scaleogramPywt(
      x: Array[Double],
      delta: Double,
      scales: Array[Double]
  ): (Array[Array[Double]], Array[Double]) = {
    val n = x.length
    val nGrid = 1 << 10
    val lb = -8.0
    val ub = 8.0
    val step = (ub - lb) / (nGrid - 1)
    // psi(t) = (pi*B)^(-1/2) exp(2*pi*i*C*t) exp(-t^2/B), integrated by
    // cumulative sum (pywt.integrate_function), then conjugated
    val norm = 1.0 / math.sqrt(math.Pi * Bandwidth)
    val intRe = new Array[Double](nGrid)
    val intIm = new Array[Double](nGrid)
    var accRe = 0.0
    var accIm = 0.0
    var g = 0
    while (g < nGrid) {
      val t = lb + g * step
      val env = norm * math.exp(-t * t / Bandwidth)
      val ph = 2 * math.Pi * CenterFreq * t
      accRe += env * math.cos(ph) * step
      accIm += env * math.sin(ph) * step
      intRe(g) = accRe
      intIm(g) = -accIm // conj for the complex wavelet
      g += 1
    }
    val out = Array.ofDim[Double](scales.length, n)
    val freqAxis = scales.map(a => CenterFreq / (a * delta))
    var s = 0
    while (s < scales.length) {
      val a = scales(s)
      val mMax = (a * (ub - lb)).toInt + 1
      // subsample the integrated wavelet at this scale, reversed
      val idx = (0 until mMax).map(k => (k / (a * step)).toInt).filter(_ < nGrid)
      val m = idx.length
      val wRe = new Array[Double](m)
      val wIm = new Array[Double](m)
      var k = 0
      while (k < m) { wRe(k) = intRe(idx(m - 1 - k)); wIm(k) = intIm(idx(m - 1 - k)); k += 1 }
      // full convolution via FFT (O(L log L) instead of O(n·m))
      val L = n + m - 1
      var p = 1
      while (p < L) p <<= 1
      val xr = java.util.Arrays.copyOf(x, p)
      val xi = new Array[Double](p)
      val yr = java.util.Arrays.copyOf(wRe, p)
      val yi = java.util.Arrays.copyOf(wIm, p)
      Fft.fft(xr, xi)
      Fft.fft(yr, yi)
      k = 0
      while (k < p) {
        val r = xr(k) * yr(k) - xi(k) * yi(k)
        val i2 = xr(k) * yi(k) + xi(k) * yr(k)
        xr(k) = r
        xi(k) = i2
        k += 1
      }
      Fft.ifft(xr, xi)
      // coef = -sqrt(a) * diff(conv), center-trimmed to n samples
      val sq = math.sqrt(a)
      val coefLen = L - 1
      val d = (coefLen - n) / 2.0
      val off = math.floor(d).toInt
      var i = 0
      while (i < n) {
        val re = -sq * (xr(off + i + 1) - xr(off + i))
        val im = -sq * (xi(off + i + 1) - xi(off + i))
        out(s)(i) = math.hypot(re, im)
        i += 1
      }
      s += 1
    }
    (out, freqAxis)
  }
}
