package graft.kernel

/** Vector signal operators mirroring the reference's `xcorr/signal` package
  * semantics on plain arrays. Each is the per-row kernel the Spark layer
  * applies inside `Dataset.mapPartitions` / `transform(...)` — one row holds
  * one core-dim vector, exactly how `xr.apply_ufunc(input_core_dims=[[dim]])`
  * vectorizes in the reference.
  */
object Signal {

  /** Subtract the mean (reference detrend type 'constant',
    * /root/reference/xcorr/signal/detrend.py:31-124; NaN-skipping).
    */
  def demean(x: Array[Double]): Array[Double] = {
    var s = 0.0
    var n = 0
    var i = 0
    while (i < x.length) { val v = x(i); if (!v.isNaN) { s += v; n += 1 }; i += 1 }
    val m = if (n == 0) 0.0 else s / n
    val out = new Array[Double](x.length)
    i = 0
    while (i < x.length) { out(i) = x(i) - m; i += 1 }
    out
  }

  /** Symmetric Hann window of length m (scipy.signal.windows.hann(m, sym=True)). */
  def hann(m: Int): Array[Double] = {
    if (m == 1) return Array(1.0)
    val w = new Array[Double](m)
    var i = 0
    while (i < m) { w(i) = 0.5 - 0.5 * math.cos(2 * math.Pi * i / (m - 1)); i += 1 }
    w
  }

  /** General symmetric window family (the reference's taper accepts any
    * `scipy.signal.windows.*`, /root/reference/xcorr/signal/window.py:27-116
    * — these are the closed-form members; `param` is tukey's alpha or
    * kaiser's beta).
    */
  def window(name: String, m: Int, param: Double = Double.NaN): Array[Double] = {
    if (m == 1) return Array(1.0)
    val n = m - 1
    def cosSum(a: Array[Double]): Array[Double] =
      Array.tabulate(m) { i =>
        var s = 0.0
        var k = 0
        while (k < a.length) { s += a(k) * math.cos(2 * math.Pi * k * i / n) * (if (k % 2 == 1) -1 else 1); k += 1 }
        s
      }
    name match {
      case "hann" | "hanning"  => hann(m)
      case "boxcar" | "rect"   => Array.fill(m)(1.0)
      case "hamming"           => cosSum(Array(0.54, 0.46))
      case "blackman"          => cosSum(Array(0.42, 0.5, 0.08))
      case "blackmanharris"    => cosSum(Array(0.35875, 0.48829, 0.14128, 0.01168))
      case "nuttall"           => cosSum(Array(0.3635819, 0.4891775, 0.1365995, 0.0106411))
      case "bartlett"          => Array.tabulate(m)(i => 1.0 - math.abs(2.0 * i / n - 1.0))
      case "triang" =>
        // scipy triang sym: odd m has peak 1, even m plateaus at 1-1/m
        if (m % 2 == 1) Array.tabulate(m)(i => 1.0 - math.abs(i - n / 2.0) * 2.0 / (m + 1))
        else Array.tabulate(m)(i => 1.0 - math.abs(2 * i - n) / m.toDouble)
      case "cosine" => Array.tabulate(m)(i => math.sin(math.Pi * (i + 0.5) / m))
      case "tukey" =>
        val alpha = if (param.isNaN) 0.5 else param
        if (alpha <= 0) Array.fill(m)(1.0)
        else if (alpha >= 1) hann(m)
        else Array.tabulate(m) { i =>
          val x = i.toDouble / n
          if (x < alpha / 2) 0.5 * (1 + math.cos(math.Pi * (2 * x / alpha - 1)))
          else if (x > 1 - alpha / 2) 0.5 * (1 + math.cos(math.Pi * (2 * x / alpha - 2 / alpha + 1)))
          else 1.0
        }
      case "kaiser" =>
        val beta = if (param.isNaN) 8.6 else param
        val denom = besselI0(beta)
        Array.tabulate(m) { i =>
          val r = 2.0 * i / n - 1.0
          besselI0(beta * math.sqrt(math.max(0.0, 1.0 - r * r))) / denom
        }
      case other => throw new IllegalArgumentException(s"unknown window '$other'")
    }
  }

  /** Modified Bessel function of the first kind, order 0 (power series —
    * converges fast for the beta range windows use).
    */
  private def besselI0(x: Double): Double = {
    var sum = 1.0
    var term = 1.0
    var k = 1
    while (k < 64 && term > sum * 1e-17) {
      val t = x / (2.0 * k)
      term *= t * t
      sum += term
      k += 1
    }
    sum
  }

  /** Cosine edge taper: interior = 1, each edge multiplied by the rising /
    * falling half of a Hann window sized by `maxPercentage` of the vector
    * length (capped at 0.5) or `maxLength` samples — the reference's window
    * sizing rule (/root/reference/xcorr/signal/window.py:74-106) applied to
    * both edges (taper.py:23-85).
    */
  def taper(
      x: Array[Double],
      maxPercentage: Double = 0.05,
      maxLength: Int = -1,
      windowName: String = "hann",
      windowParam: Double = Double.NaN
  ): Array[Double] = {
    val n = x.length
    val pct = math.min(maxPercentage, 0.5)
    var m = (pct * n).toInt
    if (maxLength > 0) m = math.min(m, maxLength)
    if (m < 1) return java.util.Arrays.copyOf(x, n)
    val w = window(windowName, 2 * m + 1, windowParam)
    val out = java.util.Arrays.copyOf(x, n)
    var i = 0
    while (i < m) {
      out(i) *= w(i)
      out(n - 1 - i) *= w(i)
      i += 1
    }
    out
  }

  /** Analytic signal via the FFT method (reference hilbert,
    * /root/reference/xcorr/signal/hilbert.py:29-88): zero the negative
    * frequencies, double the positive ones. Returns (re, im).
    */
  def hilbert(x: Array[Double]): (Array[Double], Array[Double]) = {
    val n = x.length
    val re = java.util.Arrays.copyOf(x, n)
    val im = new Array[Double](n)
    Fft.fft(re, im)
    val h = new Array[Double](n)
    h(0) = 1.0
    if (n % 2 == 0) {
      h(n / 2) = 1.0
      var i = 1
      while (i < n / 2) { h(i) = 2.0; i += 1 }
    } else {
      var i = 1
      while (i <= (n - 1) / 2) { h(i) = 2.0; i += 1 }
    }
    var i = 0
    while (i < n) { re(i) *= h(i); im(i) *= h(i); i += 1 }
    Fft.ifft(re, im)
    (re, im)
  }

  /** Envelope = |analytic signal| (hilbert.py:91-120). */
  def envelope(x: Array[Double]): Array[Double] = {
    val (re, im) = hilbert(x)
    val out = new Array[Double](x.length)
    var i = 0
    while (i < out.length) { out(i) = math.hypot(re(i), im(i)); i += 1 }
    out
  }

  /** Phase-shift x by `delay` seconds in the frequency domain via rfft
    * (reference timeshift fast path,
    * /root/reference/xcorr/signal/timeshift.py:23-117: odd n is trimmed by
    * one sample before the rfft — reproduced here for fixture parity).
    */
  def timeshift(x: Array[Double], delay: Double, delta: Double): Array[Double] = {
    val n0 = x.length
    val n = if (n0 % 2 == 1) n0 - 1 else n0
    val xin = if (n == n0) x else java.util.Arrays.copyOf(x, n)
    val (re, im) = Fft.rfft(xin)
    val h = re.length
    var k = 0
    while (k < h) {
      val f = k / (n * delta)
      val ang = -2.0 * math.Pi * delay * f
      val cr = math.cos(ang)
      val ci = math.sin(ang)
      val r = re(k) * cr - im(k) * ci
      val i2 = re(k) * ci + im(k) * cr
      re(k) = r
      im(k) = i2
      k += 1
    }
    Fft.irfft(re, im, n)
  }

  /** Lanczos windowed-sinc interpolation of a regular series onto a new
    * regular grid (the reference's `interpolate`/`resample` preprocess ops
    * delegate to obspy's lanczos_interpolation;
    * /root/reference/xcorr/stream/process.py:46-49,66-69). `a` is the
    * number of sinc lobes (obspy default 3 ≈ scipy-quality resampling).
    * Output sample j sits at source position `offsetSamples + j·ratio`
    * (ratio = dstStep/srcStep); edge windows renormalize by the partial
    * kernel sum so boundaries stay unbiased.
    */
  def lanczosResample(
      x: Array[Double],
      ratio: Double,
      offsetSamples: Double,
      nOut: Int,
      a: Int = 3
  ): Array[Double] = {
    val out = new Array[Double](nOut)
    var j = 0
    while (j < nOut) {
      val p = offsetSamples + j * ratio
      val lo = math.max(0, math.ceil(p - a).toInt)
      val hi = math.min(x.length - 1, math.floor(p + a).toInt)
      var s = 0.0
      var wsum = 0.0
      var i = lo
      while (i <= hi) {
        val w = lanczosKernel(p - i, a)
        s += w * x(i)
        wsum += w
        i += 1
      }
      out(j) = if (wsum == 0.0) 0.0 else s / wsum
      j += 1
    }
    out
  }

  private def lanczosKernel(d: Double, a: Int): Double = {
    if (d == 0.0) 1.0
    else if (d <= -a || d >= a) 0.0
    else {
      val pd = math.Pi * d
      a * math.sin(pd) * math.sin(pd / a) / (pd * pd)
    }
  }

  /** Power spectral density spectrogram over a sliding window
    * (reference spectrogram, /root/reference/xcorr/signal/spectrogram.py:
    * 27-197 — scipy mode='psd', onesided, density scaling with a Hann
    * window; this variant uses hop >= 1 like `spectrogram_mtc`).
    * Returns (nSegments x nFreqBins) row-major matrix and the freq axis.
    */
  def spectrogram(
      x: Array[Double],
      fs: Double,
      nperseg: Int,
      hop: Int
  ): (Array[Array[Double]], Array[Double]) = {
    val win = hann(nperseg)
    var winSumSq = 0.0
    win.foreach(w => winSumSq += w * w)
    val scale = 1.0 / (fs * winSumSq)
    val nBins = nperseg / 2 + 1
    val nSeg = math.max((x.length - nperseg) / hop + 1, 0)
    val out = Array.ofDim[Double](nSeg, nBins)
    var s = 0
    while (s < nSeg) {
      val seg = new Array[Double](nperseg)
      var i = 0
      while (i < nperseg) { seg(i) = x(s * hop + i) * win(i); i += 1 }
      val (re, im) = Fft.rfft(seg)
      var k = 0
      while (k < nBins) {
        var p = (re(k) * re(k) + im(k) * im(k)) * scale
        // one-sided: double everything except DC and (even n) Nyquist
        if (k != 0 && !(nperseg % 2 == 0 && k == nBins - 1)) p *= 2
        out(s)(k) = p
        k += 1
      }
      s += 1
    }
    val freq = Array.tabulate(nBins)(k => k * fs / nperseg)
    (out, freq)
  }
}
