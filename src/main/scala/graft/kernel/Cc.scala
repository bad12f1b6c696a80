package graft.kernel

/** Frequency-domain cross-correlation with the exact semantics of the
  * reference kernel (/root/reference/xcorr/util/cc.py:22-141):
  *
  *  - both inputs are left zero-padded to `nn = 2n-1` (`xx[nn-n:] = x`),
  *  - `Rxy = fftshift(Re(ifft(fft(xx) * conj(fft(yy)))))`,
  *  - optional normalization by `‖x‖·‖y‖`.
  *
  * The unbias weights `w[k] = n/(n-|k|)` over lag index `k = i-(n-1)` are
  * [[weight]] (cc.py:111-141 documents this; its arange stop is
  * off-by-two and truncates the last two weights — we implement the
  * documented full-length semantics, which is also what `unbias_weights`
  * slices from in practice).
  *
  * Both real-input FFTs are computed with a single complex FFT (pack x in
  * the real part, y in the imaginary part, split by Hermitian symmetry), so
  * one correlation costs one forward + one inverse transform.
  */
object Cc {

  /** Cross-correlate x and y. Returns the fftshift-ed estimate of length
    * 2n-1.
    *
    * Transform size: the OUTPUT is the reference's 2n-1 lags, but the
    * linear correlation is transform-size-agnostic for any N >= 2n-1, and
    * 2n-1 is always odd — computing at exactly 2n-1 runs Bluestein
    * (~4 power-of-two transforms of TWICE the size per correlation). It
    * therefore transforms at the next power of two >= 2n-1 (one radix-2
    * forward + one inverse) and assembles the 2n-1 lags from the circular
    * result — >3x kernel speedup at the flagship window lengths, values
    * equal to the exact-size transform up to ~1e-15 relative (FP
    * reordering only; all integral-domain oracles and the 1e-9 numpy
    * fixtures are unaffected).
    */
  def cc(x: Array[Double], y: Array[Double], normalize: Boolean = true): Array[Double] = {
    val n = x.length
    require(y.length == n, "x and y must have the same length")
    val nn = 2 * n - 1
    val nt = if (!Fft.isPow2(nn)) Integer.highestOneBit(nn) * 2 else nn
    // packed complex buffer (thread-local scratch — only the returned array
    // is freshly allocated): re = x, im = y, zero-padded to nt.
    // END padding (not the reference's left pad): correlation is invariant
    // to a common shift of both inputs, and end padding makes the lag
    // layout of the circular result explicit (positive lag m at c[m],
    // negative lag -j at c[nt-j]) for any nt >= 2n-1.
    val (re, im) = Fft.scratch(nt)
    var i = 0
    while (i < n) { re(i) = x(i); im(i) = y(i); i += 1 }
    while (i < nt) { re(i) = 0.0; im(i) = 0.0; i += 1 }
    Fft.fft(re, im)
    // Z[k] = Fx[k] + i*Fy[k]; by symmetry of real signals:
    //   Fx[k] = (Z[k] + conj(Z[n-k]))/2, Fy[k] = (Z[k] - conj(Z[n-k]))/(2i)
    // G[k] = Fx[k] * conj(Fy[k]) — computed IN PLACE over conjugate pairs
    // (k, nt-k): both G values derive from the same two Z values, so write
    // them together; even nt has a self-conjugate midpoint
    @inline def g(zr: Double, zi: Double, wr: Double, wi: Double): (Double, Double) = {
      val fxr = 0.5 * (zr + wr)
      val fxi = 0.5 * (zi - wi)
      val fyr = 0.5 * (zi + wi)
      val fyi = 0.5 * (wr - zr)
      (fxr * fyr + fxi * fyi, fxi * fyr - fxr * fyi)
    }
    locally {
      val (g0r, g0i) = g(re(0), im(0), re(0), im(0))
      re(0) = g0r; im(0) = g0i
    }
    var k = 1
    var j = nt - 1
    while (k < j) {
      val zr = re(k); val zi = im(k)
      val wr = re(j); val wi = im(j)
      val (gkr, gki) = g(zr, zi, wr, wi)
      val (gjr, gji) = g(wr, wi, zr, zi)
      re(k) = gkr; im(k) = gki
      re(j) = gjr; im(j) = gji
      k += 1
      j -= 1
    }
    if (k == j) { // even nt: self-conjugate midpoint
      val (gr, gi) = g(re(k), im(k), re(k), im(k))
      re(k) = gr; im(k) = gi
    }
    if (normalize) {
      var nx = 0.0; var ny = 0.0
      i = 0
      while (i < n) { nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      val norm = math.sqrt(nx) * math.sqrt(ny)
      val s = if (norm == 0.0) 0.0 else 1.0 / norm
      k = 0
      while (k < nt) { re(k) *= s; im(k) *= s; k += 1 }
    }
    Fft.ifft(re, im)
    // assemble the nn lags in fftshift order (lag of out[i] = i-(n-1)):
    // negative lag -j lives at c[nt-j], positive lag m at c[m]
    if (nt == nn) Fft.fftshift(re)
    else {
      val out = new Array[Double](nn)
      var t = 0
      while (t < n - 1) { out(t) = re(nt - (n - 1) + t); t += 1 }
      while (t < nn) { out(t) = re(t - (n - 1)); t += 1 }
      out
    }
  }

  /** Lag axis in seconds: fftshift(fftfreq(nn, 1/(nn*delta)))
    * (cc.py:82-108). For nn = 2n-1 this is (i-(n-1))*delta.
    */
  def lagAxis(n: Int, delta: Double): Array[Double] = {
    val nn = 2 * n - 1
    Fft.fftshift(Fft.fftfreq(nn, 1.0 / (nn * delta)))
  }

  /** Unbias weight vector over the full lag axis of length nn = 2n-1:
    * w[i] = n/(n-|i-(n-1)|) (cc.py:111-141 documented semantics, full
    * length).
    */
  def weight(n: Int): Array[Double] = {
    val nn = 2 * n - 1
    val w = new Array[Double](nn)
    var i = 0
    while (i < nn) {
      w(i) = n.toDouble / (n - math.abs(i - (n - 1)))
      i += 1
    }
    w
  }

  /** Sample (or time) shift at the maximum of Rxy, and that maximum
    * (cc.py:144-206): zero index = len/2 (integer division), ties → first
    * maximum.
    */
  def extractShiftAndMax(rxy: Array[Double], delta: Double = 1.0): (Double, Double) = {
    val zero = rxy.length / 2
    val idx = argmax(rxy)
    ((idx - zero) * delta, rxy(idx))
  }

  private def argmax(a: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < a.length) { if (a(i) > a(best)) best = i; i += 1 }
    best
  }
}
