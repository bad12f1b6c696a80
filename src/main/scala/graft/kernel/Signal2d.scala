package graft.kernel

/** 2-D signal kernels: 2-D cross-correlation (reference correlate2d,
  * /root/reference/xcorr/signal/correlate.py:162-291 — fft2/ifft2 with
  * per-dim 2n-1 padding and optional 2-D norm), local maxima
  * (peak_local_max, /root/reference/xcorr/signal/peak_local_max.py:32-188)
  * and the Lomb-Scargle periodogram for irregular series
  * (/root/reference/xcorr/signal/lombscargle.py:28-157).
  *
  * Matrices are row-major Array[Array[Double]].
  */
object Signal2d {

  private def fft2(re: Array[Array[Double]], im: Array[Array[Double]], inverse: Boolean): Unit = {
    val rows = re.length
    val cols = re(0).length
    // rows
    var r = 0
    while (r < rows) {
      if (inverse) Fft.ifft(re(r), im(r)) else Fft.fft(re(r), im(r))
      r += 1
    }
    // cols
    val cr = new Array[Double](rows)
    val ci = new Array[Double](rows)
    var c = 0
    while (c < cols) {
      var i = 0
      while (i < rows) { cr(i) = re(i)(c); ci(i) = im(i)(c); i += 1 }
      if (inverse) Fft.ifft(cr, ci) else Fft.fft(cr, ci)
      i = 0
      while (i < rows) { re(i)(c) = cr(i); im(i)(c) = ci(i); i += 1 }
      c += 1
    }
  }

  /** 2-D frequency-domain cross-correlation over the per-dim 2n-1 lag grid
    * (correlate.py:239-244). Optional normalization by the product of the
    * 2-D L2 norms (norm2d, correlate.py:216-222).
    *
    * Like the 1-D kernel, the transforms run at the next POWER OF TWO per
    * dimension (2n-1 is always odd — the exact size would put every row
    * and column FFT on the Bluestein path at ~4x cost); the 2n-1 lag grid
    * is assembled from the circular result (positive lag m at c[m],
    * negative lag -j at c[M-j], per dimension independently).
    */
  def cc2d(
      x: Array[Array[Double]],
      y: Array[Array[Double]],
      normalize: Boolean = true
  ): Array[Array[Double]] = {
    val n1 = x.length
    val n2 = x(0).length
    require(y.length == n1 && y(0).length == n2, "x and y must have equal shapes")
    val m1 = 2 * n1 - 1
    val m2 = 2 * n2 - 1
    val t1 = if (Fft.isPow2(m1)) m1 else Integer.highestOneBit(m1) * 2
    val t2 = if (Fft.isPow2(m2)) m2 else Integer.highestOneBit(m2) * 2
    // top-left placement, zero tail (correlation is invariant to a common
    // cyclic shift of both inputs — the lag assembly below fixes indices)
    def pad(a: Array[Array[Double]]): Array[Array[Double]] = {
      val out = Array.ofDim[Double](t1, t2)
      var i = 0
      while (i < n1) {
        System.arraycopy(a(i), 0, out(i), 0, n2)
        i += 1
      }
      out
    }
    val xr = pad(x); val xi = Array.ofDim[Double](t1, t2)
    val yr = pad(y); val yi = Array.ofDim[Double](t1, t2)
    fft2(xr, xi, inverse = false)
    fft2(yr, yi, inverse = false)
    // G = X * conj(Y)
    var i = 0
    while (i < t1) {
      var j = 0
      while (j < t2) {
        val gr = xr(i)(j) * yr(i)(j) + xi(i)(j) * yi(i)(j)
        val gi = xi(i)(j) * yr(i)(j) - xr(i)(j) * yi(i)(j)
        xr(i)(j) = gr; xi(i)(j) = gi
        j += 1
      }
      i += 1
    }
    if (normalize) {
      var nx = 0.0; var ny = 0.0
      i = 0
      while (i < n1) {
        var j = 0
        while (j < n2) { nx += x(i)(j) * x(i)(j); ny += y(i)(j) * y(i)(j); j += 1 }
        i += 1
      }
      val s = math.sqrt(nx) * math.sqrt(ny)
      val inv = if (s == 0) 0.0 else 1.0 / s
      i = 0
      while (i < t1) {
        var j = 0
        while (j < t2) { xr(i)(j) *= inv; xi(i)(j) *= inv; j += 1 }
        i += 1
      }
    }
    fft2(xr, xi, inverse = true)
    // assemble the (m1, m2) lag grid in fftshift order: out(i)(j) has lags
    // (i-(n1-1), j-(n2-1)); negative lag -d lives at circular index T-d
    val out = Array.ofDim[Double](m1, m2)
    i = 0
    while (i < m1) {
      val r = if (i < n1 - 1) t1 - (n1 - 1) + i else i - (n1 - 1)
      var j = 0
      while (j < m2) {
        val c = if (j < n2 - 1) t2 - (n2 - 1) + j else j - (n2 - 1)
        out(i)(j) = xr(r)(c)
        j += 1
      }
      i += 1
    }
    out
  }

  /** Argmax of a 2-D CC surface → (shift1, shift2, max), the shifts in
    * samples with zero-lag at the center indices (len/2) — ties → first in
    * row-major order.
    */
  def extractShift2d(rxy: Array[Array[Double]]): (Double, Double, Double) = {
    val z1 = rxy.length / 2
    val z2 = rxy(0).length / 2
    var bi = 0; var bj = 0
    var i = 0
    while (i < rxy.length) {
      var j = 0
      while (j < rxy(0).length) {
        if (rxy(i)(j) > rxy(bi)(bj)) { bi = i; bj = j }
        j += 1
      }
      i += 1
    }
    ((bi - z1).toDouble, (bj - z2).toDouble, rxy(bi)(bj))
  }

  /** 2-D local maxima over an 8-neighborhood with a minimum distance and a
    * relative threshold; returns (i, j, value) sorted by value descending
    * (peak_local_max.py:100-121 descending-rank semantics; ties → row-major).
    */
  def peakLocalMax(
      a: Array[Array[Double]],
      minDistance: Int = 1,
      thresholdRel: Double = 0.0
  ): Seq[(Int, Int, Double)] = {
    val rows = a.length
    val cols = a(0).length
    var mx = Double.NegativeInfinity
    a.foreach(_.foreach(v => if (v > mx) mx = v))
    val thr = mx * thresholdRel
    val peaks = scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]()
    var i = 0
    while (i < rows) {
      var j = 0
      while (j < cols) {
        val v = a(i)(j)
        if (v > thr) {
          var isMax = true
          var di = -minDistance
          while (isMax && di <= minDistance) {
            var dj = -minDistance
            while (isMax && dj <= minDistance) {
              if (!(di == 0 && dj == 0)) {
                val ii = i + di; val jj = j + dj
                if (ii >= 0 && ii < rows && jj >= 0 && jj < cols && a(ii)(jj) > v) isMax = false
              }
              dj += 1
            }
            di += 1
          }
          if (isMax) peaks += ((i, j, v))
        }
        j += 1
      }
      i += 1
    }
    peaks.sortBy { case (pi, pj, pv) => (-pv, pi, pj) }.toSeq
  }

  /** Lomb-Scargle periodogram at the given angular frequencies for an
    * IRREGULARLY sampled series (t, y) — NaN-skipping, classic Lomb (1976)
    * formulation as in scipy.signal.lombscargle / lombscargle.py:108-119.
    */
  def lombscargle(t: Array[Double], y: Array[Double], freqs: Array[Double]): Array[Double] = {
    val keep = t.indices.filter(i => !y(i).isNaN)
    val tt = keep.map(t).toArray
    val yy = keep.map(y).toArray
    val n = tt.length
    val out = new Array[Double](freqs.length)
    var k = 0
    while (k < freqs.length) {
      val w = freqs(k)
      if (w == 0.0 || n == 0) { out(k) = 0.0 }
      else {
        var s2w = 0.0; var c2w = 0.0
        var i = 0
        while (i < n) { s2w += math.sin(2 * w * tt(i)); c2w += math.cos(2 * w * tt(i)); i += 1 }
        val tau = math.atan2(s2w, c2w) / (2 * w)
        var cs = 0.0; var cc = 0.0; var ss = 0.0; var sc = 0.0
        i = 0
        while (i < n) {
          val arg = w * (tt(i) - tau)
          val c = math.cos(arg); val s = math.sin(arg)
          cs += yy(i) * c; sc += yy(i) * s
          cc += c * c; ss += s * s
          i += 1
        }
        out(k) = 0.5 * ((cs * cs) / cc + (sc * sc) / ss)
      }
      k += 1
    }
    out
  }
}
