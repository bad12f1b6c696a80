package graft.kernel

/** Plane-wave beamforming by co-array least squares — the reference's
  * `plane_wave` estimator (/root/reference/xcorr/signal/beamform.py:25-234):
  * all upper-triangle receiver pairs are cross-correlated, the lag at each
  * pair's |cc| maximum gives an observed delay tau, and the slowness vector
  * s solves A s = tau in the least-squares sense with A the pairwise
  * coordinate-difference matrix (beamform.py:142-154). Outputs slowness,
  * direction of arrival (clockwise from +y, like the reference's atan2
  * convention), velocity = 1/|s| and the residual energy.
  *
  * In the transcript graft "receivers" are any keyed set of synchronous
  * series with known 2-D feature coordinates.
  */
object Beamform {

  final case class Result(sx: Double, sy: Double, doaDeg: Double, velocity: Double, residual: Double)

  /** @param coords per-key (x, y) coordinates, meters (or any length unit)
    * @param series per-key signal vectors, equal lengths, regular delta
    * @param delta  sample interval in seconds
    */
  def planeWave(
      coords: Array[(Double, Double)],
      series: Array[Array[Double]],
      delta: Double
  ): Result = {
    val n = coords.length
    require(series.length == n && n >= 3, "need >= 3 receivers")
    // upper-triangle pairs (tri mask — beamform.py:109-117)
    val pairs = for { i <- 0 until n; j <- i + 1 until n } yield (i, j)
    val a = Array.ofDim[Double](pairs.length, 2)
    val tau = new Array[Double](pairs.length)
    pairs.zipWithIndex.foreach { case ((i, j), k) =>
      a(k)(0) = coords(j)._1 - coords(i)._1
      a(k)(1) = coords(j)._2 - coords(i)._2
      val rxy = Cc.cc(series(i), series(j), normalize = true)
      val pick = rxy.map(math.abs)
      var best = 0
      var m = 1
      while (m < pick.length) { if (pick(m) > pick(best)) best = m; m += 1 }
      // cc(x, y) with y delayed by tau peaks at shift = -tau (see the
      // KernelSpec roll-fixture), so the observed pair delay is the
      // negated argmax shift
      tau(k) = -(best - rxy.length / 2) * delta
    }
    solve(a, tau)
  }

  /** The least-squares solve stage in isolation: s = (AᵀA)⁻¹Aᵀτ by normal
    * equations (2×2 closed form — beamform.py:142-154), then DOA/velocity/
    * residual. Split out of [[planeWave]] so the deterministic math can be
    * fed PINNED per-pair delays and oracle-checked as closed-form SQL
    * arithmetic (q62) independently of the argmax delay pick (whose
    * integer-plateau ties are the documented untestable part of q57).
    *
    * @param a   pairwise coordinate-difference rows (Δx, Δy)
    * @param tau observed per-pair delays, seconds
    */
  def solve(a: Array[Array[Double]], tau: Array[Double]): Result = {
    require(a.length == tau.length && a.length >= 2, "need >= 2 pair equations")
    var a00 = 0.0; var a01 = 0.0; var a11 = 0.0
    var b0 = 0.0; var b1 = 0.0
    var k = 0
    while (k < a.length) {
      a00 += a(k)(0) * a(k)(0); a01 += a(k)(0) * a(k)(1); a11 += a(k)(1) * a(k)(1)
      b0 += a(k)(0) * tau(k); b1 += a(k)(1) * tau(k)
      k += 1
    }
    val det = a00 * a11 - a01 * a01
    require(math.abs(det) > 1e-12, "degenerate receiver geometry")
    val sx = (a11 * b0 - a01 * b1) / det
    val sy = (a00 * b1 - a01 * b0) / det
    var e = 0.0
    k = 0
    while (k < a.length) {
      val r = a(k)(0) * sx + a(k)(1) * sy - tau(k)
      e += r * r
      k += 1
    }
    val smag = math.hypot(sx, sy)
    val doa = (math.toDegrees(math.atan2(sx, sy)) + 360.0) % 360.0
    Result(sx, sy, doa, if (smag == 0) Double.PositiveInfinity else 1.0 / smag, e)
  }
}
