package graft.codec

/** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013, public
  * algorithm). Deterministic: first and last points always kept; ties in
  * triangle area resolve to the earliest candidate.
  */
object Lttb {

  /** Downsample (x, y) series (assumed sorted by x) to `threshold` points.
    * Returns the indices of the kept points (ascending).
    */
  def indices(x: Array[Double], y: Array[Double], threshold: Int): Array[Int] = {
    val n = x.length
    require(x.length == y.length)
    if (threshold >= n || threshold <= 2 || n <= 2) return Array.range(0, n)
    val out = new Array[Int](threshold)
    out(0) = 0
    out(threshold - 1) = n - 1
    val bucketSize = (n - 2).toDouble / (threshold - 2)
    var a = 0 // previously selected point
    var i = 0
    while (i < threshold - 2) {
      val bStart = (i * bucketSize).toInt + 1
      val bEnd = math.min(((i + 1) * bucketSize).toInt + 1, n - 1)
      // average of the NEXT bucket (or the last point)
      val cStart = math.min(((i + 1) * bucketSize).toInt + 1, n - 1)
      val cEnd = math.min(((i + 2) * bucketSize).toInt + 1, n)
      var avgX = 0.0; var avgY = 0.0
      var j = cStart
      val cLen = math.max(cEnd - cStart, 1)
      while (j < cEnd) { avgX += x(j); avgY += y(j); j += 1 }
      if (cEnd <= cStart) { avgX = x(n - 1); avgY = y(n - 1) }
      avgX /= cLen; avgY /= cLen
      // pick the point in [bStart, bEnd) forming the largest triangle with
      // point a and the next-bucket average
      val ax = x(a); val ay = y(a)
      var best = bStart
      var bestArea = -1.0
      j = bStart
      while (j < bEnd) {
        val area = math.abs((ax - avgX) * (y(j) - ay) - (ax - x(j)) * (avgY - ay))
        if (area > bestArea) { bestArea = area; best = j }
        j += 1
      }
      out(i + 1) = best
      a = best
      i += 1
    }
    out
  }

  /** Downsample to (ts, value) pairs. Plain loops: `Array.map` boxes
    * every element.
    */
  def downsample(ts: Array[Long], values: Array[Double], threshold: Int): (Array[Long], Array[Double]) = {
    val xs = new Array[Double](ts.length)
    for (i <- ts.indices) xs(i) = ts(i).toDouble
    val idx = indices(xs, values, threshold)
    val kt = new Array[Long](idx.length)
    val kv = new Array[Double](idx.length)
    for (k <- idx.indices) { kt(k) = ts(idx(k)); kv(k) = values(idx(k)) }
    (kt, kv)
  }
}
