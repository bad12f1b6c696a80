package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import graft.core.CcRow
import graft.kernel.{Beamform, Cc}

/** Pairwise windowed cross-correlation — the engine's flagship operator
  * (reference inner loop: /root/reference/xcorr/core/process.py:82-172,
  * kernel /root/reference/xcorr/util/cc.py:22-79).
  *
  * Execution shape (SURVEY.md §3.1 Spark shape): one ordered block walk per
  * (pair, metric), fed by ONE pair-keyed exchange.
  *   - [[ccCells]] (the CC job's path) densifies each series once into
  *     blocks of B = gcd(window, stride) seconds, tags the blocks with every
  *     (pair, side) they serve, and unions them with one marker row per
  *     requested cell. [[ccPairs]] feeds the same walk whole windows
  *     (B = window) and no markers.
  *   - The rows move through a single `repartition(n, pair, metric)` and
  *     are sorted by (pair, metric, block start); each partition walks its
  *     keys in that order and runs [[kernelRow]] once per cell.
  *   - A window of W/B consecutive blocks is built from the blocks, not
  *     re-exploded per window (Factor Windows, ICDE 2022), and the walk keeps
  *     only the W/B blocks per side that the current frame needs
  *     (Arbitrarily-Framed Holistic SQL Aggregates, SIGMOD 2022).
  *
  * Scale notes:
  *  - In [[ccCells]] each nonzero point rides the block exchange once, and
  *    each block rides the pair exchange once per pair of its conversation.
  *    [[windows]] instead explodes every point `window/stride` ways (8× at
  *    the reference's 86400 s window at 21/24 overlap,
  *    xcorr/scripts/cc.py:28) before its assembly shuffle.
  *  - Block and window values ride the shuffles as FLOAT32 (the reference's
  *    cc dtype, xcorr/core/init.py:84-85). The ingest series
  *    values are integral counts, so the pack is lossless (< 2^24).
  *  - The pair exchange's partition count is explicit (as in
  *    `Ingest.series`): AQE must not coalesce the FFT stage's KB-scale input
  *    onto one task.
  *  - Skew: a hot conversation still spreads, since its blocks go to every
  *    pair it belongs to and the pairs hash apart. One pair's history is one
  *    task's walk, bounded to W/B blocks per side in memory.
  *  - Incomplete windows get no cell: the job's work list holds only windows
  *    that fit both sides' spans, mirroring the reference's strict
  *    sample-count gate (reference xcorr/stream/client.py:1019-1050).
  */
object Correlate {

  /** The complete-window candidate list (conv_id, metric, win_start_s) —
    * computed from the tiny one-row-per-key spans table WITHOUT assembling
    * any value arrays. This is the engine's availability pre-gate
    * (↔ /root/reference/xcorr/core/lazy.py:128-177: a cheap availability
    * query decides the work list; the heavy fetch only happens for items
    * that pass): ProcessJob builds its work list from this, and only the
    * still-pending conversations pay for window assembly.
    */
  def candidates(
      series: DataFrame,
      windowSec: Long,
      strideSec: Long,
      stepSec: Long
  ): DataFrame = {
    val n = series.sparkSession.sessionState.conf.numShufflePartitions
    val spans = series.groupBy(col("conv_id"), col("metric"))
      .agg(min(unix_timestamp(col("ts").cast("timestamp"))).as("t0"),
        max(unix_timestamp(col("ts").cast("timestamp"))).as("t1"))
    spans
      .repartition(n, col("conv_id"), col("metric"))
      .withColumn("lo", expr(s"CAST(ceil(t0 / $strideSec) AS BIGINT) * $strideSec"))
      // floor (not DIV, which truncates toward zero): a negative numerator
      // — span shorter than one window near epoch 0 — must round DOWN so
      // lo<=hi correctly rejects the incomplete window instead of emitting
      // it with fabricated zero fill beyond the series end
      .withColumn("hi", expr(s"CAST(floor((t1 - $windowSec + $stepSec) / $strideSec) AS BIGINT) * $strideSec"))
      .where(col("lo") <= col("hi")) // alignment can leave no valid window
      .select(col("conv_id"), col("metric"),
        explode(expr(s"sequence(lo, hi, $strideSec)")).as("win_start_s"))
  }

  /** Explode the gap-filled series into complete overlapping windows with
    * time-ordered value arrays (float32 packed — see scale notes above).
    *
    * DTYPE CONTRACT: `values` is float32 — the reference's cc dtype
    * (/root/reference/xcorr/core/init.py:84-85), and it halves the two
    * big array exchanges. This is LOSSLESS for the ingest path (integral
    * counts < 2^24) but quantizes preprocessed series (filter/interpolate
    * produce non-integral doubles) at ~1e-7 relative — the same precision
    * the reference stores, so downstream parity holds, but callers
    * needing full double precision through the window stage should window
    * manually (collect_list over their own grid) rather than assume this
    * path is exact.
    */
  def windows(
      series: DataFrame,
      windowSec: Long,
      strideSec: Long,
      stepSec: Long
  ): DataFrame = {
    checkGrid(windowSec, strideSec, stepSec)
    val npts = (windowSec / stepSec).toInt

    // Sparse assembly: gap-filled series are mostly zeros, and a zero grid
    // point is fully reconstructible — so only NONZERO points ride the
    // window-assembly shuffle (bytes ∝ occupied buckets x overlap, not grid
    // points x overlap). Window completeness is decided from the per-key
    // span instead of a point count: the gap-filled grid covers [t0, t1]
    // densely by construction, so a window is complete iff it fits the span.
    val sparse = windowPoints(series, windowSec, strideSec, stepSec)
      .groupBy(col("conv_id"), col("metric"), col("win_start_s"))
      .agg(collect_list(struct(pointCols(col("win_start_s"), stepSec): _*)).as("sparse_pts"))

    val cand = candidates(series, windowSec, strideSec, stepSec)

    // densify is a native codegen'd Expression (graft.functions.DensifyFloat)
    // so the assembly projection stays inside whole-stage codegen — a Scala
    // UDF here split the hottest generated stage (PlanSpec asserts no
    // ScalaUDF on the ccPairs plan)
    cand
      .join(sparse, Seq("conv_id", "metric", "win_start_s"), "left")
      .select(
        col("conv_id"), col("metric"),
        timestamp_seconds(col("win_start_s")).as("win_start"),
        graft.functions.DensifyFloat(col("sparse_pts"), npts).as("values")
      )
  }

  /** The grid the window operators assume: window and stride are whole
    * numbers of grid steps, and consecutive windows leave no gap.
    */
  private def checkGrid(windowSec: Long, strideSec: Long, stepSec: Long): Unit = {
    require(windowSec % stepSec == 0, "window must be a multiple of the grid step")
    require(strideSec % stepSec == 0, "stride must be a multiple of the grid step")
    require(strideSec <= windowSec, "stride must not exceed the window (no gaps)")
  }

  /** Every NONZERO point of `series`, once per window it falls in: the
    * input columns plus `win_start_s`, the window start in epoch seconds.
    * [[pointCols]] gives each point's place in its window.
    */
  private def windowPoints(
      series: DataFrame,
      windowSec: Long,
      strideSec: Long,
      stepSec: Long
  ): DataFrame = {
    // window starts w (aligned to stride) with w <= ts < w + window:
    //   ceil((ts - window + step) / stride) .. floor(ts / stride)
    // (floored, so pre-epoch points land in their windows; starts of
    // incomplete windows are dropped by the candidates join in `windows`)
    val winExpr =
      s"""sequence(
         |  CAST(ceil((unix_timestamp(cast(ts as timestamp)) - $windowSec + $stepSec) / $strideSec) AS BIGINT) * $strideSec,
         |  ${Rollup.floorDiv("unix_timestamp(cast(ts as timestamp))", strideSec)} * $strideSec,
         |  $strideSec)""".stripMargin
    series
      .where(col("value") =!= 0.0)
      .withColumn("win_start_s", explode(expr(winExpr)))
  }

  /** A point's grid offset from `start` (epoch seconds of its window or
    * block: `idx`) and its float32 value (`v`).
    */
  private def pointCols(start: Column, stepSec: Long): Seq[Column] = Seq(
    ((unix_timestamp(col("ts").cast("timestamp")) - start) / stepSec).cast("int").as("idx"),
    col("value").cast("float").as("v"))

  /** The stored pair id `conv_a-conv_b` of a row with `conv_a`/`conv_b`
    * columns — the `pair` of every CC row and of the job's work list.
    */
  private[graft] def pairId: Column = concat(col("conv_a"), lit("-"), col("conv_b"))

  /** One row per (conversation, pair) it belongs to: (conv_id, pair, side),
    * side 0 for conv_a and 1 for conv_b. Joined on conv_id, it tags windows
    * or points with every (pair, side) they serve.
    */
  private def pairSides(pairs: DataFrame): DataFrame =
    pairs
      .select(col("conv_a").as("conv_id"), pairId.as("pair"), lit(0).as("side"))
      .unionByName(pairs
        .select(col("conv_b").as("conv_id"), pairId.as("pair"), lit(1).as("side")))

  /** All unordered conv pairs (convA < convB) present in the series — the
    * reference's `triu_indices` co-array / tri_mask "compute half" trick
    * (/root/reference/xcorr/signal/tri.py:19-55,
    * /root/reference/xcorr/signal/beamform.py:109-117).
    *
    * PRODUCTION CONTRACT: this is an O(n²) pair explosion and is therefore
    * GUARDED — above `maxConvs` distinct conversations it refuses and the
    * caller must supply an explicit pair table (or a pairing predicate such
    * as the ring pairing Bench uses), exactly as the reference takes its
    * pair list from explicit config
    * (/root/reference/xcorr/scripts/cc.py:136-145). At corpus scale
    * (millions of conv_ids) the triangular self-join is a quadratic
    * candidate explosion before any kernel runs; no default should ever
    * launch it silently. The pair count is logged before returning.
    */
  def allPairs(series: DataFrame, maxConvs: Long = 4096): DataFrame = {
    val convs = series.select(col("conv_id")).distinct()
    val n = convs.count()
    require(n <= maxConvs,
      s"allPairs: $n distinct conversations would generate ${n * (n - 1) / 2} " +
        s"pairs (quadratic). Supply an explicit pairs table (conv_a, conv_b) " +
        s"or raise maxConvs (currently $maxConvs) if the explosion is intended.")
    series.sparkSession.sparkContext.setJobDescription(
      s"allPairs: $n convs -> ${n * (n - 1) / 2} pairs")
    convs.as("a")
      .join(convs.as("b"), col("a.conv_id") < col("b.conv_id"))
      .select(col("a.conv_id").as("conv_a"), col("b.conv_id").as("conv_b"))
  }

  /** The per-cell body of the pair walk: widens the float32
    * windows to double and correlates them.
    */
  private def kernelRow(
      pairId: String, metric: String, winStart: Timestamp,
      vaF: Array[Float], vbF: Array[Float],
      delta: Double, halfWin: Double,
      normalize: Boolean, clipLagSec: Double,
      hashInputs: Boolean
  ): CcRow = {
    val va = toDoubles(vaF)
    val vb = toDoubles(vbF)
    // a window with zero signal on either side carries no information:
    // flag it missing_data like the reference's status=-1
    // (/root/reference/xcorr/core/init.py:244-247) instead of emitting
    // a spurious zero correlation
    val degenerate = va.forall(_ == 0.0) || vb.forall(_ == 0.0)
    val rxy = Cc.cc(va, vb, normalize)
    val n = va.length
    val nn = rxy.length // 2n-1
    // clip by lag INDEX (lag(i) = (i-(n-1))·delta exactly): |lag|<=clip
    // ⇔ |i-(n-1)| <= floor(clip/delta + eps)
    val halfKeep =
      if (clipLagSec < 0) n - 1
      else math.min(n - 1, math.floor(clipLagSec / delta + 1e-9).toInt)
    val i0 = (n - 1) - halfKeep
    val i1 = (n - 1) + halfKeep
    val clipped =
      if (i0 == 0 && i1 == nn - 1) rxy
      else java.util.Arrays.copyOfRange(rxy, i0, i1 + 1)
    // shift/cc_max from the STORED array, so they stay consistent with
    // the data when clipped: its zero index is halfKeep = length/2
    val (shift, ccMax) = Cc.extractShiftAndMax(clipped, delta)
    CcRow(
      pair = pairId,
      metric = metric,
      win_start = winStart,
      cc = clipped,
      status = if (degenerate) -1 else 1,
      // both series share the ingest grid → start-time difference 0
      // (reference pair_offset, /root/reference/xcorr/core/init.py:275-287)
      pair_offset = 0.0,
      // first sample start vs window center (init.py:290-302)
      time_offset = -halfWin,
      shift = shift,
      cc_max = ccMax,
      npts = n,
      lag0 = i0,
      // optional per-cell input digest (↔ the reference's
      // hash(pair,time) var, init.py:252-272 — off by default there
      // too: ~10 s/step at the flagship size, init.py:95-97)
      input_hash = if (!hashInputs) "" else sha256Floats(vaF, vbF)
    )
  }

  /** Cross-correlate the given conversation pairs per (metric, window).
    *
    * @param wins  complete windows (conv_id, metric, win_start, values), as
    *              [[windows]] assembles them: each is one whole block of the
    *              pair walk, and a (pair, metric, win_start) where both sides
    *              hold a window gets one cell.
    * @param pairs DataFrame(conv_a, conv_b) with conv_a < conv_b — small,
    *              broadcast to the side tagging.
    * @param clipLagSec keep only |lag| <= clip (reference lag clipping at
    *                   init, xcorr/core/init.py:177-196 —
    *                   a projection pushdown: store only the lag window of
    *                   interest). Negative = keep all. The emitted rows
    *                   carry `npts` (input length n) and `lag0` (index of
    *                   the first stored element on the full 2n-1 lag axis)
    *                   so downstream ops can rebuild the lag coordinate of
    *                   a clipped table; `shift`/`cc_max` are extracted from
    *                   the STORED (clipped) array, exactly as the reference
    *                   extracts on its clipped lag coordinate.
    */
  def ccPairs(
      wins: DataFrame,
      pairs: DataFrame,
      stepSec: Long,
      windowSec: Long,
      normalize: Boolean = true,
      clipLagSec: Double = -1,
      hashInputs: Boolean = false
  ): Dataset[CcRow] = {
    val blocks = wins
      .join(broadcast(pairSides(pairs)), Seq("conv_id"))
      .select(col("pair"), col("metric"), unix_micros(col("win_start")).as("pos"),
        col("side"), col("values"))
    walk(blocks, perWindow = 1, blockSec = windowSec, stepSec, windowSec, marked = false,
      normalize, clipLagSec, hashInputs)
  }

  /** The CC cells of a work list: one row per (conv_a, conv_b, metric,
    * win_start) of `cells`, each window a complete one of both sides'
    * `series` (the CC job passes its pending cells, drawn from
    * [[candidates]]). `series` may be sparse (occupied buckets only): a
    * grid point or block it lacks is zero.
    *
    * The series is densified once into blocks of gcd(window, stride)
    * seconds, keyed by (conv_id, metric, block start) — floored, so
    * pre-epoch blocks hold their own points. The blocks are tagged with
    * every (pair, side) they serve and unioned with one marker per cell; the
    * walk builds each marked window from its window/block consecutive
    * blocks. Same per-cell result as [[windows]] → [[ccPairs]] restricted
    * to `cells` (OpsSpec and PipelineSpec check both against `Ref.ccPairs`).
    */
  def ccCells(
      series: DataFrame,
      cells: DataFrame,
      windowSec: Long,
      strideSec: Long,
      stepSec: Long,
      normalize: Boolean = true,
      clipLagSec: Double = -1,
      hashInputs: Boolean = false
  ): Dataset[CcRow] = {
    checkGrid(windowSec, strideSec, stepSec)
    val spark = series.sparkSession
    import spark.implicits._
    val blockSec = BigInt(windowSec).gcd(BigInt(strideSec)).toLong
    // the distinct pairs are collected once, as any broadcast collects its
    // table: both joins below then broadcast a local table, and neither
    // re-runs the distinct over the cells
    val pairs = cells.select(col("conv_a"), col("conv_b")).distinct()
      .as[(String, String)].collect().toSeq.toDF("conv_a", "conv_b")
    val sides = broadcast(pairSides(pairs))
    val ts = "unix_timestamp(cast(ts as timestamp))"
    val blocks = series
      .where(col("value") =!= 0.0)
      .join(sides, Seq("conv_id"), "left_semi")
      .withColumn("block_s", expr(Rollup.floorDiv(ts, blockSec)) * blockSec)
      .groupBy(col("conv_id"), col("metric"), col("block_s"))
      .agg(collect_list(struct(pointCols(col("block_s"), stepSec): _*)).as("pts"))
      .join(sides, Seq("conv_id"))
      .select(col("pair"), col("metric"), (col("block_s") * 1000000L).as("pos"), col("side"),
        graft.functions.DensifyFloat(col("pts"), (blockSec / stepSec).toInt).as("values"))
    // a marker sorts after its window's LAST block
    val markers = cells.select(pairId.as("pair"), col("metric"),
      (unix_micros(col("win_start")) + (windowSec - blockSec) * 1000000L).as("pos"),
      lit(Marker).as("side"), lit(null).cast("array<float>").as("values"))
    walk(blocks.unionByName(markers), perWindow = (windowSec / blockSec).toInt, blockSec,
      stepSec, windowSec, marked = true, normalize, clipLagSec, hashInputs)
  }

  /** `side` of a marker row: it sorts after both sides' blocks. */
  private val Marker = 2

  /** The pair walk behind [[ccPairs]] and [[ccCells]]. `rows` are (pair,
    * metric, pos, side, values): a block of `blockSec` seconds starting at
    * `pos` (epoch µs) of side 0 (conv_a) or 1 (conv_b), or a marker (side
    * [[Marker]], no values) for the cell whose window ENDS with the block at
    * `pos`. One exchange on (pair, metric), sorted by (pos, side) within
    * each key; each window is `perWindow` consecutive blocks, a block a
    * side lacks is zeros. Unmarked, a cell is emitted wherever both sides
    * hold a block (then `perWindow` is 1 and a block is a whole window).
    * Each (pair, metric, window) is emitted at most once.
    */
  private def walk(
      rows: DataFrame,
      perWindow: Int,
      blockSec: Long,
      stepSec: Long,
      windowSec: Long,
      marked: Boolean,
      normalize: Boolean,
      clipLagSec: Double,
      hashInputs: Boolean
  ): Dataset[CcRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    val blockUs = blockSec * 1000000L
    val npts = (windowSec / stepSec).toInt
    val delta = stepSec.toDouble
    val halfWin = windowSec / 2.0
    rows
      .repartition(n, col("pair"), col("metric"))
      .sortWithinPartitions(col("pair"), col("metric"), col("pos"), col("side"))
      .as[(String, String, Long, Int, Array[Float])]
      .mapPartitions { it =>
        // per side, the last `perWindow` blocks, slot = block number mod perWindow
        val at = Array.fill(2, perWindow)(Long.MinValue)
        val held = Array.fill(2, perWindow)(null: Array[Float])
        def slot(pos: Long) = Math.floorMod(Math.floorDiv(pos, blockUs), perWindow.toLong).toInt
        def window(side: Int, w0: Long): Array[Float] = {
          val out = new Array[Float](npts)
          val len = npts / perWindow
          var j = 0
          while (j < perWindow) {
            val p = w0 + j * blockUs
            val s = slot(p)
            if (at(side)(s) == p) System.arraycopy(held(side)(s), 0, out, j * len, len)
            j += 1
          }
          out
        }
        var pair: String = null
        var metric: String = null
        var last = Long.MinValue
        it.flatMap { case (p, m, pos, side, v) =>
          if (p != pair || m != metric) {
            pair = p; metric = m; last = Long.MinValue
            at.foreach(java.util.Arrays.fill(_, Long.MinValue))
          }
          val cell = if (side == Marker) true else {
            val s = slot(pos)
            at(side)(s) = pos
            held(side)(s) = v
            !marked && side == 1 && at(0)(s) == pos
          }
          if (!cell || pos == last) Iterator.empty
          else {
            last = pos
            val w0 = pos - (perWindow - 1) * blockUs
            Iterator.single(kernelRow(p, m, DateTimeUtils.toJavaTimestamp(w0),
              window(0, w0), window(1, w0), delta, halfWin, normalize, clipLagSec, hashInputs))
          }
        }
      }
  }

  /** Plane-wave beamforming per (metric, window) (↔ xcorr-beamform):
    * the [[windows]] of the conversations in `coords` are the receivers,
    * and [[Beamform.planeWave]] solves each (metric, win_start) group
    * with its receivers in conv_id order. A group with fewer than 3 such
    * receivers, or with an all-zero receiver window, yields no row.
    *
    * @param coords receiver (x, y) per conv_id
    * @return (metric, win_start, doa_deg, velocity, residual)
    */
  def planeWaves(wins: DataFrame, coords: Map[String, (Double, Double)], stepSec: Long): DataFrame = {
    val spark = wins.sparkSession
    import spark.implicits._
    wins.select(col("metric"), col("win_start"), col("conv_id"),
        col("values").cast("array<double>").as("values"))
      .as[(String, Timestamp, String, Array[Double])]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (String, Timestamp), it: Iterator[(String, Timestamp, String, Array[Double])]) =>
        val m = it.map(r => r._3 -> r._4).toMap
        val keys = coords.keys.toSeq.sorted.filter(m.contains)
        if (keys.size >= 3 && keys.forall(k => m(k).exists(_ != 0.0))) {
          val res = Beamform.planeWave(
            keys.map(coords).toArray, keys.map(m).toArray, delta = stepSec.toDouble)
          Iterator((key._1, key._2, res.doaDeg, res.velocity, res.residual))
        } else Iterator.empty
      }
      .toDF("metric", "win_start", "doa_deg", "velocity", "residual")
  }

  private def sha256Floats(a: Array[Float], b: Array[Float]): String = {
    val bb = java.nio.ByteBuffer.allocate(4 * (a.length + b.length))
    a.foreach(bb.putFloat)
    b.foreach(bb.putFloat)
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(bb.array()).map("%02x".format(_)).mkString
  }

  private def toDoubles(f: Array[Float]): Array[Double] = {
    val d = new Array[Double](f.length)
    var i = 0
    while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
    d
  }
}
