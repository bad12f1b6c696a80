package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import graft.core.CcRow
import graft.kernel.{Beamform, Cc}

/** Pairwise windowed cross-correlation — the engine's flagship operator
  * (reference inner loop: /root/reference/xcorr/core/process.py:82-172,
  * kernel /root/reference/xcorr/util/cc.py:22-79).
  *
  * Execution shape (SURVEY.md §3.1 Spark shape): one ordered block walk per
  * key, fed by ONE key exchange.
  *   - [[ccCells]] (the CC job's path) densifies each series once into
  *     blocks of B = gcd(window, stride) seconds, tags the blocks with every
  *     (pair, side) they serve, and unions them with one marker row per
  *     requested cell. [[ccPairs]] feeds the same walk whole windows
  *     (B = window) and no markers. [[windows]] walks the blocks per
  *     (conv_id, metric) and emits the window itself at each marker.
  *   - The rows move through a single `repartition(n, key, metric)` and
  *     are sorted by (key, metric, block start); each partition walks its
  *     keys in that order and runs [[kernelRow]] once per pair cell.
  *   - A window of W/B consecutive blocks is built from the blocks, not
  *     re-exploded per window (Factor Windows, ICDE 2022), and the walk keeps
  *     only the W/B blocks per side that the current frame needs
  *     (Arbitrarily-Framed Holistic SQL Aggregates, SIGMOD 2022).
  *
  * Scale notes:
  *  - Each nonzero point rides the block exchange once. In [[ccCells]] each
  *    block rides the pair exchange once per pair of its conversation; in
  *    [[windows]] once, as do its markers.
  *  - Block and window values ride the shuffles as FLOAT32 (the reference's
  *    cc dtype, xcorr/core/init.py:84-85). The ingest series
  *    values are integral counts, so the pack is lossless (< 2^24).
  *  - The pair exchange's partition count is explicit (as in
  *    `Ingest.series`): AQE must not coalesce the FFT stage's KB-scale input
  *    onto one task.
  *  - Skew: a hot conversation still spreads, since its blocks go to every
  *    pair it belongs to and the pairs hash apart. One pair's history is one
  *    task's walk, bounded to W/B blocks per side in memory. A hot
  *    conversation has more turns per bucket, not more blocks.
  *  - Incomplete windows get no cell: the job's work list holds only windows
  *    that fit both sides' spans, mirroring the reference's strict
  *    sample-count gate (reference xcorr/stream/client.py:1019-1050).
  */
object Correlate {

  /** The complete-window candidate list (conv_id, metric, win_start_s):
    * every start of [[bounds]], computed from the tiny one-row-per-key
    * spans table WITHOUT assembling any value arrays.
    */
  def candidates(
      series: DataFrame,
      windowSec: Long,
      strideSec: Long,
      stepSec: Long
  ): DataFrame = {
    val n = series.sparkSession.sessionState.conf.numShufflePartitions
    bounds(series, windowSec, strideSec, stepSec)
      .repartition(n, col("conv_id"), col("metric"))
      .select(col("conv_id"), col("metric"),
        explode(expr(s"sequence(lo, hi, $strideSec)")).as("win_start_s"))
  }

  /** The window-start bounds of each key with a complete window:
    * (conv_id, metric, lo, hi), the stride-aligned starts s in [lo, hi]
    * (epoch seconds) being those whose whole window lies in the key's span
    * [t0, t1]. This is the engine's availability pre-gate
    * (↔ reference xcorr/core/lazy.py:128-177: a cheap availability
    * query decides the work list; the heavy fetch only happens for items
    * that pass): [[candidates]] explodes it, and the CC job collects it for
    * the paired conversations to plan its cells.
    */
  private[graft] def bounds(
      series: DataFrame,
      windowSec: Long,
      strideSec: Long,
      stepSec: Long
  ): DataFrame =
    series.groupBy(col("conv_id"), col("metric"))
      .agg(min(unix_timestamp(col("ts").cast("timestamp"))).as("t0"),
        max(unix_timestamp(col("ts").cast("timestamp"))).as("t1"))
      .withColumn("lo", expr(s"CAST(ceil(t0 / $strideSec) AS BIGINT) * $strideSec"))
      // floor (not DIV, which truncates toward zero): a negative numerator
      // — span shorter than one window near epoch 0 — must round DOWN so
      // lo<=hi correctly rejects the incomplete window instead of emitting
      // it with fabricated zero fill beyond the series end
      .withColumn("hi", expr(s"CAST(floor((t1 - $windowSec + $stepSec) / $strideSec) AS BIGINT) * $strideSec"))
      .where(col("lo") <= col("hi")) // alignment can leave no valid window
      .select(col("conv_id"), col("metric"), col("lo"), col("hi"))

  /** The complete windows of the gap-filled series, one row per
    * [[candidates]] row: (conv_id, metric, win_start, values), `values` the
    * window's time-ordered grid points. `series` may be sparse (occupied
    * buckets only): a grid point it lacks is zero. Built from the blocks
    * of [[ccCells]] by the same walk, keyed by (conv_id, metric).
    *
    * DTYPE CONTRACT: `values` is float32 — the reference's cc dtype
    * (reference xcorr/core/init.py:84-85). This is LOSSLESS for the
    * ingest path (integral counts < 2^24) but quantizes preprocessed
    * series at ~1e-7 relative, the precision the reference stores; callers
    * needing full double precision should window over their own grid.
    */
  def windows(
      series: DataFrame,
      windowSec: Long,
      strideSec: Long,
      stepSec: Long
  ): DataFrame = {
    checkGrid(windowSec, strideSec, stepSec)
    val spark = series.sparkSession
    import spark.implicits._
    val blockSec = BigInt(windowSec).gcd(BigInt(strideSec)).toLong
    val blocks = blocksOf(series, blockSec, stepSec)
      .select(col("conv_id"), col("metric"), (col("block_s") * 1000000L).as("pos"),
        lit(0).as("side"), col("pts"))
    // a window is complete iff it fits the key's span (the gap-filled grid
    // covers [t0, t1] densely), so the markers come from the spans-only
    // candidates; a marker sorts after its window's LAST block
    val markers = candidates(series, windowSec, strideSec, stepSec)
      .select(col("conv_id"), col("metric"),
        ((col("win_start_s") + windowSec - blockSec) * 1000000L).as("pos"),
        lit(Marker).as("side"), lit(null).cast("array<struct<idx:int,v:float>>").as("pts"))
    // the blocks cross the exchange sparse and the codegen'd DensifyFloat
    // runs after it, on block rows only (a marker carries no block): right
    // after the block aggregate the optimizer would fold it into the
    // aggregate, out of the PlanSpec gates' sight
    val values = when(col("side") =!= Marker,
      graft.functions.DensifyFloat(col("pts"), (blockSec / stepSec).toInt))
    walk(blocks.unionByName(markers), values, sides = 1,
        perWindow = (windowSec / blockSec).toInt, blockSec, (windowSec / stepSec).toInt,
        marked = true) { (conv, metric, w0, win) =>
      (conv, metric, DateTimeUtils.toJavaTimestamp(w0), win(0))
    }.toDF("conv_id", "metric", "win_start", "values")
  }

  /** The grid the window operators assume: window and stride are whole
    * numbers of grid steps, and consecutive windows leave no gap.
    */
  private[graft] def checkGrid(windowSec: Long, strideSec: Long, stepSec: Long): Unit = {
    require(windowSec % stepSec == 0, "window must be a multiple of the grid step")
    require(strideSec % stepSec == 0, "stride must be a multiple of the grid step")
    require(strideSec <= windowSec, "stride must not exceed the window (no gaps)")
  }

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
    * as the ring pairing of pipebench's cc_batch), exactly as the reference
    * takes its pair list from explicit config
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

  /** The per-cell body of the pair walk: widens the float32 windows of
    * conv_a and conv_b, starting at `w0` (epoch µs), to double and
    * correlates them.
    */
  private def kernelRow(
      pairId: String, metric: String, w0: Long, wins: Array[Array[Float]],
      stepSec: Long, windowSec: Long,
      normalize: Boolean, clipLagSec: Double,
      hashInputs: Boolean
  ): CcRow = {
    val (vaF, vbF) = (wins(0), wins(1))
    val va = toDoubles(vaF)
    val vb = toDoubles(vbF)
    val delta = stepSec.toDouble
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
      win_start = DateTimeUtils.toJavaTimestamp(w0),
      cc = clipped,
      status = if (degenerate) -1 else 1,
      // both series share the ingest grid → start-time difference 0
      // (reference pair_offset, /root/reference/xcorr/core/init.py:275-287)
      pair_offset = 0.0,
      // first sample start vs window center (init.py:290-302)
      time_offset = -windowSec / 2.0,
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
    val spark = wins.sparkSession
    import spark.implicits._
    val blocks = wins
      .join(broadcast(pairSides(pairs)), Seq("conv_id"))
      .select(col("pair"), col("metric"), unix_micros(col("win_start")).as("pos"),
        col("side"), col("values"))
    walk(blocks, col("values"), sides = 2, perWindow = 1, blockSec = windowSec,
      (windowSec / stepSec).toInt, marked = false)(
      kernelRow(_, _, _, _, stepSec, windowSec, normalize, clipLagSec, hashInputs))
  }

  /** The CC cells of a work list: one row per (conv_a, conv_b, metric,
    * win_start) of `cells.df`, each window a complete one of both sides'
    * `series` (the CC job passes its pending cells, planned from
    * [[bounds]]). `series` may be sparse (occupied buckets only): a grid
    * point or block it lacks is zero.
    *
    * The series is densified once into blocks of gcd(window, stride)
    * seconds, keyed by (conv_id, metric, block start) — floored, so
    * pre-epoch blocks hold their own points. The blocks are tagged with
    * every (pair, side) of `cells.pairs` they serve and unioned with one
    * marker per cell; the walk builds each marked window from its
    * window/block consecutive blocks. Same per-cell result as [[windows]] →
    * [[ccPairs]] restricted to the cells (OpsSpec and PipelineSpec check
    * both against `Ref.ccPairs`).
    */
  def ccCells(
      series: DataFrame,
      cells: Cells,
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
    // the driver's pair list filters the series and, broadcast, tags the blocks
    val pairs = cells.pairs.map(_._1)
    val convs = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val blocks = blocksOf(series.where(col("conv_id").isin(convs: _*)), blockSec, stepSec)
      .join(broadcast(pairSides(pairs.toDF("conv_a", "conv_b"))), Seq("conv_id"))
      .select(col("pair"), col("metric"), (col("block_s") * 1000000L).as("pos"), col("side"),
        graft.functions.DensifyFloat(col("pts"), (blockSec / stepSec).toInt).as("values"))
    // a marker sorts after its window's LAST block
    val markers = cells.df.select(pairId.as("pair"), col("metric"),
      (unix_micros(col("win_start")) + (windowSec - blockSec) * 1000000L).as("pos"),
      lit(Marker).as("side"), lit(null).cast("array<float>").as("values"))
    walk(blocks.unionByName(markers), col("values"), sides = 2,
      perWindow = (windowSec / blockSec).toInt, blockSec, (windowSec / stepSec).toInt, marked = true)(
      kernelRow(_, _, _, _, stepSec, windowSec, normalize, clipLagSec, hashInputs))
  }

  /** Cells to correlate: `df` holds one row (conv_a, conv_b, metric,
    * win_start) per cell, distributed; `pairs` holds, on the driver, each
    * distinct (conv_a, conv_b) of `df` with its cell count.
    */
  final case class Cells(df: DataFrame, pairs: Seq[((String, String), Long)]) {
    def count: Long = pairs.map(_._2).sum
  }

  /** The nonzero points of `series` in blocks of `blockSec` seconds:
    * (conv_id, metric, block_s, pts), `block_s` the floored block start in
    * epoch seconds (so pre-epoch blocks hold their own points), `pts` the
    * points as (grid offset in the block, float32 value).
    */
  private def blocksOf(series: DataFrame, blockSec: Long, stepSec: Long): DataFrame = {
    val ts = "unix_timestamp(cast(ts as timestamp))"
    val idx = ((unix_timestamp(col("ts").cast("timestamp")) - col("block_s")) / stepSec).cast("int")
    series
      .where(col("value") =!= 0.0)
      .withColumn("block_s", expr(Rollup.floorDiv(ts, blockSec)) * blockSec)
      .groupBy(col("conv_id"), col("metric"), col("block_s"))
      .agg(collect_list(struct(idx.as("idx"), col("value").cast("float").as("v"))).as("pts"))
  }

  /** `side` of a marker row: it sorts after both sides' blocks. */
  private val Marker = 2

  /** The block walk behind [[windows]], [[ccPairs]] and [[ccCells]].
    * `rows` are (key, metric, pos, side, block): a block of `blockSec`
    * seconds starting at `pos` (epoch µs) of one of the key's `sides`, or a
    * marker (side [[Marker]], null block) for the cell whose window ENDS
    * with the block at `pos`. One exchange on (key, metric), sorted by
    * (pos, side) within each key; then `values` gives each row's dense
    * block (the block column itself, or its densify). Each window is
    * `perWindow` consecutive blocks, `npts` grid points in all; a block a
    * side lacks is zeros. Unmarked, a cell is emitted wherever sides 0 and
    * 1 hold a block (then `perWindow` is 1 and a block is a whole window).
    * At each cell `emit` gets the key, the metric, the window start (epoch
    * µs) and the window of every side; each (key, metric, window) is
    * emitted at most once.
    */
  private def walk[T: Encoder](
      rows: DataFrame,
      values: Column,
      sides: Int,
      perWindow: Int,
      blockSec: Long,
      npts: Int,
      marked: Boolean
  )(emit: (String, String, Long, Array[Array[Float]]) => T): Dataset[T] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    val keyCol = col(rows.columns.head)
    val blockUs = blockSec * 1000000L
    rows
      .repartition(n, keyCol, col("metric"))
      .sortWithinPartitions(keyCol, col("metric"), col("pos"), col("side"))
      .select(keyCol, col("metric"), col("pos"), col("side"), values)
      .as[(String, String, Long, Int, Array[Float])]
      .mapPartitions { it =>
        // per side, the last `perWindow` blocks, slot = block number mod perWindow
        val at = Array.fill(sides, perWindow)(Long.MinValue)
        val held = Array.fill(sides, perWindow)(null: Array[Float])
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
        var key: String = null
        var metric: String = null
        var last = Long.MinValue
        it.flatMap { case (k, m, pos, side, v) =>
          if (k != key || m != metric) {
            key = k; metric = m; last = Long.MinValue
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
            Iterator.single(emit(k, m, w0, Array.tabulate(sides)(window(_, w0))))
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
