package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.CcRow
import graft.kernel.{Beamform, Cc}

/** Pairwise windowed cross-correlation — the engine's flagship operator
  * (reference inner loop: /root/reference/xcorr/core/process.py:82-172,
  * kernel /root/reference/xcorr/util/cc.py:22-79).
  *
  * Execution shape (SURVEY.md §3.1 Spark shape):
  *   series → overlapping-window explode → per-(conv, metric, window) value
  *   arrays → pair join → mapPartitions FFT kernel.
  *
  * Scale notes:
  *  - The window explode fans each point out `window/stride` ways (the
  *    reference's 86400 s window at 21/24 overlap = 8×,
  *    /root/reference/xcorr/scripts/cc.py:28) — a narrow map, no shuffle.
  *  - Window assembly shuffles once on (conv_id, metric, win_start).
  *  - Window values ride the shuffle as FLOAT32 (the reference's cc dtype,
  *    /root/reference/xcorr/core/init.py:84-85) — halves the bytes of the
  *    two big exchanges (assembly + pair join). The ingest series values
  *    are integral counts, so the pack is lossless (< 2^24).
  *  - The pair join broadcasts the (small) pair list and shuffles windows
  *    on the join key — keys include conv_id, so hot windows spread.
  *  - Before the kernel we repartition by (pair, win_start) hash: the FFT
  *    is the expensive stage, and this is the explicit conv_id-hash
  *    partitioning + skew spreading the north rule asks for (a hot conv
  *    appearing in many pairs lands on many partitions, since the hash
  *    covers BOTH conv ids and the window start).
  *  - Incomplete windows are dropped (window must fit the per-key span),
  *    mirroring the reference's strict sample-count gate
  *    (/root/reference/xcorr/stream/client.py:1019-1050).
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
      .agg(collect_list(struct(pointCols(stepSec): _*)).as("sparse_pts"))

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

  /** A [[windowPoints]] row's grid offset in its window (`idx`) and its
    * float32 value (`v`).
    */
  private def pointCols(stepSec: Long): Seq[Column] = Seq(
    ((unix_timestamp(col("ts").cast("timestamp")) - col("win_start_s")) / stepSec).cast("int").as("idx"),
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

  /** The per-(pair, window) body of [[ccPairs]]: widens the float32
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
    * @param pairs DataFrame(conv_a, conv_b) with conv_a < conv_b — small,
    *              broadcast to both joins.
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
    // Single-shuffle pair assembly. The naive shape — wins self-joined
    // through the pair list and then repartitioned for the kernel — costs
    // THREE exchanges of the window arrays and computes the wins lineage
    // twice (one per join side). Instead each window row is tagged with
    // every (pair, side) it participates in via ONE broadcast join (a
    // narrow map), and a single groupBy on (pair, metric, win_start)
    // assembles both sides — one exchange of the arrays total, and the
    // aggregation output is already hash-partitioned by a key containing
    // both conv ids AND the window, so hot conversations spread across
    // partitions for the FFT stage with no extra repartition.
    val joined = wins
      .join(broadcast(pairSides(pairs)), Seq("conv_id"))
      .groupBy(col("pair"), col("metric"), col("win_start"))
      .agg(
        first(when(col("side") === 0, col("values")), ignoreNulls = true).as("va"),
        first(when(col("side") === 1, col("values")), ignoreNulls = true).as("vb"))
      // strict completeness: both sides must have a complete window
      // (mirrors the two-sided inner join / the reference's sample-count
      // gate, client.py:1019-1050)
      .where(col("va").isNotNull && col("vb").isNotNull)
      .select(col("pair"), col("metric"), col("win_start"), col("va"), col("vb"))
      .as[(String, String, Timestamp, Array[Float], Array[Float])]

    val delta = stepSec.toDouble
    val halfWin = windowSec / 2.0
    joined.mapPartitions { it =>
      it.map { case (pairId, metric, winStart, vaF, vbF) =>
        kernelRow(pairId, metric, winStart, vaF, vbF,
          delta, halfWin, normalize, clipLagSec, hashInputs)
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
