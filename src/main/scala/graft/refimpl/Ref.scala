package graft.refimpl

import graft.core.{RollupRow, Transcript}
import graft.kernel.Cc

/** Single-node reference pipeline on plain Scala collections — the oracle
  * for the exact-match rollup gate (BASELINE.md (b)): Spark output must
  * equal this bit-for-bit at every retention tier. Shares only the
  * numpy-verified CC kernel with the Spark path; all relational logic
  * (bucketing, gap-fill, tier folds) is written independently here.
  */
object Ref {

  final case class Point(convId: String, metric: String, tsMs: Long, value: Double)

  def tokenCount(text: String): Int = {
    val t = text.trim
    if (t.isEmpty) 0 else t.split("\\s+").length
  }

  /** Bucketize + gap-fill, mirroring Ingest.series semantics. */
  def series(transcripts: Seq[Transcript], stepSec: Long): Seq[Point] = {
    val stepMs = stepSec * 1000
    val byConv = transcripts.groupBy(_.conv_id)
    byConv.toSeq.sortBy(_._1).flatMap { case (cid, turns) =>
      val buckets = turns.groupBy(t => Math.floorDiv(t.ts.getTime, stepMs) * stepMs)
      val t0 = buckets.keys.min
      val t1 = buckets.keys.max
      (t0 to t1 by stepMs).flatMap { ts =>
        val inBucket = buckets.getOrElse(ts, Seq.empty)
        Seq(
          Point(cid, "turn_rate", ts, inBucket.size.toDouble),
          Point(cid, "token_volume", ts, inBucket.map(t => tokenCount(t.text).toLong).sum.toDouble)
        )
      }
    }
  }

  /** Floor epoch-ms to a UTC calendar unit (minute/hour/day). */
  def truncMs(tsMs: Long, unit: String): Long = unit match {
    case "minute" => Math.floorDiv(tsMs, 60000L) * 60000L
    case "hour"   => Math.floorDiv(tsMs, 3600000L) * 3600000L
    case "day"    => Math.floorDiv(tsMs, 86400000L) * 86400000L
    case u        => throw new IllegalArgumentException(u)
  }

  final case class Stats(n: Long, sum: Double, min: Double, max: Double, first: Double, last: Double)

  def rollup(points: Seq[Point], unit: String): Map[(String, String, Long), Stats] =
    points.groupBy(p => (p.convId, p.metric, truncMs(p.tsMs, unit))).map { case (k, ps) =>
      val sorted = ps.sortBy(_.tsMs)
      k -> Stats(
        n = ps.size.toLong,
        sum = ps.map(_.value).sum,
        min = ps.map(_.value).min,
        max = ps.map(_.value).max,
        first = sorted.head.value,
        last = sorted.last.value
      )
    }

  def rollupFromLower(lower: Map[(String, String, Long), Stats], unit: String): Map[(String, String, Long), Stats] =
    lower.groupBy { case ((c, m, ts), _) => (c, m, truncMs(ts, unit)) }.map { case (k, cells) =>
      val sorted = cells.toSeq.sortBy(_._1._3)
      k -> Stats(
        n = sorted.map(_._2.n).sum,
        sum = sorted.map(_._2.sum).sum,
        min = sorted.map(_._2.min).min,
        max = sorted.map(_._2.max).max,
        first = sorted.head._2.first,
        last = sorted.last._2.last
      )
    }

  final case class CcCell(pair: String, metric: String, winStartMs: Long, cc: Array[Double], shift: Double, ccMax: Double)

  /** Windowed pairwise CC, mirroring Correlate.windows + ccPairs. */
  def ccPairs(
      points: Seq[Point],
      pairs: Seq[(String, String)],
      stepSec: Long,
      windowSec: Long,
      strideSec: Long,
      normalize: Boolean = true
  ): Seq[CcCell] = {
    val stepMs = stepSec * 1000
    val npts = (windowSec / stepSec).toInt
    // complete windows per (conv, metric)
    val byKey = points.groupBy(p => (p.convId, p.metric))
    def windowsOf(cid: String, metric: String): Map[Long, Array[Double]] = {
      val ps = byKey.getOrElse((cid, metric), Seq.empty).sortBy(_.tsMs)
      if (ps.isEmpty) return Map.empty
      val byTs = ps.map(p => p.tsMs -> p.value).toMap
      val t0 = ps.head.tsMs
      val t1 = ps.last.tsMs
      val strideMs = strideSec * 1000
      val starts = (0L to t1 / strideMs).map(_ * strideMs)
        .filter(w => w >= t0 - (windowSec * 1000 - stepMs) && w <= t1)
      starts.flatMap { w =>
        val grid = (0 until npts).map(i => w + i * stepMs)
        // float32 round-trip mirrors the engine's float32 window packing
        // (lossless for integral counts; reference cc dtype init.py:84-85)
        if (grid.forall(byTs.contains)) Some(w -> grid.map(t => byTs(t).toFloat.toDouble).toArray)
        else None
      }.toMap
    }
    for {
      (ca, cb) <- pairs.sortBy(identity)
      metric <- Seq("token_volume", "turn_rate")
      wa = windowsOf(ca, metric)
      wb = windowsOf(cb, metric)
      w <- (wa.keySet intersect wb.keySet).toSeq.sorted
    } yield {
      val rxy = Cc.cc(wa(w), wb(w), normalize = normalize)
      val (shift, mx) = Cc.extractShiftAndMax(rxy, stepSec.toDouble)
      CcCell(s"$ca-$cb", metric, w, rxy, shift, mx)
    }
  }
}
