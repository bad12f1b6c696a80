package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.CcRow
import graft.ops.Correlate

/** Streaming pairwise windowed cross-correlation — the flagship operator
  * over a LIVE series feed, as a `flatMapGroupsWithState` stateful operator
  * with an event-time timeout:
  *
  *  - each nonzero point is exploded into the windows it serves (the batch
  *    Correlate.windows explode) and tagged with every (pair, side) via a
  *    stream-static join against the pair list (the batch ccPairs tagging);
  *  - state per (pair, metric, win_start) = the accumulated sparse
  *    (side, idx, value) points of the still-open window — bounded by
  *    occupied points per window, and GC'd by the watermark;
  *  - when the watermark passes the window end, the window SEALS: the
  *    state densifies both sides, the identical batch kernel
  *    (Correlate.kernelRow) runs, and exactly one CcRow is emitted.
  *
  * Semantics vs batch: inside a sealed window, silence is real zeros (a
  * live feed is gap-filled by time passing). The batch path additionally
  * drops windows not covered by the key's OBSERVED span — a stream has no
  * span, so windows overlapping the head of a feed appear with leading
  * zeros (status=-1 if a whole side is silent). Every batch-emitted sealed
  * window appears here with an identical cc array (asserted in
  * IoStreamingSpec); all-zero-on-both-sides windows are absent (no state
  * ever existed).
  */
object StreamingCc {

  /** sparse points of one open window: (side, idx, value) */
  final case class WinState(pts: List[(Int, Int, Float)])

  def ccWindows(
      series: DataFrame, // streaming: (conv_id, metric, ts, value)
      pairs: DataFrame,  // static: (conv_a, conv_b), conv_a < conv_b
      windowSec: Long,
      strideSec: Long,
      stepSec: Long,
      normalize: Boolean = true,
      lateness: String = "0 seconds"
  ): Dataset[CcRow] = {
    Correlate.checkGrid(windowSec, strideSec, stepSec)
    val spark = series.sparkSession
    import spark.implicits._
    val npts = (windowSec / stepSec).toInt
    val delta = stepSec.toDouble
    val halfWin = windowSec / 2.0

    val tagged = Correlate.windowPoints(series.withWatermark("ts", lateness), windowSec, strideSec, stepSec)
      .join(Correlate.pairSides(pairs), Seq("conv_id")) // stream-static inner join (watermark survives)
      // the watermarked ts column must reach the stateful operator's input
      // (the event-time-timeout check looks for it in the child output)
      .select(Seq(col("pair"), col("metric"), col("win_start_s"), col("side")) ++
        Correlate.pointCols(stepSec) :+ col("ts"): _*)
      .as[(String, String, Long, Int, Int, Float, Timestamp)]

    def seal(key: (String, String, Long), pts: List[(Int, Int, Float)]): CcRow = {
      val vaF = new Array[Float](npts)
      val vbF = new Array[Float](npts)
      pts.foreach { case (side, idx, v) => (if (side == 0) vaF else vbF)(idx) = v }
      Correlate.kernelRow(key._1, key._2, new Timestamp(key._3 * 1000L),
        vaF, vbF, delta, halfWin, normalize,
        unbiased = false, clipLagSec = -1, hashInputs = false)
    }

    val fn = (key: (String, String, Long),
              rows: Iterator[(String, String, Long, Int, Int, Float, Timestamp)],
              state: GroupState[WinState]) => {
      if (state.hasTimedOut) {
        val pts = state.get.pts
        state.remove()
        Iterator.single(seal(key, pts))
      } else {
        val merged = rows.map(r => (r._4, r._5, r._6)).toList :::
          (if (state.exists) state.get.pts else Nil)
        val sealMs = (key._3 + windowSec) * 1000L
        if (state.getCurrentWatermarkMs() >= sealMs) {
          // the watermark already passed the window end (points arrived in
          // the sealing batch): emit now, never store
          state.remove()
          Iterator.single(seal(key, merged))
        } else {
          state.update(WinState(merged))
          state.setTimeoutTimestamp(sealMs)
          Iterator.empty
        }
      }
    }

    tagged
      .groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }
}
