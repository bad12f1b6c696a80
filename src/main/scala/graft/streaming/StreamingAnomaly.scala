package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Live trailing-window median/MAD anomaly flags — the streaming face of
  * [[graft.ops.SeriesStats.trailingMadAnomaly]] (the robust counterpart
  * of the reference's running-RMS pre-trigger statistics,
  * /root/reference/xcorr/signal/rms.py:15-60, kept fresh over a live
  * series feed).
  *
  * A trailing window depends only on the PAST, so every flag is final
  * the moment its row arrives: no watermark, no sealing delay —
  * `flatMapGroupsWithState` in append mode with NoTimeout, emitting one
  * flag per input row. State per key is the last `win - 1` values
  * (a few longs — bounded by construction, unlike time-range state).
  *
  * Ordering contract: rows may arrive unordered WITHIN a micro-batch
  * (they are sorted per key before folding) but batches must not interleave time across
  * batch boundaries — the upstream is a sealed, in-order feed such as
  * the tier-1 rollup sink. [[fold]] is the pure per-key step; the
  * split-vs-whole law (folding a prefix, carrying the tail, folding the
  * rest == folding everything at once) is what makes micro-batch
  * boundaries invisible, and is spec-gated directly.
  */
object StreamingAnomaly {

  final case class Flag(key: String, ts: Timestamp, x: Long,
      med2: Long, mad4: Long, is_anomaly: Boolean)

  /** Last `win - 1` values, oldest first. */
  final case class Tail(xs: List[Long])

  /** Twice-the-median of a sorted array — same 1-indexed arithmetic as
    * the SQL `element_at` form in SeriesStats (integer for any n).
    */
  private def twiceMedian(sorted: Array[Long]): Long = {
    val n = sorted.length
    if (n % 2 == 1) 2L * sorted((n - 1) / 2)
    else sorted(n / 2 - 1) + sorted(n / 2)
  }

  /** Pure per-key fold: flags for `rows` (already sorted by ts) given the
    * carried tail, plus the new tail. Exactly the batch operator's
    * trailing frame: window = tail ++ current, trimmed to `win` rows.
    */
  def fold(prior: List[Long], rows: Seq[(Timestamp, Long)], win: Int, k: Int): (Seq[Flag0], List[Long]) = {
    var tail = prior
    val out = rows.map { case (ts, x) =>
      val window = (tail :+ x).takeRight(win).toArray
      val sorted = window.sorted
      val med2 = twiceMedian(sorted)
      val dev2 = window.map(v => math.abs(2L * v - med2)).sorted
      val mad4 = twiceMedian(dev2)
      tail = (tail :+ x).takeRight(win - 1)
      Flag0(ts, x, med2, mad4, 2L * math.abs(2L * x - med2) > k.toLong * mad4)
    }
    (out, tail)
  }

  final case class Flag0(ts: Timestamp, x: Long, med2: Long, mad4: Long, is_anomaly: Boolean)

  /** Flag a live series stream. Input columns: `keyCol` (cast to string),
    * `tsCol` timestamp, `valueCol` integral.
    */
  def flags(
      input: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      win: Int,
      k: Int): Dataset[Flag] = {
    require(win >= 2, s"win must be >= 2, got $win")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = input.sparkSession
    import spark.implicits._
    input
      .select(col(keyCol).cast("string").as("key"),
        col(tsCol).cast("timestamp").as("ts"),
        col(valueCol).cast("long").as("x"))
      .as[(String, Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Timestamp, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Tail]) =>
          val prior = if (state.exists) state.get.xs else Nil
          // ms + nanos: getTime alone truncates sub-millisecond order
          val batch = rows.map(r => (r._2, r._3)).toArray
            .sortBy(t => (t._1.getTime, t._1.getNanos))
          val (flags, tail) = fold(prior, batch.toSeq, win, k)
          state.update(Tail(tail))
          flags.iterator.map(f => Flag(key, f.ts, f.x, f.med2, f.mad4, f.is_anomaly))
      }
  }
}
