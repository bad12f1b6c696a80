package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Rollup.floorDiv

/** Coincidence trigger over a per-(key, time) characteristic function
  * (e.g. the snr table) — the reference's network coincidence trigger
  * re-expressed as gaps-and-islands window functions
  * (/root/reference/xcorr/signal/trigger.py:29-200: threshold-on over the
  * key dimension, coincidence sum, drop periods shorter than
  * `minDurationSteps`, optional ±extend, dense period index).
  *
  * Scale shape: the islands sort is PARTITIONED by a coarse time bucket
  * (`bucketSteps` grid steps per bucket), so no task ever sorts the whole
  * time axis — a years-long 1 s grid stays many-task. Islands that touch a
  * bucket edge (≤ 2 per bucket, regardless of data) are stitched across
  * buckets in a second pass whose input is bounded by 2·n_buckets rows,
  * and the final dense period index orders only the trigger periods
  * themselves (output-sized, not grid-sized).
  */
object Trigger {

  /** Default time-bucket width, in grid steps, of the islands sort and of
    * the period join. */
  private val BucketSteps = 4096

  /** @param cf   DataFrame(key, time, value) characteristic function
    * @param thrOn trigger when value > thrOn
    * @param coincidence minimum number of distinct keys simultaneously on
    * @param stepSec the regular time-grid step of `time`
    * @param minDurationSteps drop periods shorter than this many steps
    *                         (reference default 3·window_step,
    *                         trigger.py:96-99,166-168)
    * @param extendSteps widen each period by this many steps on both sides
    *                    (trigger.py extend semantics)
    * @param bucketSteps islands-window partition width in grid steps
    * @return (period, period_start, period_end, n_steps) with `period` a
    *         dense 0-based index in time order (trigger.py:161-185 labels)
    */
  def periods(
      cf: DataFrame,
      thrOn: Double,
      coincidence: Int,
      stepSec: Long,
      minDurationSteps: Int = 3,
      extendSteps: Int = 0,
      bucketSteps: Int = BucketSteps
  ): DataFrame = {
    val stepUs = stepSec * 1000000L
    val active = cf.where(col("value") > thrOn)
      .groupBy(col("time"))
      .agg(countDistinct(col("key")).as("n_on"))
      .where(col("n_on") >= coincidence)
      .withColumn("step_idx", expr(floorDiv("unix_micros(cast(time as timestamp))", stepUs)))
      .withColumn("bucket", expr(floorDiv("step_idx", bucketSteps)))

    // per-bucket gaps-and-islands: the sort is partitioned, never global
    val w = Window.partitionBy(col("bucket")).orderBy(col("step_idx"))
    val islands = active
      .withColumn("grp", col("step_idx") - row_number().over(w))
      .groupBy(col("bucket"), col("grp"))
      .agg(
        min(col("time")).as("period_start"), max(col("time")).as("period_end"),
        min(col("step_idx")).as("s0"), max(col("step_idx")).as("s1"),
        count(lit(1)).as("n_steps"))
      .withColumn("at_edge",
        col("s0") === col("bucket") * bucketSteps ||
          col("s1") === (col("bucket") + 1) * bucketSteps - 1)
      .drop("bucket", "grp")

    // stitch pass: only edge-touching islands can continue across buckets.
    // Adjacency (s0 == previous s1 + 1) can only hold at a bucket edge, so
    // interior islands are final as-is. The stitch window is global but its
    // input is <= 2 rows per bucket — output-bounded, not grid-bounded.
    val interior = islands.where(!col("at_edge")).drop("at_edge")
    val wb = Window.orderBy(col("s0"))
    val stitched = islands.where(col("at_edge")).drop("at_edge")
      .withColumn("chain_break",
        when(col("s0") === lag(col("s1"), 1).over(wb) + 1, 0).otherwise(1))
      .withColumn("chain", sum(col("chain_break")).over(
        wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("chain"))
      .agg(
        min(col("period_start")).as("period_start"),
        max(col("period_end")).as("period_end"),
        min(col("s0")).as("s0"), max(col("s1")).as("s1"),
        sum(col("n_steps")).as("n_steps"))
      .drop("chain")

    val merged = interior.unionByName(stitched)
      .where(col("n_steps") >= minDurationSteps)
      .drop("s0", "s1")
    val extended =
      if (extendSteps == 0) merged
      else merged
        .withColumn("period_start", expr(s"period_start - interval ${extendSteps * stepSec} seconds"))
        .withColumn("period_end", expr(s"period_end + interval ${extendSteps * stepSec} seconds"))
    // dense period labels: ordered over the final periods only (output-sized)
    extended
      .withColumn("period", row_number().over(Window.orderBy(col("period_start"))) - 1)
      .select("period", "period_start", "period_end", "n_steps")
  }

  /** Join the period labels back onto the characteristic function
    * (trigger_values, /root/reference/xcorr/signal/trigger.py:203-266).
    * Equi-join on a coarse time bucket + residual range filter — a pure
    * `time BETWEEN start AND end` theta join degrades to a broadcast
    * nested loop; exploding each period into the buckets it overlaps keeps
    * this a hash join at any period count.
    */
  def values(cf: DataFrame, periodsDf: DataFrame, stepSec: Long): DataFrame = {
    val bUs = stepSec * 1000000L * BucketSteps
    val p = periodsDf.withColumn("b", explode(expr(
      s"sequence(${floorDiv("unix_micros(cast(period_start as timestamp))", bUs)}, " +
        s"${floorDiv("unix_micros(cast(period_end as timestamp))", bUs)})")))
    cf.withColumn("b", expr(floorDiv("unix_micros(cast(time as timestamp))", bUs)))
      .join(p, Seq("b"))
      .where(col("time") >= col("period_start") && col("time") <= col("period_end"))
      .select(col("period"), col("key"), col("time"), col("value"))
  }
}
