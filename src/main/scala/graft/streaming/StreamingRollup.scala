package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Ingest, Rollup}

/** Structured Streaming tier-1 rollup — the streaming layer SURVEY.md §2.6
  * sketches (the reference itself is batch-incremental via status flags;
  * this is the engine-new path for live transcript feeds): tumbling 1-minute
  * windows with a watermark bounding transcript lateness, emitting the same
  * composable stats as the batch tier so late-arriving turns fold into the
  * cascade identically.
  *
  * Usage: pass `spark.readStream.schema(...).parquet(dir)` (or any source
  * with the transcript schema); write with `.writeStream.outputMode("append")`
  * after the watermark closes windows.
  */
object StreamingRollup {

  /** Compose a HIGHER tier from the sealed lower-tier stats stream — the
    * streaming form of `Rollup.fromLower` and what a live retention
    * pipeline actually runs: tier-1 seals 1m cells (append mode after the
    * watermark closes them), those sealed rows land in the 1m table, and
    * this query folds them into 1h (then 1d) cells with the SAME
    * composable stats, so the streaming cascade is cell-for-cell equal to
    * the batch cascade on watermark-closed chunks (asserted in
    * IoStreamingSpec). Stats use sum/min/max plus min_by/max_by on the
    * (unique per key) lower chunk_start, exactly as the batch fold —
    * late-but-within-watermark lower cells merge correctly because the
    * stats compose.
    *
    * `unit` ∈ minute/hour/day. State per key is one stats row per OPEN
    * window, bounded by the watermark horizon over the lower tier's
    * chunk_start — not by history.
    */
  def fromSealed(lower: DataFrame, unit: String, lateness: String = "0 seconds"): DataFrame = {
    val span = unit match {
      case "minute" => "1 minute"
      case "hour"   => "1 hour"
      case "day"    => "1 day"
      case other    => throw new IllegalArgumentException(s"unsupported tier unit: $other")
    }
    lower
      .withWatermark("chunk_start", lateness)
      .groupBy(col("conv_id"), col("metric"), window(col("chunk_start"), span))
      .agg(Rollup.foldCols.head, Rollup.foldCols.tail: _*)
      .select(col("conv_id"), col("metric"), col("window.start").as("chunk_start"),
        col("n"), col("sum"), col("min"), col("max"), col("first"), col("last"))
  }

  /** Tier-1 in the composable STATS shape (conv_id, metric, chunk_start,
    * n/sum/min/max/first/last) — [[tier1m]] reshaped long so
    * [[fromSealed]] can fold it into higher tiers: each sealed 1m cell is
    * one occupied grid point of the batch 60 s series (n = 1, all stats =
    * the cell value), exactly `Rollup.fromPoints` over the stream's
    * occupied cells (streaming emits no gap-fill zeros — the documented
    * batch/stream difference).
    */
  def tier1Stats(transcripts: DataFrame, lateness: String = "5 minutes"): DataFrame =
    tier1m(transcripts, lateness)
      .selectExpr("conv_id", "chunk_start",
        "stack(2, 'turn_rate', turn_rate, 'token_volume', token_volume) as (metric, value)")
      .select(col("conv_id"), col("metric"), col("chunk_start"),
        lit(1L).as("n"), col("value").as("sum"), col("value").as("min"),
        col("value").as("max"), col("value").as("first"), col("value").as("last"))

  /** Per-(conv, 1m window) turn_rate/token_volume stats over a stream. */
  def tier1m(transcripts: DataFrame, lateness: String = "5 minutes"): DataFrame =
    transcripts
      .withWatermark("ts", lateness)
      .groupBy(col("conv_id"), window(col("ts"), "1 minute"))
      .agg(
        count(lit(1)).as("turn_rate"),
        sum(Ingest.tokenCount(col("text"))).cast("double").as("token_volume")
      )
      .select(
        col("conv_id"),
        col("window.start").as("chunk_start"),
        col("turn_rate").cast("double"),
        col("token_volume")
      )
}
