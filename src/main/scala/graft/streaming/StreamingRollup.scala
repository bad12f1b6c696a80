package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Ingest, Rollup}

/** Structured Streaming tier-1 rollup — the streaming layer SURVEY.md §2.6
  * sketches (the reference itself is batch-incremental via status flags;
  * this is the engine-new path for live transcript feeds): tumbling windows
  * of the finest `Rollup.ladder` tier with a watermark bounding transcript
  * lateness, emitting the same composable stats as the batch tier. The
  * higher tiers fold the sealed tier-1 stream with `Rollup.fromLower`, the
  * same fold the batch cascade runs, so late-arriving turns fold into the
  * cascade identically.
  *
  * Usage: pass `spark.readStream.schema(...).parquet(dir)` (or any source
  * with the transcript schema); write with `.writeStream.outputMode("append")`
  * after the watermark closes windows.
  */
object StreamingRollup {

  /** Tier-1 in the composable STATS shape (conv_id, metric, chunk_start,
    * n/sum/min/max/first/last) — [[tier1m]] reshaped long so
    * `Rollup.fromLower` can fold it into higher tiers: each sealed 1m cell is
    * one occupied grid point of the batch 60 s series (n = 1, all stats =
    * the cell value), exactly `Rollup.fromPoints` over the stream's
    * occupied cells (streaming emits no gap-fill zeros — the documented
    * batch/stream difference).
    */
  def tier1Stats(transcripts: DataFrame, lateness: String = "5 minutes"): DataFrame =
    tier1m(transcripts, lateness)
      .selectExpr("conv_id", "chunk_start", Ingest.metricRows)
      .select(col("conv_id"), col("metric"), col("chunk_start"),
        lit(1L).as("n"), col("value").as("sum"), col("value").as("min"),
        col("value").as("max"), col("value").as("first"), col("value").as("last"))

  /** Per-(conv, 1m window) turn_rate/token_volume stats over a stream; the
    * window is the finest `Rollup.ladder` tier.
    */
  def tier1m(transcripts: DataFrame, lateness: String = "5 minutes"): DataFrame =
    transcripts
      .withWatermark("ts", lateness)
      .groupBy(col("conv_id"), window(col("ts"), Rollup.ladder.head.span))
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
