package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Transcripts → gap-filled regular-grid series (SURVEY.md §2.2: the
  * `merge` + `interpolate` + `trim` preprocess semantics of the reference —
  * xcorr/stream/process.py:50-53 — re-expressed as a per-bucket
  * `sequence()` zero-fill explode; the regular-spacing invariant the
  * reference asserts at xcorr/signal/correlate.py:314-318 holds by
  * construction).
  *
  * Scale notes: the heavy side is `bucketed` (one row per (conv, bucket)
  * after a map-side-combined groupBy); [[fill]], the one gap-fill, explodes
  * each occupied bucket's zero range with no grid join. Rate/volume values
  * are integral counts, so every downstream double sum is order-independent
  * exactly (< 2^53) — that is what makes the rollup exact-match gate
  * partitioning-invariant.
  */
object Ingest {

  /** Whitespace token count; empty/blank text counts 0. Custom codegen'd
    * Expression (graft.functions.TokenCount) — semantically equal to
    * `size(split(trim(c), '\\s+'))` (equality asserted in OpsSpec) but
    * a zero-allocation single byte pass instead of a regex, which was the
    * dominant ingest cost at high parallelism.
    */
  def tokenCount(c: Column): Column = graft.functions.TokenCount(c)

  /** Per-(conv, bucket) turn_rate and token_volume — the two metrics the
    * engine derives from transcripts (BASELINE.json north_star). Buckets
    * floor, so a pre-epoch turn lands in the bucket that starts at or
    * before it. A turn with a null `ts` has no bucket and is dropped.
    */
  def bucketed(transcripts: DataFrame, stepSec: Long): DataFrame = {
    val b = timestamp_seconds(expr(Rollup.floorDiv("unix_timestamp(ts)", stepSec)) * stepSec)
    transcripts
      .where(col("ts").isNotNull)
      .groupBy(col("conv_id"), b.as("ts"))
      .agg(
        count(lit(1)).cast("double").as("turn_rate"),
        sum(tokenCount(col("text"))).cast("double").as("token_volume")
      )
  }

  /** The wide-to-long reshape of the two metric columns into
    * (metric, value) rows, as a `selectExpr` term.
    */
  private[graft] val metricRows: String =
    "stack(2, 'turn_rate', turn_rate, 'token_volume', token_volume) as (metric, value)"

  /** Long-form series WITHOUT gap-fill: one row per OCCUPIED (conv, bucket,
    * metric). For the windowed-CC path this is exactly equivalent to
    * [[series]] — the block densify behind `Correlate.windows` and
    * `Correlate.ccCells` reads only nonzero points and reconstructs zero
    * grid points itself, and the per-key span (which decides window
    * completeness) is identical because gap-fill never extends a span —
    * at a fraction of the cost: ONE shuffle (the bucket groupBy), no window
    * function, no zero-fill explode. Equivalence is asserted bitwise in
    * OpsSpec. Use [[series]] when downstream genuinely consumes the dense
    * grid (rollups of gap-filled rates, LTTB tiers, preprocess kernels).
    */
  def seriesSparse(transcripts: DataFrame, stepSec: Long = 60L): DataFrame =
    bucketed(transcripts, stepSec)
      .selectExpr("conv_id", "ts", metricRows)
      .select("conv_id", "metric", "ts", "value")

  /** Gap-filled long-form series: (conv_id, metric, ts, value) with value=0
    * in empty buckets (rate metrics: an empty minute is a real zero); the
    * gap-fill of [[fill]] over [[bucketed]].
    */
  def series(transcripts: DataFrame, stepSec: Long = 60L): DataFrame =
    fill(bucketed(transcripts, stepSec), stepSec)

  /** The engine's one gap-fill, from [[bucketed]] rows: the long-form
    * series of [[series]], which `Rollup.tier1FromBuckets` folds too.
    *
    * Shape chosen for scale: instead of materializing a dense grid table
    * and equi-joining it back (2 shuffles of grid-sized data), each
    * occupied bucket looks at its successor via `lead()` and explodes the
    * zero-fill range itself — ONE shuffle, sized by occupied buckets (≪
    * grid points), and the output stays hash-partitioned by conv_id so the
    * downstream rollup's groupBy(conv_id, metric, chunk) aggregates
    * partition-locally with no further exchange. A conversation explodes
    * into span/step grid rows however many turns it has: the bucket
    * aggregate already combined a hot conversation's turns map-side.
    *
    * The explicit-N repartition before the window both pins the
    * partitioning and is exempt from AQE size-based coalescing, which would
    * otherwise see a KB-scale shuffle and serialize the row-exploding
    * stage onto one task.
    */
  private[graft] def fill(bucketed: DataFrame, stepSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = bucketed.sparkSession.sessionState.conf.numShufflePartitions
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"))
    val stepUs = stepSec * 1000000L
    bucketed.repartition(n, col("conv_id"))
      .withColumn("own_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("next_us", lead(col("own_us"), 1).over(w))
      // integer-sequence explode + codegen'd projection (a timestamp
      // sequence with a struct lambda runs interpreted inside Generate —
      // ~10x slower per row)
      .select(
        col("conv_id"), col("own_us"), col("turn_rate"), col("token_volume"),
        explode(expr(s"sequence(0L, coalesce((next_us - own_us) DIV $stepUs - 1, 0L))")).as("i")
      )
      .select(
        col("conv_id"),
        expr(s"timestamp_seconds((own_us + i * $stepUs) DIV 1000000)").as("ts"),
        when(col("i") === 0, col("turn_rate")).otherwise(lit(0.0)).as("turn_rate"),
        when(col("i") === 0, col("token_volume")).otherwise(lit(0.0)).as("token_volume")
      )
      .selectExpr("conv_id", "ts", metricRows)
      .select("conv_id", "metric", "ts", "value")
  }
}
