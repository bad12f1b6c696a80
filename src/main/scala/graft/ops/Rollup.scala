package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp
import org.apache.spark.sql.functions._
import graft.codec.{ChunkBlob, Lttb}

/** Continuous-aggregate rollup cascade with retention tiers (engine-new;
  * the reference's storage analog is the zlib-9 netCDF chunk,
  * /root/reference/xcorr/core/init.py:121). Stats are
  * {n, sum, min, max, first, last} chosen so tiers compose EXACTLY:
  * 1h = fold(1m rows), 1d = fold(1h rows) — the BASELINE.md exact-match
  * gate. `first`/`last` use min_by/max_by on the (unique per key) grid ts,
  * so results are partitioning-invariant; sums are integral-valued doubles
  * (see Ingest) and therefore order-independent.
  *
  * The tier stats are plain `groupBy().agg()` with no salt: tier-1 runs
  * partition-locally on the gap-filled grid (`Ingest.fill`, hash-partitioned
  * by conv_id), whose rows per conversation are its span over the step, not
  * its turn count; each fold's key (conv_id, metric, chunk) has per-key
  * cardinality bounded by the tier ratio (60 / 24), so no single reducer
  * key can exceed that bound regardless of how hot a conversation is.
  * The chunk blobs and LTTB keepers, which need each group's points in ts
  * order, come from one sorted group walk ([[groupWalk]]) instead.
  */
object Rollup {

  /** One tier of the store: its directory under the store root, the
    * rollup unit (a `date_trunc` level) its cells span, and that unit in
    * seconds.
    */
  final case class Tier(dir: String, unit: String, stepSec: Long) {
    /** The cell length as a `window` duration. */
    def span: String = s"$stepSec seconds"
  }

  /** The tier ladder, finest first: each tier folds the one before it.
    * Every unit, step, span and store dir of the 1m/1h/1d cascade derives
    * from here.
    */
  val ladder: Seq[Tier] = Seq(
    Tier("tier_1m", "minute", 60L), Tier("tier_1h", "hour", 3600L), Tier("tier_1d", "day", 86400L))

  private def tierOf(unit: String): Tier =
    ladder.find(_.unit == unit)
      .getOrElse(throw new IllegalArgumentException(s"unsupported tier unit: $unit"))

  /** Tier-1: fold grid points into `unit`-aligned chunks
    * (unit ∈ minute/hour/day — SQL date_trunc levels).
    */
  def fromPoints(points: DataFrame, unit: String): DataFrame =
    points
      .groupBy(col("conv_id"), col("metric"), date_trunc(unit, col("ts")).as("chunk_start"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("sum"),
        min(col("value")).as("min"),
        max(col("value")).as("max"),
        min_by(col("value"), col("ts")).as("first"),
        max_by(col("value"), col("ts")).as("last")
      )

  /** The fold of lower-tier cells into a higher-tier cell: counts and sums
    * add, extrema fold, and first/last follow the lower `chunk_start`
    * (unique per key).
    */
  private val foldCols: Seq[Column] = Seq(
    sum(col("n")).as("n"),
    sum(col("sum")).as("sum"),
    min(col("min")).as("min"),
    max(col("max")).as("max"),
    min_by(col("first"), col("chunk_start")).as("first"),
    max_by(col("last"), col("chunk_start")).as("last"))

  /** Higher tier from a lower tier — the hierarchical re-aggregation
    * (SURVEY.md §2.6 "Aggregations"): stats compose exactly. `unit` must be
    * on the [[ladder]]; cells are its UTC-epoch-aligned `window`s, so the
    * fold does not depend on the session time zone.
    *
    * The one fold for batch and streaming: on a stream of sealed lower
    * cells (`cli.Main.streamrollup`) the zero-delay watermark on
    * `chunk_start` lets append mode emit a cell once the lower tier moves
    * past it — the lower tier's own watermark already absorbed event
    * lateness — and state per key is one stats row per open window. On a
    * batch frame the optimizer removes the watermark.
    */
  def fromLower(lower: DataFrame, unit: String): DataFrame =
    lower
      .withWatermark("chunk_start", "0 seconds")
      .groupBy(col("conv_id"), col("metric"), window(col("chunk_start"), tierOf(unit).span))
      .agg(foldCols.head, foldCols.tail: _*)
      .select(col("conv_id"), col("metric"), col("window.start").as("chunk_start"),
        col("n"), col("sum"), col("min"), col("max"), col("first"), col("last"))

  /** SQL floor division (`DIV` truncates toward zero; pre-epoch timestamps
    * need the floor). Also used by Trigger's grid bucketing.
    */
  private[graft] def floorDiv(a: String, b: Long): String =
    s"(($a) DIV $b + (CASE WHEN ($a) % $b < 0 THEN -1 ELSE 0 END))"

  /** Tier-1 from OCCUPIED buckets (`Ingest.bucketed` output): [[fromPoints]]
    * over their gap-filled grid (`Ingest.fill`, the one gap-fill), so it
    * equals `fromPoints(Ingest.series(t, step), unit)`. The fill's output
    * is hash-partitioned by conv_id, so the aggregate adds no exchange.
    */
  def tier1FromBuckets(bucketed: DataFrame, stepSec: Long, unit: String): DataFrame = {
    require(tierOf(unit).stepSec % stepSec == 0, "grid step must divide the rollup unit")
    fromPoints(Ingest.fill(bucketed, stepSec), unit)
  }

  /** The full [[ladder]] cascade (1m → 1h → 1d) from tier-0 grid points. */
  def cascade(points: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val Seq(m1, h1, d1) =
      ladder.tail.scanLeft(fromPoints(points, ladder.head.unit))((lower, t) => fromLower(lower, t.unit))
    (m1, h1, d1)
  }

  // Timestamps are stored in blobs at MICROsecond precision (the
  // parquet/Spark timestamp resolution) so decode(encode(x)) == x exactly;
  // micros stay longs through the walk (unix_micros in, ChunkDecode out).

  /** The sorted group walk behind [[toChunks]] and [[lttbTier]]: the
    * (conv_id, metric, ts, value) `points` move through one
    * `repartition(n, conv_id, metric, chunk)`, `chunk` being the
    * timestamp `group` (a chunk start, or a constant for one group per
    * key) in epoch µs, and are sorted by (conv_id, metric, chunk, ts)
    * within each partition; each partition then walks its groups in that
    * order and hands `emit` the key, the chunk and the group's points as
    * two primitive arrays in ascending ts order. No per-group aggregation
    * buffer is serialized (an ordered walk instead of per-group buffers,
    * as in `Correlate`'s block walk). The partition count is explicit (as
    * in `Ingest.series`): AQE must not coalesce the encode / LTTB stage
    * onto one task.
    */
  private def groupWalk[T: Encoder](points: DataFrame, group: Column)(
      emit: (String, String, Long, Array[Long], Array[Double]) => IterableOnce[T]): Dataset[T] = {
    val spark = points.sparkSession
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    points
      .select(col("conv_id"), col("metric"), unix_micros(group.cast("timestamp")).as("chunk"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .repartition(n, col("conv_id"), col("metric"), col("chunk"))
      .sortWithinPartitions("conv_id", "metric", "chunk", "ts_us")
      .as[(String, String, Long, Long, Double)]
      .mapPartitions { it =>
        val rows = it.buffered
        var ts = new Array[Long](1024)
        var vs = new Array[Double](1024)
        Iterator.continually(rows).takeWhile(_.hasNext).flatMap { _ =>
          val (k, m, g, _, _) = rows.head
          var len = 0
          while (rows.hasNext && rows.head._3 == g && rows.head._1 == k && rows.head._2 == m) {
            val (_, _, _, t, v) = rows.next()
            if (len == ts.length) {
              ts = java.util.Arrays.copyOf(ts, 2 * len)
              vs = java.util.Arrays.copyOf(vs, 2 * len)
            }
            ts(len) = t; vs(len) = v; len += 1
          }
          emit(k, m, g, java.util.Arrays.copyOf(ts, len), java.util.Arrays.copyOf(vs, len))
        }
      }
  }

  /** Chunked storage form: per (conv, metric, `unit` chunk) the raw grid
    * points delta-of-delta + Gorilla compressed into one binary blob
    * (Gorilla §4.1, public algorithm — see graft.codec), encoded from the
    * chunk's ts-sorted points by [[groupWalk]].
    */
  def toChunks(points: DataFrame, unit: String): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    groupWalk(points, date_trunc(unit, col("ts"))) { (k, m, chunk, ts, vs) =>
      Iterator.single((k, m, toJavaTimestamp(chunk), ts.length, ChunkBlob.encode(ts, vs)))
    }.toDF("conv_id", "metric", "chunk_start", "n_points", "chunk_blob")
  }

  /** Explode chunk blobs back into (conv_id, metric, ts, value) points.
    * Decode is a native codegen'd Expression (graft.functions.ChunkDecode):
    * epoch-micros longs go straight from the blob into Catalyst rows —
    * no java.sql.Timestamp boxing, no UDF codegen break on the read path.
    */
  def fromChunks(chunks: DataFrame): DataFrame =
    chunks
      .select(
        col("conv_id"), col("metric"),
        explode(graft.functions.ChunkDecode(col("chunk_blob"))).as("pt")
      )
      .select(col("conv_id"), col("metric"), col("pt.ts").as("ts"), col("pt.value").as("value"))

  /** LTTB visualization tier: at most `threshold` points per (conv, metric),
    * computed hierarchically so no task holds a key's full history:
    *
    *  stage 1 — LTTB per (conv, metric, UTC day) down to at most
    *            `threshold` keepers (a group ≤ points-per-day: bounded by
    *            the day over the grid step, not by key history; a hot
    *            key's days still hash apart over the tasks);
    *  stage 2 — LTTB each key's concatenated keepers down to `threshold`
    *            (≤ n_days · threshold points).
    *
    * LTTB keeps first/last per input, so day boundaries survive into
    * stage 2 and the global first/last are exact. The keeper count per key
    * equals the single-pass count (min(threshold, n_points)); the selected
    * interior points are the hierarchical approximation standard for
    * streaming LTTB. Both stages are one [[groupWalk]].
    */
  def lttbTier(points: DataFrame, threshold: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    def pass(df: DataFrame, group: Column): DataFrame =
      groupWalk(df, group) { (k, m, _, ts, vs) =>
        val (kt, kv) = Lttb.downsample(ts, vs, threshold)
        // a Timestamp and a boxed Double keep both output columns nullable
        Iterator.tabulate(kt.length)(i => (k, m, toJavaTimestamp(kt(i)), Double.box(kv(i))))
      }.toDF("conv_id", "metric", "ts", "value")
    pass(pass(points, date_trunc("day", col("ts"))), lit(0L))
  }

  /** M4 visualization downsampler (Jugel et al., VLDB 2014): per key,
    * divide the key's [t0, t1] span into `width` equal pixel buckets and
    * keep {min, max, first, last} of the value per bucket — the
    * error-free rasterization set for line charts, the deterministic
    * complement to [[lttbTier]] (LTTB picks perceptual keepers; M4 is
    * exactly the four extremes a `width`-pixel canvas can show).
    *
    * Exactness: the bucket index is pure BIGINT arithmetic on microsecond
    * epochs — `(tsU − t0U) · width DIV (t1U − t0U + 1)` (the +1 makes the
    * half-open span cover t1 without a conditional; max lag 30 d in µs ×
    * width 2²⁰ stays far under 2⁶³) — and the four stats are integer
    * extrema / `min_by`/`max_by` on the (unique per key) grid ts, so the
    * output hashes identically under any partitioning.
    *
    * Scale shape: one map-side-combined span agg (2 longs per key), one
    * broadcast-or-AQE join of that tiny span table, one final
    * map-side-combined bucket agg. Output ≤ keys × width rows regardless
    * of input volume; no window sort, no per-key history in memory.
    */
  def m4(points: DataFrame, keyCols: Seq[String], tsCol: String,
         valCol: String, width: Int): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    val reserved = Set("__tu", "__x", "bucket", "n", "x_min", "x_max",
      "x_first", "x_last", "t0u", "t1u", "ts_min")
    require(!keyCols.exists(reserved), s"keyCols may not use the reserved " +
      s"names ${reserved.toSeq.sorted.mkString(", ")} — rename the column first")
    val keys = keyCols.map(col)
    val base = points.select(
      keys :+ unix_micros(col(tsCol)).as("__tu") :+ col(valCol).cast("long").as("__x"): _*)
    val spans = base.groupBy(keys: _*)
      .agg(min(col("__tu")).as("t0u"), max(col("__tu")).as("t1u"))
    base.join(spans, keyCols)
      .withColumn("bucket",
        expr(s"((__tu - t0u) * $width) div (t1u - t0u + 1)"))
      .groupBy(keys :+ col("bucket"): _*)
      .agg(
        count(lit(1)).as("n"),
        min(col("__x")).as("x_min"),
        max(col("__x")).as("x_max"),
        min_by(col("__x"), col("__tu")).as("x_first"),
        max_by(col("__x"), col("__tu")).as("x_last"),
        min(col("__tu")).as("ts_min"))
      .select(keys ++ Seq(col("bucket"), col("n"), col("x_min"), col("x_max"),
        col("x_first"), col("x_last"),
        timestamp_micros(col("ts_min")).cast("timestamp_ntz").as("ts_first")): _*)
  }

  /** Resolution-aware tier choice for viz serving: the FINEST tier step
    * (seconds) whose grid point count over `spanSec` fits `maxPoints` —
    * `ceil(span/step) <= maxPoints` — else the coarsest step (the caller
    * then M4/LTTBs that tier down to the canvas). Pure driver-side
    * integer arithmetic on request constants: deterministic, no data
    * inspection, so the served rows are fully hash-oracle-able (q119).
    * This is the dashboard-serving rule the tier cascade exists FOR: a
    * 1-hour panel reads 1m cells, a 90-day panel reads 1d cells, and
    * nobody scans raw points.
    */
  def pickTierStep(spanSec: Long, maxPoints: Long): Long = {
    require(spanSec > 0 && maxPoints > 0,
      s"need positive span/maxPoints, got span=$spanSec max=$maxPoints")
    val steps = ladder.map(_.stepSec)
    steps.find(st => (spanSec + st - 1) / st <= maxPoints).getOrElse(steps.last)
  }

  /** Serve one viz request from the pre-built tiers: pick the step for
    * [t0, t1) via [[pickTierStep]], then return the rows of `tier(step)` —
    * the ONLY tier read — in range, tagged with the chosen step. `tier`
    * maps each 1m/1h/1d step in seconds to that tier table (chunk_start +
    * stats), e.g. a `Map[Long, DataFrame]`; a tier with the store's `day`
    * partition column is pruned to the request's days before the
    * chunk_start range filter.
    */
  def serve(tier: Long => DataFrame, t0: java.sql.Timestamp,
            t1: java.sql.Timestamp, maxPoints: Long): DataFrame = {
    val spanSec = math.max(1L, (t1.getTime - t0.getTime) / 1000L)
    val step = pickTierStep(spanSec, maxPoints)
    val cells = tier(step)
    val inDays =
      if (cells.columns.contains("day"))
        cells.where(col("day").between(to_date(lit(t0)), to_date(lit(t1))))
      else cells
    inDays
      .where(col("chunk_start") >= lit(t0) && col("chunk_start") < lit(t1))
      .withColumn("step_sec", lit(step))
  }
}
