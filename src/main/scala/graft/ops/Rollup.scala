package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
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
  * All aggregations are plain `groupBy().agg()` — Spark's partial/final
  * (map-side combine) aggregation handles skewed hot conv_ids without an
  * explicit salt; the shuffle key (conv_id, metric, chunk) has per-key
  * cardinality bounded by the tier ratio (60 / 24), so no single reducer
  * key can exceed that bound regardless of how hot a conversation is.
  */
object Rollup {

  private val statCols = Seq("n", "sum", "min", "max", "first", "last")

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
    * (unique per key). Shared by [[fromLower]] and the streaming cascade
    * (`StreamingRollup.fromSealed`).
    */
  private[graft] val foldCols: Seq[Column] = Seq(
    sum(col("n")).as("n"),
    sum(col("sum")).as("sum"),
    min(col("min")).as("min"),
    max(col("max")).as("max"),
    min_by(col("first"), col("chunk_start")).as("first"),
    max_by(col("last"), col("chunk_start")).as("last"))

  /** Higher tier from a lower tier — the hierarchical re-aggregation
    * (SURVEY.md §2.6 "Aggregations"): stats compose exactly.
    */
  def fromLower(lower: DataFrame, unit: String): DataFrame =
    lower
      .groupBy(col("conv_id"), col("metric"), date_trunc(unit, col("chunk_start")).as("chunk_start"))
      .agg(foldCols.head, foldCols.tail: _*)

  private val unitMicros: Map[String, Long] = Map(
    "minute" -> 60000000L, "hour" -> 3600000000L, "day" -> 86400000000L)

  /** SQL floor division (`DIV` truncates toward zero; pre-epoch timestamps
    * need the floor). Also used by Trigger's grid bucketing.
    */
  private[graft] def floorDiv(a: String, b: Long): String =
    s"(($a) DIV $b + (CASE WHEN ($a) % $b < 0 THEN -1 ELSE 0 END))"

  /** Tier-1 directly from OCCUPIED buckets (`Ingest.bucketed` output) —
    * bitwise-identical to `fromPoints(Ingest.series(t, step), unit)` (
    * asserted in OpsSpec) but the shuffle carries per-cell PARTIALS instead
    * of exploded grid points: a "run" is one occupied bucket + its
    * zero-fill range (the gap-fill unit of Ingest.series); every run holds
    * exactly ONE nonzero point plus zeros, so each cell's contribution is
    * closed-form and the gap-fill zeros never materialize as rows. Shuffle
    * rows ∝ cells touched (each carrying BOTH metrics), not grid points ×
    * metrics.
    *
    * The per-(run, cell) partials are pure codegen'd SQL (explode +
    * integer CASE arithmetic): an earlier typed flatMap emitting a
    * 15-field case class paid object ser/de plus per-run allocations,
    * which dominated the stage AND scaled sub-linearly with threads
    * (allocation-rate contention in one JVM).
    */
  def tier1FromBuckets(bucketed: DataFrame, stepSec: Long, unit: String): DataFrame = {
    val spark = bucketed.sparkSession
    import org.apache.spark.sql.expressions.Window
    val stepUs = stepSec * 1000000L
    val unitUs = unitMicros(unit)
    require(unitUs % stepUs == 0, "grid step must divide the rollup unit")
    val n = spark.sessionState.conf.numShufflePartitions
    val w = Window.partitionBy(col("conv_id")).orderBy(col("own_us"))
    val runs = bucketed
      .repartition(n, col("conv_id"))
      .select(col("conv_id"),
        unix_micros(col("ts").cast("timestamp")).as("own_us"),
        col("turn_rate"), col("token_volume"))
      .withColumn("next_us", lead(col("own_us"), 1).over(w))

    // grid points in the run; cells [c0, cLast] the run overlaps
    val cells = runs
      .withColumn("k", expr(s"coalesce((next_us - own_us) DIV $stepUs, 1L)"))
      .withColumn("cell_us", explode(expr(
        s"sequence(${floorDiv("own_us", unitUs)} * $unitUs, " +
          s"${floorDiv(s"own_us + (k - 1) * $stepUs", unitUs)} * $unitUs, $unitUs)")))
      // run-grid indices covered by this cell: ilo = ceil((c-own)/step)
      // clamped at 0 (greatest() also absorbs DIV's toward-zero truncation:
      // a negative numerator means the true ilo <= 0), ihi = last index
      // before the next cell (numerator >= 0 by construction)
      .withColumn("ilo", expr(s"greatest(0L, (cell_us - own_us + ${stepUs - 1}) DIV $stepUs)"))
      .withColumn("ihi", expr(s"least(k - 1, (cell_us + ${unitUs - 1} - own_us) DIV $stepUs)"))

    // per-cell closed-form stats: the run's single nonzero point is index 0
    def stats(v: String, p: String) = Seq(
      expr(s"CASE WHEN ilo = 0 THEN $v ELSE 0D END").as(s"${p}_sum"),
      expr(s"CASE WHEN ilo = 0 AND ihi = 0 THEN $v WHEN ilo = 0 THEN least($v, 0D) ELSE 0D END").as(s"${p}_min"),
      expr(s"CASE WHEN ilo = 0 AND ihi = 0 THEN $v WHEN ilo = 0 THEN greatest($v, 0D) ELSE 0D END").as(s"${p}_max"),
      expr(s"CASE WHEN ilo = 0 THEN $v ELSE 0D END").as(s"${p}_first"),
      expr(s"CASE WHEN ihi = 0 THEN $v ELSE 0D END").as(s"${p}_last"))
    val partials = cells.select(
      Seq(col("conv_id"), col("cell_us"),
        expr("ihi - ilo + 1").as("n"),
        expr(s"own_us + ilo * $stepUs").as("min_ts"),
        expr(s"own_us + ihi * $stepUs").as("max_ts")) ++
        stats("turn_rate", "tr") ++ stats("token_volume", "tv"): _*)

    // unit == step degenerates: every cell is exactly ONE grid point of
    // exactly one run (cells never straddle runs), so the partial row IS
    // the final cell and the merge aggregation — a hash map over #cells
    // keys with zero reduction (every group has one row) — is pure
    // overhead. This is the benched 60 s grid → 1 m tier shape.
    val merged =
      if (unitUs == stepUs)
        partials.select(col("conv_id"), col("cell_us"), col("n"),
          col("tr_sum"), col("tr_min"), col("tr_max"), col("tr_first"), col("tr_last"),
          col("tv_sum"), col("tv_min"), col("tv_max"), col("tv_first"), col("tv_last"))
      else partials
        .groupBy(col("conv_id"), col("cell_us"))
        .agg(
          sum(col("n")).as("n"),
          sum(col("tr_sum")).as("tr_sum"), min(col("tr_min")).as("tr_min"),
          max(col("tr_max")).as("tr_max"),
          min_by(col("tr_first"), col("min_ts")).as("tr_first"),
          max_by(col("tr_last"), col("max_ts")).as("tr_last"),
          sum(col("tv_sum")).as("tv_sum"), min(col("tv_min")).as("tv_min"),
          max(col("tv_max")).as("tv_max"),
          min_by(col("tv_first"), col("min_ts")).as("tv_first"),
          max_by(col("tv_last"), col("max_ts")).as("tv_last"))
    merged
      .select(col("conv_id"),
        expr("timestamp_micros(cell_us)").as("chunk_start"), col("n"),
        col("tr_sum"), col("tr_min"), col("tr_max"), col("tr_first"), col("tr_last"),
        col("tv_sum"), col("tv_min"), col("tv_max"), col("tv_first"), col("tv_last"))
      .selectExpr("conv_id", "chunk_start", "n",
        """stack(2,
          | 'turn_rate', tr_sum, tr_min, tr_max, tr_first, tr_last,
          | 'token_volume', tv_sum, tv_min, tv_max, tv_first, tv_last)
          | as (metric, sum, min, max, first, last)""".stripMargin)
      .select(col("conv_id"), col("metric"), col("chunk_start"),
        col("n"), col("sum"), col("min"), col("max"), col("first"), col("last"))
  }

  /** The full 1m → 1h → 1d cascade from tier-0 grid points. */
  def cascade(points: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val m1 = fromPoints(points, "minute")
    val h1 = fromLower(m1, "hour")
    val d1 = fromLower(h1, "day")
    (m1, h1, d1)
  }

  // Timestamps are stored in blobs at MICROsecond precision (the
  // parquet/Spark timestamp resolution) so decode(encode(x)) == x exactly;
  // micros stay longs end-to-end (unix_micros in, timestamp_micros /
  // ChunkDecode out).

  /** Primitive-array (ts, value) accumulator for [[ChunkEncodeAgg]]:
    * amortized-doubling appends, merged by concatenation, sorted once at
    * finish. Bounded by points-per-chunk (unit / grid step), like the
    * collect_list buffer it replaces — but holding two primitive arrays
    * instead of boxed Rows.
    */
  final case class ChunkAcc(var ts: Array[Long], var vs: Array[Double], var n: Int) {
    def append(t: Long, v: Double): ChunkAcc = {
      if (n == ts.length) {
        ts = java.util.Arrays.copyOf(ts, n * 2)
        vs = java.util.Arrays.copyOf(vs, n * 2)
      }
      ts(n) = t; vs(n) = v; n += 1
      this
    }
  }

  /** Typed Aggregator building the Gorilla chunk blob from (epoch-micros,
    * value) input rows — the SURVEY §7.3 shape: no `collect_list` of boxed
    * Rows, no Scala UDF on the encode path, no java.sql.Timestamp boxing
    * (micros stay longs end-to-end, mirroring the ChunkDecode read path).
    * Encoding still happens once per chunk at `finish` on the ts-sorted
    * arrays, so blobs are byte-identical to the previous
    * array_sort(collect_list)+UDF form (q22's round-trip gate).
    */
  object ChunkEncodeAgg extends Aggregator[(Long, Double), ChunkAcc, Array[Byte]] {
    def zero: ChunkAcc = ChunkAcc(new Array[Long](8), new Array[Double](8), 0)
    def reduce(b: ChunkAcc, a: (Long, Double)): ChunkAcc = b.append(a._1, a._2)
    def merge(b1: ChunkAcc, b2: ChunkAcc): ChunkAcc = {
      var i = 0
      while (i < b2.n) { b1.append(b2.ts(i), b2.vs(i)); i += 1 }
      b1
    }
    def finish(b: ChunkAcc): Array[Byte] = {
      val idx = Array.range(0, b.n).sortBy(b.ts(_)) // grid ts are unique per key
      ChunkBlob.encode(idx.map(b.ts(_)), idx.map(b.vs(_)))
    }
    def bufferEncoder: Encoder[ChunkAcc] = Encoders.product[ChunkAcc]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Chunked storage form: per (conv, metric, `unit` chunk) the raw grid
    * points delta-of-delta + Gorilla compressed into one binary blob
    * (Gorilla §4.1, public algorithm — see graft.codec) by the typed
    * [[ChunkEncodeAgg]].
    */
  def toChunks(points: DataFrame, unit: String): DataFrame = {
    val enc = udaf(ChunkEncodeAgg)
    points
      .groupBy(col("conv_id"), col("metric"), date_trunc(unit, col("ts")).as("chunk_start"))
      .agg(
        count(lit(1)).cast("int").as("n_points"),
        enc(unix_micros(col("ts").cast("timestamp")), col("value")).as("chunk_blob"))
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

  /** LTTB keeper arrays — [[LttbAgg]]'s output (parallel ts/value arrays,
    * exploded back to rows by the caller).
    */
  final case class LttbPts(ts: Array[Long], vs: Array[Double])

  /** Typed Aggregator for one LTTB pass: accumulate (epoch-micros, value)
    * into the same primitive buffer as [[ChunkEncodeAgg]], sort once at
    * finish, downsample. Replaces the r1-r3 array_sort(collect_list(
    * struct))+UDF stage — same keeper selection, no Row boxing.
    */
  final case class LttbAgg(threshold: Int) extends Aggregator[(Long, Double), ChunkAcc, LttbPts] {
    def zero: ChunkAcc = ChunkEncodeAgg.zero
    def reduce(b: ChunkAcc, a: (Long, Double)): ChunkAcc = b.append(a._1, a._2)
    def merge(b1: ChunkAcc, b2: ChunkAcc): ChunkAcc = ChunkEncodeAgg.merge(b1, b2)
    def finish(b: ChunkAcc): LttbPts = {
      val idx = Array.range(0, b.n).sortBy(b.ts(_))
      val (dt, dv) = Lttb.downsample(idx.map(b.ts(_)), idx.map(b.vs(_)), threshold)
      LttbPts(dt, dv)
    }
    def bufferEncoder: Encoder[ChunkAcc] = Encoders.product[ChunkAcc]
    def outputEncoder: Encoder[LttbPts] = Encoders.product[LttbPts]
  }

  /** LTTB visualization tier: at most `threshold` points per (conv, metric),
    * computed hierarchically so no aggregation buffer ever holds a key's
    * full history:
    *
    *  stage 1 — LTTB per (conv, metric, `chunkUnit` chunk) down to at most
    *            `threshold` keepers (buffer ≤ points-per-chunk: bounded by
    *            the chunk duration over the grid step, not by key history);
    *  stage 2 — LTTB the concatenated keepers down to `threshold`
    *            (buffer ≤ n_chunks · threshold).
    *
    * LTTB keeps first/last per input, so chunk boundaries survive into
    * stage 2 and the global first/last are exact. The keeper count per key
    * equals the single-pass count (min(threshold, n_points)); the selected
    * interior points are the hierarchical approximation standard for
    * streaming LTTB. Both passes run through the typed [[LttbAgg]].
    */
  def lttbTier(points: DataFrame, threshold: Int, chunkUnit: String = "day"): DataFrame = {
    val ds = udaf(LttbAgg(threshold))
    def pass(df: DataFrame, grouping: Seq[org.apache.spark.sql.Column]): DataFrame =
      df.groupBy(grouping: _*)
        .agg(ds(unix_micros(col("ts").cast("timestamp")), col("value")).as("pts"))
        .select(col("conv_id"), col("metric"),
          explode(arrays_zip(col("pts.ts").as("ts"), col("pts.vs").as("vs"))).as("pt"))
        .select(col("conv_id"), col("metric"),
          timestamp_micros(col("pt.ts")).as("ts"), col("pt.vs").as("value"))
    val stage1 = pass(points,
      Seq(col("conv_id"), col("metric"), date_trunc(chunkUnit, col("ts")).as("chunk")))
    pass(stage1, Seq(col("conv_id"), col("metric")))
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
  def pickTierStep(spanSec: Long, maxPoints: Long,
                   steps: Seq[Long] = Seq(60L, 3600L, 86400L)): Long = {
    require(spanSec > 0 && maxPoints > 0 && steps.nonEmpty,
      s"need positive span/maxPoints and at least one step, got span=$spanSec max=$maxPoints")
    val sorted = steps.sorted
    sorted.find(st => (spanSec + st - 1) / st <= maxPoints).getOrElse(sorted.last)
  }

  /** Serve one viz request from the pre-built tiers: pick the step for
    * [t0, t1) via [[pickTierStep]], then return that tier's rows in range,
    * tagged with the chosen step. `tiers` maps step-seconds to the tier
    * table (chunk_start + stats); the range filter is a partition-prunable
    * predicate on the tier's own chunk_start.
    */
  def serve(tiers: Map[Long, DataFrame], t0: java.sql.Timestamp,
            t1: java.sql.Timestamp, maxPoints: Long): DataFrame = {
    val spanSec = math.max(1L, (t1.getTime - t0.getTime) / 1000L)
    val step = pickTierStep(spanSec, maxPoints, tiers.keys.toSeq)
    tiers(step)
      .where(col("chunk_start") >= lit(t0) && col("chunk_start") < lit(t1))
      .withColumn("step_sec", lit(step))
  }
}
