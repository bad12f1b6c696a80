package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** As-of join — the canonical time-series join Spark has no native operator
  * for: attach to every left row the LATEST right row with
  * `right.ts <= left.ts`, per key (the "most recent quote for each trade"
  * shape; in the transcript domain, "most recent config/model change for
  * each turn").
  *
  * Spark-first plan (no range join, no BNLJ, no per-row probe): tag and
  * UNION the two sides, ONE hash exchange on the key, one in-partition sort
  * by (ts, side), and a running `last(_, ignoreNulls)` window carries each
  * right value forward to the left rows that follow it. Cost is one
  * shuffle + sort regardless of how the two sides' timestamps interleave —
  * a broadcast/range-join formulation would be O(|L|·|R|) per key in the
  * worst case, this is O((|L|+|R|) log) per partition.
  *
  * Scale notes: the window partitions by key only, so ONE key's full
  * history must fit a partition — the right-sized grain for conv/user keys
  * (bounded per-key history). For a pathologically hot key use
  * [[leftAsofBucketed]]: the same carry-forward over (key, time-bucket)
  * partitions with a per-bucket boundary hand-off — the bucketed-islands
  * pattern `Trigger.periods` implements (Trigger.scala:55-98).
  *
  * Right-side ties (two right rows at the same key+ts) resolve to either
  * row: pre-dedupe the right side on (key, ts) for full determinism.
  */
object AsofJoin {

  /** @param left      any schema; preserved verbatim in the output
    * @param right     must contain `keys`, `rightTs`, and `pick`
    * @param keys      equi-join key columns (present on both sides)
    * @param leftTs    left event-time column name
    * @param rightTs   right event-time column name
    * @param pick      right columns to attach (null when no match)
    * @param toleranceSec match only if left.ts - right.ts <= tolerance
    * @return left columns + `pick` columns + `asof_ts` (matched right ts)
    */
  def leftAsof(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, pick: Seq[String],
      toleranceSec: Option[Long] = None
  ): DataFrame = {
    val (tagged, rType) = tag(left, right, keys, leftTs, rightTs, pick)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = tagged
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
    project(masked(carried, rType, toleranceSec).where(col("__side") === 1), pick)
  }

  /** Both sides tagged and unioned for the carry-forward window: right
    * rows are side 0 with `__r`, left rows side 1 with the whole left row
    * in `__l`; `__ts` is the event time. Returns the union and the type of
    * `__r`.
    */
  private def tag(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, pick: Seq[String]
  ): (DataFrame, DataType) = {
    require(pick.nonEmpty, "pick at least one right column")
    val reserved = pick :+ "asof_ts"
    require(left.columns.intersect(reserved).isEmpty,
      s"left columns collide with the output: ${left.columns.intersect(reserved).mkString(", ")}")
    val leftStruct = struct(left.columns.map(col).toIndexedSeq: _*)

    // ONE struct per right row carries (asof_ts, picks...) together, so
    // every output value comes from the SAME matched right row even when
    // some pick columns are null there (a per-column ignoreNulls carry
    // would mix values across right rows)
    val rStruct = struct(col(rightTs).as("asof_ts") +: pick.map(col): _*)
    val r = right.select(
      keys.map(col) ++ Seq(
        col(rightTs).as("__ts"), lit(0).as("__side"), rStruct.as("__r")): _*)
    val rType = r.schema("__r").dataType
    val lWithR = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("__ts"), lit(1).as("__side"),
        lit(null).cast(rType).as("__r"), leftStruct.as("__l")): _*)
    val rWithL = r.withColumn("__l", lit(null).cast(lWithR.schema("__l").dataType))
      .select(lWithR.columns.map(col).toIndexedSeq: _*)
    (rWithL.unionByName(lWithR), rType)
  }

  /** Carry-forward sort: right rows BEFORE left rows at equal ts (asof <=). */
  private def order: Seq[Column] = Seq(col("__ts"), col("__side"))

  /** Null the matched `__r` when it is older than `toleranceSec`. */
  private def masked(df: DataFrame, rType: DataType, toleranceSec: Option[Long]): DataFrame =
    toleranceSec match {
      case Some(tol) =>
        val stale = col("__r").isNull ||
          (unix_micros(col("__ts").cast("timestamp")) -
            unix_micros(col("__r.asof_ts").cast("timestamp"))) > tol * 1000000L
        df.withColumn("__r", when(stale, lit(null).cast(rType)).otherwise(col("__r")))
      case None => df
    }

  /** The output: left columns + `pick` + `asof_ts`. */
  private def project(df: DataFrame, pick: Seq[String]): DataFrame =
    df.select(col("__l.*") +: (pick.map(c => col(s"__r.$c").as(c)) :+
      col("__r.asof_ts").as("asof_ts")): _*)

  /** Hot-key variant of [[leftAsof]]: identical semantics (asserted
    * equal on seeded random data in OpsSpec), but the carry-forward window
    * partitions by (key, `bucketSec` time bucket) so a single
    * pathologically hot key's history spreads across partitions instead of
    * having to fit one. The per-bucket boundary hand-off runs on the
    * BUCKET-LEVEL table (one row per (key, bucket) — bounded by
    * time-range / bucketSec, not by row count), the same islands pattern
    * as Trigger.periods (Trigger.scala:44-113):
    *
    *  1. within-bucket pass — the leftAsof union + running-last window,
    *     partitioned by (key, bucket);
    *  2. hand-off — per (key, bucket) the LATEST right struct, carried to
    *     later buckets by a window over the tiny bucket-level rows (left
    *     probes sort BEFORE right bucket-lasts at equal bucket, so a probe
    *     sees only strictly-earlier buckets);
    *  3. a left row's match = its within-bucket carry, else the hand-off
    *     from earlier buckets.
    *
    * Pick `bucketSec` so one key's rows per bucket fit a partition
    * (e.g. a day for a key logging thousands of rows per second).
    */
  def leftAsofBucketed(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, pick: Seq[String],
      bucketSec: Long,
      toleranceSec: Option[Long] = None
  ): DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    val (tagged, rType) = tag(left, right, keys, leftTs, rightTs, pick)
    val bucketUs = bucketSec * 1000000L

    val withBkt = tagged
      .withColumn("__us", unix_micros(col("__ts").cast("timestamp")))
      .withColumn("__bkt", expr(Rollup.floorDiv("__us", bucketUs)))

    // 1. within-bucket carry — the leftAsof window, bucket-partitioned
    val wIn = Window.partitionBy(keys.map(col) :+ col("__bkt"): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = withBkt
      .withColumn("__rin", last(col("__r"), ignoreNulls = true).over(wIn))

    // 2. boundary hand-off over the bucket-level rows. Latest-right ties at
    // identical ts resolve arbitrarily — same contract as leftAsof
    // (pre-dedupe the right side). The ordering is a struct, never null,
    // so a right row with a null ts still competes, as in leftAsof.
    val lastPerBucket = withBkt.where(col("__side") === 0)
      .groupBy(keys.map(col) :+ col("__bkt"): _*)
      .agg(max_by(col("__r"), struct(col("__ts"))).as("__rlast"))
      .withColumn("__bside", lit(1))
    val lBuckets = withBkt.where(col("__side") === 1)
      .select(keys.map(col) :+ col("__bkt"): _*).distinct()
      .withColumn("__rlast", lit(null).cast(rType))
      .withColumn("__bside", lit(0))
    // at equal __bkt the left probe (side 0) sorts FIRST, so its running
    // last sees only right bucket-lasts from strictly earlier buckets
    val wB = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__bkt"), col("__bside"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carryIn = lastPerBucket.unionByName(lBuckets)
      .withColumn("__rprev", last(col("__rlast"), ignoreNulls = true).over(wB))
      .where(col("__bside") === 0)
      .select(keys.map(col) ++ Seq(col("__bkt"), col("__rprev")): _*)

    // 3. combine; then the leftAsof tolerance/projection
    val combined = carried.where(col("__side") === 1)
      .join(carryIn, keys :+ "__bkt")
      .withColumn("__r", coalesce(col("__rin"), col("__rprev")))
    project(masked(combined, rType, toleranceSec), pick)
  }

  /** Linear-INTERPOLATING as-of join: for every probe timestamp, attach
    * the bracketing grid points (prev ≤ t < next, per key) and the lerp
    *
    *   value(t) = (prev_x·(next_ts − t) + next_x·(t − prev_ts)) / (next_ts − prev_ts)
    *
    * — the "read the series between samples" join ([[leftAsof]] answers
    * with the stale last value; this answers with the line through the
    * neighbors — the reference's sample-domain analog is its lanczos/
    * linear `interpolate` registry op, process.py:46-49, lifted to the
    * JOIN level). A probe exactly on a grid point returns that point's
    * value exactly; probes outside the grid span return NULL pieces.
    *
    * Exactness: `num` and `den_us` are BIGINT µs/value products — exact
    * under any partitioning; `value_r` is one double division round-6
    * (or the exact grid value when prev_ts == t). Overflow headroom:
    * |num| ≤ x_max · den_us — at a 1 h grid (den 3.6e9 µs) this caps
    * x_max ≈ 2.5e9.
    *
    * Scale shape: tag + UNION the two sides, ONE hash exchange on the
    * key, one in-partition sort; the prev carry and the next lookahead
    * are two frames over the SAME window sort (grid rows sort before
    * probes at equal ts, so `next` is strictly later — no self-match).
    * Same cost envelope as [[leftAsof]]: O((|P|+|G|) log) per partition,
    * never a range join.
    */
  def lerp(probes: DataFrame, grid: DataFrame, keys: Seq[String],
           probeTs: String, gridTs: String, valueCol: String): DataFrame = {
    val reserved = Set("prev_ts", "prev_x", "next_ts", "next_x", "num",
      "den_us", "value_r", "__side", "__ts", "__x")
    require(!(keys :+ probeTs).exists(reserved),
      s"${reserved.toSeq.sorted.mkString(", ")} are reserved names here")
    val g = grid.select(keys.map(col) :+
      col(gridTs).cast("timestamp").as("__ts") :+
      col(valueCol).cast("long").as("__x") :+ lit(0).as("__side"): _*)
    val p = probes.select(keys.map(col) :+
      col(probeTs).cast("timestamp").as("__ts") :+
      lit(null).cast("long").as("__x") :+ lit(1).as("__side"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = w.rowsBetween(0, Window.unboundedFollowing)
    val gp = struct(col("__ts"), col("__x"))
    val pieces = g.unionByName(p)
      .withColumn("__g", when(col("__side") === 0, gp))
      .withColumn("__prev", last(col("__g"), ignoreNulls = true).over(wPrev))
      .withColumn("__next", first(col("__g"), ignoreNulls = true).over(wNext))
      .where(col("__side") === 1)
    val t = unix_micros(col("__ts"))
    val pTs = unix_micros(col("__prev.__ts"))
    val nTs = unix_micros(col("__next.__ts"))
    val pX = col("__prev.__x")
    val nX = col("__next.__x")
    pieces.select(keys.map(col) ++ Seq(
      col("__ts").as(probeTs),
      col("__prev.__ts").as("prev_ts"), pX.as("prev_x"),
      col("__next.__ts").as("next_ts"), nX.as("next_x"),
      when(pTs.isNotNull && nTs.isNotNull,
        pX * (nTs - t) + nX * (t - pTs)).as("num"),
      when(pTs.isNotNull && nTs.isNotNull, nTs - pTs).as("den_us"),
      when(pTs === t, round(pX.cast("double"), 6))
        .when(pTs.isNotNull && nTs.isNotNull,
          round((pX * (nTs - t) + nX * (t - pTs)) /
            (nTs - pTs).cast("double"), 6)).as("value_r")): _*)
  }
}
