package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Rollup
import graft.Queries.{Q, ev, ntz}
import graft.queries.OracleSql.madFlagsSql

/** Rollup tiers and per-key series statistics over the events table
  * ([[graft.ops.Rollup]]: gap-fill, tier folds, Gorilla chunks, LTTB/M4,
  * retention, the streaming cascade fold and tier serving;
  * [[graft.ops.SeriesStats]]; the coincidence trigger and the
  * interpolating as-of join over the hourly series).
  */
private[graft] trait SeriesQueries {

  val q10 = Q("q10_rollup_1m",
    (s, d) => ev(s, d)
      .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("chunk_start"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 6).as("sum_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        min_by(col("value"), col("ts")).as("first_v"),
        max_by(col("value"), col("ts")).as("last_v")
      ).transform(d => ntz(d, "chunk_start")),
    Some("""SELECT user_id, date_trunc('minute', ts) AS chunk_start, count(*) AS n,
           | round(sum(value), 6) AS sum_v, min(value) AS min_v, max(value) AS max_v,
           | min_by(value, ts) AS first_v, max_by(value, ts) AS last_v
           |FROM events GROUP BY 1, 2""".stripMargin))

  val q11 = Q("q11_rollup_compose_1h",
    (s, d) => {
      // hierarchical: 1h tier folded FROM the 1m tier (tests composition);
      // the oracle aggregates the raw events directly — equal iff the tiers
      // compose exactly
      val m1 = ev(s, d).select(col("user_id").cast("string").as("conv_id"),
          lit("value").as("metric"), col("ts"), col("value"))
      val tier1m = Rollup.fromPoints(m1, "minute")
      Rollup.fromLower(tier1m, "hour")
        .select(col("conv_id").cast("long").as("user_id"), col("chunk_start"),
          col("n"), round(col("sum"), 6).as("sum_v"), col("min").as("min_v"), col("max").as("max_v"))
        .transform(d => ntz(d, "chunk_start"))
    },
    Some("""SELECT user_id, date_trunc('hour', ts) AS chunk_start, count(*) AS n,
           | round(sum(value), 6) AS sum_v, min(value) AS min_v, max(value) AS max_v
           |FROM events GROUP BY 1, 2""".stripMargin))

  val q12 = Q("q12_gapfill_1h",
    (s, d) => {
      val b = ev(s, d).groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      val spans = b.groupBy(col("user_id")).agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = spans.select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("ts"))
      grid.join(b, grid("user_id") === b("user_id") && grid("ts") === b("h"), "left")
        .select(grid("user_id"), grid("ts"), coalesce(col("c"), lit(0L)).as("n_events"))
        .transform(d => ntz(d, "ts"))
    },
    Some("""WITH b AS (SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS c
           |  FROM events GROUP BY 1, 2),
           |s AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM b GROUP BY 1),
           |g AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS ts FROM s)
           |SELECT g.user_id, g.ts, coalesce(b.c, 0) AS n_events
           |FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.ts = b.h""".stripMargin))

  val q15 = Q("q15_trigger_islands",
    (s, d) => {
      // coincidence trigger (gaps-and-islands) through the engine operator:
      // hours where >= 3 distinct users exceed the threshold; islands of
      // consecutive hours; drop islands shorter than 3 (reference drops
      // periods < 3*step, reference xcorr/signal/trigger.py:96-99).
      // bucketSteps is small on purpose so the scale-safe bucketed-islands
      // + boundary-stitch path is what the oracle checks.
      val cf = ev(s, d).select(col("user_id").as("key"),
        date_trunc("hour", col("ts")).as("time"), col("value"))
      graft.ops.Trigger.periods(cf, thrOn = 100, coincidence = 3,
          stepSec = 3600, minDurationSteps = 3, bucketSteps = 64)
        .select(col("period_start").as("island_start"),
          col("period_end").as("island_end"), col("n_steps").as("n_hours"))
        .transform(d => ntz(d, "island_start", "island_end"))
    },
    Some("""WITH a AS (SELECT date_trunc('hour', ts) AS m, count(DISTINCT user_id) AS n_active
           |  FROM events WHERE value > 100 GROUP BY 1 HAVING count(DISTINCT user_id) >= 3),
           |g AS (SELECT m, epoch_us(m) // 3600000000 - row_number() OVER (ORDER BY m) AS grp FROM a)
           |SELECT min(m) AS island_start, max(m) AS island_end, count(*) AS n_hours
           |FROM g GROUP BY grp HAVING count(*) >= 3""".stripMargin))

  val q22 = Q("q22_gorilla_roundtrip",
    (s, d) => {
      // events → per-(user, day) delta-of-delta+Gorilla chunk blobs → decode
      // → original points; oracle is the identity query, so the DuckDB
      // compare proves the codec loses nothing on real data
      val pts = ev(s, d).select(col("user_id").cast("string").as("conv_id"),
        lit("value").as("metric"), col("ts"), col("value"))
      val chunks = Rollup.toChunks(pts, "day")
      Rollup.fromChunks(chunks)
        .select(col("conv_id").cast("long").as("user_id"), col("ts"), col("value"))
        .transform(d => ntz(d, "ts"))
    },
    Some("SELECT user_id, ts, value FROM events"))

  val q23 = Q("q23_lttb_downsample",
    (s, d) => {
      val pts = ev(s, d).select(col("user_id").cast("string").as("conv_id"),
        lit("value").as("metric"), col("ts"), col("value"))
      Rollup.lttbTier(pts, 50)
        .select(col("conv_id").cast("long").as("user_id"), col("ts"), col("value"))
        .transform(d => ntz(d, "ts"))
    },
    // LTTB as a HARD oracle via a recursive CTE: bucket boundaries and the
    // next-bucket centroids are selection-INDEPENDENT (precomputed in `bk`/
    // `bkavg` with left-fold list_sum matching the kernel's ascending
    // accumulation), so only the 48-step argmax chain is sequential — the
    // recursive term advances every user one bucket per iteration, with
    // row_number(area DESC, i ASC) reproducing the kernel's first-strict-max
    // tie-break exactly (identical IEEE expression tree on both sides — no
    // FFT noise here, unlike q57). Engine runs the hierarchical two-stage
    // tier; stage 1 (per-day chunks) is the algorithm's own n <= threshold
    // identity branch at every test-data SF (max 11 points/chunk vs 50), which
    // the `guard` CTE enforces: any over-threshold chunk empties the oracle
    // and fails the gate LOUDLY instead of silently diverging.
    Some("""WITH RECURSIVE
           |pts AS (
           |  SELECT user_id,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts, value) - 1 AS i,
           |    CAST(epoch_us(ts) AS DOUBLE) AS x, value AS y, ts, value AS v
           |  FROM events),
           |guard AS (SELECT max(c) AS m FROM (
           |  SELECT count(*) AS c FROM events GROUP BY user_id, date_trunc('day', ts)) t),
           |nn AS (SELECT user_id, count(*) AS n FROM pts GROUP BY 1),
           |big AS (SELECT user_id, n, (n - 2) / CAST(48 AS DOUBLE) AS bs FROM nn WHERE n > 50),
           |bk AS (
           |  SELECT b.user_id, g.i,
           |    CAST(trunc(g.i * b.bs) AS INT) + 1 AS b_start,
           |    least(CAST(trunc((g.i + 1) * b.bs) AS INT) + 1, b.n - 1) AS b_end,
           |    least(CAST(trunc((g.i + 1) * b.bs) AS INT) + 1, b.n - 1) AS c_start,
           |    least(CAST(trunc((g.i + 2) * b.bs) AS INT) + 1, b.n) AS c_end
           |  FROM big b CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS i) g),
           |bkavg AS (
           |  SELECT bk.user_id, bk.i, bk.b_start, bk.b_end,
           |    list_sum(list(p.x ORDER BY p.i)) / (bk.c_end - bk.c_start) AS avg_x,
           |    list_sum(list(p.y ORDER BY p.i)) / (bk.c_end - bk.c_start) AS avg_y
           |  FROM bk JOIN pts p ON p.user_id = bk.user_id AND p.i >= bk.c_start AND p.i < bk.c_end
           |  GROUP BY 1, 2, 3, 4, bk.c_end, bk.c_start),
           |st(user_id, i, a) AS (
           |  SELECT user_id, 0, 0 FROM big
           |  UNION ALL
           |  SELECT user_id, i, a FROM (
           |    SELECT s.user_id, s.i + 1 AS i, p.i AS a,
           |      row_number() OVER (PARTITION BY s.user_id, s.i ORDER BY
           |        abs((pa.x - k.avg_x) * (p.y - pa.y) - (pa.x - p.x) * (k.avg_y - pa.y)) DESC,
           |        p.i ASC) AS rk
           |    FROM st s
           |    JOIN bkavg k ON k.user_id = s.user_id AND k.i = s.i
           |    JOIN pts pa ON pa.user_id = s.user_id AND pa.i = s.a
           |    JOIN pts p ON p.user_id = s.user_id AND p.i >= k.b_start AND p.i < k.b_end
           |    WHERE s.i < 48) q
           |  WHERE rk = 1),
           |sel AS (
           |  SELECT user_id, a AS i FROM st WHERE i >= 1
           |  UNION ALL SELECT user_id, 0 FROM big
           |  UNION ALL SELECT user_id, n - 1 FROM big),
           |keep AS (
           |  SELECT p.user_id, p.ts, p.v AS value FROM sel JOIN pts p USING (user_id, i)
           |  UNION ALL
           |  SELECT p.user_id, p.ts, p.v FROM pts p JOIN nn USING (user_id) WHERE nn.n <= 50)
           |SELECT user_id, ts, value FROM keep WHERE (SELECT m FROM guard) <= 50""".stripMargin))

  val q51 = Q("q51_rollup_pipeline",
    (s, d) => {
      // the full 1m → 1h → 1d continuous-aggregate cascade over a STORED
      // table, so the DuckDB oracle can hard-check tier
      // composition end-to-end (the oracle aggregates the raw events
      // directly; equal iff all three tier folds compose exactly —
      // the synthetic-transcript variant of this path stays golden-tested
      // in PipelineSpec and measured in Bench)
      val pts = ev(s, d).select(col("user_id").cast("string").as("conv_id"),
        lit("value").as("metric"), col("ts"), col("value"))
      val (_, _, d1) = Rollup.cascade(pts)
      d1.select(col("conv_id").cast("long").as("user_id"), col("chunk_start"),
          col("n"), round(col("sum"), 6).as("sum_v"), col("min").as("min_v"),
          col("max").as("max_v"), col("first").as("first_v"), col("last").as("last_v"))
        .transform(x => ntz(x, "chunk_start"))
    },
    Some("""SELECT user_id, date_trunc('day', ts) AS chunk_start, count(*) AS n,
           | round(sum(value), 6) AS sum_v, min(value) AS min_v, max(value) AS max_v,
           | min_by(value, ts) AS first_v, max_by(value, ts) AS last_v
           |FROM events GROUP BY 1, 2""".stripMargin))

  val q70 = Q("q70_retention_tiered",
    (s, d) => {
      // retention ENFORCEMENT under the oracle hash gate: build
      // day-partitioned 1m/1h tiers from the stored events table, EXPIRE
      // every sealed 1m day older than the newest (per-day point-count
      // seal), answer from the surviving tiers via tieredRead, aggregate
      // back to day grain WITH the serving-tier label. The oracle
      // aggregates raw events directly and derives the label from the
      // documented policy (old days -> tier_1h, newest -> tier_1m): equal
      // iff the tier folds compose exactly AND expiry routed each day to
      // exactly the tier the policy says. Numerics identical to q51's
      // cascade path (sum round(6), min/max/n/first/last exact).
      import graft.jobs.RetentionJob
      val store = s"/tmp/graft-q70-store-${Integer.toHexString(d.hashCode)}"
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      val pts = ev(s, d).select(col("user_id").cast("string").as("conv_id"),
        lit("value").as("metric"), col("ts"), col("value"))
      val (m1, h1, _) = Rollup.cascade(pts)
      RetentionJob.writeTier(m1, s"$store/tier_1m")
      RetentionJob.writeTier(h1, s"$store/tier_1h")
      val days = RetentionJob.partitionDays(s, s"$store/tier_1m")
      val st = RetentionJob.expire(s, store, olderThan = days.last)
      require(st.uncovered.isEmpty && st.expired.sorted == days.init.sorted,
        s"q70 expiry must drop exactly the sealed days ${days.init}, got $st")
      RetentionJob.tieredRead(s, store, Seq("tier_1m", "tier_1h"))
        .groupBy(col("conv_id").cast("long").as("user_id"),
          col("day").cast("timestamp_ntz").as("day"), col("tier"))
        .agg(sum(col("n")).as("n"), round(sum(col("sum")), 6).as("sum_v"),
          min(col("min")).as("min_v"), max(col("max")).as("max_v"),
          min_by(col("first"), col("chunk_start")).as("first_v"),
          max_by(col("last"), col("chunk_start")).as("last_v"))
    },
    Some("""WITH mx AS (SELECT max(date_trunc('day', ts)) AS md FROM events)
           |SELECT user_id, date_trunc('day', ts) AS day,
           |  CASE WHEN date_trunc('day', ts) < (SELECT md FROM mx)
           |    THEN 'tier_1h' ELSE 'tier_1m' END AS tier,
           |  count(*) AS n, round(sum(value), 6) AS sum_v,
           |  min(value) AS min_v, max(value) AS max_v,
           |  min_by(value, ts) AS first_v, max_by(value, ts) AS last_v
           |FROM events GROUP BY 1, 2, 3""".stripMargin))

  val q72 = Q("q72_streaming_rollup_1h",
    (s, d) => {
      // the LIVE Structured Streaming cascade fold under the oracle hash
      // gate: stage the sealed 1m tier as a parquet stream source, run
      // StreamingRollup.fromSealed(hour) as a REAL streaming query
      // (append after watermark close, checkpointed, AvailableNow), read
      // the sink back. Identical semantics to q11's batch Rollup.fromLower
      // -> REUSES q11's oracle SQL verbatim (q63/q27 same-oracle
      // precedent): equal iff the streaming fold seals every 1h cell
      // exactly as the batch fold composes it. Append mode emits only
      // windows the watermark CLOSED, so one sentinel sealed cell 2h past
      // the real horizon (filtered back out) pushes the global watermark
      // over every real window end before the trigger drains.
      import org.apache.spark.sql.streaming.Trigger
      val base = s"/tmp/graft-q72-${Integer.toHexString(d.hashCode)}"
      val bp = new org.apache.hadoop.fs.Path(base)
      bp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(bp, true)
      val m1 = ev(s, d).select(col("user_id").cast("string").as("conv_id"),
        lit("value").as("metric"), col("ts"), col("value"))
      val tier1m = Rollup.fromPoints(m1, "minute")
      val sentinel = tier1m
        .agg((max(col("chunk_start")) + expr("INTERVAL 2 HOURS")).as("chunk_start"))
        .select(lit("__wm__").as("conv_id"), lit("value").as("metric"),
          col("chunk_start"), lit(1L).as("n"), lit(0.0).as("sum"),
          lit(0.0).as("min"), lit(0.0).as("max"), lit(0.0).as("first"),
          lit(0.0).as("last"))
      tier1m.unionByName(sentinel).write.parquet(s"$base/in_1m")
      val q = graft.streaming.StreamingRollup.fromSealed(
        s.readStream.schema(s.read.parquet(s"$base/in_1m").schema)
          .parquet(s"$base/in_1m"), "hour")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out_1h")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out_1h")
        .where(col("conv_id") =!= "__wm__")
        .select(col("conv_id").cast("long").as("user_id"), col("chunk_start"),
          col("n"), round(col("sum"), 6).as("sum_v"),
          col("min").as("min_v"), col("max").as("max_v"))
        .transform(x => ntz(x, "chunk_start"))
    },
    q11.oracle)

  /** Shared input for q100/q102: the per-event_type 1-minute count series,
    * gap-filled to a regular grid (the q12 pattern at minute resolution) —
    * the precondition [[graft.ops.SeriesStats]] documents for lead(k) to
    * mean exactly k grid steps.
    */
  private def minuteCountSeries(s: SparkSession, d: String): DataFrame = {
    val b = ev(s, d).groupBy(col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .agg(count(lit(1)).as("c"))
    val spans = b.groupBy(col("event_type")).agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
    val grid = spans.select(col("event_type"),
      explode(expr("sequence(m0, m1, interval 1 minute)")).as("ts"))
    grid.join(b, grid("event_type") === b("event_type") && grid("ts") === b("m"), "left")
      .select(grid("event_type"), grid("ts"), coalesce(col("c"), lit(0L)).as("x"))
  }

  private val minuteSeriesDuck =
    raw"""b AS (SELECT event_type, date_trunc('minute', ts) AS m, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT event_type, min(m) AS m0, max(m) AS m1 FROM b GROUP BY 1),
         |g AS (SELECT event_type, unnest(generate_series(m0, m1, INTERVAL 1 MINUTE)) AS ts FROM s),
         |f AS (SELECT g.event_type, g.ts, CAST(coalesce(b.c, 0) AS BIGINT) AS x
         |  FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.ts = b.m)""".stripMargin

  val q100 = Q("q100_acf",
    // per-key autocorrelation at lags 1..5 over the gap-filled 1-minute
    // count series (graft.ops.SeriesStats.acf) — the series-vs-itself
    // analog of the reference's pairwise CC (signal/correlate.py:17-101).
    // All Pearson partials are exact integer sums (hash-stable under any
    // partitioning); acf itself is ONE double expression over those
    // integers, round-9. The oracle replays the pairing with explicit
    // lead(1..5) windows on the identical filled grid (a lag self-join
    // is quadratic in DuckDB — no equi-key on time).
    (s, d) => graft.ops.SeriesStats.acf(
      minuteCountSeries(s, d), Seq("event_type"), "ts", "x", maxLag = 5),
    Some(raw"""WITH $minuteSeriesDuck,
              |p0 AS (SELECT event_type, x,
              |    lead(x, 1) OVER w AS y1, lead(x, 2) OVER w AS y2,
              |    lead(x, 3) OVER w AS y3, lead(x, 4) OVER w AS y4,
              |    lead(x, 5) OVER w AS y5
              |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
              |u AS (SELECT event_type, 1 AS lag, x, y1 AS y FROM p0 UNION ALL
              |  SELECT event_type, 2, x, y2 FROM p0 UNION ALL
              |  SELECT event_type, 3, x, y3 FROM p0 UNION ALL
              |  SELECT event_type, 4, x, y4 FROM p0 UNION ALL
              |  SELECT event_type, 5, x, y5 FROM p0),
              |p AS (SELECT event_type, CAST(lag AS INTEGER) AS lag, x, y
              |  FROM u WHERE y IS NOT NULL),
              |a AS (SELECT event_type, lag, count(*) AS n_pairs,
              |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              |  CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
              |  CAST(sum(y*y) AS BIGINT) AS syy FROM p GROUP BY 1, 2)
              |SELECT event_type, lag, n_pairs, sx, sy, sxy, sxx, syy,
              |  CASE WHEN sqrt(CAST(n_pairs*sxx - sx*sx AS DOUBLE) * CAST(n_pairs*syy - sy*sy AS DOUBLE)) = 0
              |    THEN NULL
              |    ELSE round(CAST(n_pairs*sxy - sx*sy AS DOUBLE)
              |      / sqrt(CAST(n_pairs*sxx - sx*sx AS DOUBLE) * CAST(n_pairs*syy - sy*sy AS DOUBLE)), 9) END AS acf
              |FROM a""".stripMargin))

  val q101 = Q("q101_transitions",
    // first-order state-transition matrix over per-user event sequences
    // (graft.ops.SeriesStats.transitions): counts are exact integers; the
    // row-normalized p is one integer division, round-9. event_id is the
    // unique tiebreaker so the per-user sequence is total (q13 precedent).
    (s, d) => graft.ops.SeriesStats.transitions(
      ev(s, d), "user_id", "ts", "event_type", tieCols = Seq("event_id")),
    Some("""WITH s AS (SELECT user_id, event_type AS from_state,
           |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
           |  FROM events WHERE user_id IS NOT NULL)
           |SELECT from_state, to_state, count(*) AS n_trans,
           |  round(CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER (PARTITION BY from_state) AS DOUBLE), 9) AS p
           |FROM s WHERE to_state IS NOT NULL GROUP BY 1, 2""".stripMargin))

  val q102 = Q("q102_mad_anomaly",
    // rolling-median/MAD anomaly flags over the gap-filled minute series
    // (graft.ops.SeriesStats.rollingMadAnomaly, ±2-row window, k=3).
    // Entirely in the exact integer domain — med2 = 2*median,
    // mad4 = 4*MAD, flag = 2*|2x - med2| > k*mad4 — so the output hashes
    // identically under any partitioning and any engine (no float
    // median/quantile semantics to reconcile).
    (s, d) => ntz(graft.ops.SeriesStats.rollingMadAnomaly(
      minuteCountSeries(s, d), Seq("event_type"), "ts", "x", halfWin = 2, k = 3), "ts"),
    Some(s"WITH $minuteSeriesDuck,\n${madFlagsSql("2 PRECEDING AND 2 FOLLOWING")}"))

  val q104 = Q("q104_trailing_mad",
    // trailing-window MAD flags (graft.ops.SeriesStats.trailingMadAnomaly,
    // last-4-rows window, k=3): q102's exact integer surface with a
    // past-only frame, so every flag is final on arrival — the batch
    // definition the StreamingAnomaly live face is spec-equal to.
    (s, d) => ntz(graft.ops.SeriesStats.trailingMadAnomaly(
      minuteCountSeries(s, d), Seq("event_type"), "ts", "x", win = 4, k = 3), "ts"),
    Some(s"WITH $minuteSeriesDuck,\n${madFlagsSql("3 PRECEDING AND CURRENT ROW")}"))

  val q108 = Q("q108_m4_downsample",
    // M4 pixel-bucket downsampling (graft.ops.Rollup.m4, VLDB'14) over
    // the gap-filled minute series: 256 buckets per event_type, each
    // keeping {min, max, first, last, n} — the error-free line-chart
    // reduction, LTTB's deterministic sibling (q23). Bucket index is pure
    // BIGINT µs arithmetic; all stats are integer extrema / arg-extrema
    // on the unique grid ts, so the table is hash-exact by construction.
    (s, d) => ntz(graft.ops.Rollup.m4(
      minuteCountSeries(s, d), Seq("event_type"), "ts", "x", width = 256), "ts_first"),
    Some(raw"""WITH $minuteSeriesDuck,
              |sp AS (SELECT event_type, min(epoch_us(ts)) AS t0u, max(epoch_us(ts)) AS t1u
              |  FROM f GROUP BY 1),
              |bk AS (SELECT f.event_type,
              |    ((epoch_us(f.ts) - sp.t0u) * 256) // (sp.t1u - sp.t0u + 1) AS bucket,
              |    f.ts, f.x
              |  FROM f JOIN sp ON f.event_type = sp.event_type)
              |SELECT event_type, bucket, count(*) AS n, min(x) AS x_min, max(x) AS x_max,
              |  arg_min(x, ts) AS x_first, arg_max(x, ts) AS x_last, min(ts) AS ts_first
              |FROM bk GROUP BY 1, 2""".stripMargin))

  /** q111's input: the q12-pattern count series at HOUR resolution (720
    * grid steps over the 30-day span — the recursion depth the oracle's
    * recursive CTE replays).
    */
  private def hourCountSeries(s: SparkSession, d: String): DataFrame = {
    val b = ev(s, d).groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val spans = b.groupBy(col("event_type")).agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = spans.select(col("event_type"),
      explode(expr("sequence(h0, h1, interval 1 hour)")).as("ts"))
    grid.join(b, grid("event_type") === b("event_type") && grid("ts") === b("h"), "left")
      .select(grid("event_type"), grid("ts"), coalesce(col("c"), lit(0L)).as("x"))
  }

  private val hourSeriesDuck =
    raw"""b AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM b GROUP BY 1),
         |g AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS ts FROM s),
         |f AS (SELECT g.event_type, g.ts, CAST(coalesce(b.c, 0) AS BIGINT) AS x
         |  FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.ts = b.h)""".stripMargin

  val q111 = Q("q111_ewma_hourly",
    // α=1/2 EWMA smoothing (graft.ops.SeriesStats.ewma) over the hourly
    // count series: sₜ = (xₜ + sₜ₋₁)/2 — halving is exact in binary, so
    // the per-key recursion (typed flatMapSortedGroups, O(1) state) is
    // bit-identical to the oracle's recursive CTE evaluating the same
    // IEEE ops in the same series order. No rounding anywhere.
    (s, d) => graft.ops.SeriesStats.ewma(
      hourCountSeries(s, d), "event_type", "ts", "x"),
    Some(raw"""WITH RECURSIVE $hourSeriesDuck,
              |fi AS (SELECT event_type, ts, x,
              |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts) AS BIGINT) AS idx
              |  FROM f),
              |r AS (SELECT event_type, ts, idx, x, CAST(x AS DOUBLE) AS ewma
              |    FROM fi WHERE idx = 1
              |  UNION ALL
              |  SELECT fi.event_type, fi.ts, fi.idx, fi.x,
              |    (CAST(fi.x AS DOUBLE) + r.ewma) / 2
              |  FROM fi JOIN r ON fi.event_type = r.event_type AND fi.idx = r.idx + 1)
              |SELECT event_type, ts, x, ewma FROM r""".stripMargin))

  val q113 = Q("q113_cusum",
    // two-sided CUSUM changepoint detection (graft.ops.SeriesStats.cusum,
    // Page 1954) over the hourly count series: sp/sn accumulate deviations
    // beyond slack k=1 from the per-key integer mean, alarm above h=30.
    // EVERY quantity is a BIGINT (mu = sum div n is floor division of
    // non-negative counts) — the recursion is exact, no IEEE anywhere, so
    // the oracle's recursive CTE replays it bit-for-bit (q111's discipline
    // without even the float determinism argument).
    (s, d) => graft.ops.SeriesStats.cusum(
      hourCountSeries(s, d), "event_type", "ts", "x", k = 1L, h = 30L),
    Some(raw"""WITH RECURSIVE $hourSeriesDuck,
              |m AS (SELECT event_type, CAST(sum(x) // count(*) AS BIGINT) AS mu
              |  FROM f GROUP BY 1),
              |fi AS (SELECT f.event_type, f.ts, f.x, m.mu,
              |    CAST(row_number() OVER (PARTITION BY f.event_type ORDER BY f.ts) AS BIGINT) AS idx
              |  FROM f JOIN m USING (event_type)),
              |r AS (SELECT event_type, ts, idx, x, mu,
              |    greatest(0, x - mu - 1) AS sp, greatest(0, mu - x - 1) AS sn
              |    FROM fi WHERE idx = 1
              |  UNION ALL
              |  SELECT fi.event_type, fi.ts, fi.idx, fi.x, fi.mu,
              |    greatest(0, r.sp + fi.x - fi.mu - 1),
              |    greatest(0, r.sn + fi.mu - fi.x - 1)
              |  FROM fi JOIN r ON fi.event_type = r.event_type AND fi.idx = r.idx + 1)
              |SELECT event_type, ts, x, mu, sp AS cusum_pos, sn AS cusum_neg,
              |  (sp > 30 OR sn > 30) AS is_shift FROM r""".stripMargin))

  val q119 = Q("q119_viz_serve",
    // resolution-aware tier serving (graft.ops.Rollup.pickTierStep/serve):
    // three dashboard requests over the same cascade, each resolving to a
    // different tier — 2h/200pt -> 1m cells, 5d/200pt -> 1h, 28d/100pt ->
    // 1d. The tier choice is pure integer arithmetic on request constants
    // (ceil(span/step) <= maxPoints, finest wins), so the oracle hard-codes
    // each request's step and aggregates raw events at that grain — equal
    // iff BOTH the picker arithmetic and the tier composition are right.
    // Sums are round-6 (reordering); first/last omitted (duplicate raw ts
    // within a cell would make min_by ties engine-dependent).
    (s, d) => {
      val pts = ev(s, d).select(col("event_type").as("conv_id"),
        lit("value").as("metric"), col("ts"), col("value"))
      val (m1, h1, d1) = Rollup.cascade(pts)
      val tiers = Map(60L -> m1, 3600L -> h1, 86400L -> d1)
      def req(id: Int, t0: String, t1: String, mp: Long) =
        Rollup.serve(tiers, java.sql.Timestamp.valueOf(t0),
            java.sql.Timestamp.valueOf(t1), mp)
          .select(lit(id).as("req_id"), col("step_sec"),
            col("conv_id").as("event_type"), col("chunk_start"),
            col("n"), round(col("sum"), 6).as("sum_v"),
            col("min").as("min_v"), col("max").as("max_v"))
      req(1, "2024-01-02 00:00:00", "2024-01-02 02:00:00", 200L)
        .unionAll(req(2, "2024-01-05 00:00:00", "2024-01-10 00:00:00", 200L))
        .unionAll(req(3, "2024-01-01 00:00:00", "2024-01-29 00:00:00", 100L))
        .transform(x => ntz(x, "chunk_start"))
    },
    Some("""SELECT 1 AS req_id, CAST(60 AS BIGINT) AS step_sec, event_type,
           |  date_trunc('minute', ts) AS chunk_start, count(*) AS n,
           |  round(sum(value), 6) AS sum_v, min(value) AS min_v, max(value) AS max_v
           |FROM events
           |WHERE date_trunc('minute', ts) >= TIMESTAMP '2024-01-02 00:00:00'
           |  AND date_trunc('minute', ts) < TIMESTAMP '2024-01-02 02:00:00'
           |GROUP BY 3, 4
           |UNION ALL
           |SELECT 2, CAST(3600 AS BIGINT), event_type,
           |  date_trunc('hour', ts), count(*),
           |  round(sum(value), 6), min(value), max(value)
           |FROM events
           |WHERE date_trunc('hour', ts) >= TIMESTAMP '2024-01-05 00:00:00'
           |  AND date_trunc('hour', ts) < TIMESTAMP '2024-01-10 00:00:00'
           |GROUP BY 3, 4
           |UNION ALL
           |SELECT 3, CAST(86400 AS BIGINT), event_type,
           |  date_trunc('day', ts), count(*),
           |  round(sum(value), 6), min(value), max(value)
           |FROM events
           |WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-01 00:00:00'
           |  AND date_trunc('day', ts) < TIMESTAMP '2024-01-29 00:00:00'
           |GROUP BY 3, 4""".stripMargin))

  val q120 = Q("q120_seasonal_decompose",
    // classical seasonal decomposition (graft.ops.SeriesStats
    // .seasonalDecompose — the statsmodels moving-average method) of the
    // hourly count series with a daily season: trend = centered 2×MA(24)
    // carried as the exact BIGINT t2 (= 48·trend), detrended det = 48x−t2,
    // seasonal = per-(key, hour-of-day) mean of det as the exact pair
    // (s_sum, s_n), remainder numerator det·s_n − s_sum — every integer
    // exact under any partitioning, the three readable doubles are single
    // divisions round-6. Interior rows only (full ±12 window).
    (s, d) => ntz(graft.ops.SeriesStats.seasonalDecompose(
      hourCountSeries(s, d), "event_type", "ts", "x",
      period = 24, stepSec = 3600L), "ts"),
    Some(raw"""WITH $hourSeriesDuck,
              |wf AS (SELECT event_type, ts, x,
              |    count(*) OVER w25 AS n_win,
              |    CAST(sum(x) OVER w25 + sum(x) OVER w23 AS BIGINT) AS t2
              |  FROM f
              |  WINDOW w25 AS (PARTITION BY event_type ORDER BY ts
              |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
              |    w23 AS (PARTITION BY event_type ORDER BY ts
              |      ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)),
              |i AS (SELECT event_type, ts, x, t2, 48*x - t2 AS det,
              |    CAST(EXTRACT(hour FROM ts) AS INTEGER) AS phase
              |  FROM wf WHERE n_win = 25),
              |p AS (SELECT event_type, phase,
              |    CAST(sum(det) AS BIGINT) AS s_sum, count(*) AS s_n
              |  FROM i GROUP BY 1, 2)
              |SELECT i.event_type, i.ts, i.x, i.phase, i.t2, i.det,
              |  p.s_sum, p.s_n,
              |  round(i.t2 / 48.0, 6) AS trend_r,
              |  round(p.s_sum / (p.s_n * 48.0), 6) AS seasonal_r,
              |  round((i.det * p.s_n - p.s_sum) / (p.s_n * 48.0), 6) AS resid_r
              |FROM i JOIN p ON i.event_type = p.event_type
              |  AND i.phase = p.phase""".stripMargin))

  val q121 = Q("q121_lagged_corr",
    // lead/lag Pearson sweep between every pair of hourly event-type
    // series (graft.ops.SeriesStats.laggedCorr): for each unordered pair
    // and lag L ∈ [-2, 2] hours, the correlation of (x_a(t), x_b(t+L))
    // over the overlap. Sufficient statistics and Pearson numerators/
    // denominators are exact BIGINTs under any partitioning; corr_r is
    // one double expression (sqrt is correctly rounded per IEEE),
    // round-6, NULL on constant series. One shifted-ts equi-join shuffle
    // + a map-side-combined (pair × lag)-row aggregate.
    (s, d) => graft.ops.SeriesStats.laggedCorr(
      hourCountSeries(s, d), "event_type", "ts", "x",
      maxLag = 2, stepSec = 3600L),
    Some(raw"""WITH $hourSeriesDuck,
              |l AS (SELECT unnest(range(-2, 3)) AS lg),
              |gg AS (SELECT a.event_type AS key_a, b.event_type AS key_b,
              |    CAST(l.lg AS INTEGER) AS "lag", count(*) AS n,
              |    CAST(sum(a.x) AS BIGINT) AS sa, CAST(sum(b.x) AS BIGINT) AS sb,
              |    CAST(sum(a.x * a.x) AS BIGINT) AS saa,
              |    CAST(sum(b.x * b.x) AS BIGINT) AS sbb,
              |    CAST(sum(a.x * b.x) AS BIGINT) AS sab
              |  FROM f a, l, f b
              |  WHERE b.ts = a.ts + l.lg * INTERVAL 1 HOUR
              |    AND a.event_type < b.event_type
              |  GROUP BY 1, 2, 3)
              |SELECT key_a, key_b, "lag", n, sa, sb, saa, sbb, sab,
              |  n*sab - sa*sb AS num, n*saa - sa*sa AS dena,
              |  n*sbb - sb*sb AS denb,
              |  CASE WHEN n*saa - sa*sa > 0 AND n*sbb - sb*sb > 0
              |    THEN round((n*sab - sa*sb) / sqrt(
              |      CAST(n*saa - sa*sa AS DOUBLE) * CAST(n*sbb - sb*sb AS DOUBLE)), 6)
              |  END AS corr_r
              |FROM gg""".stripMargin))

  val q122 = Q("q122_daily_trend",
    // per-(event_type, day) OLS trend of the hourly series on the
    // hour-of-day regressor (graft.ops.SeriesStats.dailyTrend): exact
    // BIGINT normal-equation pieces, slope/intercept numerators and the
    // shared denominator, round-6 readable slope_r/icept_r (NULL when
    // den = 0). One map-side-combined groupBy — no window, no join.
    (s, d) => ntz(graft.ops.SeriesStats.dailyTrend(
      hourCountSeries(s, d), "event_type", "ts", "x"), "day"),
    Some(raw"""WITH $hourSeriesDuck,
              |gg AS (SELECT event_type, date_trunc('day', ts) AS day,
              |    count(*) AS n,
              |    CAST(sum(EXTRACT(hour FROM ts)) AS BIGINT) AS st,
              |    CAST(sum(x) AS BIGINT) AS sx,
              |    CAST(sum(EXTRACT(hour FROM ts) * EXTRACT(hour FROM ts)) AS BIGINT) AS stt,
              |    CAST(sum(EXTRACT(hour FROM ts) * x) AS BIGINT) AS stx
              |  FROM f GROUP BY 1, 2)
              |SELECT event_type, day, n, st, sx, stt, stx,
              |  n*stt - st*st AS den,
              |  n*stx - st*sx AS slope_num,
              |  sx*stt - st*stx AS icept_num,
              |  CASE WHEN n*stt - st*st != 0 THEN
              |    round((n*stx - st*sx) / CAST(n*stt - st*st AS DOUBLE), 6) END AS slope_r,
              |  CASE WHEN n*stt - st*st != 0 THEN
              |    round((sx*stt - st*stx) / CAST(n*stt - st*st AS DOUBLE), 6) END AS icept_r
              |FROM gg""".stripMargin))

  val q124 = Q("q124_holt",
    // Holt's linear smoothing (graft.ops.SeriesStats.holt, α = β = 1/2)
    // over the hourly count series: level l = (x + (l' + b'))/2, trend
    // b = ((l − l') + b')/2, forecast = l + b. The per-key recursion is a
    // fixed sequence of IEEE double ops in series order — bit-identical
    // to the oracle's recursive CTE replaying the same expressions (the
    // q111 EWMA discipline; the oracle recomputes the level expression
    // inside the trend term — same ops, same value). No rounding.
    (s, d) => graft.ops.SeriesStats.holt(
      hourCountSeries(s, d), "event_type", "ts", "x"),
    Some(raw"""WITH RECURSIVE $hourSeriesDuck,
              |fi AS (SELECT event_type, ts, x,
              |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts) AS BIGINT) AS idx
              |  FROM f),
              |r AS (SELECT event_type, ts, idx, x,
              |    CAST(x AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend
              |    FROM fi WHERE idx = 1
              |  UNION ALL
              |  SELECT fi.event_type, fi.ts, fi.idx, fi.x,
              |    (CAST(fi.x AS DOUBLE) + (r.level + r.trend)) / 2,
              |    (((CAST(fi.x AS DOUBLE) + (r.level + r.trend)) / 2 - r.level)
              |      + r.trend) / 2
              |  FROM fi JOIN r ON fi.event_type = r.event_type AND fi.idx = r.idx + 1)
              |SELECT event_type, ts, x, level, trend,
              |  level + trend AS forecast FROM r""".stripMargin))

  val q129 = Q("q129_lerp_join",
    // linear-interpolating as-of join (graft.ops.AsofJoin.lerp): probes
    // every 90 min across each key's span read the hourly series BETWEEN
    // samples — bracketing grid points via one union+sort window (prev
    // carry + strict-next lookahead share the sort), exact BIGINT
    // num/den_us, value_r one division round-6 (exact-on-grid probes
    // return the grid value exactly, the same CASE order as the oracle's
    // double ASOF join).
    (s, d) => {
      val g = hourCountSeries(s, d)
      val spans = g.groupBy(col("event_type"))
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      val probes = spans.select(col("event_type"),
        explode(expr("sequence(t0, t1, interval 90 minutes)")).as("pts"))
      ntz(graft.ops.AsofJoin.lerp(probes, g, Seq("event_type"),
        "pts", "ts", "x"), "pts", "prev_ts", "next_ts")
    },
    Some(raw"""WITH $hourSeriesDuck,
              |sp AS (SELECT event_type, min(ts) AS t0, max(ts) AS t1
              |  FROM f GROUP BY 1),
              |p AS (SELECT event_type,
              |    unnest(generate_series(t0, t1, INTERVAL 90 MINUTE)) AS pts
              |  FROM sp),
              |pv AS (SELECT p.event_type, p.pts, f.ts AS prev_ts, f.x AS prev_x
              |  FROM p ASOF LEFT JOIN f
              |    ON p.event_type = f.event_type AND p.pts >= f.ts),
              |nx AS (SELECT p.event_type, p.pts, f.ts AS next_ts, f.x AS next_x
              |  FROM p ASOF LEFT JOIN f
              |    ON p.event_type = f.event_type AND p.pts < f.ts),
              |j AS (SELECT pv.event_type, pv.pts, pv.prev_ts, pv.prev_x,
              |    nx.next_ts, nx.next_x
              |  FROM pv JOIN nx ON pv.event_type = nx.event_type
              |    AND pv.pts = nx.pts)
              |SELECT event_type, pts, prev_ts, prev_x, next_ts, next_x,
              |  CASE WHEN prev_ts IS NOT NULL AND next_ts IS NOT NULL THEN
              |    prev_x * (epoch_us(next_ts) - epoch_us(pts))
              |      + next_x * (epoch_us(pts) - epoch_us(prev_ts)) END AS num,
              |  CASE WHEN prev_ts IS NOT NULL AND next_ts IS NOT NULL THEN
              |    epoch_us(next_ts) - epoch_us(prev_ts) END AS den_us,
              |  CASE WHEN prev_ts = pts THEN round(CAST(prev_x AS DOUBLE), 6)
              |    WHEN prev_ts IS NOT NULL AND next_ts IS NOT NULL THEN
              |      round((prev_x * (epoch_us(next_ts) - epoch_us(pts))
              |        + next_x * (epoch_us(pts) - epoch_us(prev_ts)))
              |        / CAST(epoch_us(next_ts) - epoch_us(prev_ts) AS DOUBLE), 6)
              |  END AS value_r
              |FROM j""".stripMargin))

  val q130 = Q("q130_twap",
    // time-weighted average per (event_type, day) over the IRREGULAR raw
    // event stream (graft.ops.SeriesStats.twap): step-function integral
    // from first observation to day end, same-ts ties ordered by
    // event_id. n/span_us exact BIGINTs (span telescopes to day_end −
    // first_ts); twap_r round-6 (per-row value·dt products are single
    // IEEE multiplies; the sum carries ~1e-16 reorder noise only).
    (s, d) => ntz(graft.ops.SeriesStats.twap(ev(s, d), "event_type", "ts",
      "event_id", "value"), "day"),
    Some(raw"""WITH w AS (SELECT event_type, date_trunc('day', ts) AS day,
              |    value, epoch_us(ts) AS tu,
              |    lead(epoch_us(ts)) OVER (PARTITION BY event_type, date_trunc('day', ts)
              |      ORDER BY ts, event_id) AS nxt,
              |    epoch_us(date_trunc('day', ts)) + 86400000000 AS de
              |  FROM events),
              |dtd AS (SELECT event_type, day, value,
              |    coalesce(nxt, de) - tu AS dt FROM w)
              |SELECT event_type, day, count(*) AS n,
              |  CAST(sum(dt) AS BIGINT) AS span_us,
              |  round(sum(value * dt) / sum(dt), 6) AS twap_r
              |FROM dtd GROUP BY 1, 2""".stripMargin))

  val q136 = Q("q136_dispersion",
    // per-(event_type, day) dispersion profile of the hourly counts
    // (graft.ops.SeriesStats.dispersion): exact n/Σx/Σx² + the BIGINT
    // variance numerator, round-6 mean/variance/Fano/CV² — the
    // burstiness dashboard (Fano 1 = Poisson, ≫1 = bursty). One
    // map-side-combined groupBy.
    (s, d) => ntz(graft.ops.SeriesStats.dispersion(
      hourCountSeries(s, d), "event_type", "ts", "x"), "day"),
    Some(raw"""WITH $hourSeriesDuck,
              |gg AS (SELECT event_type, date_trunc('day', ts) AS day,
              |    count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
              |    CAST(sum(x * x) AS BIGINT) AS sxx
              |  FROM f GROUP BY 1, 2)
              |SELECT event_type, day, n, sx, sxx,
              |  n*sxx - sx*sx AS var_num,
              |  round(sx / CAST(n AS DOUBLE), 6) AS mean_r,
              |  CASE WHEN n >= 2 THEN
              |    round((n*sxx - sx*sx) / CAST(n*(n-1) AS DOUBLE), 6) END AS var_r,
              |  CASE WHEN n >= 2 AND sx > 0 THEN
              |    round((n*sxx - sx*sx) / CAST((n-1)*sx AS DOUBLE), 6) END AS fano_r,
              |  CASE WHEN n >= 2 AND sx > 0 THEN
              |    round((n*sxx - sx*sx) * n / CAST((n-1)*sx*sx AS DOUBLE), 6) END AS cv2_r
              |FROM gg""".stripMargin))

  val q137 = Q("q137_top_movers",
    // day-over-day top movers (graft.ops.SeriesStats.topMovers): per-key
    // daily event counts, lag-1 window for the previous ACTIVE day,
    // exact delta + round-6 relative change, per-day top-5 by (|delta|,
    // key). Bounded by keys × days — all small-table work after one
    // count groupBy.
    (s, d) => ntz(graft.ops.SeriesStats.topMovers(ev(s, d), "event_type",
      "ts", k = 5), "day", "prev_day"),
    Some(raw"""WITH g AS (SELECT event_type, date_trunc('day', ts) AS day,
              |    count(*) AS cnt FROM events GROUP BY 1, 2),
              |l AS (SELECT event_type, day, cnt,
              |    lag(day) OVER w AS prev_day, lag(cnt) OVER w AS prev_cnt
              |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY day)),
              |d AS (SELECT *, cnt - prev_cnt AS delta,
              |    round((cnt - prev_cnt) / CAST(prev_cnt AS DOUBLE), 6) AS pct_r
              |  FROM l WHERE prev_cnt IS NOT NULL)
              |SELECT event_type, day, cnt, prev_day, prev_cnt, delta, pct_r,
              |  CAST(row_number() OVER (PARTITION BY day
              |    ORDER BY abs(delta) DESC, event_type) AS INTEGER) AS rank
              |FROM d QUALIFY rank <= 5""".stripMargin))

  val q142 = Q("q142_mix_drift",
    // day-over-day event-mix drift (graft.ops.SeriesStats.mixDrift): the
    // two-sample chi-square per cell collapsed to the exact integer
    // ratio (o1·N2 − o2·N1)² / (N1·N2·(o1+o2)) — chi2_num/chi2_den are
    // BIGINTs under any partitioning, cell_r one round-6 division, no
    // expected-frequency floats. Types present on only one of the two
    // days still form cells (o = 0 on the other side).
    (s, d) => ntz(graft.ops.SeriesStats.mixDrift(ev(s, d), "event_type",
      "ts"), "day", "prev_day"),
    Some(raw"""WITH bd AS (SELECT date_trunc('day', ts) AS day, event_type,
              |    count(*) AS o FROM events GROUP BY 1, 2),
              |dy AS (SELECT day, lag(day) OVER (ORDER BY day) AS prev_day
              |  FROM (SELECT DISTINCT day FROM bd)),
              |dp AS (SELECT * FROM dy WHERE prev_day IS NOT NULL),
              |cur AS (SELECT dp.day, dp.prev_day, bd.event_type, bd.o AS o2
              |  FROM dp JOIN bd USING (day)),
              |prv AS (SELECT dp.day, dp.prev_day, bd.event_type, bd.o AS o1
              |  FROM dp JOIN bd ON bd.day = dp.prev_day),
              |cells AS (SELECT coalesce(cur.day, prv.day) AS day,
              |    coalesce(cur.prev_day, prv.prev_day) AS prev_day,
              |    coalesce(cur.event_type, prv.event_type) AS event_type,
              |    CAST(coalesce(prv.o1, 0) AS BIGINT) AS o1,
              |    CAST(coalesce(cur.o2, 0) AS BIGINT) AS o2
              |  FROM cur FULL JOIN prv ON cur.day = prv.day
              |    AND cur.prev_day = prv.prev_day
              |    AND cur.event_type = prv.event_type),
              |t AS (SELECT day, prev_day, CAST(sum(o1) AS BIGINT) AS n1,
              |    CAST(sum(o2) AS BIGINT) AS n2
              |  FROM cells GROUP BY 1, 2)
              |SELECT c.day, c.prev_day, c.event_type, c.o1, c.o2,
              |  t.n1, t.n2,
              |  (c.o1*t.n2 - c.o2*t.n1) * (c.o1*t.n2 - c.o2*t.n1) AS chi2_num,
              |  t.n1 * t.n2 * (c.o1 + c.o2) AS chi2_den,
              |  CASE WHEN t.n1 * t.n2 * (c.o1 + c.o2) > 0 THEN
              |    round((c.o1*t.n2 - c.o2*t.n1) * (c.o1*t.n2 - c.o2*t.n1)
              |      / CAST(t.n1 * t.n2 * (c.o1 + c.o2) AS DOUBLE), 6) END AS cell_r
              |FROM cells c JOIN t USING (day, prev_day)""".stripMargin))
}
