package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Second-order statistics over regular (gap-filled) integer-valued
  * series: autocorrelation, state-transition matrices, and
  * rolling-median/MAD anomaly flags.
  *
  * These extend the reference's correlation surface from PAIRS of series
  * (`/root/reference/xcorr/signal/correlate.py:17-101`) to a series
  * against itself (`acf` — the lag-domain fingerprint xcorr users read
  * off the zero-offset column of the CC matrix) and to categorical event
  * sequences (`transitions`). The anomaly detector mirrors the robust
  * running statistics the reference applies before triggering
  * (`/root/reference/xcorr/signal/rms.py:15-60` uses running RMS;
  * median/MAD is its outlier-resistant counterpart).
  *
  * Determinism discipline (the hash-gate rules from [[graft.Queries]]):
  * every aggregate here is an INTEGER sum/extremum — exact under any
  * partitioning — and doubles appear only in final per-row expressions on
  * integer inputs (one IEEE evaluation, engine-independent).
  */
object SeriesStats {

  /** Per-key autocorrelation at lags 1..maxLag over a REGULAR series
    * (one row per grid step — gap-fill first; `lead(k)` is then exactly
    * k grid steps).
    *
    * Input: `keyCols` grouping, `tsCol` the grid timestamp, `valueCol`
    * an integral count (LongType). Output per (key, lag): the exact
    * integer Pearson partials (`n_pairs, sx, sy, sxy, sxx, syy`) plus
    * `acf` = the Pearson correlation of (x_t, x_{t+lag}), round-9 (one
    * double expression over exact integers).
    *
    * Scale shape: ONE window shuffle on the key (all maxLag leads share
    * the single sort), then a map-side-combined groupBy of ≤ maxLag rows
    * per key-lag. Shuffled bytes ∝ series rows; no self-join, no grid
    * re-materialization. At 10^12 turns the series tier this runs on is
    * already the 1m rollup (3-4 orders smaller than raw).
    */
  def acf(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    // the output/internal names below would shadow a key of the same name
    val reserved = Set("x", "y", "lag", "__x", "__ts") ++
      (1 to maxLag).map(k => s"y_$k")
    require(!keyCols.exists(reserved), s"keyCols may not use the reserved " +
      s"names ${reserved.toSeq.sorted.mkString(", ")} — rename the column first")
    val keys = keyCols.map(col)
    // internal aliases so the window resolves after the rename (and so a
    // valueCol/tsCol named like a key cannot collide; key names themselves
    // are guarded by the require above)
    val w = Window.partitionBy(keys: _*).orderBy(col("__ts"))
    // all leads ride one window sort; stack() unpivots to (lag, y) rows
    val leads = (1 to maxLag).map(k => lead(col("__x"), k).over(w).as(s"y_$k"))
    val stackExpr = expr(
      s"stack($maxLag, " +
        (1 to maxLag).map(k => s"CAST($k AS INT), y_$k").mkString(", ") +
        ") AS (lag, y)")
    val paired = df
      .select(keys :+ col(valueCol).cast("long").as("__x") :+ col(tsCol).as("__ts"): _*)
      .select((keys :+ col("__x").as("x")) ++ leads: _*)
      .select(keys :+ col("x") :+ stackExpr: _*)
      .where(col("y").isNotNull)
    val g = paired
      .groupBy(keys :+ col("lag"): _*)
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val n = col("n_pairs")
    val num = n * col("sxy") - col("sx") * col("sy")
    val den = sqrt((n * col("sxx") - col("sx") * col("sx")).cast("double") *
      (n * col("syy") - col("sy") * col("sy")).cast("double"))
    g.withColumn("acf",
      when(den === 0d, lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den, 9)))
  }

  /** First-order state-transition counts over per-key event sequences
    * (the Markov matrix of e.g. tool usage across transcript turns).
    *
    * Ordering within a key is (tsCol, tieCols...) — pass a unique
    * tiebreaker so the sequence is total and the result partitioning-
    * invariant. Output: (from_state, to_state, n_trans, p) where p is
    * row-normalized per from_state (one integer division, round-9).
    *
    * Scale shape: one window shuffle on the key; the transition matrix
    * itself is |states|² rows, so the final global groupBy is tiny and
    * fully map-side combined.
    */
  def transitions(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      stateCol: String,
      tieCols: Seq[String] = Nil): DataFrame = {
    val order = (col(tsCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val seq = df
      .where(col(keyCol).isNotNull)
      .select(col(keyCol), col(stateCol).as("from_state"),
        lead(col(stateCol), 1).over(w).as("to_state"))
      .where(col("to_state").isNotNull)
    val counts = seq.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n_trans"))
    val wf = Window.partitionBy(col("from_state"))
    counts.withColumn("p",
      round(col("n_trans").cast("double") /
        sum(col("n_trans")).over(wf).cast("double"), 9))
  }

  /** Twice-the-median of a SORTED integer array column: 2*a[mid] for odd
    * n, a[n/2-1]+a[n/2] for even — an integer for any n, so the median
    * surface stays in the exact domain (the hash-gate trick: scale by 2
    * instead of leaving .5 halves to float).
    */
  private def twiceMedian(sorted: Column, n: Column): Column = {
    val odd = element_at(sorted, ((n + 1) / 2).cast("int")) * lit(2L)
    val even = element_at(sorted, (n / 2).cast("int")) +
      element_at(sorted, (n / 2 + 1).cast("int"))
    when(n % 2 === 1, odd).otherwise(even)
  }

  /** Rolling-median/MAD anomaly flags over a regular integer series:
    * a point is anomalous when |x - median| > k * MAD over the
    * centered ±halfWin row window (the robust alternative to z-scores —
    * a burst inside the window cannot drag the baseline the way a
    * rolling mean/stddev would).
    *
    * Entirely in the exact integer domain: med2 = 2*median,
    * mad4 = 2*median(2*|x - median|) = 4*MAD, and the flag compares
    * 2*|2x - med2| > k*mad4 — every quantity an integer, so the output
    * hashes identically under any partitioning and any engine.
    *
    * Scale shape: one window shuffle on the key; state per row is the
    * 2*halfWin+1 window values (collect_list over a ROWS frame — bounded,
    * unlike a range frame over skewed time). No self-join against the
    * grid.
    */
  def rollingMadAnomaly(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      halfWin: Int,
      k: Int): DataFrame = {
    require(halfWin >= 1, s"halfWin must be >= 1, got $halfWin")
    madFlags(df, keyCols, tsCol, valueCol, -halfWin.toLong, halfWin.toLong, k)
  }

  /** Trailing-window variant: the window is the last `win` rows INCLUDING
    * the current one — each row's flag depends only on the past, so it is
    * immediately final (the property [[graft.streaming.StreamingAnomaly]]
    * exploits: no watermark, flags emit as rows arrive). Same exact
    * integer med2/mad4 surface as [[rollingMadAnomaly]].
    */
  def trailingMadAnomaly(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      win: Int,
      k: Int): DataFrame = {
    require(win >= 2, s"win must be >= 2, got $win")
    madFlags(df, keyCols, tsCol, valueCol, -(win - 1).toLong, 0L, k)
  }

  private def madFlags(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      frameLo: Long,
      frameHi: Long,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol))
      .rowsBetween(frameLo, frameHi)
    val x = col(valueCol).cast("long")
    val withWin = df
      .select(keys :+ col(tsCol) :+ x.as("x"): _*)
      .withColumn("win", sort_array(collect_list(col("x")).over(w)))
      .withColumn("n_win", size(col("win")).cast("long"))
    val med2 = twiceMedian(col("win"), col("n_win"))
    val withMed = withWin.withColumn("med2", med2)
      // deviations stay integral: 2*|x - med| = |2x - med2|
      .withColumn("dev2", sort_array(transform(col("win"),
        v => abs(v * lit(2L) - col("med2")))))
    val mad4 = twiceMedian(col("dev2"), col("n_win"))
    withMed.withColumn("mad4", mad4)
      .withColumn("is_anomaly",
        abs(col("x") * lit(2L) - col("med2")) * lit(2L) > lit(k.toLong) * col("mad4"))
      .select(keys :+ col(tsCol) :+ col("x") :+ col("med2") :+ col("mad4") :+
        col("is_anomaly"): _*)
  }

  /** Exponentially-weighted moving average with α = 1/2 over a regular
    * integer series: s₀ = x₀, sₜ = (xₜ + sₜ₋₁) / 2 — the streaming
    * smoother the reference's running-RMS plays for amplitude
    * (`/root/reference/xcorr/signal/rms.py:15-60`); α = 1/2 halves are
    * EXACT binary operations, so the recursion is bit-deterministic: any
    * engine evaluating (x + s)/2 in series order produces the identical
    * IEEE doubles (the q111 oracle replays it as a recursive CTE).
    *
    * Scale shape: ONE shuffle on the key, then `flatMapSortedGroups` —
    * O(1) state per key (the previous smoothed value), nothing collected;
    * keys are the parallelism unit exactly as in the streaming rollup.
    * A window-function form would need a running product over the full
    * prefix (no Spark built-in) or an O(n²) self-join; the typed sorted
    * iterator is the Dataset-native recursion.
    *
    * Output: (key, ts [NTZ], x, ewma).
    */
  def ewma(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    require(!Set("tu", "ewma").exists(Set(keyCol, tsCol, valueCol)),
      "tu and ewma are reserved names here — rename the column first")
    val sp = df.sparkSession
    import sp.implicits._
    val base = df.select(col(keyCol).cast("string").as("k"),
      unix_micros(col(tsCol)).as("tu"), col(valueCol).cast("long").as("x"))
      .as[(String, Long, Long)]
    base.groupByKey(_._1)
      .flatMapSortedGroups(col("tu")) { (k, it) =>
        var s = 0.0
        var first = true
        it.map { case (_, tu, x) =>
          s = if (first) { first = false; x.toDouble } else (x.toDouble + s) / 2.0
          (k, tu, x, s)
        }
      }
      .toDF(keyCol, "tu", valueCol, "ewma")
      .select(col(keyCol),
        timestamp_micros(col("tu")).cast("timestamp_ntz").as(tsCol),
        col(valueCol), col("ewma"))
  }

  /** Two-sided CUSUM changepoint detector (Page 1954) over a regular
    * integer series — the sequential mean-shift test that complements the
    * pointwise MAD flags ([[rollingMadAnomaly]]): a level shift too small
    * to trip any single-point threshold accumulates here until it alarms.
    *
    *   sp_t = max(0, sp_{t-1} + (x_t − μ − k))   (upward shift)
    *   sn_t = max(0, sn_{t-1} + (μ − x_t − k))   (downward shift)
    *   is_shift = sp_t > h OR sn_t > h
    *
    * with μ = the key's reference level (per-key integer mean,
    * sum(x) div n — floor division of non-negative counts, identical in
    * any engine), k the slack per step, h the decision threshold. Every
    * quantity is a BIGINT: the recursion is EXACT, no IEEE anywhere, so
    * the q113 oracle replays it as a recursive CTE bit-for-bit.
    *
    * Scale shape: one map-side-combined agg for μ (2 longs per key, joined
    * back via AQE-broadcast), then ONE shuffle on the key and
    * `flatMapSortedGroups` with O(1) state (two longs) — same shape as
    * [[ewma]]; keys are the parallelism unit.
    *
    * Output: (key, ts [NTZ], x, mu, cusum_pos, cusum_neg, is_shift).
    */
  def cusum(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      k: Long, h: Long): DataFrame = {
    require(k >= 0, s"slack k must be >= 0, got $k")
    require(h >= 0, s"threshold h must be >= 0, got $h")
    require(!Set("tu", "mu", "cusum_pos", "cusum_neg", "is_shift")
      .exists(Set(keyCol, tsCol, valueCol)),
      "tu, mu, cusum_pos, cusum_neg, is_shift are reserved names here — " +
        "rename the column first")
    val sp = df.sparkSession
    import sp.implicits._
    val base0 = df.select(col(keyCol).cast("string").as("k"),
      unix_micros(col(tsCol)).as("tu"), col(valueCol).cast("long").as("x"))
    val mu = base0.groupBy(col("k"))
      .agg(expr("sum(x) div count(*)").as("mu"))
    val base = base0.join(mu, "k")
      .select(col("k"), col("tu"), col("x"), col("mu"))
      .as[(String, Long, Long, Long)]
    base.groupByKey(_._1)
      .flatMapSortedGroups(col("tu")) { (key, it) =>
        var spos = 0L
        var sneg = 0L
        it.map { case (_, tu, x, m) =>
          spos = math.max(0L, spos + (x - m - k))
          sneg = math.max(0L, sneg + (m - x - k))
          (key, tu, x, m, spos, sneg, spos > h || sneg > h)
        }
      }
      .toDF(keyCol, "tu", valueCol, "mu", "cusum_pos", "cusum_neg", "is_shift")
      .select(col(keyCol),
        timestamp_micros(col("tu")).cast("timestamp_ntz").as(tsCol),
        col(valueCol), col("mu"), col("cusum_pos"), col("cusum_neg"),
        col("is_shift"))
  }

  /** Classical seasonal decomposition (the moving-average method, as in
    * statsmodels' `seasonal_decompose`) over a REGULAR integer series
    * with an even period (default 24 — hourly data, daily season):
    * x = trend + seasonal + remainder, with
    *
    *  - trend: the centered 2×MA — weights (½, 1, …, 1, ½)/period over
    *    period+1 points, computed EXACTLY as the BIGINT
    *    `t2 = sum[-p/2..p/2] + sum[-(p/2-1)..p/2-1]` (= 2·period × MA);
    *  - detrended (×2·period): `det = 2·period·x − t2`, BIGINT;
    *  - seasonal: per (key, phase) mean of detrended, carried as the
    *    exact pair (`s_sum`, `s_n`) — the per-phase means are NOT
    *    re-centered to sum to zero (the constant cancels in any delta
    *    downstream; callers wanting statsmodels' centering subtract the
    *    mean of the per-phase means);
    *  - remainder (×2·period·s_n): `det·s_n − s_sum`, BIGINT.
    *
    * Only INTERIOR rows (full ±p/2 window) are emitted — the classical
    * method leaves the edges undefined. Readable doubles (`trend_r`,
    * `seasonal_r`, `resid_r`) are single divisions of the exact integers,
    * round-6 — hash-gate safe (q120).
    *
    * Scale shape: ONE window shuffle on the key (both MA sums share the
    * sort), a map-side-combined ≤ period-rows-per-key phase aggregate,
    * and a hash join of that tiny table back — no self-join, no second
    * pass over the grid. Reference analog: the reference removes trend
    * per window with `detrend`/`demean`
    * (/root/reference/xcorr/signal/detrend.py:17-76); this is the
    * tier-level seasonal generalization.
    */
  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String, period: Int = 24,
                        stepSec: Long = 3600L): DataFrame = {
    require(period >= 2 && period % 2 == 0,
      s"classical decomposition needs an even period >= 2, got $period")
    require(stepSec > 0, s"stepSec must be positive, got $stepSec")
    require(!Set("t2", "det", "phase", "s_sum", "s_n", "n_win",
      "trend_r", "seasonal_r", "resid_r").exists(Set(keyCol, tsCol, valueCol)),
      "t2, det, phase, s_sum, s_n, n_win, trend_r, seasonal_r, resid_r are " +
        "reserved names here — rename the column first")
    val h = period / 2
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val full = w.rowsBetween(-h, h)
    val inner = w.rowsBetween(-(h - 1), h - 1)
    val x = col(valueCol).cast("long")
    val scale = 2L * period
    val interior = df
      .withColumn("n_win", count(lit(1)).over(full))
      .withColumn("t2", (sum(x).over(full) + sum(x).over(inner)).cast("long"))
      .where(col("n_win") === (period + 1)) // edges stay undefined
      .withColumn("det", lit(scale) * x - col("t2"))
      // grid index mod period — for an hourly grid and period 24 this is
      // the UTC hour of day (epoch 0 is midnight)
      .withColumn("phase",
        (unix_micros(col(tsCol)) / 1000000L / stepSec % period).cast("int"))
    val phases = interior.groupBy(col(keyCol), col("phase"))
      .agg(sum(col("det")).as("s_sum"), count(lit(1)).as("s_n"))
    interior.join(phases, Seq(keyCol, "phase"))
      .select(col(keyCol), col(tsCol), x.as(valueCol), col("phase"),
        col("t2"), col("det"), col("s_sum"), col("s_n"),
        round(col("t2") / lit(scale.toDouble), 6).as("trend_r"),
        round(col("s_sum") / (col("s_n") * lit(scale.toDouble)), 6).as("seasonal_r"),
        round((col("det") * col("s_n") - col("s_sum")) /
          (col("s_n") * lit(scale.toDouble)), 6).as("resid_r"))
  }

  /** Lead/lag Pearson correlation between every PAIR of keyed regular
    * series: for each unordered pair (key_a < key_b) and each lag L in
    * [-maxLag, maxLag] grid steps, the correlation of (x_a(t), x_b(t +
    * L·step)) over the timestamps where both sides exist. A positive-L
    * maximum reads "a leads b by L steps" — the tier-level lead/lag scan
    * behind "which metric moves first", the same question the reference's
    * waveform `correlate` + `compute_shift` answers per sample pair
    * (/root/reference/xcorr/signal/correlate.py:17-101,
    * /root/reference/xcorr/signal/lag.py).
    *
    * Hash-gate discipline: the per-(pair, lag) sufficient statistics
    * (`n, sa, sb, saa, sbb, sab`) and the Pearson numerator/denominators
    * (`num = n·sab − sa·sb`, `dena`, `denb`) are exact BIGINTs under any
    * partitioning; `corr_r` is one double expression (sqrt is correctly
    * rounded per IEEE 754, so it is engine-independent on identical
    * integer inputs), round-6; NULL when either series is constant on the
    * overlap. Overflow headroom: |num| ≤ n²·x_max² — at n = 10⁶ grid
    * steps this caps x_max ≈ 3·10³ per step; correlate coarser tiers (or
    * pre-center) beyond that.
    *
    * Scale shape: the lag fan-out rides the SMALL side (2·maxLag+1 copies
    * made by one generator explode — no join to a lag table), then ONE
    * equi-join shuffle on the shifted timestamp and a map-side-combined
    * aggregate of (pairs × lags) rows. Per-timestamp work is k² for k
    * concurrent keys — the inherent output size; no per-key windows, no
    * grid re-sort.
    */
  def laggedCorr(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, maxLag: Int, stepSec: Long): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    require(stepSec > 0, s"stepSec must be positive, got $stepSec")
    val x = col(valueCol).cast("long")
    val a = df.select(col(keyCol).as("key_a"), col(tsCol).as("__ts"), x.as("xa"))
      .withColumn("lag", explode(array((-maxLag to maxLag).map(lit): _*)))
      // b's grid timestamp that pairs with a's at this lag
      .withColumn("__ts_b",
        timestamp_micros(unix_micros(col("__ts")) + col("lag") * stepSec * 1000000L))
    val b = df.select(col(keyCol).as("key_b"), col(tsCol).as("__tsb"), x.as("xb"))
    a.join(b, a("__ts_b") === b("__tsb") && a("key_a") < b("key_b"))
      .groupBy(col("key_a"), col("key_b"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("xa")).as("sa"), sum(col("xb")).as("sb"),
        sum(col("xa") * col("xa")).as("saa"),
        sum(col("xb") * col("xb")).as("sbb"),
        sum(col("xa") * col("xb")).as("sab"))
      .withColumn("num", col("n") * col("sab") - col("sa") * col("sb"))
      .withColumn("dena", col("n") * col("saa") - col("sa") * col("sa"))
      .withColumn("denb", col("n") * col("sbb") - col("sb") * col("sb"))
      .withColumn("corr_r",
        when(col("dena") > 0 && col("denb") > 0,
          round(col("num") /
            sqrt(col("dena").cast("double") * col("denb").cast("double")), 6)))
  }

  /** Holt's linear (double-exponential) smoothing with α = β = 1/2 over a
    * regular integer series — [[ewma]] plus a smoothed TREND state, so the
    * one-step forecast `level + trend` tracks ramps the flat EWMA lags
    * behind (Holt 1957/2004, "Forecasting seasonals and trends by
    * exponentially weighted moving averages"):
    *
    *   l₀ = x₀, b₀ = 0
    *   lₜ = (xₜ + (lₜ₋₁ + bₜ₋₁)) / 2
    *   bₜ = ((lₜ − lₜ₋₁) + bₜ₋₁) / 2
    *
    * Determinism: the per-key recursion is a FIXED sequence of IEEE
    * double ops in series order (typed flatMapSortedGroups, O(1) state —
    * two doubles), so the result is bit-identical to any engine replaying
    * the same expressions in the same order (the q111 EWMA discipline;
    * the q124 oracle is that replay as a recursive CTE). No rounding
    * anywhere in the output.
    *
    * Scale shape: ONE shuffle on the key; keys are the parallelism unit,
    * state is O(1) — the shape a `flatMapGroupsWithState` port needs.
    */
  def holt(df: DataFrame, keyCol: String, tsCol: String,
           valueCol: String): DataFrame = {
    require(!Set("tu", "level", "trend", "forecast")
      .exists(Set(keyCol, tsCol, valueCol)),
      "tu, level, trend and forecast are reserved names here — rename the " +
        "column first")
    val sp = df.sparkSession
    import sp.implicits._
    val base = df.select(col(keyCol).cast("string").as("k"),
      unix_micros(col(tsCol)).as("tu"), col(valueCol).cast("long").as("x"))
      .as[(String, Long, Long)]
    base.groupByKey(_._1)
      .flatMapSortedGroups(col("tu")) { (k, it) =>
        var l = 0.0
        var b = 0.0
        var first = true
        it.map { case (_, tu, x) =>
          if (first) { first = false; l = x.toDouble; b = 0.0 }
          else {
            val lNew = (x.toDouble + (l + b)) / 2.0
            b = ((lNew - l) + b) / 2.0
            l = lNew
          }
          (k, tu, x, l, b)
        }
      }
      .toDF(keyCol, "tu", valueCol, "level", "trend")
      .select(col(keyCol),
        timestamp_micros(col("tu")).cast("timestamp_ntz").as(tsCol),
        col(valueCol), col("level"), col("trend"),
        (col("level") + col("trend")).as("forecast"))
  }

  /** Time-weighted average (TWAP) per (key, day) over an IRREGULAR event
    * stream — the step-function integral ∫value dt / ∫dt from each day's
    * first observation to the day end, the standard reading of a sampled
    * metric when samples are NOT equally spaced (a plain avg() over-weights
    * bursts; the reference's waveform world never needs this because its
    * traces are regular — this is the raw-events-side counterpart of its
    * gap-filled regular grid, Ingest.series).
    *
    * Per row: `dt_us` = µs to the next event in the same (key, day), the
    * last event carrying to the day boundary (same-ts ties ordered by
    * `idCol`; earlier tie rows get dt 0). Output per (key, day): exact
    * `n`/`span_us` BIGINTs (span telescopes to day_end − first_ts) and
    * `twap_r` = round(Σ value·dt / span, 6) — the only float is the
    * value-weighted sum (per-row products are single IEEE multiplies;
    * the cross-row sum carries ~1e-16 relative reorder noise, far below
    * round-6 at TWAP magnitude — the q55/q123 float-sum precedent).
    *
    * Scale shape: ONE (key, day) window sort provides the lead, then a
    * map-side-combined groupBy of the same keys — no join, no grid.
    */
  def twap(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
           valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol), date_trunc("day", col(tsCol)))
      .orderBy(col(tsCol), col(idCol))
    val tUs = unix_micros(col(tsCol).cast("timestamp"))
    val dayEndUs = unix_micros(
      date_trunc("day", col(tsCol)).cast("timestamp")) + 86400000000L
    val dt = coalesce(lead(tUs, 1).over(w), dayEndUs) - tUs
    df.select(col(keyCol), date_trunc("day", col(tsCol)).as("day"),
        col(valueCol).cast("double").as("__v"), dt.as("__dt"))
      .groupBy(col(keyCol), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("__dt")).as("span_us"),
        round(sum(col("__v") * col("__dt")) / sum(col("__dt")), 6).as("twap_r"))
  }

  /** Per-(key, day) dispersion profile of an integer series: the exact
    * normal pieces (`n, sx, sxx`), the variance numerator
    * `var_num = n·Σx² − (Σx)²` (BIGINT — ≥ 0, exact under any
    * partitioning), and the round-6 readable ratios every capacity
    * dashboard wants: `mean_r`, `var_r` (sample variance,
    * var_num / (n·(n−1))), `fano_r` (variance-to-mean — the burstiness
    * index: 1 for Poisson arrivals, ≫1 for bursty traffic) and `cv2_r`
    * (squared coefficient of variation, scale-free). NULLs where the
    * denominator is 0 (n < 2, or zero mean for the ratios).
    *
    * Scale shape: ONE map-side-combined groupBy — no window, no join.
    */
  def dispersion(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    df.groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
      .withColumn("var_num", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("mean_r", round(col("sx") / col("n").cast("double"), 6))
      .withColumn("var_r", when(col("n") >= 2,
        round(col("var_num") / (col("n") * (col("n") - 1)).cast("double"), 6)))
      .withColumn("fano_r", when(col("n") >= 2 && col("sx") > 0,
        round(col("var_num") / ((col("n") - 1) * col("sx")).cast("double"), 6)))
      .withColumn("cv2_r", when(col("n") >= 2 && col("sx") > 0,
        round(col("var_num") * col("n") /
          ((col("n") - 1) * col("sx") * col("sx")).cast("double"), 6)))
  }

  /** Day-over-day top movers: per-(key, day) counts, the previous day's
    * count via ONE lag window (consecutive-day or not — the lag is by
    * row, so a silent day simply compares against the last ACTIVE day;
    * `prev_day` is emitted so readers can tell), the exact delta, and
    * the round-6 relative change. Top `k` rows per day by
    * (|delta| desc, key) — deterministic. The "what moved since
    * yesterday" dashboard query.
    *
    * Scale shape: one groupBy (bounded by keys × days), one key-window
    * lag over that SMALL table, one per-day top-k window.
    */
  def topMovers(df: DataFrame, keyCol: String, tsCol: String,
                k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val byDay = df.groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val wk = Window.partitionBy(col(keyCol)).orderBy(col("day"))
    val lagged = byDay
      .withColumn("prev_day", lag(col("day"), 1).over(wk))
      .withColumn("prev_cnt", lag(col("cnt"), 1).over(wk))
      .where(col("prev_cnt").isNotNull)
      .withColumn("delta", col("cnt") - col("prev_cnt"))
      .withColumn("pct_r",
        round(col("delta") / col("prev_cnt").cast("double"), 6))
    val wd = Window.partitionBy(col("day"))
      .orderBy(abs(col("delta")).desc, col(keyCol))
    lagged.withColumn("rank", row_number().over(wd)).where(col("rank") <= k)
  }

  /** Day-over-day categorical-mix drift as the two-sample chi-square
    * statistic, cell by cell — "did today's event-type mix change vs
    * yesterday". The standard per-cell contribution
    * (o₁−e₁)²/e₁ + (o₂−e₂)²/e₂ algebraically collapses to ONE exact
    * integer ratio:
    *
    *   cell χ² = (o₁·N₂ − o₂·N₁)² / (N₁·N₂·(o₁+o₂))
    *
    * (o = the cell's two counts, N = the two day totals) — so `chi2_num`
    * and `chi2_den` are exact BIGINTs under any partitioning and
    * `cell_r` is a single round-6 division; no expected-frequency
    * floats anywhere. Day-level χ² = the sum of cells (callers sum the
    * rationals; ~k cells per day). Overflow headroom: |num| ≤
    * (o·N)² — day totals up to ~3·10⁹ events with cell counts 10⁶ stay
    * in range; shard bigger days first.
    *
    * Only cells whose type appears on at least one of the two days are
    * emitted; days are paired with the previous ACTIVE day (prev_day
    * emitted, the [[topMovers]] convention). Scale shape: one count
    * groupBy, one full-outer day self-alignment via a (type)-keyed lag
    * window over the SMALL daily table, one broadcast-sized totals join.
    */
  def mixDrift(df: DataFrame, typeCol: String, tsCol: String): DataFrame = {
    val byDay = df.groupBy(date_trunc("day", col(tsCol)).as("day"),
        col(typeCol)).agg(count(lit(1)).as("o2"))
    // align each (type, day) with the type's previous active day; a type
    // absent today but present yesterday must still contribute a cell, so
    // build the day axis from ALL days × the types active around them via
    // a full self-join on the small daily table
    val days = byDay.select(col("day")).distinct()
      .withColumn("prev_day",
        lag(col("day"), 1).over(Window.orderBy(col("day"))))
      .where(col("prev_day").isNotNull)
    // attach each pair's two days' cells, then full-outer on the type so
    // a type present on only ONE of the two days still forms a cell
    val cur = days.join(byDay, Seq("day"))
      .select(col("day"), col("prev_day"), col(typeCol), col("o2"))
    val prev = days.join(
        byDay.select(col("day").as("prev_day"), col(typeCol),
          col("o2").as("o1")), Seq("prev_day"))
      .select(col("day"), col("prev_day"), col(typeCol), col("o1"))
    val cells = cur.join(prev, Seq("day", "prev_day", typeCol), "full")
      .select(col("day"), col("prev_day"), col(typeCol),
        coalesce(col("o1"), lit(0L)).as("o1"),
        coalesce(col("o2"), lit(0L)).as("o2"))
    val totals = cells.groupBy(col("day"), col("prev_day"))
      .agg(sum(col("o1")).as("n1"), sum(col("o2")).as("n2"))
    cells.join(totals, Seq("day", "prev_day"))
      .withColumn("d", col("o1") * col("n2") - col("o2") * col("n1"))
      .withColumn("chi2_num", col("d") * col("d"))
      .withColumn("chi2_den", col("n1") * col("n2") * (col("o1") + col("o2")))
      .withColumn("cell_r", when(col("chi2_den") > 0,
        round(col("chi2_num") / col("chi2_den").cast("double"), 6)))
      .drop("d")
  }

  /** Per-(key, day) ordinary-least-squares trend of an hourly series
    * against the hour-of-day regressor t ∈ [0, 23]: the "is this metric
    * rising or falling within the day, and how fast" scan. Output per
    * group: the exact BIGINT normal-equation pieces (`n, st, sx, stt,
    * stx`), the slope/intercept numerators (`slope_num = n·stx − st·sx`,
    * `icept_num = sx·stt − st·stx`) and shared denominator
    * (`den = n·stt − st²`), plus round-6 readable `slope_r`/`icept_r`
    * (NULL when all rows share one t — den = 0). Partial days regress on
    * the hours present; every aggregate is an exact integer, so the
    * result is partition-order-free (hash-gate safe, q122).
    *
    * Scale shape: ONE map-side-combined groupBy over the grid — output is
    * keys × days rows, no window sort, no join. The reference's analog is
    * the linear leg of `detrend` fitted per window
    * (/root/reference/xcorr/signal/detrend.py:17-76); here the fit itself
    * is the product.
    */
  def dailyTrend(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val t = hour(col(tsCol)).cast("long")
    df.groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"), sum(t).as("st"), sum(x).as("sx"),
        sum(t * t).as("stt"), sum(t * x).as("stx"))
      .withColumn("den", col("n") * col("stt") - col("st") * col("st"))
      .withColumn("slope_num", col("n") * col("stx") - col("st") * col("sx"))
      .withColumn("icept_num", col("sx") * col("stt") - col("st") * col("stx"))
      .withColumn("slope_r",
        when(col("den") =!= 0, round(col("slope_num") / col("den").cast("double"), 6)))
      .withColumn("icept_r",
        when(col("den") =!= 0, round(col("icept_num") / col("den").cast("double"), 6)))
  }
}
