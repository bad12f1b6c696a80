package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-stream product analytics over the (event_id, ts, user_id,
  * event_type) shape: cohort retention and ordered conversion funnels —
  * the two queries every events warehouse serves daily, expressed so the
  * surfaces stay pure-integer (hash-oracleable) and every stage is an
  * equi-join or a partial-aggregated groupBy.
  *
  * Reference analog: none (the reference is a waveform engine); these are
  * the timeseries-analytics additions the events table exists for, next
  * to sessionization (q14) and coincidence triggers (q15).
  */
object Funnel {

  /** Cohort retention matrix: users bucketed by their FIRST-activity day
    * (the cohort), then counted per (cohort_day, offset_days) where offset
    * is each later day the user was active at all. Output rows
    * (cohort_day: midnight timestamp — the engine's date_trunc surface,
    * not DATE, for cross-engine type parity; offset_days: int; n_users:
    * long) — offset 0 is the cohort size; n_users at offset d = "day-d
    * retention" numerator.
    *
    * Scale shape: raw events collapse FIRST to distinct (user, day) —
    * a map-side partial-aggregated groupBy that bounds everything after it
    * by users × days, not by event volume. Cohort day is a min over that
    * small table, joined back by user_id (an equi-join; AQE broadcasts
    * when the user dimension fits). Total: two aggregations + one
    * equi-join + one counting groupBy; nothing rescans raw events.
    */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val userDay = events
      .where(col(userCol).isNotNull)
      .select(col(userCol).as("__u"), date_trunc("day", col(tsCol)).as("__day"))
      .distinct()
    val cohort = userDay.groupBy(col("__u")).agg(min(col("__day")).as("cohort_day"))
    userDay.join(cohort, "__u")
      .groupBy(col("cohort_day"),
        datediff(col("__day"), col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ordered conversion funnel: per user, the first time each step's
    * event_type occurs STRICTLY AFTER the previous step's first
    * completion (the "first match" funnel — the strictest deterministic
    * reading); with `horizonSec`, later steps must additionally land
    * within that window of the FIRST step (first-touch window, no
    * re-anchoring on later entry events). Output one row per user who completed
    * at least step 1: (userCol, stage_reached ∈ [1, steps.length],
    * t_first: timestamp of step 1, t_last: timestamp of the deepest
    * completed step).
    *
    * Scale shape: one pass builds per-(user, step) first-candidate times
    * as a conditional aggregation (map-side combined, output bounded by
    * users × steps); the sequential "after the previous step" constraint
    * then folds over the pivoted step columns per row — no joins beyond
    * the single groupBy, because a step's first-occurrence-after-T within
    * a user is recoverable from the SORTED list of that user's step
    * timestamps. To keep state bounded we keep per (user, step) only the
    * ordered distinct timestamps via collect_set (bounded by that user's
    * events of that type; for hot users cap with `maxTimesPerStep` —
    * times beyond the cap can only matter if the funnel's previous stage
    * first completes after cap occurrences of this stage, so the cap
    * trades exactness on pathological users for bounded state and is OFF
    * by default).
    */
  def orderedFunnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      maxTimesPerStep: Int = Int.MaxValue,
      horizonSec: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    require(steps.distinct.length == steps.length, s"steps must be distinct, got $steps")
    require(maxTimesPerStep >= 1, s"maxTimesPerStep must be >= 1, got $maxTimesPerStep")
    require(horizonSec.forall(_ > 0), s"horizonSec must be positive, got $horizonSec")
    val stepIdx = steps.zipWithIndex.toMap
    val idxExpr = steps.foldRight(lit(-1): org.apache.spark.sql.Column) { (s, acc) =>
      when(col(typeCol) === s, lit(stepIdx(s))).otherwise(acc)
    }
    // per (user, step): sorted micros of that step's occurrences (capped)
    val perStep = events
      .where(col(userCol).isNotNull && col(typeCol).isin(steps: _*))
      .select(col(userCol), idxExpr.as("__step"),
        unix_micros(col(tsCol).cast("timestamp")).as("__us"))
      .groupBy(col(userCol), col("__step"))
      .agg(slice(sort_array(collect_set(col("__us"))), 1, maxTimesPerStep).as("__times"))
    // pivot to one row per user: array indexed by step of sorted-times
    val n = steps.length
    val pivoted = perStep
      .groupBy(col(userCol))
      .agg(map_from_arrays(collect_list(col("__step")),
        collect_list(col("__times"))).as("__bystep"))
    // fold the sequential constraint: t(0) = first time of step 0;
    // t(i) = first time of step i strictly after t(i-1); stop at a miss
    val fold = (0 until n).foldLeft(
      pivoted.withColumn("__t", expr("try_element_at(try_element_at(__bystep, 0), 1)"))
        .where(col("__t").isNotNull)
        .withColumn("__stage", lit(1))
        .withColumn("__t_first", col("__t"))) { (df, i) =>
      if (i == 0) df
      else {
        // first element of step-i's sorted times strictly greater than __t
        // (and, with a horizon, within horizonSec of the FIRST step — the
        // standard first-touch funnel window; a later entry event whose
        // window would admit conversion is deliberately not re-anchored)
        val horizonPred = horizonSec
          .map(h => s" and x <= __t_first + ${h * 1000000L}L").getOrElse("")
        val nextT = expr(
          s"try_element_at(filter(coalesce(try_element_at(__bystep, $i), " +
            s"cast(array() as array<bigint>)), x -> x > __t$horizonPred), 1)")
        df.withColumn("__next", when(col("__stage") === i, nextT))
          .withColumn("__stage",
            when(col("__next").isNotNull, lit(i + 1)).otherwise(col("__stage")))
          .withColumn("__t", coalesce(col("__next"), col("__t")))
          .drop("__next")
      }
    }
    fold.select(col(userCol),
      col("__stage").as("stage_reached"),
      timestamp_micros(col("__t_first")).as("t_first"),
      timestamp_micros(col("__t")).as("t_last"))
  }

  /** Top-k session paths: sessionize per user (same ≤ gapSec rule as the
    * q14 operator, ties broken by the id column), take each session's
    * first `maxSteps` event types in time order, and rank the resulting
    * path strings by frequency — the "what do users actually do"
    * navigation query behind every Sankey/flow dashboard.
    *
    * Output per kept path: `path` ('>'-joined), `n_sessions`, `n_users`
    * (distinct), `rank` — ordered by (n_sessions desc, path asc), rank ≤
    * k. All counts exact integers; the path string is assembled from an
    * `array_sort` over (ts, id, type) structs, so element order is the
    * total event order and partitioning cannot reorder it (the oracle's
    * `string_agg ... ORDER BY ts, id` is the same total order).
    *
    * Scale shape: ONE user-keyed window shuffle carries both the gap
    * flags and the per-session step index; the per-session collect sees ≤
    * maxSteps rows (filtered BEFORE the agg); the path table is bounded
    * by distinct paths (≤ |types|^maxSteps, tiny vs events); the final
    * top-k is one window over that bounded table. No self-joins.
    */
  def sessionPaths(events: DataFrame, userCol: String, tsCol: String,
                   idCol: String, typeCol: String, gapSec: Long,
                   maxSteps: Int, k: Int): DataFrame = {
    require(maxSteps >= 1 && k >= 1, s"maxSteps/k must be >= 1, got $maxSteps/$k")
    require(gapSec > 0, s"gapSec must be positive, got $gapSec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val tsUs = unix_micros(col(tsCol).cast("timestamp"))
    val sess = events
      .withColumn("__gap", tsUs - lag(tsUs, 1).over(w))
      .withColumn("__new",
        when(col("__gap").isNull || col("__gap") <= gapSec * 1000000L, 0)
          .otherwise(1))
      .withColumn("__sid", sum(col("__new")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("__step", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(userCol), col("__sid"))
          .orderBy(col(tsCol), col(idCol))))
      .where(col("__step") <= maxSteps)
    val paths = sess.groupBy(col(userCol), col("__sid"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col(tsCol), col(idCol),
          col(typeCol).as("t")))), x => x("t")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col(userCol)).as("n_users"))
    paths.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_sessions").desc, col("path").asc)))
      .where(col("rank") <= k)
  }

  /** Behavioral diversity per entity as GINI IMPURITY of its event-type
    * mix: 1 − Σ pᵢ² — the exact-rational stand-in for Shannon entropy
    * (whose log is not bit-portable across engines; Gini ranks mixes the
    * same way for dashboard purposes and is a pure integer ratio). Output
    * per key: `n` events, `n_types`, the exact BIGINT pieces `sum_sq`
    * (Σ cᵢ²), `gini_num` = n² − Σ cᵢ², `gini_den` = n², and round-6
    * `gini_r` — 0 for a single-type entity, → 1 − 1/k for a uniform
    * k-type mix.
    *
    * Scale shape: two map-side-combined groupBys ((key, type) then key) —
    * no join, no window; output is one row per entity.
    */
  /** Time-to-convert distribution for one funnel edge: per user, anchor
    * at the FIRST `from` event, convert at the first `to` event STRICTLY
    * after it (the [[orderedFunnel]] ordering rule on a single edge),
    * then roll the latency up per anchor-day cohort: entered/converted
    * counts and exact min/max latency (µs BIGINTs), plus round-6
    * p50/p95 over WHOLE SECONDS (`percentile` ↔ `quantile_cont`, the q28
    * interpolation parity — seconds keep the magnitude low enough that
    * round-6 absorbs the last-ulp interpolation arithmetic; µs-scale
    * values ~1e12 would need bit-identical interpolation, measured to
    * differ by 1 ulp cross-engine). The "how long does signup→purchase
    * take, and is it getting worse" query.
    *
    * Scale shape: one map-side-combined anchor agg, one user equi-join
    * against the `to` events (AQE-sized) with a min fold, one left join
    * back, one day groupBy. The exact percentile aggregates one day's
    * converters per group — the report grain, not the event grain.
    */
  def stepLatency(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, from: String, to: String): DataFrame = {
    require(from != to, s"from and to must differ, got '$from' twice")
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val a = events.where(col(typeCol) === from && col(userCol).isNotNull)
      .groupBy(col(userCol)).agg(min(us).as("a_us"))
    val b = events.where(col(typeCol) === to && col(userCol).isNotNull)
      .select(col(userCol), us.as("b_us"))
    val conv = a.join(b, Seq(userCol))
      .where(col("b_us") > col("a_us"))
      .groupBy(col(userCol)).agg(min(col("b_us") - col("a_us")).as("lat"))
    a.join(conv, Seq(userCol), "left")
      .groupBy(date_trunc("day", timestamp_micros(col("a_us"))).as("day"))
      .agg(count(lit(1)).as("n_entered"),
        count(col("lat")).as("n_converted"),
        min(col("lat")).as("min_lat_us"), max(col("lat")).as("max_lat_us"),
        round(expr("percentile(lat div 1000000, 0.5)"), 6).as("p50_s_r"),
        round(expr("percentile(lat div 1000000, 0.95)"), 6).as("p95_s_r"))
  }

  /** Daily user lifecycle: per active day, how many users were NEW (this
    * is their first active day), RETURNING (active before and after...
    * precisely: active today and not new), and CHURNED (this is their
    * LAST active day in the observed range — a retrospective label, only
    * meaningful on closed data or behind a maturity horizon, which is
    * why it is emitted as its own column rather than folded into a
    * "health" score). `n_active` counts distinct users touching the day.
    *
    * Scale shape: one distinct (user, day) collapse, one per-user
    * min/max agg (2 longs per user), one join back on the day — all
    * map-side-combined groupBys + an AQE-sized equi-join; output is one
    * row per active day.
    */
  def userLifecycle(events: DataFrame, userCol: String,
                    tsCol: String): DataFrame = {
    val ud = events
      .select(col(userCol).as("__u"), date_trunc("day", col(tsCol)).as("day"))
      .distinct()
    val span = ud.groupBy(col("__u"))
      .agg(min(col("day")).as("__first"), max(col("day")).as("__last"))
    ud.join(span, "__u")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("__first"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") === col("__last"), 1L).otherwise(0L)).as("n_last_seen"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
  }

  def giniDiversity(events: DataFrame, keyCol: String,
                    typeCol: String): DataFrame = {
    val c = events.groupBy(col(keyCol), col(typeCol))
      .agg(count(lit(1)).as("__c"))
    c.groupBy(col(keyCol))
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("n_types"),
        sum(col("__c") * col("__c")).as("sum_sq"))
      .withColumn("gini_num", col("n") * col("n") - col("sum_sq"))
      .withColumn("gini_den", col("n") * col("n"))
      .withColumn("gini_r",
        round(col("gini_num") / col("gini_den").cast("double"), 6))
  }
}
