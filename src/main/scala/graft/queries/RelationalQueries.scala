package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Queries.{Q, ev, li, ord, cust, nat, reg, ntz}

/** Relational operators over the TPC-H-shaped tables and the events table:
  * aggregates, joins, top-k, window functions, set operations, as-of and
  * interval joins, Z-order layout keys.
  */
private[graft] trait RelationalQueries {

  val q01 = Q("q01_pricing_summary",
    (s, d) => li(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue")
      ),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           | sum(l_quantity) AS sum_qty, min(l_quantity) AS min_qty,
           | max(l_quantity) AS max_qty,
           | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           |FROM lineitem GROUP BY 1, 2""".stripMargin))

  val q02 = Q("q02_filter_pushdown",
    (s, d) => li(s, d)
      .where(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") && col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice")),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_quantity > 45""".stripMargin))

  val q03 = Q("q03_join_nation_region",
    (s, d) => ord(s, d)
      .join(cust(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total")),
    Some("""SELECT r_name, n_name, count(*) AS n_orders,
           | round(sum(o_totalprice), 2) AS total
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY 1, 2""".stripMargin))

  val q04 = Q("q04_topk_orders",
    (s, d) => ord(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(10),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin))

  val q05 = Q("q05_topk_per_group",
    (s, d) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      li(s, d).withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("l_returnflag"), col("rk"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    },
    Some("""SELECT l_returnflag, rk, l_orderkey, l_linenumber, l_extendedprice FROM (
           | SELECT *, row_number() OVER (PARTITION BY l_returnflag
           |   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
           | FROM lineitem) WHERE rk <= 3""".stripMargin))

  val q06 = Q("q06_distinct",
    (s, d) => li(s, d).select(col("l_returnflag"), col("l_linestatus")).distinct(),
    Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"))

  val q07 = Q("q07_running_sum",
    (s, d) => {
      // l_quantity is the FINAL tiebreaker: the synthetic lineitem can hold
      // duplicate (suppkey, shipdate, orderkey, linenumber) rows (seen at
      // sf0.1) whose intermediate cumsums would otherwise be order-ambiguous
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li(s, d).select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity")).over(w).as("running_qty"))
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
           | sum(l_quantity) OVER (PARTITION BY l_suppkey
           |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
           |FROM lineitem""".stripMargin))

  val q08 = Q("q08_anti_semi_join",
    (s, d) => {
      val o = ord(s, d)
      val l = li(s, d).select(col("l_orderkey")).distinct()
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_no_lines"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n_no_lines FROM orders
           |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
           |GROUP BY 1""".stripMargin))

  val q13 = Q("q13_gap_detect",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, d)
        .withColumn("gap_us", unix_micros(col("ts").cast("timestamp")) - lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("gap_us") > 3600000000L, 1).otherwise(0)).as("n_gaps"),
          max(col("gap_us")).as("max_gap_us"))
    },
    Some("""WITH g AS (SELECT user_id,
           |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
           |  FROM events)
           |SELECT user_id,
           | CAST(sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           | max(gap_us) AS max_gap_us
           |FROM g GROUP BY 1""".stripMargin))

  val q14 = Q("q14_sessionize",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = ev(s, d)
        .withColumn("gap_us", unix_micros(col("ts").cast("timestamp")) - lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
        .withColumn("new_s", when(col("gap_us").isNull || col("gap_us") <= 1800000000L, 0).otherwise(1))
      val sess = flagged
        .withColumn("session_id", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .transform(d => ntz(d, "session_start", "session_end"))
    },
    Some("""WITH g AS (SELECT user_id, ts, event_id,
           |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
           |    OVER (PARTITION BY user_id ORDER BY ts, event_id) <= 1800000000
           |   THEN 0
           |   WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           |   THEN 0 ELSE 1 END AS new_s
           |  FROM events),
           |se AS (SELECT user_id, ts,
           |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           |  FROM g)
           |SELECT user_id, session_id, count(*) AS n_events,
           | min(ts) AS session_start, max(ts) AS session_end
           |FROM se GROUP BY 1, 2""".stripMargin))

  val q16 = Q("q16_running_rms",
    (s, d) => ev(s, d)
      .groupBy(col("user_id"),
        expr("cast(timestamp_seconds((unix_micros(cast(ts as timestamp)) div 600000000) * 600) as timestamp_ntz)").as("bucket"))
      .agg(round(sqrt(avg(col("value") * col("value"))), 6).as("rms")),
    Some("""SELECT user_id, time_bucket(INTERVAL 10 MINUTE, ts) AS bucket,
           | round(sqrt(avg(value * value)), 6) AS rms
           |FROM events GROUP BY 1, 2""".stripMargin))

  val q17 = Q("q17_demean",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
      ev(s, d).where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          round(col("value") - avg(col("value")).over(w), 6).as("demeaned"))
    },
    Some("""SELECT user_id, event_id,
           | round(value - avg(value) OVER (PARTITION BY user_id), 6) AS demeaned
           |FROM events WHERE event_type = 'click'""".stripMargin))

  val q18 = Q("q18_snr",
    (s, d) => ev(s, d)
      .groupBy(col("user_id"))
      .agg(
        round(max(when(col("event_type") === "error", abs(col("value")))), 6).as("s"),
        round(sqrt(avg(when(col("event_type") === "view", col("value") * col("value")))), 6).as("n"),
        round(
          max(when(col("event_type") === "error", abs(col("value")))) /
            sqrt(avg(when(col("event_type") === "view", col("value") * col("value")))), 6).as("snr"),
        max_by(col("event_id"), when(col("event_type") === "error", abs(col("value"))).otherwise(lit(null))).as("peak_event")
      ),
    Some("""SELECT user_id,
           | round(max(abs(value)) FILTER (event_type = 'error'), 6) AS s,
           | round(sqrt(avg(value * value) FILTER (event_type = 'view')), 6) AS n,
           | round(max(abs(value)) FILTER (event_type = 'error')
           |   / sqrt(avg(value * value) FILTER (event_type = 'view')), 6) AS snr,
           | max_by(event_id, abs(value)) FILTER (event_type = 'error') AS peak_event
           |FROM events GROUP BY 1""".stripMargin))

  val q24 = Q("q24_outer_merge",
    (s, d) => {
      // dataset merge = full outer alignment on dim keys (reference
      // combine_by_coords, reference xcorr/core/merge.py:58-63) —
      // clicks and errors per (user, day) outer-joined with zero fill
      def side(t: String, as: String) = ev(s, d).where(col("event_type") === t)
        .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as(as))
      side("click", "n_clicks")
        .join(side("error", "n_errors"), Seq("user_id", "day"), "full_outer")
        .select(col("user_id"), col("day"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
    },
    Some("""WITH c AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_clicks
           |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
           |e AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_errors
           |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
           |SELECT coalesce(c.user_id, e.user_id) AS user_id,
           |  coalesce(c.day, e.day) AS day,
           |  coalesce(n_clicks, 0) AS n_clicks, coalesce(n_errors, 0) AS n_errors
           |FROM c FULL OUTER JOIN e ON c.user_id = e.user_id AND c.day = e.day""".stripMargin))

  val q25 = Q("q25_grouping_rollup",
    (s, d) => ev(s, d)
      .rollup(col("event_type"), date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_v"))
      // rolled-up levels emit NULL in the grouping columns on both engines;
      // coalesce to a sentinel so the null representation never reaches the
      // oracle's hash compare
      .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("month"), lit("(all)")).as("month"), col("n"), col("sum_v")),
    Some("""SELECT coalesce(event_type, '(all)') AS event_type,
           | coalesce(strftime(ts, '%Y-%m'), '(all)') AS month,
           | count(*) AS n, round(sum(value), 6) AS sum_v
           |FROM events GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m'))""".stripMargin))

  val q26 = Q("q26_set_ops",
    (s, d) => {
      def users(t: String) = ev(s, d).where(col("event_type") === t)
        .select(col("user_id")).distinct()
      users("click").intersect(users("error"))
        .withColumn("in_both", lit(true))
        .unionByName(users("view").except(users("click"))
          .withColumn("in_both", lit(false)))
    },
    Some("""SELECT user_id, true AS in_both FROM (
           |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
           |  INTERSECT
           |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
           |UNION ALL
           |SELECT user_id, false AS in_both FROM (
           |  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
           |  EXCEPT
           |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click')""".stripMargin))

  val q27 = Q("q27_asof_join",
    // as-of join: every event picks up the latest purchase value of the
    // same user at-or-before its timestamp (AsofJoin.leftAsof — one
    // union + one key exchange + a carry-forward window, no range join);
    // oracled against DuckDB's native ASOF LEFT JOIN. The right side is
    // deduped per (user_id, ts) so the match is unique by construction.
    (s, d) => {
      val e = ev(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("ref_value"))
      graft.ops.AsofJoin.leftAsof(
        e.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
        purchases, keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        pick = Seq("ref_value"))
        .transform(x => ntz(x, "ts", "asof_ts"))
    },
    Some("""WITH r AS (SELECT user_id, ts, max(value) AS ref_value
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
           |SELECT e.event_id, e.user_id, e.ts, e.event_type,
           |  r.ref_value, r.ts AS asof_ts
           |FROM events e ASOF LEFT JOIN r
           |  ON e.user_id = r.user_id AND e.ts >= r.ts""".stripMargin))

  val q28 = Q("q28_percentile_rollup",
    // exact-percentile continuous aggregate (p50/p95 per user per day) —
    // the quantile face of the rollup tiers. Spark `percentile` and DuckDB
    // `quantile_cont` share the linear-interpolation-at-rank-p(n-1)
    // definition; round(6) absorbs the last-ulp interpolation arithmetic.
    (s, d) => ev(s, d)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        count(lit(1)).as("n")),
    Some("""SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
           |  round(quantile_cont(value, 0.5), 6) AS p50,
           |  round(quantile_cont(value, 0.95), 6) AS p95,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM events GROUP BY 1, 2""".stripMargin))

  val q54 = Q("q54_tri_mirror",
    (s, d) => {
      // tri_mask / tri_mirror (reference computes the lower triangle of a
      // symmetric matrix and mirrors it, reference xcorr/signal/
      // tri.py:19-115): per-user day x day co-activity — engine computes
      // day1 < day2 ONLY (half the kernel work) and unions the mirrored
      // copy; the oracle computes both halves directly
      val daily = ev(s, d).where(col("user_id") < 20)
        .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      val lower = daily.as("a").join(daily.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.day") < col("b.day"))
        .select(col("a.user_id").as("user_id"), col("a.day").as("day1"),
          col("b.day").as("day2"), (col("a.n") * col("b.n")).as("prod"))
      lower.unionByName(lower.select(col("user_id"), col("day2").as("day1"),
        col("day1").as("day2"), col("prod")))
    },
    Some("""WITH dd AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
           |  FROM events WHERE user_id < 20 GROUP BY 1, 2)
           |SELECT x.user_id, x.day AS day1, y.day AS day2,
           |  CAST(x.n * y.n AS BIGINT) AS prod
           |FROM dd x JOIN dd y ON x.user_id = y.user_id AND x.day <> y.day""".stripMargin))

  val q63 = Q("q63_asof_bucketed",
    // the hot-key as-of variant through the SAME oracle gate as q27: the
    // identical semantics routed through AsofJoin.leftAsofBucketed
    // ((key, 1h-bucket)-partitioned carry-forward + bucket-level boundary
    // hand-off), oracled against DuckDB's native ASOF LEFT JOIN — so the
    // scale path is hash-gated, not just spec-gated against the
    // single-window form.
    (s, d) => {
      val e = ev(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("ref_value"))
      graft.ops.AsofJoin.leftAsofBucketed(
        e.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
        purchases, keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        pick = Seq("ref_value"), bucketSec = 3600)
        .transform(x => ntz(x, "ts", "asof_ts"))
    },
    q27.oracle)

  val q91 = Q("q91_interval_overlap",
    // interval-overlap join (graft.ops.IntervalJoin.overlap): per-user
    // click activity windows [ts, ts+6h) x error windows [ts, ts+4h) that
    // intersect — exploded to 6 h buckets so the join is a plain hash
    // equi-join on (user_id, bucket) with arithmetic pair-dedup, never a
    // nested-loop range join (plan-gated in PlanSpec).
    (s, d) => {
      val e = ev(s, d)
      val l = e.where(col("event_type") === "click").select(
        col("user_id"), col("event_id").as("l_id"),
        col("ts").as("l_start"), (col("ts") + expr("INTERVAL 6 HOURS")).as("l_end"))
      val r = e.where(col("event_type") === "error").select(
        col("user_id"), col("event_id").as("r_id"),
        col("ts").as("r_start"), (col("ts") + expr("INTERVAL 4 HOURS")).as("r_end"))
      graft.ops.IntervalJoin.overlap(l, r, "user_id", bucketSec = 21600)
    },
    Some("""WITH l AS (SELECT user_id, event_id AS l_id, ts AS ls,
           |    ts + INTERVAL 6 HOUR AS le FROM events WHERE event_type = 'click'),
           |r AS (SELECT user_id, event_id AS r_id, ts AS rs,
           |    ts + INTERVAL 4 HOUR AS re FROM events WHERE event_type = 'error')
           |SELECT l.user_id, l_id, r_id,
           |  epoch_us(least(le, re)) - epoch_us(greatest(ls, rs)) AS overlap_us
           |FROM l JOIN r ON l.user_id = r.user_id AND ls < re AND rs < le""".stripMargin))

  val q126 = Q("q126_zorder_layout",
    // Morton/Z-order layout key (graft.functions.Zorder — a codegen'd
    // BinaryExpression): z = interleave(series code, minute index), the
    // sort key that makes parquet row-group min/max stats tight on BOTH
    // the key and time axes (Delta/Iceberg OPTIMIZE ZORDER BY; the
    // reference's one-axis analog is its (pair, year, doy) directory
    // nesting). Gated as the per-2^24-z-block locality profile: row
    // count, distinct keys and the exact mi/z extents per block — pure
    // integer arithmetic; the oracle replays the identical 5-step
    // magic-number spread chain in SQL.
    (s, d) => {
      val e = ev(s, d)
      val codes = e.select("event_type").distinct()
        .withColumn("code",
          (row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy("event_type")) - 1).cast("long"))
      // events.ts is NTZ; session TZ is pinned UTC, so the cast is identity.
      // `div` = integer division (Column `/` would be double division)
      e.selectExpr("event_type",
          "unix_micros(cast(ts as timestamp)) div 60000000 as mi")
        .join(broadcast(codes), "event_type")
        .withColumn("z", graft.functions.Zorder(col("code"), col("mi")))
        .groupBy(shiftright(col("z"), 24).as("zb"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_type")).as("n_keys"),
          min(col("mi")).as("min_mi"), max(col("mi")).as("max_mi"),
          min(col("z")).as("min_z"), max(col("z")).as("max_z"))
    },
    Some(raw"""WITH m AS (SELECT event_type, epoch_us(ts) // 60000000 AS mi
              |  FROM events),
              |c AS (SELECT event_type,
              |    CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS code
              |  FROM (SELECT DISTINCT event_type FROM events)),
              |j AS (SELECT m.event_type, m.mi, c.code FROM m JOIN c USING (event_type)),
              |s0 AS (SELECT *, code & 4294967295 AS a0, mi & 4294967295 AS b0 FROM j),
              |s1 AS (SELECT *, (a0 | (a0 << 16)) & 281470681808895 AS a1,
              |    (b0 | (b0 << 16)) & 281470681808895 AS b1 FROM s0),
              |s2 AS (SELECT *, (a1 | (a1 << 8)) & 71777214294589695 AS a2,
              |    (b1 | (b1 << 8)) & 71777214294589695 AS b2 FROM s1),
              |s3 AS (SELECT *, (a2 | (a2 << 4)) & 1085102592571150095 AS a3,
              |    (b2 | (b2 << 4)) & 1085102592571150095 AS b3 FROM s2),
              |s4 AS (SELECT *, (a3 | (a3 << 2)) & 3689348814741910323 AS a4,
              |    (b3 | (b3 << 2)) & 3689348814741910323 AS b4 FROM s3),
              |s5 AS (SELECT *, (a4 | (a4 << 1)) & 6148914691236517205 AS a5,
              |    (b4 | (b4 << 1)) & 6148914691236517205 AS b5 FROM s4),
              |zt AS (SELECT event_type, mi, a5 | (b5 << 1) AS z FROM s5)
              |SELECT z >> 24 AS zb, count(*) AS n,
              |  count(DISTINCT event_type) AS n_keys,
              |  min(mi) AS min_mi, max(mi) AS max_mi,
              |  min(z) AS min_z, max(z) AS max_z
              |FROM zt GROUP BY 1""".stripMargin))

  val q140 = Q("q140_props_stats",
    // semi-structured column extraction: pull the integer `k` out of the
    // JSON `props` string with a regexp (codegen'd regexp_extract — the
    // portable cross-engine idiom; JSON-path functions differ between
    // engines) and aggregate exact per-type stats. Spark's cast('' as
    // long) and the oracle's NULLIF(…, '')::BIGINT both null absent
    // matches, so malformed/missing props degrade identically.
    (s, d) => ev(s, d)
      .withColumn("k",
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k")),
    Some(raw"""WITH x AS (SELECT event_type,
              |    CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k
              |  FROM events)
              |SELECT event_type, count(*) AS n, count(k) AS n_k,
              |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k,
              |  max(k) AS max_k, count(DISTINCT k) AS n_distinct_k
              |FROM x GROUP BY 1""".stripMargin))
}
