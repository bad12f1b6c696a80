package graft.queries

import org.apache.spark.sql.functions._
import graft.Queries.{Q, ev, docs, ntz}
import graft.queries.OracleSql.tokensDuck

/** Mergeable sketches ([[graft.ops.Sketch]]: HLL, count-min, Bloom,
  * histograms) and funnel/cohort analytics ([[graft.ops.Funnel]]).
  */
private[graft] trait SketchQueries {

  private val q89Oracle =
    raw"""WITH h AS (SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
              |  WHERE user_id IS NOT NULL),
              |r AS (SELECT
              |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
              |      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
              |    length(regexp_extract(substr(hx, 3, 12), '^(0*)', 1)) AS z,
              |    substr(substr(hx, 3, 12), length(regexp_extract(substr(hx, 3, 12), '^(0*)', 1)) + 1, 1) AS d
              |  FROM h)
              |SELECT bucket, max(CASE WHEN z = 12 THEN 49
              |  ELSE 4 * z + (CASE WHEN d >= '8' THEN 0 WHEN d >= '4' THEN 1
              |                     WHEN d >= '2' THEN 2 ELSE 3 END) + 1 END) AS register
              |FROM r GROUP BY 1""".stripMargin

  val q89 = Q("q89_hll_registers",
    // HyperLogLog register table over event user_ids (graft.ops.Sketch
    // .hllRegisters, p=8): a pure-INTEGER mergeable sketch in the md5 hex
    // domain — bucket = first 2 hex digits, rho = 1 + leading zero bits of
    // the next 12, via a regexp zero-run + ASCII CASE ladder both engines
    // evaluate identically (no float log2). The estimate/merge laws are
    // spec-gated (SketchSpec); the oracle gate hashes the registers.
    (s, d) => graft.ops.Sketch.hllRegisters(ev(s, d), "user_id", 8),
    Some(q89Oracle))

  val q90 = Q("q90_heavy_hitters",
    // frequency sketch -> exact verify (graft.ops.Sketch.heavyHitters):
    // per-partition Misra-Gries candidates (a provable superset of every
    // word with freq > N/k), then exact counts over the broadcast
    // candidate set only — output exact and partitioning-independent, the
    // full-vocabulary groupBy never happens. k=30 splits this corpus's
    // 31-word vocabulary (~15 above, ~16 below), so both the keep and the
    // drop side of the threshold are exercised.
    (s, d) => graft.ops.Sketch.heavyHitters(
      docs(s, d).select(explode(expr(
        raw"graft_words(text)")).as("item")),
      "item", 30),
    Some(raw"""WITH w AS (SELECT unnest(list_filter($tokensDuck, x -> x <> '')) AS item
              |  FROM documents),
              |t AS (SELECT count(*) AS n_total FROM w)
              |SELECT item, count(*) AS n, min(t.n_total) AS n_total
              |FROM w CROSS JOIN t GROUP BY 1
              |HAVING count(*) * 30 > min(t.n_total)""".stripMargin))

  /** DuckDB integer from the first `digits` hex chars of expression `h` —
    * the strpos ladder q89 introduced, generalized (no 0x cast: DuckDB and
    * Spark `conv` must agree digit-by-digit, so both use base-16 positional
    * arithmetic spelled out).
    */
  private def hexIntDuck(h: String, digits: Int): String =
    (1 to digits).map { i =>
      val w = (1 to (digits - i)).foldLeft(1L)((a, _) => a * 16)
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * $w"
    }.mkString(" + ")

  val q92 = Q("q92_cms_grid",
    // count-min sketch grid over document words (graft.ops.Sketch
    // .cmsCounts, d=4, w=256): a pure-INTEGER mergeable frequency sketch —
    // cell (r, c) counts items whose md5(r || ':' || item) starts with hex
    // c. Merge law + overestimate guarantee + partition-independence are
    // spec-gated (SketchSpec); the oracle gate hashes the whole grid.
    (s, d) => graft.ops.Sketch.cmsCounts(
      docs(s, d).select(explode(expr(
        raw"graft_words(text)")).as("item")),
      "item", d = 4, wHex = 2),
    Some(raw"""WITH w AS (SELECT unnest(list_filter($tokensDuck, x -> x <> '')) AS item
              |  FROM documents),
              |c AS (SELECT t.r AS cms_row,
              |    md5(CAST(t.r AS VARCHAR) || ':' || item) AS h
              |  FROM w CROSS JOIN range(4) t(r))
              |SELECT cms_row, ${hexIntDuck("h", 2)} AS cms_col, count(*) AS cnt
              |FROM c GROUP BY 1, 2""".stripMargin))

  val q93 = Q("q93_bloom_probe",
    // Bloom-filter membership (graft.ops.Sketch.bloomBits +
    // bloomMightContain, k=4, m=65536) built over event_ids, probed with
    // item = event_id*2 — half the probes are present (even ids below n),
    // half absent, so the gate pins the exact deterministic false-positive
    // set at each scale (none at sf0.001's 6% fill; a handful at sf0.01's
    // 45% fill). The no-false-negative law is structural (present items'
    // bits are set by construction); the spec adds the fp-rate band.
    (s, d) => {
      val bits = graft.ops.Sketch.bloomBits(ev(s, d), "event_id", k = 4, mHex = 4)
      val probes = ev(s, d).select((col("event_id") * 2).as("item"))
      graft.ops.Sketch.bloomMightContain(bits, probes, k = 4, mHex = 4)
    },
    Some(raw"""WITH bits AS (SELECT DISTINCT
              |    ${hexIntDuck("md5(CAST(t.r AS VARCHAR) || ':' || CAST(event_id AS VARCHAR))", 4)} AS bit,
              |    1 AS is_set
              |  FROM events CROSS JOIN range(4) t(r)),
              |probes AS (SELECT event_id * 2 AS item FROM events),
              |cells AS (SELECT item,
              |    ${hexIntDuck("md5(CAST(t.r AS VARCHAR) || ':' || CAST(item AS VARCHAR))", 4)} AS bit
              |  FROM probes CROSS JOIN range(4) t(r))
              |SELECT item, count(*) = sum(coalesce(is_set, 0)) AS might_contain
              |FROM cells LEFT JOIN bits USING (bit) GROUP BY 1""".stripMargin))

  val q94 = Q("q94_cohort_retention",
    // cohort retention matrix (graft.ops.Funnel.cohortRetention): users
    // bucketed by first-activity day, counted at each later active-day
    // offset. Raw events collapse to distinct (user, day) FIRST, so
    // everything downstream is bounded by users x days, not event volume.
    (s, d) => ntz(graft.ops.Funnel.cohortRetention(ev(s, d), "user_id", "ts"),
      "cohort_day"),
    Some("""WITH ud AS (SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS day
           |    FROM events WHERE user_id IS NOT NULL),
           |c AS (SELECT u, min(day) AS cohort_day FROM ud GROUP BY 1)
           |SELECT c.cohort_day,
           |  date_diff('day', c.cohort_day, ud.day) AS offset_days,
           |  count(*) AS n_users
           |FROM ud JOIN c USING (u) GROUP BY 1, 2""".stripMargin))

  val q95 = Q("q95_ordered_funnel",
    // strict first-match conversion funnel view -> click -> purchase
    // (graft.ops.Funnel.orderedFunnel): per user, each step's first
    // occurrence STRICTLY after the previous step's completion; one
    // groupBy + an in-row fold over per-step sorted times (no step joins).
    // The oracle takes the equivalent sequential-min formulation.
    (s, d) => ntz(graft.ops.Funnel.orderedFunnel(
      ev(s, d), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")), "t_first", "t_last"),
    Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
           |    WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1),
           |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
           |    JOIN s1 USING (user_id) WHERE e.event_type = 'click' AND e.ts > s1.t1
           |    GROUP BY 1),
           |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
           |    JOIN s2 USING (user_id) WHERE e.event_type = 'purchase' AND e.ts > s2.t2
           |    GROUP BY 1)
           |SELECT s1.user_id,
           |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
           |       ELSE 1 END AS stage_reached,
           |  t1 AS t_first, coalesce(t3, t2, t1) AS t_last
           |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin))

  val q96 = Q("q96_hll_by_day",
    // GROUPED HLL: one register table per day (graft.ops.Sketch
    // .hllRegistersBy) — the scale answer to count(DISTINCT user) GROUP BY
    // day: <=256 integer rows per day instead of a daily shuffle of the
    // whole id population, and day sketches FOLD to month/total (q97)
    // without revisiting raw data, which exact distinct cannot do.
    (s, d) => ntz(graft.ops.Sketch.hllRegistersBy(
      ev(s, d).withColumn("day", date_trunc("day", col("ts"))),
      Seq("day"), "user_id", 8), "day"),
    Some(raw"""WITH h AS (SELECT date_trunc('day', ts) AS day,
              |    md5(CAST(user_id AS VARCHAR)) AS hx FROM events
              |  WHERE user_id IS NOT NULL),
              |r AS (SELECT day,
              |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
              |      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
              |    length(regexp_extract(substr(hx, 3, 12), '^(0*)', 1)) AS z,
              |    substr(substr(hx, 3, 12), length(regexp_extract(substr(hx, 3, 12), '^(0*)', 1)) + 1, 1) AS d
              |  FROM h)
              |SELECT day, bucket, max(CASE WHEN z = 12 THEN 49
              |  ELSE 4 * z + (CASE WHEN d >= '8' THEN 0 WHEN d >= '4' THEN 1
              |                     WHEN d >= '2' THEN 2 ELSE 3 END) + 1 END) AS register
              |FROM r GROUP BY 1, 2""".stripMargin))

  val q97 = Q("q97_hll_fold",
    // the sketch-tier mergeability LAW under the oracle hash gate: folding
    // the per-day register tables (q96's surface) down to the total
    // sketch equals sketching the whole input directly — so this query
    // reuses q89's oracle SQL VERBATIM (the q72-reuses-q11 pattern). This
    // is what makes grouped HLL retention-tier-compatible: expire raw
    // days, keep 256-row sketches, still answer global distincts.
    (s, d) => graft.ops.Sketch.foldRegisters(
      graft.ops.Sketch.hllRegistersBy(
        ev(s, d).withColumn("day", date_trunc("day", col("ts"))),
        Seq("day"), "user_id", 8),
      Nil),
    Some(q89Oracle))

  val q99 = Q("q99_windowed_funnel",
    // q95's funnel with a 48 h first-touch conversion window: later steps
    // must land strictly after the previous step AND within 48 h of the
    // user's FIRST view (no re-anchoring). The oracle adds the horizon
    // bound to each sequential min.
    (s, d) => ntz(graft.ops.Funnel.orderedFunnel(
      ev(s, d), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), horizonSec = Some(48L * 3600)),
      "t_first", "t_last"),
    Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
           |    WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1),
           |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
           |    JOIN s1 USING (user_id) WHERE e.event_type = 'click'
           |    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 48 HOUR
           |    GROUP BY 1),
           |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
           |    JOIN s2 USING (user_id) JOIN s1 USING (user_id)
           |    WHERE e.event_type = 'purchase'
           |    AND e.ts > s2.t2 AND e.ts <= s1.t1 + INTERVAL 48 HOUR
           |    GROUP BY 1)
           |SELECT s1.user_id,
           |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
           |       ELSE 1 END AS stage_reached,
           |  t1 AS t_first, coalesce(t3, t2, t1) AS t_last
           |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin))

  val q109 = Q("q109_hist_by_day",
    // mergeable distribution tier (graft.ops.Sketch.histByKey): per
    // (event_type, day), 20 equi-width bins of `value` over [0, 500) —
    // integer counts, ONE IEEE bin expression per row; the day tables are
    // the retention-tier unit q110 folds.
    (s, d) => ntz(graft.ops.Sketch.histByKey(
      ev(s, d).withColumn("day", date_trunc("day", col("ts"))),
      Seq("event_type", "day"), "value", lo = 0.0, hi = 500.0, nBins = 20), "day"),
    Some("""SELECT event_type, date_trunc('day', ts) AS day,
           |  LEAST(19, GREATEST(0, CAST(floor((value - 0.0) * 20 / 500.0) AS INTEGER))) AS bin,
           |  count(*) AS cnt
           |FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3""".stripMargin))

  val q110 = Q("q110_hist_fold",
    // the histogram tier law, oracle-shaped like q97's HLL fold: folding
    // the per-day bin counts to event_type (graft.ops.Sketch.histFold,
    // sum per bin) must equal the histogram computed directly over all
    // rows — bin-exact, the property that lets a 100 TB scan build days
    // once and answer any coarser tier without revisiting raw data.
    (s, d) => graft.ops.Sketch.histFold(
      graft.ops.Sketch.histByKey(
        ev(s, d).withColumn("day", date_trunc("day", col("ts"))),
        Seq("event_type", "day"), "value", lo = 0.0, hi = 500.0, nBins = 20),
      Seq("event_type")),
    Some("""SELECT event_type,
           |  LEAST(19, GREATEST(0, CAST(floor((value - 0.0) * 20 / 500.0) AS INTEGER))) AS bin,
           |  count(*) AS cnt
           |FROM events WHERE value IS NOT NULL GROUP BY 1, 2""".stripMargin))

  val q127 = Q("q127_session_paths",
    // top-k session paths (graft.ops.Funnel.sessionPaths): q14's ≤30 min
    // sessionization, each session's first 3 event types '>'-joined in
    // (ts, event_id) total order, path frequencies + distinct users,
    // top-10 by (n_sessions desc, path) — the Sankey/flow query. Exact
    // integers and strings end-to-end; the engine's array_sort-over-
    // structs assembly equals the oracle's ordered string_agg because
    // both replay the same total order.
    (s, d) => graft.ops.Funnel.sessionPaths(ev(s, d), "user_id", "ts",
      "event_id", "event_type", gapSec = 1800L, maxSteps = 3, k = 10),
    Some("""WITH g AS (SELECT user_id, ts, event_id, event_type,
           |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
           |    OVER (PARTITION BY user_id ORDER BY ts, event_id) <= 1800000000
           |   THEN 0
           |   WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           |   THEN 0 ELSE 1 END AS new_s
           |  FROM events),
           |se AS (SELECT user_id, ts, event_id, event_type,
           |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           |  FROM g),
           |st AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
           |    ORDER BY ts, event_id) AS step FROM se),
           |p AS (SELECT user_id, sid,
           |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           |  FROM st WHERE step <= 3 GROUP BY 1, 2),
           |c AS (SELECT path, count(*) AS n_sessions,
           |    count(DISTINCT user_id) AS n_users FROM p GROUP BY 1)
           |SELECT path, n_sessions, n_users,
           |  CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS INTEGER) AS rank
           |FROM c QUALIFY rank <= 10""".stripMargin))

  val q131 = Q("q131_gini_diversity",
    // behavioral diversity per user (graft.ops.Funnel.giniDiversity):
    // Gini impurity of the event-type mix — the exact-rational stand-in
    // for entropy (ln is not bit-portable; the q74 lesson). All pieces
    // exact BIGINTs; gini_r one division round-6. Two map-side-combined
    // groupBys, no join.
    (s, d) => graft.ops.Funnel.giniDiversity(ev(s, d), "user_id", "event_type"),
    Some(raw"""WITH c AS (SELECT user_id, event_type, count(*) AS c
              |  FROM events GROUP BY 1, 2),
              |g AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
              |    count(*) AS n_types, CAST(sum(c * c) AS BIGINT) AS sum_sq
              |  FROM c GROUP BY 1)
              |SELECT user_id, n, n_types, sum_sq,
              |  n*n - sum_sq AS gini_num, n*n AS gini_den,
              |  round((n*n - sum_sq) / CAST(n*n AS DOUBLE), 6) AS gini_r
              |FROM g""".stripMargin))

  val q138 = Q("q138_user_lifecycle",
    // daily user lifecycle (graft.ops.Funnel.userLifecycle): per active
    // day, distinct actives, NEW users (first active day), last-seen
    // users (retrospective churn label) and returning = active − new.
    // One distinct collapse + per-user span agg + day join — exact
    // integers end-to-end.
    (s, d) => ntz(graft.ops.Funnel.userLifecycle(ev(s, d), "user_id", "ts"),
      "day"),
    Some(raw"""WITH ud AS (SELECT DISTINCT user_id,
              |    date_trunc('day', ts) AS day FROM events),
              |sp AS (SELECT user_id, min(day) AS fd, max(day) AS ld
              |  FROM ud GROUP BY 1)
              |SELECT ud.day, count(*) AS n_active,
              |  CAST(sum(CASE WHEN ud.day = sp.fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
              |  CAST(sum(CASE WHEN ud.day = sp.ld THEN 1 ELSE 0 END) AS BIGINT) AS n_last_seen,
              |  count(*) - CAST(sum(CASE WHEN ud.day = sp.fd THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
              |FROM ud JOIN sp USING (user_id)
              |GROUP BY 1""".stripMargin))

  val q139 = Q("q139_step_latency",
    // time-to-convert distribution for the view→click funnel edge
    // (graft.ops.Funnel.stepLatency): first-view anchor, first strictly-
    // later click, per anchor-day cohort — entered/converted counts and
    // exact min/max µs latency, p50/p95 over WHOLE SECONDS round-6 (q28
    // interpolation parity holds at second magnitude; µs-scale values
    // ~1e12 differ by 1 ulp cross-engine — caught by the sf0.1 replay).
    (s, d) => ntz(graft.ops.Funnel.stepLatency(ev(s, d), "user_id", "ts",
      "event_type", from = "view", to = "click"), "day"),
    Some(raw"""WITH a AS (SELECT user_id, min(epoch_us(ts)) AS a_us
              |  FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
              |  GROUP BY 1),
              |c AS (SELECT a.user_id, min(epoch_us(e.ts) - a.a_us) AS lat
              |  FROM a JOIN events e ON e.user_id = a.user_id
              |    AND e.event_type = 'click' AND epoch_us(e.ts) > a.a_us
              |  GROUP BY 1),
              |j AS (SELECT a.user_id, a.a_us, c.lat
              |  FROM a LEFT JOIN c ON a.user_id = c.user_id)
              |SELECT date_trunc('day', make_timestamp(a_us)) AS day,
              |  count(*) AS n_entered, count(lat) AS n_converted,
              |  CAST(min(lat) AS BIGINT) AS min_lat_us,
              |  CAST(max(lat) AS BIGINT) AS max_lat_us,
              |  round(quantile_cont(lat // 1000000, 0.5), 6) AS p50_s_r,
              |  round(quantile_cont(lat // 1000000, 0.95), 6) AS p95_s_r
              |FROM j GROUP BY 1""".stripMargin))
}
