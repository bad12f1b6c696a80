package graft.queries

import org.apache.spark.sql.functions._
import graft.kernel.Cc
import graft.ops.{Correlate, Ingest}
import graft.Queries.{Q, ev, ntz}
import graft.queries.OracleSql.hourlyGridCtes

/** The cross-correlation pipeline: the FFT CC kernel, its lag axis and
  * unbias weights, and windowed pairwise CC through [[graft.ops.Correlate]].
  */
private[graft] trait CcQueries {

  val q19 = Q("q19_cc_pair_lags",
    (s, d) => {
      import s.implicits._
      // hourly count series of users 1 and 2 on the COMMON gap-filled grid,
      // cross-correlated with the FFT kernel; integer-valued series → the
      // raw CC estimate is integral, so the kernel output rounds exactly to
      // the time-domain oracle sum
      val both = ev(s, d).where(col("user_id").isin(1L, 2L))
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      val span = both.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = span.select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val counts = both.groupBy(col("user_id"), col("h")).agg(count(lit(1)).as("c"))
      def seriesOf(uid: Long) = grid
        .join(counts.where(col("user_id") === uid), Seq("h"), "left")
        .select(col("h"), coalesce(col("c"), lit(0L)).cast("double").as("v"))
        .agg(expr("transform(array_sort(collect_list(struct(h, v))), p -> p.v)").as("vs"))
      // distributed end-to-end: the two 1-row series aggregates meet in a
      // 1x1 cross join and the kernel runs in a flatMap on an executor —
      // no .collect()/.head() anywhere in the checked surface
      val xa = seriesOf(1L).select(col("vs").as("va"))
      val yb = seriesOf(2L).select(col("vs").as("vb"))
      xa.crossJoin(yb).as[(Array[Double], Array[Double])]
        .flatMap { case (va, vb) =>
          val rxy = Cc.cc(va, vb, normalize = false)
          val zero = rxy.length / 2
          (-6 to 6).map(k => (k, math.round(rxy(zero + k))))
        }
        .toDF("lag_k", "cc_raw")
    },
    Some("""WITH bth AS (SELECT user_id, date_trunc('hour', ts) AS h FROM events
           |  WHERE user_id IN (1, 2)),
           |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM bth),
           |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span),
           |idx AS (SELECT h, row_number() OVER (ORDER BY h) - 1 AS j FROM grid),
           |cnt AS (SELECT user_id, h, count(*) AS c FROM bth GROUP BY 1, 2),
           |xa AS (SELECT idx.j, coalesce(cnt.c, 0) AS c FROM idx
           |  LEFT JOIN cnt ON cnt.h = idx.h AND cnt.user_id = 1),
           |yb AS (SELECT idx.j, coalesce(cnt.c, 0) AS c FROM idx
           |  LEFT JOIN cnt ON cnt.h = idx.h AND cnt.user_id = 2),
           |lags AS (SELECT unnest(generate_series(-6, 6)) AS k)
           |SELECT lags.k AS lag_k, CAST(coalesce(sum(xa.c * yb.c), 0) AS BIGINT) AS cc_raw
           |FROM lags JOIN xa ON true JOIN yb ON yb.j = xa.j - lags.k
           |GROUP BY 1""".stripMargin))

  val q20 = Q("q20_lag_axis",
    (s, d) => {
      import s.implicits._
      val lags = Cc.lagAxis(64, 0.5)
      s.createDataset(lags.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) })
        .toDF("i", "lag")
    },
    Some("""SELECT i, round((i - 63) * 0.5, 9) AS lag
           |FROM (SELECT unnest(generate_series(0, 126)) AS i)""".stripMargin))

  val q21 = Q("q21_unbias_weights",
    (s, d) => {
      import s.implicits._
      val w = Cc.weight(32)
      s.createDataset(w.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v) }).toDF("i", "w")
    },
    Some("""SELECT i, 32.0 / (32 - abs(i - 31)) AS w
           |FROM (SELECT unnest(generate_series(0, 62)) AS i)""".stripMargin))

  val q50 = Q("q50_xcorr_e2e",
    (s, d) => {
      // the FULL flagship composition — transcripts-shaped input →
      // Ingest.series (gap-fill) → Correlate.windows → allPairs →
      // ccPairs FFT kernel — over the STORED events table in an integer
      // domain (normalize=false, integral hourly counts → the raw CC
      // estimate rounds exactly to the oracle's time-domain lag sum).
      // This hard-checks the two stages q53 doesn't: Ingest.series'
      // gap-fill (sparse window assembly must reconstruct the zeros
      // identically) and allPairs' triangular pair generation. The
      // transcripts variant of the same composition stays golden-tested
      // in PipelineSpec and measured in Bench.ccThroughput/Scaling.
      import s.implicits._
      val t = ev(s, d).where(col("user_id").isin(1L, 2L, 3L))
        .select(col("user_id").cast("string").as("conv_id"), col("ts"),
          col("event_type").as("text")) // single-token texts: token_volume == turn_rate
      val series = Ingest.series(t, 3600)
      val wins = Correlate.windows(series, windowSec = 86400, strideSec = 43200, stepSec = 3600)
      val pairs = Correlate.allPairs(series)
      Correlate.ccPairs(wins, pairs, stepSec = 3600, windowSec = 86400, normalize = false)
        .map(r => (r.pair, r.metric, r.win_start, r.cc))
        .flatMap { case (p, m, w, arr) =>
          val zero = arr.length / 2
          (-4 to 4).map(k => (p, m, w, k, math.round(arr(zero + k))))
        }
        .toDF("pair", "metric", "win_start", "lag_k", "cc_raw")
        .transform(x => ntz(x, "win_start"))
    },
    Some(s"""WITH ${hourlyGridCtes("user_id IN (1, 2, 3)", "coalesce(c.c, 0)")},
           |prs AS (SELECT 1 AS ua, 2 AS ub UNION ALL SELECT 1, 3 UNION ALL SELECT 2, 3),
           |mets AS (SELECT unnest(['turn_rate', 'token_volume']) AS metric),
           |lags AS (SELECT unnest(generate_series(-4, 4)) AS k)
           |SELECT ua || '-' || ub AS pair, metric, make_timestamp(a.w * 1000000) AS win_start,
           |  lags.k AS lag_k, CAST(coalesce(sum(a.v * b.v), 0) AS BIGINT) AS cc_raw
           |FROM prs
           |JOIN vals a ON a.user_id = ua
           |JOIN lags ON true
           |JOIN vals b ON b.user_id = ub AND b.w = a.w AND b.i = a.i - lags.k
           |CROSS JOIN mets
           |GROUP BY 1, 2, 3, 4""".stripMargin))

  val q53 = Q("q53_cc_windows",
    (s, d) => {
      // the DISTRIBUTED windowed-CC production path (Correlate.windows →
      // broadcast pair join → mapPartitions FFT kernel) on a stored table,
      // hard-checked against a time-domain DuckDB oracle: hourly event
      // counts per user, 24 h windows at 12 h stride, raw (unnormalized)
      // CC at lags -4..4. Counts are integral → the FFT estimate rounds
      // exactly to the oracle's time-domain sum. The sparse window
      // assembly doubles as the gap-filler: missing grid hours are exact
      // zeros on both engines.
      import s.implicits._
      val cnt = ev(s, d).where(col("user_id").isin(1L, 2L, 3L))
        .groupBy(col("user_id").cast("string").as("conv_id"),
          date_trunc("hour", col("ts")).as("ts"))
        .agg(count(lit(1)).cast("double").as("value"))
        .withColumn("metric", lit("hourly_events"))
        .select("conv_id", "metric", "ts", "value")
      val wins = Correlate.windows(cnt, windowSec = 86400, strideSec = 43200, stepSec = 3600)
      val pairs = Seq(("1", "2"), ("2", "3")).toDF("conv_a", "conv_b")
      Correlate.ccPairs(wins, pairs, stepSec = 3600, windowSec = 86400, normalize = false)
        .map(r => (r.pair, r.win_start, r.cc))
        .flatMap { case (p, w, arr) =>
          val zero = arr.length / 2
          (-4 to 4).map(k => (p, w, k, math.round(arr(zero + k))))
        }
        .toDF("pair", "win_start", "lag_k", "cc_raw")
        .transform(x => ntz(x, "win_start"))
    },
    Some(s"""WITH ${hourlyGridCtes("user_id IN (1, 2, 3)", "coalesce(c.c, 0)")},
           |prs AS (SELECT 1 AS ua, 2 AS ub UNION ALL SELECT 2, 3),
           |lags AS (SELECT unnest(generate_series(-4, 4)) AS k)
           |SELECT ua || '-' || ub AS pair, make_timestamp(a.w * 1000000) AS win_start,
           |  lags.k AS lag_k, CAST(coalesce(sum(a.v * b.v), 0) AS BIGINT) AS cc_raw
           |FROM prs
           |JOIN vals a ON a.user_id = ua
           |JOIN lags ON true
           |JOIN vals b ON b.user_id = ub AND b.w = a.w AND b.i = a.i - lags.k
           |GROUP BY 1, 2, 3""".stripMargin))
}
