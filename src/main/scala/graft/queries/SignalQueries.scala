package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Correlate
import graft.Queries.{Q, ev, ntz}
import graft.queries.OracleSql.{hourlyGridCtes, spectrumCtes}

/** Signal operators over windowed or gap-filled hourly series: filters,
  * spectrograms, scaleograms, beamforming, the postprocess chain and the
  * other [[graft.ops.Preprocess]] registry ops.
  */
private[graft] trait SignalQueries {

  /** q29's filter constants, computed ONCE with the exact code path the
    * engine's registry op uses (param string → toDouble → butter →
    * sosfiltZi), then inlined into the oracle as shortest-round-trip
    * decimal literals (Double.toString ↔ DuckDB strtod are both
    * correctly-rounded, so the constants are bit-identical cross-engine).
    */
  private lazy val q29Filter: (graft.kernel.Filter.Sos, Array[Double], String) = {
    val freqStr = (1.0 / 43200).toString          // highpass cutoff, Hz (12 h period)
    val fs = 1e6 / 3600000000L                    // what perKeyKernel computes for an hourly grid
    val wn = freqStr.toDouble / (fs / 2)
    val sos = graft.kernel.Filter.butter(2, Array(wn), "highpass")
    require(sos.length == 1)
    (sos(0), graft.kernel.Filter.sosfiltZi(sos)(0), freqStr)
  }

  val q29 = Q("q29_filtfilt",
    // the zero-phase Butterworth IIR filter — long claimed "not
    // SQL-expressible" — as a HARD oracle: filter DESIGN math stays in
    // Scala (constants inlined as round-trip literals), and the oracle
    // replays only scipy-semantics sosfiltfilt mechanics: odd extension,
    // zi-seeded forward recurrence, reversal, zi-seeded backward
    // recurrence, crop. Identical IEEE expression trees per step on
    // identical doubles → BIT-exact output, no rounding. Engine side runs
    // the real user surface (Preprocess registry 'filter' via
    // perKeyKernel) on gap-filled hourly counts. The oracle fixes
    // padlen = 9 (valid whenever every series is longer than 10 samples —
    // the kernel's min(9, n-1) branch); a guard empties the output and
    // fails the gate loudly if any series is ever that short.
    (s, d) => {
      val (_, _, freqStr) = q29Filter
      val b = ev(s, d).where(col("user_id").isin(1L, 2L, 3L))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      val spans = b.groupBy(col("user_id")).agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = spans.select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("ts"))
      val series = grid
        .join(b, grid("user_id") === b("user_id") && grid("ts") === b("h"), "left")
        .select(grid("user_id").cast("string").as("conv_id"),
          lit("hourly_events").as("metric"), grid("ts"),
          coalesce(col("c"), lit(0L)).cast("double").as("value"))
      graft.ops.Preprocess(series, Seq("filter" ->
          Map("type" -> "highpass", "freq" -> freqStr, "order" -> "2")))
        .select(col("conv_id").cast("long").as("user_id"), col("ts"),
          col("value").as("filtered"))
        .transform(x => ntz(x, "ts"))
    },
    Some {
      val (sos, zi, _) = q29Filter
      val (b0, b1, b2, a1, a2) = (sos.b0.toString, sos.b1.toString, sos.b2.toString,
        sos.a1.toString, sos.a2.toString)
      val (z0c, z1c) = (zi(0).toString, zi(1).toString)
      s"""WITH RECURSIVE bb AS MATERIALIZED (SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS c
         |  FROM events WHERE user_id IN (1, 2, 3) GROUP BY 1, 2),
         |sp AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM bb GROUP BY 1),
         |gr AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS ts FROM sp),
         |x AS MATERIALIZED (SELECT gr.user_id, gr.ts,
         |    row_number() OVER (PARTITION BY gr.user_id ORDER BY gr.ts) - 1 AS i,
         |    CAST(coalesce(bb.c, 0) AS DOUBLE) AS v
         |  FROM gr LEFT JOIN bb ON gr.user_id = bb.user_id AND gr.ts = bb.h),
         |nn AS MATERIALIZED (SELECT user_id, count(*) AS n FROM x GROUP BY 1),
         |pd AS (SELECT unnest(generate_series(0, 8)) AS p),
         |ext AS MATERIALIZED (
         |  SELECT nn.user_id, pd.p AS i, 2 * x0.v - xr.v AS v
         |  FROM nn JOIN pd ON true
         |  JOIN x x0 ON x0.user_id = nn.user_id AND x0.i = 0
         |  JOIN x xr ON xr.user_id = nn.user_id AND xr.i = 9 - pd.p
         |  UNION ALL SELECT user_id, i + 9, v FROM x
         |  UNION ALL
         |  SELECT nn.user_id, nn.n + 9 + pd.p, 2 * xl.v - xr.v
         |  FROM nn JOIN pd ON true
         |  JOIN x xl ON xl.user_id = nn.user_id AND xl.i = nn.n - 1
         |  JOIN x xr ON xr.user_id = nn.user_id AND xr.i = nn.n - 2 - pd.p),
         |fwd(user_id, i, y, z0, z1) AS (
         |  SELECT e.user_id, 0, $b0 * e.v + $z0c * e.v,
         |    $b1 * e.v - $a1 * ($b0 * e.v + $z0c * e.v) + $z1c * e.v,
         |    $b2 * e.v - $a2 * ($b0 * e.v + $z0c * e.v)
         |  FROM ext e WHERE e.i = 0
         |  UNION ALL
         |  SELECT user_id, i, y, $b1 * v - $a1 * y + z1p, $b2 * v - $a2 * y FROM (
         |    SELECT s.user_id, s.i + 1 AS i, e.v AS v, $b0 * e.v + s.z0 AS y, s.z1 AS z1p
         |    FROM fwd s
         |    JOIN nn ON nn.user_id = s.user_id
         |    JOIN ext e ON e.user_id = s.user_id AND e.i = s.i + 1
         |    WHERE s.i < nn.n + 17) q),
         |fr AS MATERIALIZED (SELECT f.user_id, nn.n + 17 - f.i AS i, f.y AS v
         |  FROM fwd f JOIN nn ON nn.user_id = f.user_id),
         |bwd(user_id, i, y, z0, z1) AS (
         |  SELECT e.user_id, 0, $b0 * e.v + $z0c * e.v,
         |    $b1 * e.v - $a1 * ($b0 * e.v + $z0c * e.v) + $z1c * e.v,
         |    $b2 * e.v - $a2 * ($b0 * e.v + $z0c * e.v)
         |  FROM fr e WHERE e.i = 0
         |  UNION ALL
         |  SELECT user_id, i, y, $b1 * v - $a1 * y + z1p, $b2 * v - $a2 * y FROM (
         |    SELECT s.user_id, s.i + 1 AS i, e.v AS v, $b0 * e.v + s.z0 AS y, s.z1 AS z1p
         |    FROM bwd s
         |    JOIN nn ON nn.user_id = s.user_id
         |    JOIN fr e ON e.user_id = s.user_id AND e.i = s.i + 1
         |    WHERE s.i < nn.n + 17) q)
         |SELECT b.user_id, x.ts, b.y AS filtered
         |FROM bwd b
         |JOIN nn ON nn.user_id = b.user_id
         |JOIN x ON x.user_id = b.user_id AND x.i = nn.n + 17 - b.i - 9
         |WHERE nn.n + 17 - b.i BETWEEN 9 AND nn.n + 8
         |  AND (SELECT min(n) FROM nn) > 9""".stripMargin
    })

  /** Shared input for the signal-operator queries: gap-free hourly count
    * series of the given users (the sparse form — window assembly
    * reconstructs the zeros, q53's oracle proves the equivalence).
    */
  private def hourlySeries(s: SparkSession, d: String, users: Long*): DataFrame =
    ev(s, d).where(col("user_id").isin(users: _*))
      .groupBy(col("user_id").cast("string").as("conv_id"),
        date_trunc("hour", col("ts")).as("ts"))
      .agg(count(lit(1)).cast("double").as("value"))
      .withColumn("metric", lit("hourly_events"))
      .select("conv_id", "metric", "ts", "value")

  // the oracles' hourlyGridCtes window value: the count as a DOUBLE, as in hourlySeries
  private val countAsDouble = "CAST(coalesce(c.c, 0) AS DOUBLE)"

  val q55 = Q("q55_postprocess_chain",
    (s, d) => {
      // the full postprocess chain (unbias → demean → taper → timeshift →
      // highpass filtfilt → taper → per-pair lag-window) + snr over
      // DISTRIBUTED windowed CC on a stored table — HARD-oracled:
      // the oracle chains the stage mechanics already proven in isolation
      // (q53's time-domain CC sums, q21's weight algebra, q64's Hann edge
      // factors, q65's exact-12-step roll, q29's zi-seeded filtfilt
      // recursion at the SAME inlined SOS constants — wn = (1/43200) /
      // ((1/3600)/2) is bit-identical to q29Filter's) into one composed
      // query. The chain input (FFT-normalized CC) carries ~1e-15 relative
      // reorder noise vs the SQL sums, so outputs round(6) (q56/q64/q65
      // precedent); window geometry: npts=24 → 47 lags, taper m=2, roll
      // 12 steps (delay = -(0 + (-43200))), padlen 9, taper2 m=1
      import s.implicits._
      val wins = Correlate.windows(hourlySeries(s, d, 1L, 2L, 3L), 86400, 43200, 3600)
      val pairs = Seq(("1", "2"), ("2", "3")).toDF("conv_a", "conv_b")
      val cc = Correlate.ccPairs(wins, pairs, 3600, 86400, normalize = true).toDF()
      // per-pair celerity lag windows: the two pairs carry different
      // "distances", so the chain masks them differently in ONE pass
      // (the reference's distance(pair) mask — init.py:211-234,
      // timelapse.py:182-186); the celerity window intersects the global
      // [-43200, 43200] one. Toy celerities are wide (300..3000) so each
      // window spans several 3600 s lag steps on this coarse grid:
      // pair 1-2 keeps lag ∈ [5000, 43200], pair 2-3 ∈ [10000, 43200].
      val dist = Seq(("1-2", 1.5e7), ("2-3", 3.0e7)).toDF("pair", "distance")
      val post = graft.ops.Postprocess(cc, graft.ops.Postprocess.Config(
        stepSec = 3600, unbias = true, taperSec = 7200,
        filterFreqHz = 1.0 / 43200, filterOrder = 2, taper2Sec = 3600,
        lagMinSec = -43200, lagMaxSec = 43200,
        celerityMin = 300, celerityMax = 3000), Some(dist))
      graft.ops.Postprocess.snr(post, 3600, signalBand = (-21600, 21600), noiseBand = (28800, 43200))
        .select(col("pair"), col("metric"), col("win_start"),
          (round(col("s"), 6) + lit(0.0)).as("s"),
          (round(col("n"), 6) + lit(0.0)).as("n"),
          (round(col("snr"), 6) + lit(0.0)).as("snr"),
          (col("lag_s_max") + lit(0.0)).as("lag_s_max"))
        .transform(x => ntz(x, "win_start"))
    },
    Some {
      val (sos, zi, _) = q29Filter
      val (b0, b1, b2, a1, a2) = (sos.b0.toString, sos.b1.toString, sos.b2.toString,
        sos.a1.toString, sos.a2.toString)
      val (z0c, z1c) = (zi(0).toString, zi(1).toString)
      s"""WITH RECURSIVE ${hourlyGridCtes("user_id IN (1, 2, 3)", countAsDouble)},
         |prs AS (SELECT '1-2' AS pair, 1 AS ua, 2 AS ub, 15000000.0 AS dist
         |  UNION ALL SELECT '2-3', 2, 3, 30000000.0),
         |eng AS (SELECT user_id, w, sum(v * v) AS e FROM vals GROUP BY 1, 2),
         |pw AS MATERIALIZED (SELECT p.pair, p.ua, p.ub, ea.w AS w,
         |    greatest(p.dist / 3000.0, -43200.0) AS lagmin,
         |    least(p.dist / 300.0, 43200.0) AS lagmax,
         |    sqrt(ea.e) * sqrt(eb.e) AS nrm
         |  FROM prs p
         |  JOIN eng ea ON ea.user_id = p.ua
         |  JOIN eng eb ON eb.user_id = p.ub AND eb.w = ea.w
         |  WHERE ea.e > 0 AND eb.e > 0),
         |ks AS (SELECT unnest(generate_series(0, 46)) AS j),
         |ccr AS (SELECT pw.pair, pw.w, ks.j,
         |    sum(a.v * b.v) * (1.0 / max(pw.nrm)) AS x
         |  FROM pw JOIN ks ON true
         |  JOIN vals a ON a.user_id = pw.ua AND a.w = pw.w
         |  JOIN vals b ON b.user_id = pw.ub AND b.w = pw.w AND b.i = a.i - (ks.j - 23)
         |  GROUP BY 1, 2, 3),
         |ub AS (SELECT pair, w, j, x * (24.0 / (24 - abs(j - 23))) AS x FROM ccr),
         |dm AS (SELECT pair, w, j, x - avg(x) OVER (PARTITION BY pair, w) AS x FROM ub),
         |tp1 AS (SELECT pair, w, j, x * (CASE WHEN j IN (0, 46) THEN 0.0
         |    WHEN j IN (1, 45) THEN 0.5 - 0.5 * cos(2 * pi() * 1 / 4)
         |    ELSE 1.0 END) AS x FROM dm),
         |sh AS MATERIALIZED (
         |  SELECT a.pair, a.w, a.j, b.x
         |  FROM tp1 a JOIN tp1 b ON b.pair = a.pair AND b.w = a.w
         |    AND b.j = (a.j - 12 + 46) % 46
         |  WHERE a.j < 46
         |  UNION ALL SELECT pair, w, 46, 0.0 FROM pw),
         |pd AS (SELECT unnest(generate_series(0, 8)) AS p),
         |ext AS MATERIALIZED (
         |  SELECT s.pair, s.w, pd.p AS i, 2 * x0.x - xr.x AS v
         |  FROM pw s JOIN pd ON true
         |  JOIN sh x0 ON x0.pair = s.pair AND x0.w = s.w AND x0.j = 0
         |  JOIN sh xr ON xr.pair = s.pair AND xr.w = s.w AND xr.j = 9 - pd.p
         |  UNION ALL SELECT pair, w, j + 9, x FROM sh
         |  UNION ALL
         |  SELECT s.pair, s.w, 56 + pd.p, 2 * xl.x - xr.x
         |  FROM pw s JOIN pd ON true
         |  JOIN sh xl ON xl.pair = s.pair AND xl.w = s.w AND xl.j = 46
         |  JOIN sh xr ON xr.pair = s.pair AND xr.w = s.w AND xr.j = 45 - pd.p),
         |fwd(pair, w, i, y, z0, z1) AS (
         |  SELECT e.pair, e.w, 0, $b0 * e.v + $z0c * e.v,
         |    $b1 * e.v - $a1 * ($b0 * e.v + $z0c * e.v) + $z1c * e.v,
         |    $b2 * e.v - $a2 * ($b0 * e.v + $z0c * e.v)
         |  FROM ext e WHERE e.i = 0
         |  UNION ALL
         |  SELECT pair, w, i, y, $b1 * v - $a1 * y + z1p, $b2 * v - $a2 * y FROM (
         |    SELECT s.pair, s.w, s.i + 1 AS i, e.v AS v, $b0 * e.v + s.z0 AS y, s.z1 AS z1p
         |    FROM fwd s
         |    JOIN ext e ON e.pair = s.pair AND e.w = s.w AND e.i = s.i + 1
         |    WHERE s.i < 64) q),
         |fr AS MATERIALIZED (SELECT pair, w, 64 - i AS i, y AS v FROM fwd),
         |bwd(pair, w, i, y, z0, z1) AS (
         |  SELECT e.pair, e.w, 0, $b0 * e.v + $z0c * e.v,
         |    $b1 * e.v - $a1 * ($b0 * e.v + $z0c * e.v) + $z1c * e.v,
         |    $b2 * e.v - $a2 * ($b0 * e.v + $z0c * e.v)
         |  FROM fr e WHERE e.i = 0
         |  UNION ALL
         |  SELECT pair, w, i, y, $b1 * v - $a1 * y + z1p, $b2 * v - $a2 * y FROM (
         |    SELECT s.pair, s.w, s.i + 1 AS i, e.v AS v, $b0 * e.v + s.z0 AS y, s.z1 AS z1p
         |    FROM bwd s
         |    JOIN fr e ON e.pair = s.pair AND e.w = s.w AND e.i = s.i + 1
         |    WHERE s.i < 64) q),
         |flt AS MATERIALIZED (SELECT pair, w, 64 - i - 9 AS j, y AS x
         |  FROM bwd WHERE 64 - i BETWEEN 9 AND 55),
         |tp2 AS (SELECT pair, w, j,
         |    x * (CASE WHEN j IN (0, 46) THEN 0.0 ELSE 1.0 END) AS x FROM flt),
         |msk AS MATERIALIZED (SELECT t.pair, t.w, (t.j - 23) * 3600.0 AS lag, t.x
         |  FROM tp2 t JOIN pw ON pw.pair = t.pair AND pw.w = t.w
         |  WHERE (t.j - 23) * 3600.0 BETWEEN pw.lagmin AND pw.lagmax),
         |agg AS MATERIALIZED (SELECT pair, w,
         |    max(abs(x)) FILTER (lag BETWEEN -21600 AND 21600) AS s,
         |    sqrt(avg(x * x) FILTER (lag BETWEEN 28800 AND 43200)) AS nr
         |  FROM msk GROUP BY 1, 2),
         |pk AS (SELECT m.pair, m.w, min(m.lag) AS lag_s_max
         |  FROM msk m JOIN agg ON agg.pair = m.pair AND agg.w = m.w
         |  WHERE m.lag BETWEEN -21600 AND 21600 AND abs(m.x) = agg.s
         |  GROUP BY 1, 2)
         |SELECT agg.pair, 'hourly_events' AS metric,
         |  make_timestamp(agg.w * 1000000) AS win_start,
         |  round(agg.s, 6) + 0.0 AS s, round(agg.nr, 6) + 0.0 AS n,
         |  round(agg.s / agg.nr, 6) + 0.0 AS snr, pk.lag_s_max + 0.0 AS lag_s_max
         |FROM agg JOIN pk ON pk.pair = agg.pair AND pk.w = agg.w""".stripMargin
    })

  val q56 = Q("q56_spectrogram_psd",
    (s, d) => {
      // per-window Hann PSD spectrogram CELLS, hard-checked against an
      // explicit 8-point DFT oracle (nperseg=8 → every re/im is a 8-term
      // trig sum, SQL-expressible the way q59 inlined classic Lomb).
      // Values are compared as round(log10(1+psd), 6): psd spans ~9 decades
      // here, and the log compresses the cross-engine FFT-vs-naive-DFT
      // reorder noise (~1e-15 relative) to ~4e-16 absolute — safely inside
      // a 1e-6 grid, where an absolute round on raw psd would not be.
      // The 2-D peak extraction that used to ride this query stays
      // K-tested (KernelSpec peak_local_max) and drives q52's matrix.
      import s.implicits._
      val wins = Correlate.windows(hourlySeries(s, d, 1L, 2L, 3L), 86400, 43200, 3600)
      val specs = graft.ops.Timelapse.spectrograms(wins, 3600, npersegSamples = 8, hopSamples = 4)
      specs.select(col("conv_id"), col("metric"), col("win_start"),
          col("spec"), col("n_seg"), col("n_freq"))
        .as[(String, String, java.sql.Timestamp, Array[Double], Int, Int)]
        .flatMap { case (cid, met, w, spec, nSeg, nFreq) =>
          for { si <- 0 until nSeg; fi <- 0 until nFreq }
            yield (cid, met, w, si, fi, spec(si * nFreq + fi))
        }
        .toDF("conv_id", "metric", "win_start", "seg_idx", "freq_idx", "psd")
        .select(col("conv_id"), col("metric"), col("win_start"),
          col("seg_idx"), col("freq_idx"),
          round(log10(lit(1.0) + col("psd")), 6).as("log_power"))
        .transform(x => ntz(x, "win_start"))
    },
    Some(s"""WITH ${hourlyGridCtes("user_id IN (1, 2, 3)", countAsDouble)},
           |$spectrumCtes
           |SELECT CAST(user_id AS VARCHAR) AS conv_id, 'hourly_events' AS metric,
           |  make_timestamp(w * 1000000) AS win_start, s AS seg_idx, f AS freq_idx,
           |  round(log10(1 + (re * re + im * im) * (3600.0 / winsumsq)
           |    * (CASE WHEN f BETWEEN 1 AND 3 THEN 2 ELSE 1 END)), 6) AS log_power
           |FROM sums CROSS JOIN wss""".stripMargin))

  val q57 = Q("q57_beamform",
    (s, d) => {
      // plane-wave co-array least squares per window: three "receivers"
      // (users 1..3) on a fixed triangle, pairwise CC delays → slowness →
      // DOA/velocity (rows-only; DOA recovery is K-tested on synthetic
      // plane waves).
      // Why no SQL oracle: the LSE itself is closed-form-expressible, but
      // the delay pick is argmax over |cc| of NONNEGATIVE integer count
      // series, where equal-sum plateaus are common (e.g. a single-spike
      // window reads out the other series' values directly); the engine's
      // FFT evaluates tied lags with ~1e-12 noise, so its first-strict-max
      // tie-break is not reproducible by exact time-domain sums.
      val coords = Map("1" -> (0.0, 0.0), "2" -> (1000.0, 0.0), "3" -> (0.0, 1000.0))
      Correlate.planeWaves(
          Correlate.windows(hourlySeries(s, d, 1L, 2L, 3L), 86400, 43200, 3600), coords, 3600)
        .select(col("win_start"), col("doa_deg"), col("velocity"), col("residual"))
        .transform(x => ntz(x, "win_start"))
    },
    None)

  val q58 = Q("q58_scaleogram_ridge",
    (s, d) => {
      // CWT scaleogram (pywt-algorithm cmor path) per window → ridge
      // pseudo-frequency at the window center (rows-only; the two CWT
      // algorithms cross-validate in CwtSpec)
      import s.implicits._
      Correlate.windows(hourlySeries(s, d, 1L), 86400, 43200, 3600)
        .select(col("win_start"), col("values").cast("array<double>").as("values"))
        .as[(java.sql.Timestamp, Array[Double])]
        .mapPartitions { it =>
          val scales = graft.kernel.Cwt.logScales(
            fMin = 1.0 / 43200, fMax = 1.0 / 7200, nScales = 12, delta = 3600.0)
          it.map { case (w, values) =>
            val (mag, freqs) = graft.kernel.Cwt.scaleogramPywt(values, 3600.0, scales)
            val mid = values.length / 2
            val ridge = freqs(mag.indices.maxBy(si => mag(si)(mid)))
            (w, ridge)
          }
        }
        .toDF("win_start", "ridge_freq_hz")
        .transform(x => ntz(x, "win_start"))
    },
    // HARD oracle: the ridge needs the CWT coefficient at ONE center
    // index per scale — two short convolution sums against the integrated
    // cmor1.5-1.0 wavelet, all SQL-expressible. The 1024-point wavelet
    // integration is a running window sum; scale subsampling replays the
    // kernel's trunc(k/(a*step)) index math; coef = -sqrt(a)*diff(conv) at
    // the center pair. The 12 pseudo-frequencies (1/(2*6^(s/11)*3600)) are
    // BIT-exact between Java Math.pow and DuckDB pow, and the argmax is
    // over transcendental-valued magnitudes (no rational plateaus — unlike
    // q52/q57's integer-domain ties), so the output needs no rounding.
    Some(s"""WITH ${hourlyGridCtes("user_id = 1", countAsDouble)},
           |wgrid AS (SELECT g, -8.0 + g * (16.0 / 1023) AS t
           |  FROM (SELECT unnest(generate_series(0, 1023)) AS g)),
           |ipsi AS (SELECT g,
           |    sum((1.0 / sqrt(pi() * 1.5)) * exp(-t * t / 1.5) * cos(2 * pi() * t) * (16.0 / 1023))
           |      OVER (ORDER BY g) AS ire,
           |    -sum((1.0 / sqrt(pi() * 1.5)) * exp(-t * t / 1.5) * sin(2 * pi() * t) * (16.0 / 1023))
           |      OVER (ORDER BY g) AS iim
           |  FROM wgrid),
           |scales AS (SELECT s, 2.0 * pow(6.0, s / 11.0) AS a
           |  FROM (SELECT unnest(generate_series(0, 11)) AS s)),
           |sub AS (SELECT sc.s, sc.a, k.k,
           |    CAST(trunc(k.k / (sc.a * (16.0 / 1023))) AS INT) AS j
           |  FROM scales sc JOIN (SELECT unnest(generate_series(0, 200)) AS k) k
           |    ON k.k <= CAST(trunc(sc.a * 16.0) AS INT)),
           |subf AS (SELECT s, a, k, j FROM sub WHERE j < 1024),
           |mm AS (SELECT s, count(*) AS m FROM subf GROUP BY 1),
           |wtab AS (SELECT f.s, mm.m - 1 - f.k AS p, i.ire AS wre, i.iim AS wim
           |  FROM subf f JOIN mm USING (s) JOIN ipsi i ON i.g = f.j),
           |cpts AS (SELECT s, a, m, CAST(floor((m - 2) / 2.0) AS INT) + 12 AS j0
           |  FROM mm JOIN scales USING (s)),
           |conv AS (SELECT v.user_id, v.w, c.s, c.a, c.j0 + pd.d AS j,
           |    sum(v.v * t.wre) AS cre, sum(v.v * t.wim) AS cim
           |  FROM cpts c
           |  JOIN (SELECT 0 AS d UNION ALL SELECT 1 AS d) pd ON true
           |  JOIN vals v ON true
           |  JOIN wtab t ON t.s = c.s AND t.p = (c.j0 + pd.d) - v.i
           |  GROUP BY 1, 2, 3, 4, 5),
           |coef AS (SELECT a.user_id, a.w, a.s, a.a,
           |    sqrt(pow(-sqrt(a.a) * (b.cre - a.cre), 2)
           |       + pow(-sqrt(a.a) * (b.cim - a.cim), 2)) AS mag
           |  FROM conv a JOIN conv b
           |    ON a.user_id = b.user_id AND a.w = b.w AND a.s = b.s AND b.j = a.j + 1
           |  JOIN cpts c ON c.s = a.s AND a.j = c.j0),
           |ridge AS (SELECT user_id, w, a FROM (
           |  SELECT *, row_number() OVER (PARTITION BY user_id, w ORDER BY mag DESC, s) AS rk
           |  FROM coef) WHERE rk = 1)
           |SELECT make_timestamp(w * 1000000) AS win_start, 1.0 / (a * 3600) AS ridge_freq_hz
           |FROM ridge""".stripMargin))

  val q59 = Q("q59_lombscargle",
    (s, d) => {
      // Lomb-Scargle periodogram over the IRREGULAR raw event times (the
      // pre-gap-fill diagnostic, SURVEY §2.4) — classic Lomb components are
      // SQL-expressible, so the kernel is oracle-checked end-to-end:
      // per-user precentered values, per-user relative times, 4 angular
      // frequencies; power rounded to 4 decimals (trig-sum reorder noise
      // ~1e-7 across engines)
      import s.implicits._
      val freqs = Array(0.0001, 0.0002, 0.0005, 0.001)
      ev(s, d).where(col("user_id") <= 5)
        .select(col("user_id"),
          (unix_micros(col("ts").cast("timestamp")).cast("double") / 1e6).as("t"),
          col("value"))
        .as[(Long, Double, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (uid: Long, it: Iterator[(Long, Double, Double)]) =>
          val buf = it.toArray.sortBy(_._2)
          val t0 = buf.head._2
          val mean = buf.map(_._3).sum / buf.length
          val tt = buf.map(_._2 - t0)
          val yy = buf.map(_._3 - mean)
          val p = graft.kernel.Signal2d.lombscargle(tt, yy, freqs)
          freqs.indices.iterator.map(i => (uid, freqs(i), p(i)))
        }
        .toDF("user_id", "freq", "power")
        .select(col("user_id"), col("freq"), round(col("power"), 4).as("power"))
    },
    Some("""WITH e0 AS (SELECT user_id, epoch_us(ts) / 1e6 AS t, value
           |  FROM events WHERE user_id <= 5),
           |e AS (SELECT user_id,
           |    t - min(t) OVER (PARTITION BY user_id) AS t,
           |    value - avg(value) OVER (PARTITION BY user_id) AS y
           |  FROM e0),
           |f AS (SELECT unnest(CAST([0.0001, 0.0002, 0.0005, 0.001] AS DOUBLE[])) AS w),
           |p1 AS (SELECT user_id, w,
           |    sum(sin(2 * w * t)) AS s2w, sum(cos(2 * w * t)) AS c2w
           |  FROM e CROSS JOIN f GROUP BY 1, 2),
           |tt AS (SELECT user_id, w, atan2(s2w, c2w) / (2 * w) AS tau FROM p1),
           |p2 AS (SELECT e.user_id, tt.w,
           |    sum(y * cos(w * (t - tau))) AS cs, sum(y * sin(w * (t - tau))) AS sc,
           |    sum(pow(cos(w * (t - tau)), 2)) AS cc, sum(pow(sin(w * (t - tau)), 2)) AS ss
           |  FROM e JOIN tt ON tt.user_id = e.user_id GROUP BY 1, 2)
           |SELECT user_id, w AS freq,
           |  round(0.5 * (cs * cs / cc + sc * sc / ss), 4) AS power
           |FROM p2""".stripMargin))

  val q52 = Q("q52_timelapse_matrix",
    (s, d) => {
      // second-order analysis: per-window spectrograms -> (time1 x time2)
      // 2-D CC matrix, lower triangle computed + mirrored (tri_mask trick).
      // HARD-oracled by routing over the stored events table (q50's
      // precedent): q56's proven DFT-sum spectrogram CTE feeds direct 2-D
      // correlation sums + argmax in SQL. The production operators
      // (Timelapse.spectrograms -> Timelapse.matrix with the FFT cc2d
      // kernel + extractShift2d) are exactly what runs here; cc2_max is
      // rounded to 1e-9 on both sides (normalized value in [-1,1],
      // FFT-vs-direct-sum noise ~1e-14). The shift COORDINATES are
      // excluded from the oracle surface: ~3% of window pairs here sit on
      // exact rational cc plateaus (sparse count-derived PSDs — e.g.
      // 1/sqrt(2)), where the argmax POSITION under FFT noise is the same
      // untestable tie q57 documents; the max VALUE is tie-invariant. The
      // shifts stay golden-tested in TimelapseSpec.
      import s.implicits._
      val wins = Correlate.windows(hourlySeries(s, d, 1L, 2L, 3L), 86400, 43200, 3600)
      val specs = graft.ops.Timelapse.spectrograms(wins, 3600, npersegSamples = 8, hopSamples = 4)
      graft.ops.Timelapse.matrix(specs, 3600)
        .select(col("conv_id"), col("metric"), col("time1"), col("time2"),
          round(col("cc2_max"), 9).as("cc2_max"))
        .transform(x => ntz(x, "time1", "time2"))
    },
    Some(s"""WITH ${hourlyGridCtes("user_id IN (1, 2, 3)", countAsDouble)},
           |$spectrumCtes,
           |spec AS (SELECT user_id, w, s, f,
           |    (re * re + im * im) * (3600.0 / winsumsq)
           |      * (CASE WHEN f BETWEEN 1 AND 3 THEN 2 ELSE 1 END) AS p
           |  FROM sums CROSS JOIN wss),
           |nrm AS (SELECT user_id, w, list_sum(list(p * p ORDER BY s, f)) AS nsq
           |  FROM spec GROUP BY 1, 2),
           |prs AS (SELECT a.user_id, a.w AS w1, b.w AS w2, a.nsq AS n1, b.nsq AS n2
           |  FROM nrm a JOIN nrm b ON a.user_id = b.user_id AND a.w < b.w),
           |d1s AS (SELECT unnest(generate_series(-4, 4)) AS d1),
           |d2s AS (SELECT unnest(generate_series(-4, 4)) AS d2),
           |cc AS (SELECT p.user_id, p.w1, p.w2, d1s.d1, d2s.d2,
           |    CASE WHEN sqrt(p.n1) * sqrt(p.n2) = 0 THEN 0
           |      ELSE sum(s1.p * s2.p) / (sqrt(p.n1) * sqrt(p.n2)) END AS val
           |  FROM prs p
           |  JOIN d1s ON true JOIN d2s ON true
           |  JOIN spec s1 ON s1.user_id = p.user_id AND s1.w = p.w1
           |  JOIN spec s2 ON s2.user_id = p.user_id AND s2.w = p.w2
           |    AND s2.s = s1.s - d1s.d1 AND s2.f = s1.f - d2s.d2
           |  GROUP BY 1, 2, 3, 4, 5, p.n1, p.n2),
           |best AS (SELECT user_id, w1, w2, max(val) AS val
           |  FROM cc GROUP BY 1, 2, 3),
           |lower AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
           |    'hourly_events' AS metric,
           |    make_timestamp(w1 * 1000000) AS time1, make_timestamp(w2 * 1000000) AS time2,
           |    round(val, 9) AS cc2_max
           |  FROM best)
           |SELECT * FROM lower
           |UNION ALL
           |SELECT conv_id, metric, time2 AS time1, time1 AS time2, cc2_max
           |FROM lower""".stripMargin))

  val q62 = Q("q62_beamform_solve",
    (s, d) => {
      // q57 split: the beamform LSE solve stage
      // (AᵀA)⁻¹Aᵀτ fed PINNED per-pair delays — taus derived from stored
      // per-day event counts of three "receivers" on the fixed triangle
      // (0,0)/(1000,0)/(0,1000), so the pair-difference matrix A is a
      // literal and the whole solve (slowness, residual) is an identical
      // IEEE expression tree on both engines (q29's inline-constants
      // pattern): sx/sy/residual hash UNROUNDED. Only doa (libm atan2 /
      // degrees ordering) and velocity (Math.hypot vs sqrt-of-squares)
      // differ ~1 ulp across engines → round(6). The argmax delay PICK
      // stays rows-only in q57 with its tie taxonomy documented.
      import s.implicits._
      ev(s, d).where(col("user_id").isin(1, 2, 3))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(
          sum(when(col("user_id") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("user_id") === 2, 1L).otherwise(0L)).as("c2"),
          sum(when(col("user_id") === 3, 1L).otherwise(0L)).as("c3"))
        .where(col("c1") > 0 && col("c2") > 0 && col("c3") > 0)
        .select(col("day"),
          ((col("c2") - col("c1")) / 100.0).as("t12"),
          ((col("c3") - col("c1")) / 100.0).as("t13"),
          ((col("c3") - col("c2")) / 100.0).as("t23"))
        .as[(java.sql.Timestamp, Double, Double, Double)]
        .mapPartitions { it =>
          // pairs (1,2)/(1,3)/(2,3) on the fixed triangle -> A rows
          val a = Array(Array(1000.0, 0.0), Array(0.0, 1000.0), Array(-1000.0, 1000.0))
          it.map { case (day, t12, t13, t23) =>
            val r = graft.kernel.Beamform.solve(a, Array(t12, t13, t23))
            (day, r.sx, r.sy,
              BigDecimal(r.doaDeg).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
              if (r.velocity.isInfinite) None
              else Some(BigDecimal(r.velocity).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
              r.residual)
          }
        }
        .toDF("day", "sx", "sy", "doa_deg", "velocity", "residual")
        .transform(x => ntz(x, "day"))
    },
    // A = [[1000,0],[0,1000],[-1000,1000]] -> AᵀA = [[2e6,-1e6],[-1e6,2e6]],
    // det = 3e12; sx = (2e6·b0 + 1e6·b1)/det, sy = (2e6·b1 + 1e6·b0)/det
    // with b0 = 1000·t12 - 1000·t23, b1 = 1000·t13 + 1000·t23 — written so
    // each product/sum matches the engine's accumulation order bitwise.
    Some("""WITH c AS (SELECT date_trunc('day', ts) AS day,
           |    CAST(sum(CASE WHEN user_id = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           |    CAST(sum(CASE WHEN user_id = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
           |    CAST(sum(CASE WHEN user_id = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
           |  FROM events WHERE user_id IN (1, 2, 3) GROUP BY 1
           |  HAVING sum(CASE WHEN user_id = 1 THEN 1 ELSE 0 END) > 0
           |    AND sum(CASE WHEN user_id = 2 THEN 1 ELSE 0 END) > 0
           |    AND sum(CASE WHEN user_id = 3 THEN 1 ELSE 0 END) > 0),
           |t AS (SELECT day, (c2 - c1) / 100.0 AS t12, (c3 - c1) / 100.0 AS t13,
           |    (c3 - c2) / 100.0 AS t23 FROM c),
           |b AS (SELECT day, t12, t13, t23,
           |    1000.0 * t12 - 1000.0 * t23 AS b0,
           |    1000.0 * t13 + 1000.0 * t23 AS b1 FROM t),
           |sol AS (SELECT day, t12, t13, t23,
           |    (2000000.0 * b0 + 1000000.0 * b1) / 3000000000000.0 AS sx,
           |    (2000000.0 * b1 + 1000000.0 * b0) / 3000000000000.0 AS sy
           |  FROM b),
           |r AS (SELECT day, sx, sy,
           |    1000.0 * sx + 0.0 * sy - t12 AS r1,
           |    0.0 * sx + 1000.0 * sy - t13 AS r2,
           |    -1000.0 * sx + 1000.0 * sy - t23 AS r3
           |  FROM sol)
           |SELECT day, sx, sy,
           |  round(fmod(degrees(atan2(sx, sy)) + 360.0, 360.0), 6) AS doa_deg,
           |  CASE WHEN sx * sx + sy * sy = 0 THEN NULL
           |    ELSE round(1.0 / sqrt(sx * sx + sy * sy), 6) END AS velocity,
           |  r1 * r1 + r2 * r2 + r3 * r3 AS residual
           |FROM r""".stripMargin))

  val q64 = Q("q64_taper_registry",
    (s, d) => {
      // another q55-chain stage isolated to a hard oracle (q29's pattern):
      // the registry 'taper' op (edge Hann, max_percentage sizing rule)
      // on the stored hourly series. w(i) = 0.5 - 0.5*cos(2*pi*i/(2m)) is
      // computed by the identical IEEE expression tree in SQL; the libm
      // cos differs ~1 ulp, so values round(6) on both sides (+0.0
      // normalizes a potential -0.0).
      graft.ops.Preprocess(hourlySeries(s, d, 1L, 2L, 3L),
          Seq("taper" -> Map("max_percentage" -> "0.1")))
        .select(col("conv_id"), col("metric"), col("ts"),
          (round(col("value"), 6) + lit(0.0)).as("value"))
        .transform(x => ntz(x, "ts"))
    },
    Some("""WITH h AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
           |    date_trunc('hour', ts) AS ts, CAST(count(*) AS DOUBLE) AS v
           |  FROM events WHERE user_id IN (1, 2, 3) GROUP BY 1, 2),
           |idx AS (SELECT conv_id, ts, v,
           |    row_number() OVER (PARTITION BY conv_id ORDER BY ts) - 1 AS i,
           |    count(*) OVER (PARTITION BY conv_id) AS n
           |  FROM h),
           |par AS (SELECT *, CAST(trunc(0.1 * n) AS BIGINT) AS m FROM idx)
           |SELECT conv_id, 'hourly_events' AS metric, ts,
           |  round(CASE WHEN m < 1 THEN v
           |    WHEN i < m THEN v * (0.5 - 0.5 * cos(2 * pi() * i / (2 * m)))
           |    WHEN i >= n - m THEN v * (0.5 - 0.5 * cos(2 * pi() * (n - 1 - i) / (2 * m)))
           |    ELSE v END, 6) + 0.0 AS value
           |FROM par""".stripMargin))

  val q65 = Q("q65_timeshift",
    (s, d) => {
      // the q55-chain timeshift stage isolated: an FFT phase-ramp delay of
      // exactly 2 grid steps equals a circular roll of the (even-trimmed)
      // series in exact arithmetic, so the whole rfft -> ramp -> irfft
      // round-trip is oracled by pure SQL index arithmetic; FFT noise
      // ~1e-12 on integral counts is absorbed by round(6) (+0.0 for -0.0).
      import s.implicits._
      hourlySeries(s, d, 1L, 2L, 3L)
        .select(col("conv_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"), col("value"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (cid: String, it: Iterator[(String, Long, Double)]) =>
          val vs = it.toArray.sortBy(_._2).map(_._3)
          val out = graft.kernel.Signal.timeshift(vs, delay = 7200.0, delta = 3600.0)
          out.indices.iterator.map(i => (cid, i.toLong, out(i)))
        }
        .toDF("conv_id", "idx", "value")
        .select(col("conv_id"), col("idx"),
          (round(col("value"), 6) + lit(0.0)).as("value"))
    },
    Some("""WITH h AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
           |    date_trunc('hour', ts) AS ts, CAST(count(*) AS DOUBLE) AS v
           |  FROM events WHERE user_id IN (1, 2, 3) GROUP BY 1, 2),
           |idx AS (SELECT conv_id, v,
           |    row_number() OVER (PARTITION BY conv_id ORDER BY ts) - 1 AS i,
           |    count(*) OVER (PARTITION BY conv_id) AS n
           |  FROM h),
           |t AS (SELECT conv_id, i, v, n - (n % 2) AS n2 FROM idx)
           |SELECT a.conv_id, a.i AS idx, round(b.v, 6) + 0.0 AS value
           |FROM t a JOIN t b
           |  ON a.conv_id = b.conv_id AND b.i = (a.i - 2 + a.n2) % a.n2
           |WHERE a.i < a.n2 AND b.i < a.n2""".stripMargin))

  val q67 = Q("q67_preprocess_chain",
    (s, d) => {
      // three more registry ops oracled in one chained query — clip →
      // decimate → normalize over the stored hourly series. Every stage is
      // per-row IEEE arithmetic / window selection on identical operands
      // (least/greatest, row_number modulo, v / max|v|), so the output
      // hashes UNROUNDED.
      graft.ops.Preprocess(hourlySeries(s, d, 1L, 2L, 3L), Seq(
          "clip" -> Map("min" -> "2", "max" -> "50"),
          "decimate" -> Map("factor" -> "3"),
          "normalize" -> Map.empty))
        .transform(x => ntz(x, "ts"))
        .select("conv_id", "metric", "ts", "value")
    },
    Some("""WITH h AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
           |    date_trunc('hour', ts) AS ts, CAST(count(*) AS DOUBLE) AS v
           |  FROM events WHERE user_id IN (1, 2, 3) GROUP BY 1, 2),
           |c AS (SELECT conv_id, ts, least(greatest(v, 2.0), 50.0) AS v FROM h),
           |dd AS (SELECT conv_id, ts, v,
           |    row_number() OVER (PARTITION BY conv_id ORDER BY ts) - 1 AS rn FROM c),
           |d2 AS (SELECT conv_id, ts, v FROM dd WHERE rn % 3 = 0),
           |n AS (SELECT conv_id, ts,
           |    CASE WHEN max(abs(v)) OVER (PARTITION BY conv_id) = 0 THEN v
           |      ELSE v / max(abs(v)) OVER (PARTITION BY conv_id) END AS value
           |  FROM d2)
           |SELECT conv_id, 'hourly_events' AS metric, ts, value FROM n""".stripMargin))

  val q68 = Q("q68_hilbert_envelope",
    (s, d) => {
      // the Hilbert envelope (analytic-signal magnitude) hash-oracled: on
      // 24-point windows the FFT pipeline (forward fft -> zero negative
      // freqs / double positive -> inverse) is a closed-form double DFT
      // sum, fully SQL-expressible (q56's explicit-DFT precedent). FFT-vs-
      // direct-sum noise ~1e-10 absolute on O(100) magnitudes -> round(6).
      import s.implicits._
      Correlate.windows(hourlySeries(s, d, 1L, 2L, 3L), 86400, 43200, 3600)
        .select(col("conv_id"), col("metric"), col("win_start"),
          col("values").cast("array<double>").as("values"))
        .as[(String, String, java.sql.Timestamp, Array[Double])]
        .flatMap { case (cid, met, w, vs) =>
          val env = graft.kernel.Signal.envelope(vs)
          env.indices.map(i => (cid, met, w, i.toLong, env(i)))
        }
        .toDF("conv_id", "metric", "win_start", "idx", "env")
        .select(col("conv_id"), col("metric"), col("win_start"), col("idx"),
          (round(col("env"), 6) + lit(0.0)).as("env"))
        .transform(x => ntz(x, "win_start"))
    },
    Some(s"""WITH ${hourlyGridCtes("user_id IN (1, 2, 3)", countAsDouble)},
           |ks AS (SELECT unnest(generate_series(0, 23)) AS k),
           |xk AS (SELECT v.user_id, v.w, ks.k,
           |    sum(v.v * cos(2 * pi() * ks.k * v.i / 24)) AS xre,
           |    -sum(v.v * sin(2 * pi() * ks.k * v.i / 24)) AS xim
           |  FROM vals v CROSS JOIN ks GROUP BY 1, 2, 3),
           |hh AS (SELECT k, CASE WHEN k = 0 OR k = 12 THEN 1.0
           |    WHEN k < 12 THEN 2.0 ELSE 0.0 END AS h FROM ks),
           |an AS (SELECT x.user_id, x.w, ii.i,
           |    sum(h.h * (x.xre * cos(2 * pi() * x.k * ii.i / 24)
           |             - x.xim * sin(2 * pi() * x.k * ii.i / 24))) / 24 AS are,
           |    sum(h.h * (x.xre * sin(2 * pi() * x.k * ii.i / 24)
           |             + x.xim * cos(2 * pi() * x.k * ii.i / 24))) / 24 AS aim
           |  FROM xk x JOIN hh h ON h.k = x.k
           |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS i) ii
           |  GROUP BY 1, 2, 3)
           |SELECT CAST(user_id AS VARCHAR) AS conv_id, 'hourly_events' AS metric,
           |  make_timestamp(w * 1000000) AS win_start, i AS idx,
           |  round(sqrt(are * are + aim * aim), 6) + 0.0 AS env
           |FROM an""".stripMargin))

  val q69 = Q("q69_lanczos_resample",
    (s, d) => {
      // the registry interpolate/resample op (Lanczos a=3 windowed sinc)
      // hash-oracled at a FRACTIONAL ratio (hourly grid -> 5400 s grid,
      // ratio 1.5) so genuine half-integer sinc interpolation runs, not a
      // sample selection. Input is the gap-filled regular hourly grid per
      // user (the kernel's regular-spacing contract); the oracle replays
      // the identical index arithmetic (ceil-aligned dst grid, sample-
      // space positions, ±a lobe window, w = a·sin(πd)·sin(πd/a)/(πd)²,
      // Σwv/Σw) — sin is libm-variant and the sum reorders, so round(6).
      val occ = ev(s, d).where(col("user_id").isin(1, 2, 3))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).cast("double").as("v"))
      val spans = occ.groupBy(col("user_id")).agg(
        min(unix_timestamp(col("h").cast("timestamp"))).as("t0"),
        max(unix_timestamp(col("h").cast("timestamp"))).as("t1"))
      val grid = spans.select(col("user_id"), col("t0"), col("t1"),
          explode(expr("sequence(t0, t1, 3600)")).as("hs"))
        .join(occ.select(col("user_id"),
            unix_timestamp(col("h").cast("timestamp")).as("hs"), col("v")),
          Seq("user_id", "hs"), "left")
        .select(col("user_id").cast("string").as("conv_id"),
          lit("hourly_events").as("metric"),
          timestamp_seconds(col("hs")).as("ts"),
          coalesce(col("v"), lit(0.0)).as("value"))
      graft.ops.Preprocess(grid, Seq("interpolate" -> Map("step" -> "5400")))
        .select(col("conv_id"), col("metric"), col("ts"),
          (round(col("value"), 6) + lit(0.0)).as("value"))
        .transform(x => ntz(x, "ts"))
    },
    Some("""WITH occ AS (SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
           |    CAST(count(*) AS DOUBLE) AS v
           |  FROM events WHERE user_id IN (1, 2, 3) GROUP BY 1, 2),
           |spanu AS (SELECT user_id, min(h) AS t0, max(h) AS t1 FROM occ GROUP BY 1),
           |grid AS (SELECT s.user_id, s.t0, unnest(generate_series(s.t0, s.t1, 3600)) AS h
           |  FROM spanu s),
           |vals AS (SELECT g.user_id, (g.h - g.t0) // 3600 AS i, coalesce(o.v, 0.0) AS v
           |  FROM grid g LEFT JOIN occ o ON o.user_id = g.user_id AND o.h = g.h),
           |params AS (SELECT user_id, t0, t1,
           |    CAST(ceil(t0 / 5400.0) AS BIGINT) * 5400 AS newt0 FROM spanu),
           |outs AS (SELECT p.user_id, p.t0, p.newt0,
           |    unnest(generate_series(0, (p.t1 - p.newt0) // 5400)) AS j
           |  FROM params p WHERE p.newt0 <= p.t1),
           |pos AS (SELECT user_id, newt0, j,
           |    (newt0 - t0) / 3600.0 + j * 1.5 AS pp FROM outs),
           |terms AS (SELECT pos.user_id, pos.newt0, pos.j, v.v, pos.pp - v.i AS d
           |  FROM pos JOIN vals v ON v.user_id = pos.user_id
           |    AND v.i >= CAST(ceil(pos.pp - 3) AS BIGINT)
           |    AND v.i <= CAST(floor(pos.pp + 3) AS BIGINT)),
           |w AS (SELECT *, CASE WHEN d = 0 THEN 1.0
           |    WHEN d <= -3 OR d >= 3 THEN 0.0
           |    ELSE 3 * sin(pi() * d) * sin(pi() * d / 3)
           |      / ((pi() * d) * (pi() * d)) END AS wgt
           |  FROM terms)
           |SELECT CAST(user_id AS VARCHAR) AS conv_id, 'hourly_events' AS metric,
           |  make_timestamp((newt0 + j * 5400) * 1000000) AS ts,
           |  round(CASE WHEN sum(wgt) = 0 THEN 0.0
           |    ELSE sum(wgt * v) / sum(wgt) END, 6) + 0.0 AS value
           |FROM w GROUP BY 1, 2, 3""".stripMargin))

  val q71 = Q("q71_beamform_delay_ties",
    (s, d) => {
      // q57's argmax delay-pick stage made hash-oracle-able (closing the
      // q57 tie taxonomy): instead of ONE pick among FFT-noise-scrambled
      // exact ties, emit the tie-INVARIANT surface — per (window, pair)
      // the round-9 |cc| maximum AND the full SET of lags attaining it.
      // Set membership compares round-9 values: true plateaus on these
      // 24-sample integer count series are rationals whose distinct values
      // gap by >= 1/(norm product) ~ 1e-6 >> 1e-9, while the engine's
      // pow2-FFT reorder noise (~1e-13) vanishes at round-9 — so the FFT
      // cc and the oracle's exact time-domain sums agree on both the max
      // and the members. With q62 (LSE solve) this hash-gates every q57
      // stage; only the arbitrary first-of-ties pick stays rows-only.
      import s.implicits._
      Correlate.windows(hourlySeries(s, d, 1L, 2L, 3L), 86400, 43200, 3600)
        .select(col("win_start"), col("conv_id"), col("values").cast("array<double>").as("values"))
        .as[(java.sql.Timestamp, String, Array[Double])]
        .groupByKey(_._1)
        .flatMapGroups { (w: java.sql.Timestamp, it: Iterator[(java.sql.Timestamp, String, Array[Double])]) =>
          val m = it.map(r => r._2 -> r._3).toMap
          if (m.size == 3 && m.values.forall(_.exists(_ != 0.0))) {
            Iterator(("1", "2"), ("1", "3"), ("2", "3")).flatMap { case (a, b) =>
              val rxy = graft.kernel.Cc.cc(m(a), m(b), normalize = true)
              val center = rxy.length / 2
              val r9 = rxy.map(v => BigDecimal(math.abs(v))
                .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
              val mx = r9.max
              r9.indices.filter(i => r9(i) == mx)
                .map(i => (w, s"$a-$b", (i - center).toLong, mx))
            }
          } else Iterator.empty
        }
        .toDF("win_start", "pair", "lag_shift", "cc_abs_max")
        .transform(x => ntz(x, "win_start"))
    },
    Some(s"""WITH ${hourlyGridCtes("user_id IN (1, 2, 3)", countAsDouble)},
           |nrm AS (SELECT user_id, w, sqrt(sum(v * v)) AS nr FROM vals GROUP BY 1, 2),
           |ok AS (SELECT w FROM nrm WHERE nr > 0 GROUP BY w HAVING count(*) = 3),
           |prs AS (SELECT '1-2' AS pair, 1 AS ua, 2 AS ub
           |  UNION ALL SELECT '1-3', 1, 3 UNION ALL SELECT '2-3', 2, 3),
           |cc AS (SELECT p.pair, va.w, va.i - vb.i AS lag,
           |    round(abs(sum(va.v * vb.v) * (1.0 / (na.nr * nb.nr))), 9) + 0.0 AS a9
           |  FROM prs p
           |  JOIN vals va ON va.user_id = p.ua
           |  JOIN vals vb ON vb.user_id = p.ub AND vb.w = va.w
           |  JOIN ok o ON o.w = va.w
           |  JOIN nrm na ON na.user_id = p.ua AND na.w = va.w
           |  JOIN nrm nb ON nb.user_id = p.ub AND nb.w = va.w
           |  GROUP BY 1, 2, 3, na.nr, nb.nr),
           |mx AS (SELECT pair, w, max(a9) AS m FROM cc GROUP BY 1, 2)
           |SELECT make_timestamp(c.w * 1000000) AS win_start, c.pair,
           |  CAST(c.lag AS BIGINT) AS lag_shift, c.a9 AS cc_abs_max
           |FROM cc c JOIN mx ON mx.pair = c.pair AND mx.w = c.w AND c.a9 = mx.m""".stripMargin))
}
