package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Accessors._
import graft.kernel.{Cc, Filter, Signal}
import graft.ops.{Correlate, Ingest, Postprocess, Preprocess}
import graft.synth.Transcripts

/** Preprocess registry, postprocess chain, custom TokenCount expression and
  * the accessor API.
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val series = {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    Ingest.series(Transcripts.generate(spark, 6, 80).toDF(), 60).cache()
  }

  test("TokenCount expression == size(split(trim, '\\s+')) on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
      graft.functions.TokenCount(col("text")).as("fast"),
      expr("size(split(trim(text), '\\\\s+'))").as("regex")
    ).where(col("fast") =!= col("regex"))
    assert(diff.count() == 0)
    // edge cases
    import spark.implicits._
    val edge = Seq("", "  ", "a", " a ", "a b", "a\tb\nc", "  a   b  ").toDF("text")
    val got = edge.select(graft.functions.TokenCount(col("text"))).as[Int].collect()
    assert(got.sameElements(Array(0, 0, 1, 1, 2, 3, 2)))
  }

  test("preprocess demean: per-key mean becomes 0") {
    val out = Preprocess(series, Seq("demean" -> Map.empty))
    val m = out.groupBy("conv_id", "metric").agg(abs(avg("value")).as("m"))
      .agg(max("m")).collect()(0).getDouble(0)
    assert(m < 1e-9)
  }

  test("preprocess normalize: max |value| is 1 per key") {
    val out = Preprocess(series, Seq("normalize" -> Map.empty))
    val m = out.groupBy("conv_id", "metric").agg(max(abs(col("value"))).as("m")).collect()
    m.foreach(r => assert(math.abs(r.getDouble(2) - 1.0) < 1e-12))
  }

  test("preprocess detrend: residual linear fit slope ~ 0") {
    val out = Preprocess(series, Seq("detrend" -> Map.empty))
    val slopes = out.groupBy("conv_id", "metric")
      .agg(expr("regr_slope(value, cast(unix_micros(cast(ts as timestamp)) as double) / 1e6)").as("s"))
      .collect()
    slopes.foreach(r => assert(math.abs(r.getDouble(2)) < 1e-9, r))
  }

  test("preprocess running_rms re-rates the grid and matches sqrt(mean(x^2))") {
    val out = Preprocess(series, Seq("running_rms" -> Map("window" -> "3600")))
    // recompute one cell by hand
    val cell = out.orderBy("conv_id", "metric", "ts").limit(1).collect()(0)
    val cid = cell.getString(0); val met = cell.getString(1); val t0 = cell.getTimestamp(2)
    val vals = series.where(col("conv_id") === cid && col("metric") === met &&
        col("ts") >= lit(t0) && col("ts") < lit(new java.sql.Timestamp(t0.getTime + 3600 * 1000)))
      .select("value").collect().map(_.getDouble(0))
    val want = math.sqrt(vals.map(v => v * v).sum / vals.length)
    assert(math.abs(cell.getDouble(3) - want) < 1e-9)
  }

  test("preprocess fold order + hash stability") {
    val ops = Seq("demean" -> Map.empty[String, String], "normalize" -> Map.empty[String, String])
    val h1 = Preprocess.hashOps(ops)
    val h2 = Preprocess.hashOps(ops)
    assert(h1 == h2 && h1.length == 64)
    assert(Preprocess.hashOps(ops.reverse) != h1, "order must matter")
    intercept[IllegalArgumentException](Preprocess(series, Seq("nope" -> Map.empty)))
  }

  test("preprocess filter+taper registry ops match the direct kernels (config-driven bandpass)") {
    import spark.implicits._
    val step = 60L
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * step * 1000)
    val n = 512
    val vals = Array.tabulate(n)(i =>
      math.sin(2 * math.Pi * 0.004 * i) + 0.5 * math.sin(2 * math.Pi * 0.00005 * i) + 2.0)
    val df = vals.toIndexedSeq.zipWithIndex
      .map { case (v, i) => ("c1", "m", ts(i), v) }.toDF("conv_id", "metric", "ts", "value")
    val ops = Seq(
      "filter" -> Map("btype" -> "highpass", "freq" -> "0.001", "order" -> "2"),
      "taper" -> Map("max_percentage" -> "0.1"))
    val got = Preprocess(df, ops).orderBy("ts").select("value").as[Double].collect()
    val fs = 1.0 / step
    var want = Filter.sosfiltfilt(Filter.butter(2, Array(0.001 / (fs / 2)), "highpass"), vals)
    want = Signal.taper(want, 0.1)
    assert(got.length == want.length)
    got.zip(want).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    // declarative configs can now NAME the kernel ops — and the op-list
    // hash (the reuse-revalidation gate) covers them
    assert(Preprocess.hashOps(ops).length == 64)
    assert(Preprocess.hashOps(ops) != Preprocess.hashOps(ops.take(1)))
    // degenerate taper: n < 1/max_percentage gives edge width m < 1 — the
    // op must be a no-op, not a 1-sample window (q64's m<1 oracle branch)
    val tiny = (0 until 8).map(i => ("c1", "m", ts(i), i.toDouble))
      .toDF("conv_id", "metric", "ts", "value")
    val tg = Preprocess(tiny, Seq("taper" -> Map("max_percentage" -> "0.1")))
      .orderBy("ts").select("value").as[Double].collect()
    assert(tg.toSeq == (0 until 8).map(_.toDouble))
  }

  test("preprocess interpolate: lanczos re-rates the grid, low-freq sine preserved") {
    import spark.implicits._
    val step = 60L
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * step * 1000)
    val n = 600
    val fHz = 1.0 / 7200 // 2 h period: far below both grids' Nyquist
    val vals = Array.tabulate(n)(i => math.sin(2 * math.Pi * fHz * i * step))
    val df = vals.toIndexedSeq.zipWithIndex
      .map { case (v, i) => ("c1", "m", ts(i), v) }.toDF("conv_id", "metric", "ts", "value")
    val out = Preprocess(df, Seq("interpolate" -> Map("step" -> "120")))
      .orderBy("ts").select("ts", "value")
      .as[(java.sql.Timestamp, Double)].collect()
    // the new grid is 120 s-aligned and regular
    assert(out.length >= n / 2 - 2)
    out.sliding(2).foreach(p => assert(p(1)._1.getTime - p(0)._1.getTime == 120000L))
    // interior samples reproduce the analytic sine (lanczos a=3 accuracy)
    out.drop(10).dropRight(10).foreach { case (t, v) =>
      val want = math.sin(2 * math.Pi * fHz * (t.getTime - 1704067200000L) / 1000.0)
      assert(math.abs(v - want) < 2e-3, s"$t: $v vs $want")
    }
  }

  test("resample: a 1-point key emits only when it sits on the ceil-aligned dst grid") {
    import spark.implicits._
    // epoch millis chosen directly so the check is TZ-free: 1704067320000
    // is a whole minute (on a 60 s grid), +30 s is off-grid
    val df = Seq(
      ("on", "m", new java.sql.Timestamp(1704067320000L), 5.0),
      ("off", "m", new java.sql.Timestamp(1704067350000L), 7.0))
      .toDF("conv_id", "metric", "ts", "value")
    val out = Preprocess(df, Seq("resample" -> Map("step" -> "60")))
      .select("conv_id", "ts", "value")
      .as[(String, java.sql.Timestamp, Double)].collect().toSeq
    assert(out == Seq(("on", new java.sql.Timestamp(1704067320000L), 5.0)),
      s"1-point semantics: on-grid passthrough, off-grid drop — got $out")
  }

  test("lttbTier chunked: keeper count == min(threshold, n); first/last exact") {
    import spark.implicits._
    import graft.ops.Rollup
    val pts = (0 until 3 * 1440).map(i =>
      ("c1", "m", new java.sql.Timestamp(1704067200000L + i * 60000L), math.sin(i * 0.01) * i))
    val df = pts.toDF("conv_id", "metric", "ts", "value")
    // spans 3 day-chunks: no aggregation buffer ever holds the full key
    val out = Rollup.lttbTier(df, 100).orderBy("ts").collect()
    assert(out.length == 100)
    assert(out.head.getTimestamp(2) == pts.head._3)
    assert(out.last.getTimestamp(2) == pts.last._3)
    val few = pts.take(20).toDF("conv_id", "metric", "ts", "value")
    assert(Rollup.lttbTier(few, 100).count() == 20)
  }

  test("lttbTier: a 10M-point single key completes under bounded buffers") {
    import graft.ops.Rollup
    // one conversation, 10M minutely points (~19 years): the old
    // single-pass design collected ALL 10M points into ONE aggregation
    // buffer; the chunked design never buffers more than a day (1440) in
    // stage 1 and n_chunks*threshold in stage 2
    val n = 10000000L
    val pts = spark.range(n).selectExpr(
      "'c-hot' as conv_id", "'m' as metric",
      "timestamp_seconds(1704067200 + id * 60) as ts",
      "cast(id % 97 as double) as value")
    val out = Rollup.lttbTier(pts, 200).orderBy("ts").collect()
    assert(out.length == 200)
    assert(out.head.getTimestamp(2).getTime == 1704067200000L)
    assert(out.last.getTimestamp(2).getTime == (1704067200L + (n - 1) * 60) * 1000L)
  }

  test("tier1FromBuckets == fromPoints(series) bitwise, at unit==step and unit>step") {
    import spark.implicits._
    import graft.ops.Rollup
    val t = Transcripts.generate(spark, 8, 200, hotConvs = 1, hotFactor = 5).toDF()
    val cols = Seq("conv_id", "metric", "chunk_start", "n", "sum", "min", "max", "first", "last")
    def check(stepSec: Long): Unit = {
      val viaPoints = Rollup.fromPoints(Ingest.series(t, stepSec), "minute").select(cols.map(col): _*)
      val viaRuns = Rollup.tier1FromBuckets(Ingest.bucketed(t, stepSec), stepSec, "minute").select(cols.map(col): _*)
      assert(viaPoints.count() == viaRuns.count(), s"row counts differ at step=$stepSec")
      val diff = viaPoints.union(viaRuns).groupBy(cols.map(col): _*)
        .count().where(col("count") =!= 2)
      assert(diff.count() == 0, s"cells differ at step=$stepSec: ${diff.take(3).mkString}")
    }
    check(60) // degenerate: one grid point per minute cell
    check(10) // real fold: 6 grid points per cell, cells straddle runs
  }

  test("windows(seriesSparse) == windows(series) bitwise (gap-fill invariance)") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 6, 150).toDF()
    def winsOf(s: org.apache.spark.sql.DataFrame) =
      Correlate.windows(s, 1800, 900, 60)
        .select(col("conv_id"), col("metric"), col("win_start"), col("values"))
        .as[(String, String, java.sql.Timestamp, Array[Float])]
        .collect().map(r => ((r._1, r._2, r._3.getTime), r._4)).toMap
    val dense = winsOf(Ingest.series(t, 60))
    val sparse = winsOf(Ingest.seriesSparse(t, 60))
    assert(dense.keySet == sparse.keySet, "window sets differ")
    assert(dense.nonEmpty)
    dense.foreach { case (k, v) => assert(v.sameElements(sparse(k)), s"values differ at $k") }
  }

  test("postprocess chain equals manual kernel composition on one row") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 4, 120).toDF()
    val s = Ingest.series(t, 60)
    val wins = Correlate.windows(s, 1800, 1800, 60)
    val pairs = Seq(("conv-000000", "conv-000001")).toDF("conv_a", "conv_b")
    val cc = Correlate.ccPairs(wins, pairs, 60, 1800).toDF()
    assume(cc.where(col("status") === 1).count() > 0)
    val cfg = Postprocess.Config(stepSec = 60, unbias = true, taperSec = 300,
      filterFreqHz = 0.002, taper2Sec = 120, lagMinSec = -600, lagMaxSec = 600)
    val out = Postprocess(cc, cfg)
    val row = out.orderBy("metric", "win_start").limit(1)
      .select("pair", "metric", "win_start", "cc").as[(String, String, java.sql.Timestamp, Array[Double])].head()
    val in = cc.where(col("status") === 1)
      .where(col("pair") === row._1 && col("metric") === row._2 && col("win_start") === lit(row._3))
      .select("cc", "pair_offset", "time_offset").as[(Array[Double], Double, Double)].head()
    // manual chain
    val n = (in._1.length + 1) / 2
    var x = in._1.clone()
    val wgt = Cc.weight(n)
    x = x.indices.map(i => x(i) * wgt(i)).toArray
    x = Signal.demean(x)
    x = Signal.taper(x, 0.5, 5) // 300 s at fs = 1/60 Hz → 5 samples
    val delay = -(in._2 + in._3)
    if (delay != 0) {
      x = Signal.timeshift(x, delay, 60.0)
      if (x.length < 2 * n - 1) x = java.util.Arrays.copyOf(x, 2 * n - 1)
    }
    x = Filter.highpassFiltFilt(x, 0.002, 1 / 60.0, 2)
    x = Signal.taper(x, 0.5, 2)
    val lags = Cc.lagAxis(n, 60.0)
    val expected = lags.indices.filter(i => lags(i) >= -600 && lags(i) <= 600).map(x).toArray
    assert(row._4.length == expected.length)
    row._4.zip(expected).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("lag-clipped ProcessJob table composes with Postprocess and snr (lag metadata)") {
    import spark.implicits._
    import graft.jobs.ProcessJob
    val t = Transcripts.generate(spark, 6, 150).toDF()
    val pairs = Seq(("conv-000000", "conv-000001")).toDF("conv_a", "conv_b")
    val dir = java.nio.file.Files.createTempDirectory("cc-clip").toString
    val cfg = ProcessJob.Config(stepSec = 60, windowSec = 1800, strideSec = 900, clipLagSec = 600)
    ProcessJob.run(spark, t, pairs, dir, cfg)
    val cc = ProcessJob.readCc(spark, dir)
    assume(cc.where(col("status") === 1).count() > 0)
    // the stored array is clipped and carries its lag-axis metadata
    val row = cc.where(col("status") === 1).select("cc", "npts", "lag0").limit(1)
      .as[(Array[Double], Int, Int)].head()
    assert(row._1.length < 2 * row._2 - 1, "array not clipped")
    assert(row._3 > 0, "lag0 missing on a clipped table")
    assert(row._1.length == 2 * (row._2 - 1 - row._3) + 1) // symmetric clip
    // shift/cc_max come from the STORED array: |shift| within the clip
    cc.where(col("status") === 1).select("shift").as[Double].collect()
      .foreach(sft => assert(math.abs(sft) <= 600.0, s"shift $sft outside the stored lag window"))
    // the postprocess chain + snr run on the clipped table without length
    // errors (round 1 derived n from size(cc) and threw here)
    val post = graft.ops.Postprocess(cc,
      graft.ops.Postprocess.Config(stepSec = 60, unbias = true,
        lagMinSec = -300, lagMaxSec = 300, taperSec = 300, taper2Sec = 120))
    assert(post.count() > 0)
    val lag0s = post.select("lag0").as[Int].collect()
    assert(lag0s.forall(_ > 0), "postprocess must update lag0 after the lag-window slice")
    val snrDf = graft.ops.Postprocess.snr(post, 60.0, signalBand = (-120, 120), noiseBand = (180, 300))
    val r = snrDf.select("lag_s_max").as[Double].collect()
    assert(r.nonEmpty && r.forall(l => math.abs(l) <= 120.0))
  }

  test("snr over a cc table produces s/n with the peak lag") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 4, 150).toDF()
    val s = Ingest.series(t, 60)
    val wins = Correlate.windows(s, 1800, 1800, 60)
    val pairs = Correlate.allPairs(s)
    val cc = Correlate.ccPairs(wins, pairs, 60, 1800).toDF().where(col("status") === 1)
    assert(cc.count() > 0, "no informative cc windows in fixture")
    val out = Postprocess.snr(cc, 60.0, signalBand = (-300, 300), noiseBand = (600, 1500))
    val r = out.limit(1).select("s", "n", "snr", "lag_s_max").collect()(0)
    assert(r.getDouble(0) >= 0 && r.getDouble(1) >= 0)
    assert(math.abs(r.getDouble(2) - r.getDouble(0) / r.getDouble(1)) < 1e-12)
    assert(math.abs(r.getDouble(3)) <= 300)
  }

  test("pair codec: unambiguous validated split of dashed conv ids") {
    import graft.core.PairCodec
    val p = PairCodec.join("conv-000001", "conv-000042")
    assert(PairCodec.split(p) == (("conv-000001", "conv-000042")))
    assert(PairCodec.isValid(p))
    assert(!PairCodec.isValid("conv-000042-conv-000001")) // unordered
    assert(PairCodec.split("1-2", "\\d+".r) == (("1", "2")))
    intercept[IllegalArgumentException](PairCodec.split("a-b-c", ".+".r)) // ambiguous
    intercept[IllegalArgumentException](PairCodec.join("b", "a"))
    // round-trips every pair the flagship path produces
    import spark.implicits._
    val t = Transcripts.generate(spark, 6, 100).toDF()
    Correlate.allPairs(Ingest.seriesSparse(t, 60)).collect().foreach { r =>
      val j = PairCodec.join(r.getString(0), r.getString(1))
      assert(PairCodec.split(j) == ((r.getString(0), r.getString(1))))
    }
  }

  test("SparkEntry.entry: the driver's flagship smoke query returns rows") {
    val rows = SparkEntry.entry(spark)
    assert(rows.count() > 0, "driver smoke-checks rows>0 on entry()")
  }

  test("accessor API chains the pipeline fluently") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 4, 100).toDF()
    val m1 = t.xcorr.series(60).xcorr.rollup("minute")
    assert(m1.count() > 0)
    val viz = t.xcorr.series(60).xcorr.lttb(20)
    assert(viz.groupBy("conv_id", "metric").count().agg(max("count")).collect()(0).getLong(0) <= 20)
  }

  test("simhash 16-bit bands keep bucket occupancy << n (the 4-bit-band O(n^2/16) failure mode)") {
    // the property the old 16-bit/4-bit-band domain violated: a 4-bit band
    // has only 16 values, so every bucket held ~n/16 docs and the band
    // self-join emitted ~n^2/16 candidates; 16-bit bands (2^16 values)
    // keep occupancy at genuine near-dup clusters + hash collisions
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    val sig = graft.ops.Dedup.simhash(docs, "doc_id", "text", bits = 64)
    val stacked = (0 until 4).map(b => s"$b, substring(simhash, ${16 * b + 1}, 16)").mkString(", ")
    val occ = sig.select(expr(s"stack(4, $stacked) as (band, bits)"))
      .groupBy("band", "bits").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(occ <= n / 10, s"band bucket occupancy $occ ~ n=$n: banding won't survive scale")
    // and the candidate set is output-sized, not ~n^2/bands-sized
    val cand = graft.ops.Dedup.simhashCandidates(sig, bits = 64, nBands = 4, maxHamming = 3)
    assert(cand.count() < n, "candidates should be near-dup-sized, not quadratic")
  }

  test("asof join: latest at-or-before match per key, tolerance nulls stale matches") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val left = Seq(("A", t(10), 1L), ("A", t(20), 2L), ("A", t(30), 3L), ("B", t(15), 4L))
      .toDF("k", "ts", "event_id")
    val right = Seq(("A", t(10), Some(1.0)), ("A", t(25), Some(2.0)), ("B", t(100), Some(9.0)),
        ("A", t(28), None)) // a matched right row whose pick value is genuinely NULL
      .toDF("k", "rts", "ref")
    def run(tol: Option[Long]) = graft.ops.AsofJoin.leftAsof(
      left, right, Seq("k"), "ts", "rts", Seq("ref"), toleranceSec = tol)
      .select(col("event_id"), col("ref"),
        (unix_micros(col("asof_ts").cast("timestamp")) / 1000000L).cast("long"))
      .as[(Long, Option[Double], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // equal-ts matches (<= semantics); future rights never match; A@30's
    // match IS the null-valued t(28) row (ASOF semantics: null ref carried
    // from THAT row, never mixed with an older row's value)
    assert(run(None) == Map(1L -> ((Some(1.0), Some(10L))), 2L -> ((Some(1.0), Some(10L))),
      3L -> ((None, Some(28L))), 4L -> ((None, None))))
    // tolerance 5 s: A@20 is 10 s past its match -> nulled; A@30 matched at 2 s -> kept
    assert(run(Some(5L)) == Map(1L -> ((Some(1.0), Some(10L))), 2L -> ((None, None)),
      3L -> ((None, Some(28L))), 4L -> ((None, None))))
  }

  test("corpusOverlap: exact Jaccard, estimator pinned at the identical/disjoint poles") {
    import spark.implicits._
    import graft.ops.Dedup
    val a = Seq("x", "y", "z").toDF("text")
    val b = Seq("y", "z", "w").toDF("text")
    val r = Dedup.corpusOverlap(a, b, "text", k = 16).collect().head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Long]("n_inter") == 2L && r.getAs[Long]("n_union") == 4L)
    assert(r.getAs[Double]("jac_r") == 0.5)
    val agree = r.getAs[Long]("n_agree")
    assert(agree >= 0L && agree <= 16L)
    // identical corpora: every min-hash agrees, estimate exactly 1
    val same = Dedup.corpusOverlap(a, a, "text", k = 16).collect().head
    assert(same.getAs[Double]("jac_r") == 1.0 && same.getAs[Double]("est_r") == 1.0)
    // disjoint corpora: zero intersection, zero min-hash agreement
    val dis = Dedup.corpusOverlap(a, Seq("p", "q").toDF("text"), "text",
      k = 16).collect().head
    assert(dis.getAs[Long]("n_inter") == 0L && dis.getAs[Long]("n_agree") == 0L)
    // estimate-only mode drops the exact columns (the 100 TB path)
    val est = Dedup.corpusOverlap(a, b, "text", k = 16, exact = false)
    assert(est.columns.sorted.sameElements(Array("est_r", "k", "n_agree")))
  }

  test("mixDrift: identical mixes are zero, one-sided types form cells, exact identity") {
    import spark.implicits._
    import graft.ops.SeriesStats
    def t(dayI: Int, s: Int) =
      new java.sql.Timestamp((1704067200L + dayI * 86400L + s) * 1000L)
    // day0: A×2 B×2; day1: A×2 B×2 (same mix); day2: A×4 C×1 (drifted, B gone, C new)
    val ev = (Seq.fill(2)("A") ++ Seq.fill(2)("B")).zipWithIndex.map { case (e, i) => (e, t(0, i)) } ++
      (Seq.fill(2)("A") ++ Seq.fill(2)("B")).zipWithIndex.map { case (e, i) => (e, t(1, i)) } ++
      (Seq.fill(4)("A") ++ Seq("C")).zipWithIndex.map { case (e, i) => (e, t(2, i)) }
    val out = SeriesStats.mixDrift(ev.toDF("event_type", "ts"), "event_type", "ts")
      .collect().map(r => (r.getAs[java.sql.Timestamp]("day").toString.take(10),
        r.getAs[String]("event_type")) -> r).toMap
    // day1 vs day0: identical mix -> every cell 0
    assert(out(("2024-01-02", "A")).getAs[Long]("chi2_num") == 0L)
    assert(out(("2024-01-02", "B")).getAs[Double]("cell_r") == 0.0)
    // day2 vs day1: B present only on day1, C only on day2 — both cells exist
    val bCell = out(("2024-01-03", "B"))
    assert(bCell.getAs[Long]("o1") == 2L && bCell.getAs[Long]("o2") == 0L)
    val cCell = out(("2024-01-03", "C"))
    assert(cCell.getAs[Long]("o1") == 0L && cCell.getAs[Long]("o2") == 1L)
    // exact identity on every cell: num = (o1·n2 − o2·n1)², den = n1·n2·(o1+o2)
    out.values.foreach { r =>
      val (o1, o2) = (r.getAs[Long]("o1"), r.getAs[Long]("o2"))
      // n1/n2 are recoverable from the fixture: both day totals are 4 and 5
      val (n1, n2) = (4L, if (r.getAs[java.sql.Timestamp]("day").toString.take(10) == "2024-01-03") 5L else 4L)
      val d = o1 * n2 - o2 * n1
      assert(r.getAs[Long]("chi2_num") == d * d)
      assert(r.getAs[Long]("chi2_den") == n1 * n2 * (o1 + o2))
    }
  }

  test("fuzzyPairs: substitution/identical prefixes caught, distance-2 rejected, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick crown fox leaps"),  // 1 substitution inside the 16-prefix
      (3L, "the quick brown fox runs"),   // identical 16-prefix to doc 1 (dist 0)
      (4L, "thx quick crxwn fox"),        // 2 edits from doc 2's prefix -> rejected
      (5L, "short"), (6L, null.asInstanceOf[String])) // filtered out
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.fuzzyPairs(docs, "doc_id", "text", prefixLen = 16)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        r.getAs[Int]("dist")).toMap
    assert(out == Map((1L, 2L) -> 1, (1L, 3L) -> 0, (2L, 3L) -> 1))
    assert(out.keys.forall { case (a, b) => a < b })
  }

  test("lerp join: midpoint average, exact-on-grid, out-of-span nulls, integer pieces") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val grid = Seq(("A", t(0), 10L), ("A", t(100), 30L), ("A", t(200), 0L))
      .toDF("k", "gts", "x")
    val probes = Seq(("A", t(50)), ("A", t(100)), ("A", t(175)),
      ("A", t(200)), ("B", t(50))).toDF("k", "pts")
    val out = graft.ops.AsofJoin.lerp(probes, grid, Seq("k"), "pts", "gts", "x")
      .collect().map { r =>
        (r.getAs[String]("k"), r.getAs[java.sql.Timestamp]("pts").getTime / 1000L) ->
          ((Option(r.getAs[java.lang.Long]("num")).map(_.toLong),
            Option(r.getAs[java.lang.Long]("den_us")).map(_.toLong),
            Option(r.getAs[java.lang.Double]("value_r")).map(_.toDouble)))
      }.toMap
    // t=50: halfway between 10 and 30 -> 20; num = 10*50e6 + 30*50e6
    assert(out(("A", 50L)) == ((Some(2000000000L), Some(100000000L), Some(20.0))))
    // t=100: exactly on grid -> the grid value, via the exact branch
    assert(out(("A", 100L))._3 == Some(30.0))
    // t=175: 3/4 of the way from 30 down to 0 -> 7.5
    assert(out(("A", 175L))._3 == Some(7.5))
    // t=200: on the LAST grid point (no next) -> still exact
    assert(out(("A", 200L)) == ((None, None, Some(0.0))))
    // key B has no grid at all -> all pieces null
    assert(out(("B", 50L)) == ((None, None, None)))
  }

  test("asof join: seeded random data == brute-force reference (with and without tolerance)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val keys = Seq("k1", "k2", "k3", "k4")
      val lefts = (0 until 150).map { i =>
        (keys(rnd.nextInt(4)), new java.sql.Timestamp(rnd.nextInt(500) * 1000L), i.toLong)
      }
      // unique (key, ts) on the right so ties cannot make the match ambiguous
      val rights = rnd.shuffle(
        for { k <- keys; t <- 0 until 500 by 7 } yield (k, t))
        .take(60).map { case (k, t) =>
          (k, new java.sql.Timestamp(t * 1000L), rnd.nextDouble()) }
      val lDf = lefts.toDF("k", "ts", "event_id")
      val rDf = rights.toDF("k", "ts", "ref")
      for (tol <- Seq(None, Some(20L))) {
        val got = graft.ops.AsofJoin.leftAsof(lDf, rDf, Seq("k"), "ts", "ts",
            Seq("ref"), toleranceSec = tol)
          .select(col("event_id"), col("ref")).as[(Long, Option[Double])]
          .collect().toMap
        lefts.foreach { case (k, lts, id) =>
          val cands = rights.filter(r => r._1 == k && !r._2.after(lts))
          val expect = if (cands.isEmpty) None else {
            val m = cands.maxBy(_._2.getTime)
            if (tol.exists(t => lts.getTime - m._2.getTime > t * 1000L)) None
            else Some(m._3)
          }
          assert(got(id) == expect, s"trial $trial tol=$tol left ($k,$lts,$id)")
        }
        // hot-key bucketed variant == the single-window form, incl.
        // tolerance, at a bucket size (60 s over a 500 s span) that forces
        // within-bucket, adjacent-bucket AND multi-bucket-gap hand-offs
        for (bucketSec <- Seq(60L, 7L)) {
          val gotB = graft.ops.AsofJoin.leftAsofBucketed(lDf, rDf, Seq("k"), "ts", "ts",
              Seq("ref"), bucketSec = bucketSec, toleranceSec = tol)
            .select(col("event_id"), col("ref")).as[(Long, Option[Double])]
            .collect().toMap
          assert(gotB == got, s"trial $trial tol=$tol bucket=$bucketSec: bucketed != single-window")
        }
        // AUTO-chosen bucket (no hand-picking): a small target forces the
        // hottest key's rate to split the 500 s span; results must be
        // bucket-size-invariant
        val auto = graft.ops.AsofJoin.autoBucketSec(lDf, rDf, Seq("k"), "ts", "ts",
          targetRowsPerBucket = 16)
        assert(auto >= 1L && auto < 500L, s"auto bucket $auto should split the 500 s span")
        val gotA = graft.ops.AsofJoin.leftAsofBucketed(lDf, rDf, Seq("k"), "ts", "ts",
            Seq("ref"), bucketSec = auto, toleranceSec = tol)
          .select(col("event_id"), col("ref")).as[(Long, Option[Double])]
          .collect().toMap
        assert(gotA == got, s"trial $trial tol=$tol auto bucket=$auto: != single-window")
        // a key with NO right rows at all: every left row must still come
        // back, unmatched (the bucket-level hand-off has no rows to carry)
        val loneKey = lefts.map { case (_, t, id) => ("kNONE", t, id + 1000L) }
        val gotLone = graft.ops.AsofJoin.leftAsofBucketed(
            loneKey.toDF("k", "ts", "event_id"), rDf, Seq("k"), "ts", "ts",
            Seq("ref"), bucketSec = 60L, toleranceSec = tol)
          .select(col("event_id"), col("ref")).as[(Long, Option[Double])]
          .collect().toMap
        assert(gotLone.size == loneKey.size && gotLone.values.forall(_.isEmpty),
          s"trial $trial: right-less key must yield all-null matches")
      }
    }
  }

  test("dedup clusters: alternating-star CC == brute-force union-find (path, random, singletons)") {
    import spark.implicits._
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    def run(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val e = edges.toDF("d1", "d2")
      val nodes = (0L until n.toLong).toDF("doc_id")
      graft.ops.Dedup.clusters(e, "d1", "d2", nodes, "doc_id")
        .as[(Long, Long)].collect().toMap
    }
    // path graph — the unbounded-diameter case naive min-label propagation
    // needs O(n) rounds for; alternating star must stay logarithmic
    val path = (0L until 19L).map(i => (i + 1, i))
    assert(run(20, path) == (0L until 20L).map(_ -> 0L).toMap)
    // seeded random graphs (dense and sparse) + untouched singletons
    val rnd = new scala.util.Random(42)
    for (m <- Seq(15, 40, 80)) {
      val n = 60
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(run(n, edges) == unionFind(n, edges), s"mismatch at m=$m")
    }
    // empty edge set: everyone is a singleton
    assert(run(5, Nil) == (0L until 5L).map(i => i -> i).toMap)
  }

  test("simhash candidates: chunked Hamming is exact at 128-bit signatures (64-bit bands)") {
    import spark.implicits._
    // the configuration a single per-band long decode overflowed on:
    // bits=128, nBands=2 -> band width 64. Cross-check against a direct
    // per-character count on signatures with known distances
    val a = "1" * 128
    val b = "1" * 60 + "0" * 3 + "1" * 65 // vs a: hamming 3; shares band 1
    val c = "0" * 2 + "1" * 126           // vs a: hamming 2; shares band 1
    val sig = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "simhash")
    val got = graft.ops.Dedup.simhashCandidates(sig, bits = 128, nBands = 2, maxHamming = 127)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    def ham(x: String, y: String) = x.zip(y).count { case (p, q) => p != q }
    assert(got((1L, 2L)) == ham(a, b) && got((1L, 3L)) == ham(a, c) && got((2L, 3L)) == ham(b, c),
      s"got $got, want ${ham(a, b)}/${ham(a, c)}/${ham(b, c)}")
  }

  test("postprocess per-pair celerity lag windows mask two pairs differently in one pass") {
    import spark.implicits._
    import graft.core.CcRow
    // npts=11 → full lag axis -10..10 s at step 1 s (21 samples)
    def mk(pair: String) = CcRow(pair, "m", new java.sql.Timestamp(0L),
      Array.fill(21)(1.0), 1, 0.0, 0.0, 0.0, 1.0, 11, 0, "")
    val cc = Seq(mk("a-b"), mk("c-d"), mk("e-f")).toDS().toDF()
    // celerity [1, 2] units/s: d=4 → lag ∈ [2, 4] (3 samples at lag0 12);
    // d=8 → lag ∈ [4, 8] (5 samples at lag0 14); e-f absent → global window
    val dist = Seq(("a-b", 4.0), ("c-d", 8.0)).toDF("pair", "distance")
    val cfg = Postprocess.Config(stepSec = 1.0, lagMinSec = -10, lagMaxSec = 10,
      unbias = false, taperSec = 0, filterFreqHz = 0, taper2Sec = 0,
      celerityMin = 1.0, celerityMax = 2.0)
    val out = Postprocess(cc, cfg, Some(dist))
      .select(col("pair"), size(col("cc")).as("len"), col("lag0"))
      .as[(String, Int, Int)].collect().map { case (p, l, g) => p -> ((l, g)) }.toMap
    assert(out("a-b") == ((3, 12)), s"got ${out("a-b")}")
    assert(out("c-d") == ((5, 14)), s"got ${out("c-d")}")
    assert(out("e-f") == ((21, 0)), "pair without a distance keeps the global window")
  }

  test("snr envelope/power/decibels options follow the reference conventions") {
    import spark.implicits._
    import graft.core.CcRow
    val arr = Array.tabulate(21)(i => if (i == 12) 4.0 else if (i >= 16) 2.0 else 0.5)
    val cc = Seq(CcRow("a-b", "m", new java.sql.Timestamp(0L),
      arr, 1, 0.0, 0.0, 0.0, 4.0, 11, 0, "")).toDS().toDF()
    def one(env: Boolean, pow: Boolean, db: Boolean) =
      Postprocess.snr(cc, 1.0, signalBand = (-5, 5), noiseBand = (6, 10),
        envelope = env, power = pow, decibels = db)
        .select("s", "n", "snr").as[(Double, Double, Double)].collect()(0)
    val plain = one(env = false, pow = false, db = false)
    assert(math.abs(plain._3 - plain._1 / plain._2) < 1e-12)
    val power = one(env = false, pow = true, db = false)
    assert(math.abs(power._3 - plain._3 * plain._3) < 1e-9)
    val db = one(env = false, pow = false, db = true)
    assert(math.abs(db._3 - 20.0 * math.log10(plain._3)) < 1e-9)
    // envelope >= |x| pointwise, so the envelope signal peak can only grow
    val env = one(env = true, pow = false, db = false)
    assert(env._1 >= plain._1 - 1e-12)
  }

  test("trigger buckets floor-divide: pre-epoch islands match their shifted-positive twin") {
    import spark.implicits._
    // same island pattern placed before and after the epoch; floor division
    // must bucket both identically (DIV truncation toward zero used to
    // misalign negative step indices)
    def cf(baseMs: Long) = (0 until 40)
      .filter(i => i < 10 || (i >= 20 && i < 33))
      .map(i => ("k", new java.sql.Timestamp(baseMs + i * 60000L), 5.0))
      .toDF("key", "time", "value")
    val neg = graft.ops.Trigger.periods(cf(-86400000L), 1.0, 1, 60,
        minDurationSteps = 3, bucketSteps = 8)
      .select("period", "n_steps").as[(Int, Long)].collect().sortBy(_._1)
    val pos = graft.ops.Trigger.periods(cf(86400000L), 1.0, 1, 60,
        minDurationSteps = 3, bucketSteps = 8)
      .select("period", "n_steps").as[(Int, Long)].collect().sortBy(_._1)
    assert(neg.sameElements(pos), s"pre-epoch ${neg.mkString(",")} vs ${pos.mkString(",")}")
    assert(pos.map(_._2).toSeq == Seq(10L, 13L))
  }

  test("pre-epoch turns bucket and roll up like their shifted-positive twin, engine and reference") {
    import spark.implicits._
    import graft.core.Transcript
    import graft.ops.Rollup
    import graft.refimpl.Ref
    // the same sub-minute turn pattern a day before and a day after the
    // epoch; offsets straddle minute, hour and day boundaries (truncation
    // toward zero put a turn at -30 s in the 0 s bucket)
    val offsetsSec = Seq(-30L, -5L, 0L, 15L, 29L, 30L, 59L, 61L, 125L, 3599L, 3601L, 7205L)
    def turns(baseMs: Long) = offsetsSec.zipWithIndex.map { case (o, i) =>
      Transcript("c", i, "user", "w " * (i + 1), "", new java.sql.Timestamp(baseMs + o * 1000L))
    }
    val stepSec = 10L
    val dayMs = 86400000L
    type Tiers = Seq[Map[(String, String, Long), Ref.Stats]]
    // the rollup command's path: tier1FromBuckets -> fromLower -> fromLower
    def engine(t: Seq[Transcript]): Tiers = {
      val m1 = Rollup.tier1FromBuckets(Ingest.bucketed(spark.createDataset(t).toDF(), stepSec),
        stepSec, "minute")
      val h1 = Rollup.fromLower(m1, "hour")
      val d1 = Rollup.fromLower(h1, "day")
      Seq(m1, h1, d1).map(_.collect().map { r =>
        (r.getString(0), r.getString(1), r.getTimestamp(2).getTime) ->
          Ref.Stats(r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
            r.getDouble(7), r.getDouble(8))
      }.toMap)
    }
    def reference(t: Seq[Transcript]): Tiers = {
      val m1 = Ref.rollup(Ref.series(t, stepSec), "minute")
      val h1 = Ref.rollupFromLower(m1, "hour")
      Seq(m1, h1, Ref.rollupFromLower(h1, "day"))
    }
    // the first few cells where two tiers disagree (an empty list if none)
    def differ(a: Map[(String, String, Long), Ref.Stats], b: Map[(String, String, Long), Ref.Stats]) =
      (a.keySet ++ b.keySet).toSeq.filter(k => a.get(k) != b.get(k)).sortBy(_._3).take(3)
        .map(k => s"$k: ${a.get(k)} vs ${b.get(k)}")
    val neg = engine(turns(-dayMs))
    val pos = engine(turns(dayMs))
    val (refNeg, refPos) = (reference(turns(-dayMs)), reference(turns(dayMs)))
    Seq("1m", "1h", "1d").zipWithIndex.foreach { case (tier, i) =>
      val d1 = differ(neg(i), refNeg(i))
      assert(d1.isEmpty, s"$tier: pre-epoch engine vs reference: $d1")
      val d2 = differ(pos(i), refPos(i))
      assert(d2.isEmpty, s"$tier: post-epoch engine vs reference: $d2")
      val shifted = neg(i).map { case ((c, m, ts), st) => (c, m, ts + 2 * dayMs) -> st }
      val d3 = differ(shifted, pos(i))
      assert(d3.isEmpty, s"$tier: pre-epoch twin shifted by two days vs post-epoch twin: $d3")
    }
    assert(neg(0).keys.map(_._3).min == -dayMs - 60000L, "the -30 s turn opens the minute before")
  }

  test("TextQuality.repetition: counts and flag on handcrafted repetitive/clean/degenerate docs") {
    import spark.implicits._
    val docs = Seq(
      // 8 words, 7 bigrams all "spam spam"-ish: 6 dup bigrams -> flagged
      ("loop", "spam spam spam spam spam spam spam spam"),
      // all-distinct words, 2 lines distinct -> clean
      ("clean", "the quick brown fox\njumps over lazy dogs"),
      // 4 identical non-blank lines of distinct words -> line rule fires
      ("lines", "a b c\na b c\na b c\na b c"),
      // degenerate: empty + whitespace-only. NB SQL trim() strips SPACES
      // only (Spark and DuckDB agree): the " \t " line trims to "\t" and
      // counts as a non-blank line, while \s+ word-split still yields 0
      ("empty", ""),
      ("blank", "  \n \t \n")).toDF("doc_id", "text")
    val r = graft.ops.TextQuality.repetition(docs, "doc_id", "text")
      .collect().map(x => x.getString(0) -> x).toMap
    def ints(id: String) = (1 to 9).map(r(id).getInt) // counts + top_2gram_count
    assert(ints("loop") == Seq(8, 1, 7, 1, 6, 1, 1, 1, 7), s"loop: ${ints("loop")}")
    assert(r("loop").getBoolean(10)) // 6 dup of 7 bigrams > 20%
    assert(ints("clean") == Seq(8, 8, 7, 7, 6, 6, 2, 2, 1) && !r("clean").getBoolean(10))
    // "lines": 12 words / 3 uniq; 11 bigrams: uniq = {ab,bc,ca} = 3, top
    // multiplicity 4 ("a b" x4, "b c" x4, "c a" x3); 10 trigrams: uniq =
    // {abc,bca,cab} = 3; 4 lines / 1 uniq
    assert(ints("lines") == Seq(12, 3, 11, 3, 10, 3, 4, 1, 4) && r("lines").getBoolean(10))
    assert(ints("empty") == Seq(0, 0, 0, 0, 0, 0, 0, 0, 0) && !r("empty").getBoolean(10))
    assert(ints("blank") == Seq(0, 0, 0, 0, 0, 0, 1, 1, 0) && !r("blank").getBoolean(10))
    // scale shape: a pure per-row map — no exchange, no UDF in the plan
    val p = graft.ops.TextQuality.repetition(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("UDF("),
      s"repetition must stay a shuffle-free codegen map:\n$p")
  }

  test("TextRank.topTerms: hand-computed rational-idf scores, rank and ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date"),
      (4L, "banana")).toDF("doc_id", "text")
    // N=4; df: apple 1, banana 3, cherry 2, date 1
    // idf_r: df1 -> 3.5/1.5, df2 -> 1.0, df3 -> 1.5/3.5
    val r = graft.ops.TextRank.topTerms(docs, "doc_id", "text", k = 3)
      .collect().map(x => (x.getLong(0), x.getInt(5)) ->
        (x.getString(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r((1L, 1)) == ("apple", 2L, 1L, math.rint(2.0 * (3.5 / 1.5) * 1e6) / 1e6))
    assert(r((1L, 2)) == ("banana", 1L, 3L, math.rint((1.5 / 3.5) * 1e6) / 1e6))
    assert(r((2L, 1)) == ("cherry", 1L, 2L, 1.0)) // beats banana's 0.428571
    assert(r((3L, 1)) == ("cherry", 3L, 2L, 3.0)) // tf3*1.0 > date's 2.333333
    assert(r((3L, 2)) == ("date", 1L, 1L, math.rint((3.5 / 1.5) * 1e6) / 1e6))
    assert(r((4L, 1))._1 == "banana" && r.size == 7) // d4 has 1 term only
    // equal-score tie (same tf, same df) breaks by term ascending
    val tie = graft.ops.TextRank.topTerms(
      Seq((1L, "zz aa"), (2L, "other")).toDF("doc_id", "text"), "doc_id", "text", k = 2)
      .where(col("doc_id") === 1).orderBy(col("rnk"))
      .select("term").as[String].collect()
    assert(tie.sameElements(Array("aa", "zz")))
  }

  test("TextRank.bm25: one hand-computed Okapi score (log idf, k1/b saturation)") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    // term a in d1: tf=2, df=1, N=2, dl=3, avg_dl=2
    // idf = ln(1 + 1.5/1.5) = ln 2; denom = 2 + 1.2*(0.25 + 0.75*3/2)
    val got = graft.ops.TextRank.bm25(docs, "doc_id", "text")
      .where(col("doc_id") === 1 && col("term") === "a")
      .select("bm25").as[Double].head()
    val want = math.log(2.0) * (2.0 * 2.2) / (2.0 + 1.2 * (0.25 + 0.75 * 3.0 / 2.0))
    assert(math.abs(got - want) < 1e-12, s"got $got want $want")
  }

  test("Sampling.hashSplit: buckets match MessageDigest md5, thresholds respected, zero shuffle") {
    import spark.implicits._
    val ids = (0L until 64L)
    val df = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val got = graft.ops.Sampling.hashSplit(df, "doc_id")
      .select("doc_id", "bucket", "split")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    val mdig = java.security.MessageDigest.getInstance("MD5")
    ids.foreach { i =>
      val hex = mdig.digest(i.toString.getBytes("UTF-8"))
        .take(1).map(b => f"$b%02x").mkString
      val want = Integer.parseInt(hex, 16)
      val (b, s) = got(i)
      assert(b == want, s"id $i: bucket $b != md5 byte $want")
      assert(s == (if (b < 230) "train" else if (b < 243) "val" else "test"))
    }
    // pure per-row map: pipelines into the scan, no exchange
    val p = graft.ops.Sampling.hashSplit(df, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"hashSplit must be shuffle-free:\n$p")
    // a NULL id must surface as NULL bucket/split (visible corruption),
    // never silently land in the eval split
    val withNull = Seq((java.lang.Long.valueOf(7L), "a"), (null.asInstanceOf[java.lang.Long], "b"))
      .toDF("doc_id", "text")
    val nr = graft.ops.Sampling.hashSplit(withNull, "doc_id")
      .select("doc_id", "bucket", "split").collect()
      .map(r => Option(r.get(0)) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(nr(None) == (true, true), s"null id leaked a split: $nr")
    assert(nr(Some(7L)) == (false, false))
  }

  test("Sampling.rebalance: small source kept whole, large source rate-capped at min_count/256") {
    import spark.implicits._
    val rows = (0L until 100L).map(i => (i, "big")) ++ (100L until 110L).map(i => (i, "small"))
    val df = rows.toDF("doc_id", "source")
    val r = graft.ops.Sampling.rebalance(df, "doc_id", "source").collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getInt(2), x.getLong(3), x.getLong(4), x.getBoolean(5)))
      .toMap
    assert(r.size == 110)
    r.values.foreach { case (_, b, n, m, kept) =>
      assert(m == 10L)
      assert(kept == (b * n < m * 256), "keep rule must be the integer cross-multiplication")
    }
    // the smallest source keeps everything (bucket*10 < 2560 always)
    assert((100L until 110L).forall(r(_)._5))
    // the big source keeps only buckets < 25.6 — expected ~10 of 100
    val keptBig = r.filter { case (_, v) => v._1 == "big" && v._5 }
    assert(keptBig.values.forall(_._2 <= 25))
    assert(keptBig.nonEmpty && keptBig.size < 30, s"rate cap off: ${keptBig.size}")
  }

  test("Sampling.stratified: exact-n per stratum, deterministic, prefix-stable in n") {
    import spark.implicits._
    val rows = (0L until 50L).map(i => (i, "big")) ++ (100L until 103L).map(i => (i, "small"))
    val df = rows.toDF("doc_id", "source")
    val s7 = graft.ops.Sampling.stratified(df, "doc_id", "source", 7).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    // exact n per stratum, capped at the stratum size
    assert(s7.count(_._1 == "big") == 7 && s7.count(_._1 == "small") == 3)
    // ranks are 1..k dense within each stratum
    assert(s7.filter(_._1 == "big").map(_._3).sorted.toSeq == (1 to 7))
    // deterministic: the same draw under a different partitioning
    val again = graft.ops.Sampling.stratified(df.repartition(13), "doc_id", "source", 7)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2))).toSet
    assert(again == s7.toSet)
    // prefix property: stratified(7) is exactly the rank<=7 prefix of
    // stratified(14) — the guarantee the two-stage pre-thin path rests on
    val s14 = graft.ops.Sampling.stratified(df, "doc_id", "source", 14).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    assert(s14.filter(_._3 <= 7).toSet == s7.toSet)
    // the draw matches a local md5 replay (same tape both engines read)
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def hex(i: Long) = mdig.digest(i.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val wantBig = (0L until 50L).map(i => (hex(i), i)).sorted.take(7).map(_._2).toSet
    assert(s7.filter(_._1 == "big").map(_._2).toSet == wantBig)
  }

  test("TextQuality.gopherQuality: each rule fires independently on handcrafted docs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the cat sat near a tree and the dog ran into the park"), // clean at minWords=5
      (1L, "tiny one"),                                              // word count below band
      (2L, "a a a a a b b b b b"),                                   // mean word length < 3
      (3L, "12 34 56 78 90 11 22 33"),                               // no alphabetic words
      (4L, "cat dog tree park run sit jump walk")                    // no stopwords
    ).toDF("doc_id", "text")
    // NULL text: every count and flag is NULL (visible corruption, the
    // hashSplit discipline) — the q84 oracle's empty-list coalesce must
    // NOT fire here, and empty text is all-zero counts, not NULL
    val edge = Seq((7L, null.asInstanceOf[String]), (8L, "")).toDF("doc_id", "text")
    val er = graft.ops.TextQuality.gopherQuality(edge, "doc_id", "text", 2, 10)
      .collect().map(r => r.getLong(0) -> (1 to 9).map(r.isNullAt)).toMap
    assert(er(7L).forall(identity), s"null text must stay NULL end to end: ${er(7L)}")
    assert(er(8L).forall(!_), s"empty text must be zeros/falses, not NULL: ${er(8L)}")
    val g = graft.ops.TextQuality.gopherQuality(docs, "doc_id", "text", 5, 100)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)))
      .toMap
    assert(g(0L) == (true, true, true, true, true), s"clean doc flagged: ${g(0L)}")
    assert(!g(1L)._1 && !g(1L)._5)
    assert(!g(2L)._2 && !g(2L)._5)
    assert(!g(3L)._3 && !g(3L)._5)
    assert(!g(4L)._4 && !g(4L)._5)
    // counts are the locally-recomputed integers (no float discipline)
    val c = graft.ops.TextQuality.gopherQuality(docs, "doc_id", "text", 5, 100)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toMap
    assert(c(0L) == (13, 41, 13, 5), s"counts off: ${c(0L)}")
    // pure per-row map: no exchange on the gate path
    val p = graft.ops.TextQuality.gopherQuality(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"gopherQuality must be shuffle-free:\n$p")
  }

  test("Curation.curate: every stage fires on a handcrafted corpus (quality, dedup, decontam, split)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "w1 w2 w3 w4 w5 w6"),                           // bench: leaves the corpus
      (1L, "spam spam spam spam spam spam spam spam"),     // repetitive -> stage 1
      (2L, "tiny doc"),                                    // < minWords -> stage 1
      (3L, "alpha beta gamma delta epsilon"),              // clean survivor
      (4L, "dup text goes here exactly now"),              // keeper of the dup group
      (5L, "dup text goes here exactly now"),              // exact dup -> stage 2
      (6L, "w1 w2 w3 w4 w5 zz"),                           // 1/2 shingles in bench -> stage 3
      (10L, "p q r s t")                                   // bench
    ).toDF("doc_id", "text")
    val out = graft.ops.Curation.curate(docs, "doc_id", "text",
        benchPred = col("doc_id") % 10 === 0)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4), r.getString(5))).toMap
    assert(out.keySet == Set(3L, 4L), s"survivors: ${out.keySet}")
    assert(out(3L)._1 == 5 && out(3L)._2 == 1L && out(3L)._3 == 0L)
    assert(out(4L)._1 == 6 && out(4L)._2 == 2L && out(4L)._3 == 0L)
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Seq(3L, 4L).foreach { i =>
      val b = Integer.parseInt(
        mdig.digest(i.toString.getBytes("UTF-8")).take(1).map(x => f"$x%02x").mkString, 16)
      assert(out(i)._4 == b)
      assert(out(i)._5 == (if (b < 230) "train" else if (b < 243) "val" else "test"))
    }
  }

  test("TextQuality.dedupLines: first occurrence kept in order; blank/degenerate docs") {
    import spark.implicits._
    val docs = Seq(
      ("dup", "a b\nc d\na b\ne f\nc d"),   // keeps a b, c d, e f in order
      ("one", "only line"),
      ("blank", "  \n \n"),                 // no non-blank lines -> empty text
      ("interior", "x\n\nx\ny")             // blank line dropped, second x dropped
    ).toDF("doc_id", "text")
    val r = graft.ops.TextQuality.dedupLines(docs, "doc_id", "text")
      .collect().map(x => x.getString(0) -> (x.getInt(1), x.getInt(2), x.getString(4))).toMap
    assert(r("dup") == (5, 3, "a b\nc d\ne f"))
    assert(r("one") == (1, 1, "only line"))
    assert(r("blank") == (0, 0, ""))
    assert(r("interior") == (3, 2, "x\ny"))
    // the pushdown scenario the fold form exists for: filtering on the
    // op's outputs inlines the aliases into the predicate — results must
    // stay correct (and the fold keeps it O(lines) splits; the indexed-
    // filter form went O(lines²) here)
    val changed = graft.ops.TextQuality.dedupLines(docs, "doc_id", "text")
      .where(col("n_kept") < col("n_lines"))
      .select("doc_id").as[String].collect().sorted
    assert(changed.sameElements(Array("dup", "interior")), changed.mkString(","))
  }

  test("Curation edge cases: all-bench corpus and empty corpus yield empty output, no crash") {
    import spark.implicits._
    val allBench = Seq((0L, "w1 w2 w3 w4 w5 w6"), (10L, "p q r s t u"))
      .toDF("doc_id", "text")
    assert(graft.ops.Curation.curate(allBench, "doc_id", "text",
      benchPred = col("doc_id") % 10 === 0).count() == 0)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.Curation.curate(empty, "doc_id", "text",
      benchPred = col("doc_id") % 10 === 0).count() == 0)
    // external holdout that is empty: nothing is contaminated
    val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val out = graft.ops.Curation.curateAgainst(corpus, empty, "doc_id", "text", 5, 5, 10)
    assert(out.count() == 1 && out.select("n_hit").as[Long].head() == 0L)
  }

  test("Contamination.flag: shingle overlap vs holdout, zero-hit rows kept, short docs absent") {
    import spark.implicits._
    val docs = Seq(
      (0L, "w1 w2 w3 w4 w5 w6"),   // bench (two 5-shingles)
      (10L, "p q r s t"),          // bench
      (1L, "w1 w2 w3 w4 w5 x"),    // 1 of 2 shingles hit -> 50%
      (2L, "a b c d e f"),         // no overlap
      (3L, "short one"),           // < 5 tokens: absent
      (4L, "p q r s t")            // exact bench text -> 100%
    ).toDF("doc_id", "text")
    val r = graft.ops.Contamination.flag(docs, "doc_id", "text",
        benchPred = col("doc_id") % 10 === 0, n = 5, thresholdPct = 10)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4))).toMap
    assert(r(1L) == (2L, 1L, 0.5, true), s"got ${r(1L)}")
    assert(r(2L) == (2L, 0L, 0.0, false))
    assert(r(4L) == (1L, 1L, 1.0, true))
    assert(r.keySet == Set(1L, 2L, 4L)) // bench rows and short docs excluded
  }

  test("Rollup.m4: pixel buckets keep exact {n,min,max,first,last} per key") {
    import spark.implicits._
    // 10 minute-grid points, width=2: span 540e6 µs, bucket boundary
    // between i=4 (240e6·2 < 540e6+1) and i=5 (300e6·2 > 540e6+1)
    val vals = Seq(5L, 1L, 9L, 3L, 7L, 2L, 8L, 4L, 6L, 0L)
    val df = vals.zipWithIndex.map { case (v, i) => ("A", i, v) }
      .toDF("k", "min", "x")
      .select(col("k"), timestamp_seconds(lit(1704067200L) + col("min") * 60).as("ts"), col("x"))
    val out = graft.ops.Rollup.m4(df, Seq("k"), "ts", "x", width = 2)
      .orderBy("bucket").collect()
    assert(out.length == 2)
    val b0 = out(0)
    assert(b0.getAs[Long]("bucket") == 0L && b0.getAs[Long]("n") == 5L)
    assert(b0.getAs[Long]("x_min") == 1L && b0.getAs[Long]("x_max") == 9L)
    assert(b0.getAs[Long]("x_first") == 5L && b0.getAs[Long]("x_last") == 7L)
    val b1 = out(1)
    assert(b1.getAs[Long]("bucket") == 1L && b1.getAs[Long]("n") == 5L)
    assert(b1.getAs[Long]("x_min") == 0L && b1.getAs[Long]("x_max") == 8L)
    assert(b1.getAs[Long]("x_first") == 2L && b1.getAs[Long]("x_last") == 0L)
    // every bucket's stats are reconstructible from the raw slice: totals agree
    assert(out.map(_.getAs[Long]("n")).sum == vals.length)
  }

  test("Rollup.pickTierStep: finest fitting step, exact ceil boundaries, coarsest fallback") {
    import graft.ops.Rollup.pickTierStep
    // 12000 s / 60 = exactly 200 points -> 1m still fits at maxPoints=200
    assert(pickTierStep(12000L, 200L) == 60L)
    // one more second: ceil(12060/60)=201 > 200 -> next tier up
    assert(pickTierStep(12060L, 200L) == 3600L)
    assert(pickTierStep(5L * 86400L, 200L) == 3600L)   // 120 hourly points
    assert(pickTierStep(28L * 86400L, 100L) == 86400L) // 28 daily points
    // nothing fits -> coarsest (caller downsamples from there)
    assert(pickTierStep(1000L * 86400L, 5L) == 86400L)
    // unordered step list is sorted internally
    assert(pickTierStep(3600L, 100L, Seq(86400L, 60L, 3600L)) == 60L)
    assertThrows[IllegalArgumentException](pickTierStep(0L, 10L))
  }

  test("Rollup.serve: routes to the picked tier, filters [t0,t1), tags step_sec") {
    import spark.implicits._
    val pts = (0 until 3 * 1440).map { i => // 3 days of minutes
      ("A", "value", new java.sql.Timestamp(1704067200000L + i * 60000L), 1.0)
    }.toDF("conv_id", "metric", "ts", "value")
    val (m1, h1, d1) = graft.ops.Rollup.cascade(pts)
    val tiers = Map(60L -> m1, 3600L -> h1, 86400L -> d1)
    val out = graft.ops.Rollup.serve(tiers,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), maxPoints = 30L)
    val rows = out.collect()
    assert(rows.forall(_.getAs[Long]("step_sec") == 3600L)) // 24h/30pt -> 1h tier
    assert(rows.length == 24)                               // day 1 hours only
    assert(rows.map(_.getAs[Long]("n")).sum == 1440L)
  }

  test("Dedup.sharedSpans: diagonal runs measure verbatim shared passages") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),          // shares "a b c d e" with doc 2
      (2L, "x a b c d e y"),        // one diag-constant run of 3 shingles
      (3L, "c d e q a b c")         // two isolated single-shingle matches
    ).toDF("doc_id", "text")
    val r = graft.ops.Dedup.sharedSpans(docs, "doc_id", "text", n = 3,
        dfCap = 100, minRun = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getAs[Long]("max_run"), x.getAs[Long]("n_runs"), x.getAs[Long]("matched"))).toMap
    // (1,2): "a b c","b c d","c d e" at constant diag -1, consecutive p1
    assert(r((1L, 2L)) == (3L, 1L, 3L), s"got ${r.get((1L, 2L))}")
    // (1,3) and (2,3): same two shingles but on different diagonals -> runs of 1
    assert(r((1L, 3L)) == (1L, 2L, 2L))
    assert(r((2L, 3L)) == (1L, 2L, 2L))
    // minRun prunes: only the (1,2) passage survives a 2-shingle floor
    val pruned = graft.ops.Dedup.sharedSpans(docs, "doc_id", "text", n = 3,
      dfCap = 100, minRun = 2).collect()
    assert(pruned.map(x => (x.getLong(0), x.getLong(1))).toSet == Set((1L, 2L)))
    assert(pruned.head.getAs[Long]("n_runs") == 1L)
  }
}
