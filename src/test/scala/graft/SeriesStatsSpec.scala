package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SeriesStats

/** Hand-computed gates for the second-order series statistics (q100-q102):
  * exact integer Pearson partials, Markov transition rows, and the
  * all-integer rolling-median/MAD anomaly flags.
  */
class SeriesStatsSpec extends AnyFunSuite with SparkSuite {

  private def minuteDf(rows: Seq[(String, Int, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "min", "x")
      .select(col("k"),
        timestamp_seconds(lit(1704067200L) + col("min") * 60).as("ts"),
        col("x"))
  }

  test("acf: linear ramp has acf=1 at every lag; exact integer partials") {
    val df = minuteDf((0 to 5).map(i => ("A", i, (i + 1).toLong)))
    val out = SeriesStats.acf(df, Seq("k"), "ts", "x", maxLag = 2)
      .orderBy("lag").collect()
    assert(out.length == 2)
    val l1 = out(0)
    // pairs (1,2)..(5,6): n=5 sx=15 sy=20 sxy=70 sxx=55 syy=90 -> acf 1.0
    assert(l1.getAs[Long]("n_pairs") == 5L)
    assert(l1.getAs[Long]("sx") == 15L && l1.getAs[Long]("sy") == 20L)
    assert(l1.getAs[Long]("sxy") == 70L)
    assert(l1.getAs[Long]("sxx") == 55L && l1.getAs[Long]("syy") == 90L)
    assert(l1.getAs[Double]("acf") == 1.0)
    assert(out(1).getAs[Double]("acf") == 1.0)
  }

  test("seasonalDecompose: alternating series splits into flat trend + exact seasonal") {
    // period=2, step=60s: x = 0,4,0,4,... -> trend 2 everywhere (t2=8),
    // det = ±8, per-phase seasonal means ±2, remainder 0
    val df = minuteDf((0 to 7).map(i => ("A", i, if (i % 2 == 0) 0L else 4L)))
    val out = SeriesStats.seasonalDecompose(df, "k", "ts", "x",
      period = 2, stepSec = 60L).orderBy("ts").collect()
    assert(out.length == 6) // 8 rows minus one edge each side
    assert(out.forall(_.getAs[Long]("t2") == 8L))
    assert(out.forall(_.getAs[Double]("trend_r") == 2.0))
    assert(out.forall(r => math.abs(r.getAs[Long]("det")) == 8L))
    assert(out.forall(r => r.getAs[Double]("seasonal_r") ==
      (if (r.getAs[Long]("x") == 0L) -2.0 else 2.0)))
    assert(out.forall(_.getAs[Double]("resid_r") == 0.0))
  }

  test("seasonalDecompose: linear ramp -> zero detrended, zero seasonal and remainder") {
    // centered MA of a linear series reproduces it exactly at the interior
    val df = minuteDf((0 to 9).map(i => ("A", i, (3L * i + 5L))))
    val out = SeriesStats.seasonalDecompose(df, "k", "ts", "x",
      period = 2, stepSec = 60L).collect()
    assert(out.length == 8)
    assert(out.forall(_.getAs[Long]("det") == 0L))
    assert(out.forall(r => r.getAs[Double]("trend_r") ==
      r.getAs[Long]("x").toDouble))
    assert(out.forall(_.getAs[Double]("seasonal_r") == 0.0))
    assert(out.forall(_.getAs[Double]("resid_r") == 0.0))
  }

  test("seasonalDecompose: identity x = trend + seasonal + remainder holds exactly in integers") {
    val df = minuteDf((0 to 40).map(i => ("A", i, (i * i % 13).toLong)))
    val out = SeriesStats.seasonalDecompose(df, "k", "ts", "x",
      period = 4, stepSec = 60L).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val scale = 8L // 2 * period
      val x = r.getAs[Long]("x"); val t2 = r.getAs[Long]("t2")
      val det = r.getAs[Long]("det")
      val sSum = r.getAs[Long]("s_sum"); val sN = r.getAs[Long]("s_n")
      assert(det == scale * x - t2)
      // x*scale*s_n == t2*s_n + s_sum + (det*s_n - s_sum) by construction
      assert(scale * x * sN == t2 * sN + sSum + (det * sN - sSum))
    }
    assertThrows[IllegalArgumentException](
      SeriesStats.seasonalDecompose(df, "k", "ts", "x", period = 3))
  }

  test("laggedCorr: a shifted copy peaks at exactly its lag, with exact partials") {
    // B is A delayed by one step: corr(x_a(t), x_b(t+1)) = 1 at lag +1
    val xa = Seq(0L, 0L, 5L, 1L, 0L, 2L, 7L, 0L)
    val rows = xa.zipWithIndex.map { case (v, i) => ("A", i, v) } ++
      xa.zipWithIndex.map { case (v, i) => ("B", i + 1, v) }
    val df = minuteDf(rows)
    val out = SeriesStats.laggedCorr(df, "k", "ts", "x", maxLag = 2, stepSec = 60L)
      .collect().map(r => r.getAs[Int]("lag") -> r).toMap
    assert(out.keySet == Set(-2, -1, 0, 1, 2))
    val at1 = out(1)
    assert(at1.getAs[Long]("n") == 8L)
    assert(at1.getAs[Long]("sa") == xa.sum && at1.getAs[Long]("sb") == xa.sum)
    assert(at1.getAs[Long]("sab") == xa.map(v => v * v).sum)
    assert(at1.getAs[Double]("corr_r") == 1.0)
    // every other lag correlates misaligned copies — strictly below 1
    assert(Seq(-2, -1, 0, 2).forall { l =>
      val c = out(l).getAs[java.lang.Double]("corr_r")
      c == null || c.doubleValue() < 1.0
    })
  }

  test("laggedCorr: anti-correlated pair hits -1 at lag 0; constant side is NULL") {
    val rows = (0 to 5).flatMap { i =>
      Seq(("A", i, i.toLong), ("B", i, 10L - i), ("C", i, 4L))
    }
    val out = SeriesStats.laggedCorr(minuteDf(rows), "k", "ts", "x",
      maxLag = 0, stepSec = 60L).collect()
    val ab = out.find(r => r.getAs[String]("key_a") == "A" &&
      r.getAs[String]("key_b") == "B").get
    assert(ab.getAs[Double]("corr_r") == -1.0)
    // C is constant: denb = 0 -> NULL for (A,C) and (B,C)
    assert(out.filter(_.getAs[String]("key_b") == "C")
      .forall(_.getAs[java.lang.Double]("corr_r") == null))
  }

  test("dailyTrend: exact ramp recovers slope and intercept; den=0 day is NULL") {
    // day 1: x = 2t + 3 over 24 hours; day 2: one lone hour (den = 0)
    val rows = (0 to 23).map(h => ("A", h, 2L * h + 3L)) :+ (("A", 24, 9L))
    import spark.implicits._
    val hourly = rows.map { case (k, h, v) => (k, 1704067200L + h * 3600L, v) }
      .toDF("k", "sec", "x")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("x"))
    val out = SeriesStats.dailyTrend(hourly, "k", "ts", "x")
      .orderBy("day").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n") == 24L)
    assert(out(0).getAs[Double]("slope_r") == 2.0)
    assert(out(0).getAs[Double]("icept_r") == 3.0)
    assert(out(1).getAs[Long]("den") == 0L)
    assert(out(1).getAs[java.lang.Double]("slope_r") == null)
  }

  test("holt: hand-run recursion, exact ramp tracking, and per-key restart") {
    // ramp 0,2,4,...: level converges toward the ramp, forecast = l + b
    val df = minuteDf((0 to 4).map(i => ("A", i, 2L * i)) ++
      Seq(("B", 0, 7L), ("B", 1, 7L)))
    val out = SeriesStats.holt(df, "k", "ts", "x")
      .orderBy("k", "ts").collect()
    // replay the identical IEEE recursion on the driver
    var l = 0.0; var b = 0.0
    Seq(0L, 2L, 4L, 6L, 8L).zipWithIndex.foreach { case (x, i) =>
      if (i == 0) { l = x.toDouble; b = 0.0 }
      else {
        val l2 = (x.toDouble + (l + b)) / 2.0
        b = ((l2 - l) + b) / 2.0; l = l2
      }
      assert(out(i).getAs[Double]("level") == l, s"level at $i")
      assert(out(i).getAs[Double]("trend") == b, s"trend at $i")
      assert(out(i).getAs[Double]("forecast") == l + b, s"forecast at $i")
    }
    // key B restarts: constant series -> level 7, trend 0 at both rows
    assert(out.drop(5).forall(r => r.getAs[Double]("level") == 7.0 &&
      r.getAs[Double]("trend") == 0.0 && r.getAs[Double]("forecast") == 7.0))
    assertThrows[IllegalArgumentException](
      SeriesStats.holt(df.withColumnRenamed("x", "level"), "k", "ts", "level"))
  }

  test("twap: burst does not over-weight; span telescopes; same-ts tie contributes zero") {
    import spark.implicits._
    // day = 86400 s. Key A: value 10 for the first half-day (one event at
    // t=0), then a 100-event burst of value 90 in the last second of the
    // day -> plain avg ~= 89.2, TWAP ~= 10 (the burst holds ~1 s of time)
    val dayStart = 1704067200L
    val rows = Seq(("A", dayStart, 1L, 10.0)) ++
      (0 until 100).map(i => ("A", dayStart + 86399L, 100L + i, 90.0))
    val df = rows.toDF("k", "sec", "id", "v")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("id"), col("v"))
    val out = SeriesStats.twap(df, "k", "ts", "id", "v").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n") == 101L)
    assert(r.getAs[Long]("span_us") == 86400L * 1000000L) // first event at day start
    // integral: 10 * 86399 s + 90 * 1 s over 86400 s
    val want = (10.0 * 86399e6 + 90.0 * 1e6) / 86400e6
    assert(math.abs(r.getAs[Double]("twap_r") - want) < 1e-6)
    assert(r.getAs[Double]("twap_r") < 11.0) // NOT the burst-dominated avg
  }

  test("dispersion: Poisson-like unit Fano, constant zero variance, zero-mean NULLs") {
    // one day of hourly values per key
    val rows = Seq.tabulate(4)(i => ("A", i, Seq(2L, 4L, 2L, 4L)(i))) ++
      Seq.tabulate(3)(i => ("B", i, 7L)) ++ Seq.tabulate(2)(i => ("C", i, 0L))
    val out = SeriesStats.dispersion(minuteDf(rows), "k", "ts", "x")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val a = out("A") // mean 3, sample var 4/3, fano = var/mean
    assert(a.getAs[Long]("var_num") == 4L * 40L - 12L * 12L) // n·Σx² − (Σx)² = 16
    assert(a.getAs[Double]("mean_r") == 3.0)
    assert(a.getAs[Double]("fano_r") == math.rint(16.0 / 36.0 * 1e6) / 1e6)
    assert(out("B").getAs[Double]("var_r") == 0.0 &&
      out("B").getAs[Double]("fano_r") == 0.0)
    assert(out("C").getAs[java.lang.Double]("fano_r") == null) // zero mean
  }

  test("topMovers: lag is by active day, delta exact, per-day rank caps at k") {
    import spark.implicits._
    // key A: day1 10 events, day2 30; key B: day1 5, day3 5 (silent day2)
    val rows = (1 to 10).map(i => ("A", 0, i.toLong)) ++
      (1 to 30).map(i => ("A", 1, 100L + i)) ++
      (1 to 5).map(i => ("B", 0, 200L + i)) ++
      (1 to 5).map(i => ("B", 2, 300L + i))
    val df = rows.toDF("k", "dayi", "id")
      .select(col("k"),
        timestamp_seconds(lit(1704067200L) + col("dayi") * 86400L).as("ts"))
    val out = SeriesStats.topMovers(df, "k", "ts", k = 5)
      .orderBy("day", "rank").collect()
    // A day2: 10 -> 30; B day3 compares against its last ACTIVE day (day1)
    assert(out.length == 2)
    assert(out(0).getAs[String]("k") == "A" && out(0).getAs[Long]("delta") == 20L
      && out(0).getAs[Double]("pct_r") == 2.0)
    assert(out(1).getAs[String]("k") == "B" && out(1).getAs[Long]("delta") == 0L)
    val top1 = SeriesStats.topMovers(df, "k", "ts", k = 1).collect()
    assert(top1.forall(_.getAs[Int]("rank") == 1))
  }

  test("acf: constant series has zero denominator -> NULL acf") {
    val df = minuteDf((0 to 3).map(i => ("B", i, 7L)))
    val out = SeriesStats.acf(df, Seq("k"), "ts", "x", maxLag = 1).collect()
    assert(out.length == 1)
    assert(out(0).isNullAt(out(0).fieldIndex("acf")))
    assert(out(0).getAs[Long]("n_pairs") == 3L)
  }

  test("acf: partitioning-invariant (exact integer domain)") {
    val base = (0 until 200).map(i => ("A", i, ((i * 7919) % 23).toLong)) ++
      (0 until 150).map(i => ("B", i, ((i * 104729) % 17).toLong))
    val df = minuteDf(base)
    def run(parts: Int) =
      SeriesStats.acf(df.repartition(parts), Seq("k"), "ts", "x", maxLag = 4)
        .orderBy("k", "lag").collect().toSeq
    assert(run(1) == run(13))
  }

  test("acf: refuses key columns whose names collide with internals") {
    val df = minuteDf((0 to 3).map(i => ("A", i, i.toLong)))
    for (bad <- Seq("x", "y", "lag", "y_2")) {
      val e = intercept[IllegalArgumentException] {
        SeriesStats.acf(df.withColumnRenamed("k", bad), Seq(bad), "ts", "x", maxLag = 2)
      }
      assert(e.getMessage.contains(bad) || e.getMessage.contains("reserved"))
    }
    // y_3 is only reserved when maxLag reaches 3
    SeriesStats.acf(df.withColumnRenamed("k", "y_3"), Seq("y_3"), "ts", "x", maxLag = 2)
  }

  test("transitions: counts and row-normalized p; event_id tiebreak") {
    import spark.implicits._
    // u1: A->B->A (B,A tie on ts broken by event_id), u2: A->B
    val df = Seq(
      ("u1", 0L, 1L, "A"), ("u1", 60L, 2L, "B"), ("u1", 60L, 3L, "A"),
      ("u2", 0L, 4L, "A"), ("u2", 30L, 5L, "B"),
      (null.asInstanceOf[String], 0L, 6L, "A")
    ).toDF("user_id", "sec", "event_id", "event_type")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_seconds(lit(1704067200L) + col("sec")).as("ts"))
    val out = SeriesStats.transitions(df, "user_id", "ts", "event_type",
      tieCols = Seq("event_id"))
      .orderBy("from_state", "to_state").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq(("A", "B", 2L, 1.0), ("B", "A", 1L, 1.0)))
  }

  test("rollingMadAnomaly: a lone spike is flagged, its neighbors are not") {
    val df = minuteDf(Seq(5L, 5L, 5L, 50L, 5L, 5L, 5L).zipWithIndex.map {
      case (v, i) => ("A", i, v)
    })
    val out = SeriesStats.rollingMadAnomaly(df, Seq("k"), "ts", "x", halfWin = 2, k = 3)
      .orderBy("ts").collect()
    assert(out.length == 7)
    assert(out.map(_.getAs[Boolean]("is_anomaly")).toSeq ==
      Seq(false, false, false, true, false, false, false))
    // spike row: window [5,5,50,5,5] -> med2=10, dev2=[0,0,0,0,90] -> mad4=0
    val spike = out(3)
    assert(spike.getAs[Long]("med2") == 10L && spike.getAs[Long]("mad4") == 0L)
    // even-window edge row idx1: window sorted [5,5,5,50] -> med2 = 5+5,
    // dev2 sorted [0,0,0,90] -> mad4 = dev2[2]+dev2[3] = 0 (1-indexed)
    assert(out(1).getAs[Long]("med2") == 10L && out(1).getAs[Long]("mad4") == 0L)
  }

  test("ewma: alpha=1/2 recursion is exact per key and sorted by ts") {
    val df = minuteDf(
      Seq(4L, 8L, 2L, 10L).zipWithIndex.map { case (v, i) => ("A", i, v) } ++
        Seq(1L, 2L).zipWithIndex.map { case (v, i) => ("B", i, v) })
    val out = SeriesStats.ewma(df, "k", "ts", "x")
      .orderBy("k", "ts").collect()
    // A: s0=4, s1=(8+4)/2=6, s2=(2+6)/2=4, s3=(10+4)/2=7; B: 1, 1.5
    assert(out.map(_.getAs[Double]("ewma")).toSeq ==
      Seq(4.0, 6.0, 4.0, 7.0, 1.0, 1.5))
    assert(out.map(_.getAs[Long]("x")).toSeq == Seq(4L, 8L, 2L, 10L, 1L, 2L))
    // key B's recursion restarts at its own first value, not A's tail
    assert(out(4).getAs[Double]("ewma") == 1.0)
  }

  test("cusum: hand-computed two-sided recursion; per-key integer mean; restart per key") {
    // A: x = 10,10,22,10 -> mu = 52 div 4 = 13; k=1, h=5
    //   sp: max(0,10-13-1)=0, 0, 0+22-13-1=8, 8+10-13-1=4
    //   sn: 13-10-1=2, 2+13-10-1=4, max(0,4+13-22-1)=0, 0+13-10-1=2
    //   alarms at t3 only (sp=8 > 5)
    // B: single point x=5 -> mu=5, sp=sn=max(0,-1)=0
    val df = minuteDf(
      Seq(10L, 10L, 22L, 10L).zipWithIndex.map { case (v, i) => ("A", i, v) } ++
        Seq(("B", 0, 5L)))
    val out = SeriesStats.cusum(df, "k", "ts", "x", k = 1L, h = 5L)
      .orderBy("k", "ts").collect()
    assert(out.map(_.getAs[Long]("mu")).toSeq == Seq(13L, 13L, 13L, 13L, 5L))
    assert(out.map(_.getAs[Long]("cusum_pos")).toSeq == Seq(0L, 0L, 8L, 4L, 0L))
    assert(out.map(_.getAs[Long]("cusum_neg")).toSeq == Seq(2L, 4L, 0L, 2L, 0L))
    assert(out.map(_.getAs[Boolean]("is_shift")).toSeq ==
      Seq(false, false, true, false, false))
  }

  test("cusum: partitioning-invariant (pure BIGINT domain) and reserved-name guard") {
    val df = minuteDf(for {
      k <- Seq("A", "B", "C"); i <- 0 until 50
    } yield (k, i, ((i * 7 + k.hashCode.abs) % 23).toLong))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).toSet
    val a = SeriesStats.cusum(df, "k", "ts", "x", k = 0L, h = 10L)
    val b = SeriesStats.cusum(df.repartition(7), "k", "ts", "x", k = 0L, h = 10L)
    assert(rows(a) == rows(b) && a.count() == 150)
    intercept[IllegalArgumentException] {
      SeriesStats.cusum(df.withColumnRenamed("x", "mu"), "k", "ts", "mu", 1L, 5L)
    }
  }
}
