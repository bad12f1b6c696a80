package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Correlate, Ingest, Timelapse, Trigger}
import graft.synth.Transcripts

class TimelapseSpec extends AnyFunSuite with SparkSuite {

  test("timelapse matrix: diagonal symmetry with mirrored deltas") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val t = Transcripts.generate(spark, 3, 200).toDF()
    val s = Ingest.series(t, 60)
    val wins = Correlate.windows(s, windowSec = 1800, strideSec = 900, stepSec = 60)
    val specs = Timelapse.spectrograms(wins, stepSec = 60, npersegSamples = 16, hopSamples = 4)
    assert(specs.count() > 0)
    val m = Timelapse.matrix(specs, 60).cache()
    assert(m.count() > 0)
    // mirror property: (t1, t2, d1, d2) implies (t2, t1, -d1, -d2) with same max
    val fwd = m.select("conv_id", "metric", "time1", "time2", "cc2_max", "delta_seg", "delta_freq")
    val mirrored = fwd.select(col("conv_id"), col("metric"),
      col("time2").as("time1"), col("time1").as("time2"),
      col("cc2_max"), (-col("delta_seg")).as("delta_seg"), (-col("delta_freq")).as("delta_freq"))
    val diff = fwd.union(mirrored)
      .groupBy("conv_id", "metric", "time1", "time2", "cc2_max", "delta_seg", "delta_freq")
      .count().where(col("count") =!= 2)
    assert(diff.count() == 0, "matrix is not mirror-symmetric")
    // each (time1, time2) appears exactly once per (key, metric)
    val dup = m.groupBy("conv_id", "metric", "time1", "time2").count().where(col("count") > 1)
    assert(dup.count() == 0)
    m.unpersist()
  }

  test("trigger periods: islands labeled densely, short ones dropped, extend widens") {
    import spark.implicits._
    val step = 60L
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * step * 1000)
    // two keys; both on for steps 10..14 (5 steps) and 20..21 (2 steps — dropped)
    val rows = for {
      k <- Seq("a", "b")
      i <- (10 to 14) ++ (20 to 21)
    } yield (k, ts(i), 5.0)
    val cf = (rows ++ Seq(("a", ts(30), 5.0))).toDF("key", "time", "value") // single-key 30: below coincidence
    val p = Trigger.periods(cf, thrOn = 1.0, coincidence = 2, stepSec = step, minDurationSteps = 3)
    val got = p.collect()
    assert(got.length == 1)
    assert(got(0).getInt(0) == 0)
    assert(got(0).getTimestamp(1) == ts(10) && got(0).getTimestamp(2) == ts(14))
    assert(got(0).getLong(3) == 5)
    val pExt = Trigger.periods(cf, 1.0, 2, step, 3, extendSteps = 2).collect()(0)
    assert(pExt.getTimestamp(1) == ts(8) && pExt.getTimestamp(2) == ts(16))
    // values join-back (bucketed equi-join path)
    val v = Trigger.values(cf, p, stepSec = step)
    assert(v.count() == 10) // 2 keys x 5 steps
  }

  test("trigger periods: bucketed islands + stitch == global islands") {
    import spark.implicits._
    val step = 60L
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * step * 1000)
    // deterministic pseudo-random on-steps with runs crossing any small
    // bucket boundary; two keys so coincidence=2 passes wherever both on
    val rng = new scala.util.Random(42)
    val on = (0 until 600).filter(_ => rng.nextDouble() < 0.55)
    val rows = for { k <- Seq("a", "b"); i <- on } yield (k, ts(i), 5.0)
    val cf = rows.toDF("key", "time", "value")
    def run(bucket: Int) =
      Trigger.periods(cf, 1.0, 2, step, minDurationSteps = 2, bucketSteps = bucket)
        .select("period", "period_start", "period_end", "n_steps")
        .collect().map(_.toString).sorted.toSeq
    // bucket=7 forces many islands to straddle bucket edges; 1<<20 is
    // effectively the old single-window global path
    assert(run(7) == run(1 << 20))
    assert(run(16) == run(1 << 20))
  }
}
