package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Transcript
import graft.jobs.ProcessJob
import graft.ops.{Correlate, Ingest}

/** The CC job's work list (`ProcessJob.workList`: per-pair window ranges
  * planned from one spans pass) against two independent definitions of its
  * cells: the definition itself, enumerated by brute force, and the
  * distributed `a ⋈ pairs ⋈ b` self-join of `Correlate.candidates` that
  * the job used before.
  */
class WorkListSpec extends AnyFunSuite with SparkSuite {

  private val dayMs = 86400000L
  private val baseMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** A turn every `everySec` seconds for `hours` hours from `startMs`, 7 s
    * past each grid step.
    */
  private def conv(id: String, startMs: Long, hours: Int, everySec: Int): Seq[Transcript] =
    (0 until hours * 3600 / everySec).map { i =>
      Transcript(id, i, "user", "w " * (1 + i % 5), "", new Timestamp(startMs + i * everySec * 1000L + 7000L))
    }

  private val turns: Seq[Transcript] =
    conv("a", baseMs, 14, 300) ++
      conv("b", baseMs + 3600000L, 22, 420) ++
      // hot: 10x the turns of the others, over a longer span
      conv("hot", baseMs - 1800000L, 30, 30) ++
      // pre-epoch twins of a and b
      conv("pre_a", baseMs - 2 * dayMs - baseMs, 14, 300) ++
      conv("pre_b", baseMs - 2 * dayMs - baseMs + 3600000L, 22, 420) ++
      // spans that overlap none of a's
      conv("far", baseMs + 3 * dayMs, 12, 300)

  private val pairs = Seq(
    ("a", "b"), ("a", "b"), // listed twice
    ("a", "a"),             // self pair
    ("hot", "b"), ("a", "hot"),
    ("pre_a", "pre_b"),
    ("a", "far"),           // non-overlapping spans
    ("a", "ghost"), ("ghost", "b") // a conversation absent from the series
  )

  type Cell = (String, String, String, Long) // conv_a, conv_b, metric, win_start ms

  private def cellsOf(df: DataFrame): Seq[Cell] = {
    import spark.implicits._
    df.select(col("conv_a"), col("conv_b"), col("metric"), unix_millis(col("win_start")))
      .as[Cell].collect().toSeq
  }

  /** Every stride-aligned start whose whole window (first grid point s, last
    * s + window - step) lies in both sides' [t0, t1], by enumeration.
    */
  private def bruteForce(series: DataFrame, windowSec: Long, strideSec: Long, stepSec: Long): Set[Cell] = {
    import spark.implicits._
    val ts = series.select(col("conv_id"), col("metric"), unix_timestamp(col("ts")))
      .as[(String, String, Long)].collect()
    val spans = ts.groupBy(r => (r._1, r._2)).view.mapValues(rs => (rs.map(_._3).min, rs.map(_._3).max)).toMap
    val (first, last) = (Math.floorDiv(ts.map(_._3).min, strideSec) - 1, ts.map(_._3).max / strideSec + 1)
    (for {
      (a, b) <- pairs.distinct
      metric <- Seq("turn_rate", "token_volume")
      (a0, a1) <- spans.get((a, metric)).toSeq
      (b0, b1) <- spans.get((b, metric)).toSeq
      k <- first to last
      s = k * strideSec
      if s >= a0 && s >= b0 && s + windowSec - stepSec <= a1 && s + windowSec - stepSec <= b1
    } yield (a, b, metric, s * 1000L)).toSet
  }

  /** The self-join work list: both sides' candidates joined through the
    * distinct pairs on (metric, win_start).
    */
  private def selfJoin(series: DataFrame, pairsDf: DataFrame, windowSec: Long, strideSec: Long, stepSec: Long): DataFrame = {
    val cand = Correlate.candidates(series, windowSec, strideSec, stepSec)
      .select(col("conv_id"), col("metric"), timestamp_seconds(col("win_start_s")).as("win_start"))
    val a = cand.select(col("conv_id").as("conv_a"), col("metric"), col("win_start"))
    val b = cand.select(col("conv_id").as("conv_b"), col("metric"), col("win_start"))
    a.join(broadcast(pairsDf.select(col("conv_a"), col("conv_b")).distinct()), Seq("conv_a"))
      .join(b, Seq("conv_b", "metric", "win_start"))
  }

  test("work list: per-pair ranges == brute-force definition == candidates self-join, counts per pair") {
    import spark.implicits._
    val series = Ingest.seriesSparse(spark.createDataset(turns).toDF(), 60).cache()
    val pairsDf = pairs.toDF("conv_a", "conv_b")
    for ((windowSec, strideSec) <- Seq((1800L, 900L), (1800L, 1200L), (28800L, 7200L))) {
      val grid = s"$windowSec/$strideSec"
      val cfg = ProcessJob.Config(stepSec = 60, windowSec = windowSec, strideSec = strideSec)
      val work = ProcessJob.workList(series, pairsDf, cfg)
      val got = cellsOf(work.df)
      assert(got.distinct.size == got.size, s"$grid: a cell listed twice")
      val want = bruteForce(series, windowSec, strideSec, 60)
      assert(got.toSet == want, s"$grid: work list vs brute force: " +
        s"${(got.toSet diff want).take(3)} / ${(want diff got.toSet).take(3)}")
      val joined = cellsOf(selfJoin(series, pairsDf, windowSec, strideSec, 60)).toSet
      assert(got.toSet == joined, s"$grid: work list vs candidates self-join")
      // the driver's per-pair counts are the cells' counts
      assert(work.pairs.toMap == want.toSeq.groupBy(c => (c._1, c._2)).view.mapValues(_.size.toLong).toMap,
        s"$grid: per-pair counts ${work.pairs}")
      assert(work.count == want.size)
      // the stored key of each cell
      val keys = work.df.select(col("partition_key")).as[String].collect().toSet
      assert(keys == want.map { case (a, b, m, w) => s"$m|$a-$b|${w / 1000}" }, s"$grid: partition keys")
      // the fixture holds every case at every grid
      val withCells = want.map(c => (c._1, c._2))
      Seq(("a", "b"), ("a", "a"), ("hot", "b"), ("a", "hot"), ("pre_a", "pre_b"))
        .foreach(p => assert(withCells(p), s"$grid: no cell for $p"))
      assert(want.exists(c => c._1 == "pre_a" && c._4 < 0), s"$grid: no pre-epoch cell")
      Seq(("a", "far"), ("a", "ghost"), ("ghost", "b")).foreach(p => assert(!withCells(p), s"$grid: cells for $p"))
    }
    series.unpersist()
  }
}
