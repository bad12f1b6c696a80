package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Correlate, Ingest, Rollup}
import graft.refimpl.Ref
import graft.synth.Transcripts

/** Golden gates (BASELINE.md (b)): Spark pipeline output must EXACTLY match
  * the single-node reference at every retention tier; CC windows must match
  * the reference cells bit-for-bit (same kernel, same inputs); per-turn
  * text equality must survive a store/read round-trip.
  */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  lazy val tiny = Transcripts.generateLocal(nConvs = 12, baseTurns = 120, hotConvs = 2, hotFactor = 10)
  lazy val tinyDf = {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    spark.createDataset(tiny).toDF().repartition(7) // deliberately odd partitioning
  }

  private def key(r: org.apache.spark.sql.Row) =
    (r.getString(0), r.getString(1), r.getTimestamp(2).getTime)

  test("generator is deterministic and partitioning-independent") {
    import spark.implicits._
    val a = Transcripts.generate(spark, 5, 50).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = Transcripts.generateLocal(5, 50).sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("gap-filled series matches single-node reference exactly") {
    val got = Ingest.series(tinyDf, 60).collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).getTime, r.getDouble(3)))
      .sortBy(t => (t._1, t._2, t._3))
    val want = Ref.series(tiny, 60)
      .map(p => (p.convId, p.metric, p.tsMs, p.value))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("rollup cascade 1m/1h/1d matches reference EXACTLY (bitwise)") {
    val points = Ingest.series(tinyDf, 60).cache()
    val (m1, h1, d1) = Rollup.cascade(points)
    val refPoints = Ref.series(tiny, 60)
    val refM1 = Ref.rollup(refPoints, "minute")
    val refH1 = Ref.rollupFromLower(refM1, "hour")
    val refD1 = Ref.rollupFromLower(refH1, "day")
    for ((df, ref, tier) <- Seq((m1, refM1, "1m"), (h1, refH1, "1h"), (d1, refD1, "1d"))) {
      val rows = df.collect()
      assert(rows.length == ref.size, s"$tier: ${rows.length} vs ${ref.size}")
      rows.foreach { r =>
        val k = key(r)
        val w = ref(k)
        val g = Ref.Stats(r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8))
        assert(g == w, s"$tier mismatch at $k: $g vs $w")
      }
    }
    points.unpersist()
  }

  test("chunk blobs round-trip the full tier-0 grid exactly") {
    val points = Ingest.series(tinyDf, 60)
    val chunks = Rollup.toChunks(points, "hour")
    val back = Rollup.fromChunks(chunks)
    assert(back.count() == points.count())
    val diff = back.union(points.select("conv_id", "metric", "ts", "value"))
      .groupBy("conv_id", "metric", "ts", "value").count().where(col("count") =!= 2)
    assert(diff.count() == 0, "chunk round-trip altered points")
  }

  /** `got` holds exactly `want`'s cells, each bit-for-bit: the stored cc is
    * the reference's `[lag0, lag0 + len)` slice (|lag| <= clipSec, all
    * lags when negative), shift/cc_max its first argmax, status -1 iff a
    * side is all-zero, and input_hash (when `hash`) the SHA-256 of side A's
    * then side B's float32 window values.
    */
  private def assertRefCells(got: Seq[graft.core.CcRow], want: Seq[Ref.CcCell],
                             pairs: Seq[(String, String)], windowSec: Long,
                             clipSec: Double, hash: Boolean, what: String): Unit = {
    val npts = (windowSec / 60).toInt
    val pointValue = Ref.series(tiny, 60).map(p => (p.convId, p.metric, p.tsMs) -> p.value).toMap
    def windowHash(pair: String, metric: String, winStartMs: Long): String = {
      val (a, b) = pairs.find { case (x, y) => s"$x-$y" == pair }.get
      val bb = java.nio.ByteBuffer.allocate(4 * 2 * npts)
      for (c <- Seq(a, b); i <- 0 until npts)
        bb.putFloat(pointValue((c, metric, winStartMs + i * 60000L)).toFloat)
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(bb.array()).map("%02x".format(_)).mkString
    }
    val byKey = got.map(c => ((c.pair, c.metric, c.win_start.getTime), c)).toMap
    assert(byKey.size == got.size, s"$what: duplicate cells")
    assert(byKey.keySet == want.map(w => (w.pair, w.metric, w.winStartMs)).toSet,
      s"$what: ${got.size} vs ${want.size} cells")
    val halfKeep = if (clipSec < 0) npts - 1 else (clipSec / 60).toInt
    want.foreach { w =>
      val g = byKey((w.pair, w.metric, w.winStartMs))
      val at = s"$what ${w.pair}@${w.winStartMs}"
      assert(g.npts == npts && g.lag0 == npts - 1 - halfKeep && g.cc.length == 2 * halfKeep + 1, at)
      val slice = w.cc.slice(g.lag0, g.lag0 + g.cc.length)
      g.cc.zip(slice).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"$at lag $i: $a != $b")
      }
      // shift/cc_max: the first argmax of the stored slice
      val jm = slice.indexOf(slice.max)
      assert(g.shift == (g.lag0 + jm - (npts - 1)) * 60.0 && g.cc_max == slice(jm), at)
      if (clipSec < 0) assert(g.shift == w.shift && g.cc_max == w.ccMax, at)
      // status=1 for informative windows; -1 (missing_data) iff a side is
      // all-zero (reference init.py:244-247 semantics)
      assert(g.status == (if (w.cc.forall(_ == 0.0)) -1 else 1), at)
      assert(g.input_hash == (if (hash) windowHash(w.pair, w.metric, w.winStartMs) else ""), at)
    }
  }

  test("windowed pairwise CC matches reference cells bit-for-bit") {
    val pairsSeq = Seq(("conv-000000", "conv-000001"), ("conv-000002", "conv-000005"))
    import spark.implicits._
    val pairsDf = pairsSeq.toDF("conv_a", "conv_b")
    val series = Ingest.series(tinyDf, 60)
    val wins = Correlate.windows(series, windowSec = 1800, strideSec = 900, stepSec = 60)
    val want = Ref.ccPairs(Ref.series(tiny, 60), pairsSeq, stepSec = 60, windowSec = 1800, strideSec = 900)
    assert(want.nonEmpty, "reference produced no CC cells — fixture too sparse")
    // unclipped without hashing, and clipped to |lag| <= 300 s (5 steps)
    // with input hashing
    for ((clip, hash) <- Seq((-1.0, false), (300.0, true))) {
      val got = Correlate.ccPairs(wins, pairsDf, stepSec = 60, windowSec = 1800,
        clipLagSec = clip, hashInputs = hash).collect().toSeq
      assertRefCells(got, want, pairsSeq, 1800, clip, hash, s"clip=$clip")
    }
  }

  test("block walk (ccCells over the job's work list) matches reference cells bit-for-bit") {
    import spark.implicits._
    import graft.jobs.ProcessJob
    // the hot conversations' longer spans leave windows of theirs that the
    // partner lacks: the work list, and so the walk, give those no cell
    val pairsSeq = Seq(("conv-000000", "conv-000001"), ("conv-000000", "conv-000003"),
      ("conv-000002", "conv-000005"))
    val pairsDf = pairsSeq.toDF("conv_a", "conv_b")
    val series = Ingest.seriesSparse(tinyDf, 60).cache()
    val hotOnly = Correlate.candidates(series.where(col("conv_id") === "conv-000000"), 1800, 900, 60)
      .count() - Ref.ccPairs(Ref.series(tiny, 60), Seq(("conv-000000", "conv-000003")), 60, 1800, 900).size
    assert(hotOnly > 0, "fixture: the hot conversation has no window its partner lacks")
    // block B = gcd(window, stride): 600 s (3 per window), 900 s (2), 1800 s (1)
    for ((windowSec, strideSec) <- Seq((1800L, 1200L), (1800L, 900L), (1800L, 1800L))) {
      val want = Ref.ccPairs(Ref.series(tiny, 60), pairsSeq, 60, windowSec, strideSec)
      assert(want.nonEmpty, s"$windowSec/$strideSec: no reference cells")
      val cfg = ProcessJob.Config(stepSec = 60, windowSec = windowSec, strideSec = strideSec)
      val cells = ProcessJob.workList(series, pairsDf, cfg)
      for ((clip, hash) <- Seq((-1.0, false), (300.0, true))) {
        val got = Correlate.ccCells(series, cells, windowSec, strideSec, 60,
          clipLagSec = clip, hashInputs = hash).collect().toSeq
        assertRefCells(got, want, pairsSeq, windowSec, clip, hash,
          s"$windowSec/$strideSec clip=$clip")
      }
    }
    series.unpersist()
  }

  test("per-turn text round-trips byte-equal under stable (conv_id, turn_idx) order") {
    val dir = java.nio.file.Files.createTempDirectory("transcripts").toString
    tinyDf.withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val back = spark.read.parquet(dir)
      .orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text").collect()
    val want = tiny.sortBy(t => (t.conv_id, t.turn_idx))
    assert(back.length == want.length)
    back.zip(want).foreach { case (r, t) =>
      assert(r.getString(0) == t.conv_id && r.getInt(1) == t.turn_idx && r.getString(2) == t.text)
    }
  }

  test("lttb tier keeps <= threshold points per key incl. endpoints") {
    val points = Ingest.series(tinyDf, 60)
    val viz = Rollup.lttbTier(points, 50)
    val sizes = viz.groupBy("conv_id", "metric").count().collect()
    sizes.foreach(r => assert(r.getLong(2) <= 50))
    // endpoints preserved
    val ends = points.groupBy("conv_id", "metric").agg(min("ts").as("t0"), max("ts").as("t1"))
    val j = viz.join(ends, Seq("conv_id", "metric"))
      .groupBy("conv_id", "metric")
      .agg(max((col("ts") === col("t0")).cast("int")).as("hasFirst"),
           max((col("ts") === col("t1")).cast("int")).as("hasLast"))
      .where(col("hasFirst") =!= 1 || col("hasLast") =!= 1)
    assert(j.count() == 0)
  }
}
