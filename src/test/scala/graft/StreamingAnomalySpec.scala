package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SeriesStats
import graft.streaming.StreamingAnomaly

/** Gates for the live trailing-MAD anomaly face: the pure fold's
  * split-vs-whole law (micro-batch boundaries are invisible), exact
  * equality between the streaming query and the batch trailing operator
  * on the same rows, and the trailing/centered relationship.
  */
class StreamingAnomalySpec extends AnyFunSuite with SparkSuite {

  private def ts(min: Int) = new Timestamp((1704067200L + min * 60L) * 1000L)

  private def seriesDf(rows: Seq[(String, Int, Long)]) = {
    import spark.implicits._
    rows.map { case (k, m, x) => (k, ts(m), x) }.toDF("k", "ts", "x")
  }

  test("fold: split-vs-whole law at every split point (batch boundaries invisible)") {
    val rows = Seq(5L, 5L, 50L, 5L, 6L, 4L, 99L, 5L, 5L, 5L).zipWithIndex
      .map { case (x, i) => (ts(i), x) }
    for (win <- Seq(2, 3, 4, 5); split <- 0 to rows.length) {
      val (whole, tailW) = StreamingAnomaly.fold(Nil, rows, win, 3)
      val (a, tailA) = StreamingAnomaly.fold(Nil, rows.take(split), win, 3)
      val (b, tailB) = StreamingAnomaly.fold(tailA, rows.drop(split), win, 3)
      assert(a ++ b == whole, s"win=$win split=$split: flags differ")
      assert(tailB == tailW, s"win=$win split=$split: carried tail differs")
    }
  }

  test("fold: hand-computed flags — a spike against a flat tail is anomalous") {
    // win=4, k=3: rows 5,5,5,50 -> at the 50: window [5,5,5,50] sorted,
    // med2 = 5+5 = 10, dev2 = sorted(|10-10|,0,0,|100-10|) = [0,0,0,90],
    // mad4 = 0+0 = 0 -> 2*|100-10| = 180 > 0 -> flagged
    val rows = Seq(5L, 5L, 5L, 50L).zipWithIndex.map { case (x, i) => (ts(i), x) }
    val (flags, _) = StreamingAnomaly.fold(Nil, rows, win = 4, k = 3)
    assert(flags.map(_.is_anomaly) == Seq(false, false, false, true))
    assert(flags.last.med2 == 10L && flags.last.mad4 == 0L)
    // first row: window [5] -> med2 = 10, mad4 = 0, |2*5-10| = 0 -> not flagged
    assert(flags.head.med2 == 10L && !flags.head.is_anomaly)
  }

  test("streaming flags == batch trailingMadAnomaly on the same sealed rows") {
    import spark.implicits._
    val rows = (0 until 60).flatMap { i =>
      val base = Seq(("A", i, (5 + (i % 3)).toLong), ("B", i, 100L))
      if (i == 30) Seq(("A", i, 500L), ("B", i, 1L)) else base
    }
    val df = seriesDf(rows)
    val dir = java.nio.file.Files.createTempDirectory("anomaly-in").toString
    df.write.mode("overwrite").parquet(dir)

    val streamIn = spark.readStream.schema(df.schema).parquet(dir)
    val q = StreamingAnomaly.flags(streamIn, "k", "ts", "x", win = 5, k = 3)
      .writeStream.outputMode("append").format("memory").queryName("anomaly_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.sql(
      "SELECT key, ts, x, med2, mad4, is_anomaly FROM anomaly_stream")
    val want = SeriesStats.trailingMadAnomaly(df, Seq("k"), "ts", "x", win = 5, k = 3)
      .select(col("k").as("key"), col("ts"), col("x"),
        col("med2"), col("mad4"), col("is_anomaly"))
    assert(got.count() == df.count(), "one flag per input row")
    val cols = got.columns.toSeq
    val diff = got.union(want.select(cols.map(col): _*))
      .groupBy(cols.map(col): _*).count().where(col("count") =!= 2)
    assert(diff.count() == 0, "streaming flags differ from batch trailing operator")
    // the planted spikes are flagged
    assert(got.where(col("is_anomaly") && col("x") === 500L).count() == 1)
  }

  test("trailing window never sees the future: a later spike cannot flag an earlier row") {
    // centered q102-style window WOULD flag row 2 (its window holds the
    // spike); the trailing window must not
    val df = seriesDf(Seq(("A", 0, 5L), ("A", 1, 5L), ("A", 2, 5L), ("A", 3, 500L)))
    val trail = SeriesStats.trailingMadAnomaly(df, Seq("k"), "ts", "x", win = 3, k = 3)
      .orderBy("ts").collect().map(_.getAs[Boolean]("is_anomaly")).toSeq
    assert(trail == Seq(false, false, false, true))
  }
}
