package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.RetentionJob
import graft.synth.Transcripts

/** Retention enforcement (graft.jobs.RetentionJob): expiry of sealed
  * fine-tier days, answerability from surviving tiers, idempotence,
  * kill-mid-expiry convergence, and crash-safe compaction.
  */
class RetentionSpec extends AnyFunSuite with SparkSuite {

  /** Build a fresh multi-day tier store via the CLI rollup command. */
  private def freshStore(): String = {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val in = Files.createTempDirectory("ret-in").toString + "/t"
    // 1600 base turns at the generator's pacing spans several days
    Transcripts.generate(spark, 3, 1600).toDF().write.parquet(in)
    val store = Files.createTempDirectory("ret-store").toString
    val conf = Files.createTempFile("ret", ".properties")
    Files.writeString(conf, s"input=$in\noutput=$store\nstep_sec=60")
    cli.Main.run("rollup", conf.toString)
    store
  }

  private def totals(df: DataFrame): Array[(String, String, Long, Double, Double, Double)] =
    df.groupBy("conv_id", "metric")
      .agg(sum("n").as("n"), sum("sum").as("s"), min("min").as("mn"), max("max").as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2))

  private def snapshotCount(store: String): Int =
    graft.meta.TableFormat.snapshots(store).size

  test("expire drops sealed 1m days; totals stay answerable from surviving tiers; rerun is a no-op") {
    val store = freshStore()
    val days = RetentionJob.partitionDays(spark, s"$store/tier_1m")
    assert(days.size >= 3, s"fixture must span >=3 days, got $days")
    val horizon = days.last // expire everything but the newest day

    val before = totals(RetentionJob.tieredRead(spark, store))
    val st = RetentionJob.expire(spark, store, horizon)
    assert(st.expired.sorted == days.init.sorted && st.uncovered.isEmpty, st)
    assert(RetentionJob.partitionDays(spark, s"$store/tier_1m") == Seq(days.last))

    val after = RetentionJob.tieredRead(spark, store)
    // expired days answer from the covering tier, the survivor from 1m
    val tiersByDay = after.select(date_format(col("day"), "yyyy-MM-dd"), col("tier"))
      .distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tiersByDay(days.last) == "tier_1m")
    days.init.foreach(d => assert(tiersByDay(d) == "tier_1h", s"$d served from ${tiersByDay(d)}"))
    assert(totals(after).sameElements(before),
      "range totals must be unchanged by expiry (tiers compose exactly)")

    // idempotence: rerun finds nothing, logs nothing
    val snaps = snapshotCount(store)
    val again = RetentionJob.expire(spark, store, horizon)
    assert(again.candidates.isEmpty && again.expired.isEmpty)
    assert(snapshotCount(store) == snaps, "a no-op rerun must not append a snapshot")
  }

  test("a kill mid-expiry converges: partial delete + rerun ends at the one-shot state") {
    val store = freshStore()
    val days = RetentionJob.partitionDays(spark, s"$store/tier_1m")
    val horizon = days.last
    val before = totals(RetentionJob.tieredRead(spark, store))

    // simulate dying after the first partition delete
    val first = RetentionJob.expire(spark, store, horizon, maxPartitions = 1)
    assert(first.expired.size == 1)
    // resume: the remaining candidates are recomputed from the filesystem
    val resume = RetentionJob.expire(spark, store, horizon)
    assert((first.expired ++ resume.expired).sorted == days.init.sorted)
    assert(RetentionJob.partitionDays(spark, s"$store/tier_1m") == Seq(days.last))
    assert(totals(RetentionJob.tieredRead(spark, store)).sameElements(before))
  }

  test("an unsealed day is never deleted") {
    val store = freshStore()
    val days = RetentionJob.partitionDays(spark, s"$store/tier_1m")
    val broken = days.head
    // break the seal: the covering tier loses that day entirely
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/tier_1h/day=$broken"), true)

    val st = RetentionJob.expire(spark, store, days.last)
    assert(st.uncovered == Seq(broken), st)
    assert(st.expired.sorted == days.init.filterNot(_ == broken).sorted)
    assert(RetentionJob.partitionDays(spark, s"$store/tier_1m").contains(broken),
      "a day the covering tier has not sealed must survive expiry")
  }

  test("an upper tier with no day partitions seals nothing; a missing one fails naming it") {
    val store = freshStore()
    val days = RetentionJob.partitionDays(spark, s"$store/tier_1m")
    val e = intercept[IllegalArgumentException](
      RetentionJob.expire(spark, store, days.last, upperTier = "tier_1hr"))
    assert(e.getMessage.contains(s"$store/tier_1hr"), e.getMessage)

    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val upper = new org.apache.hadoop.fs.Path(s"$store/tier_1h")
    fs.delete(upper, true)
    fs.mkdirs(upper)
    val st = RetentionJob.expire(spark, store, days.last)
    assert(st.expired.isEmpty && st.uncovered.sorted == days.init.sorted, st)
    assert(RetentionJob.partitionDays(spark, s"$store/tier_1m") == days)
  }

  test("two-level retention: expire 1m under 1h, then 1h under 1d; totals still answerable") {
    val store = freshStore()
    val days = RetentionJob.partitionDays(spark, s"$store/tier_1m")
    val before = totals(RetentionJob.tieredRead(spark, store))
    // level 1: 1m days sealed by 1h
    val st1 = RetentionJob.expire(spark, store, days.last)
    assert(st1.uncovered.isEmpty && st1.expired.nonEmpty)
    // level 2: 1h days sealed by 1d (same machinery, one parameter swap)
    val st2 = RetentionJob.expire(spark, store, days.last,
      lowerTier = "tier_1h", upperTier = "tier_1d")
    assert(st2.uncovered.isEmpty && st2.expired.sorted == st1.expired.sorted,
      s"the 1d tier must seal exactly the same days: $st2 vs $st1")
    // old days now served from the COARSEST tier, totals unchanged
    val after = RetentionJob.tieredRead(spark, store)
    val tiersByDay = after.select(date_format(col("day"), "yyyy-MM-dd"), col("tier"))
      .distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    days.init.foreach(d => assert(tiersByDay(d) == "tier_1d", s"$d from ${tiersByDay(d)}"))
    assert(tiersByDay(days.last) == "tier_1m")
    assert(totals(after).sameElements(before))
  }

  test("compaction reduces a day to one file, preserves rows, and recovers an interrupted swap") {
    val store = freshStore()
    val tierDir = s"$store/tier_1m"
    val days = RetentionJob.partitionDays(spark, tierDir)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(day: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$tierDir/day=$day"))
        .count(_.getPath.getName.endsWith(".parquet"))
    def rows(day: String): Long =
      spark.read.parquet(s"$tierDir/day=$day").count()

    val day = days.find(files(_) > 1).getOrElse(fail("fixture wrote single-file days"))
    val nRows = rows(day)
    val compacted = RetentionJob.compactTier(spark, store, "tier_1m", targetFiles = 1)
    assert(compacted.contains(day) && files(day) == 1 && rows(day) == nRows)
    // idempotent: already-compacted days are untouched
    assert(RetentionJob.compactTier(spark, store, "tier_1m", targetFiles = 1).isEmpty)

    // interrupted swap: crash between (day -> trash) and (tmp -> day) —
    // the finished tmp holds the compacted copy, trash holds the original
    val dayPath = new org.apache.hadoop.fs.Path(s"$tierDir/day=$day")
    val tmp = new org.apache.hadoop.fs.Path(s"$tierDir/.compact_day=$day")
    val trash = new org.apache.hadoop.fs.Path(s"$tierDir/.trash_day=$day")
    spark.read.parquet(dayPath.toString).coalesce(1).write.parquet(tmp.toString)
    assert(fs.rename(dayPath, trash))
    RetentionJob.recoverCompaction(spark, tierDir)
    assert(fs.exists(dayPath) && !fs.exists(tmp) && !fs.exists(trash))
    assert(rows(day) == nRows, "recovery must reinstate the compacted copy intact")

    // crash between the swap renames with NO finished tmp: trash holds the
    // only copy -> recovery restores it
    assert(fs.rename(dayPath, trash))
    RetentionJob.recoverCompaction(spark, tierDir)
    assert(fs.exists(dayPath) && !fs.exists(trash) && rows(day) == nRows)
  }
}
