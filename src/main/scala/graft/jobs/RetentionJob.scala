package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.TableFormat

/** Retention ENFORCEMENT for the rollup tier store — the piece that makes
  * the 1m/1h/1d cascade an actual retention policy at 100 TB instead of an
  * ever-growing set of tables: expire fine-tier day partitions once the
  * covering coarse tier has sealed them, compact surviving partitions, and
  * route range queries to the finest SURVIVING tier.
  *
  * The reference's analog is its file-per-(pair, year, doy) SDS layout plus
  * status-flag skip (/root/reference/xcorr/io/filesystem.py:28-97,
  * /root/reference/xcorr/core/process.py:93-104): old data stops being
  * touched because the flags say so. Here the flags are replaced by the
  * strongest possible seal — EXACT point-count equality between a lower-tier
  * day and the covering higher-tier chunks (the tiers compose exactly, so a
  * covered day's n/sum/min/max/first/last are fully answerable from the
  * higher tier) — and every expiry is snapshot-logged through the same
  * `_snapshots` commit log the process job uses.
  *
  * Store layout (written through [[withDay]]/[[writeTier]] by `cli.Main`
  * rollup/streamrollup): one dir per tier (`tier_1m`, `tier_1h`,
  * `tier_1d`), each parquet partitioned by `day=YYYY-MM-DD`. Partition dirs are the unit of expiry — a drop is one
  * recursive delete per day, no rewrite, exactly the Iceberg
  * drop-partition/expire-snapshot shape.
  *
  * Crash safety: expiry deletes are independent per day and the candidate
  * list is recomputed from the filesystem, so a kill mid-expiry converges on
  * rerun (already-deleted days are simply no longer candidates) and a rerun
  * over an already-enforced store is a no-op that writes no snapshot.
  */
object RetentionJob {

  final case class ExpiryStats(
      candidates: Seq[String],
      expired: Seq[String],
      uncovered: Seq[String],
      pointsExpired: Long)

  private def fsOf(spark: SparkSession, p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** day=YYYY-MM-DD partition values present under a tier dir — partition
    * METADATA (one listing), no data scan; the Iceberg analog reads the
    * manifest's partition summaries.
    */
  def partitionDays(spark: SparkSession, tierDir: String): Seq[String] = {
    val (fs, path) = fsOf(spark, tierDir)
    if (!fs.exists(path)) return Seq.empty
    fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
      .map(_.getPath.getName.stripPrefix("day="))
      .sorted
  }

  /** A tier's cells tagged with the store's partition column: the UTC
    * `day` of `chunk_start`.
    */
  private[graft] def withDay(tier: DataFrame): DataFrame =
    tier.withColumn("day", to_date(col("chunk_start")))

  /** Write a batch tier to `path` in the store layout, replacing it. */
  private[graft] def writeTier(tier: DataFrame, path: String): Unit =
    withDay(tier).write.mode("overwrite").partitionBy("day").parquet(path)

  private def readTier(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read.parquet(dir)
    if (df.columns.contains("day")) df else withDay(df)
  }

  /** Read a day-partitioned tier by EXPLICIT partition paths. Two reasons
    * over a root read + filter: (1) exact pruning without trusting the
    * optimizer; (2) STREAMING-SINK tiers carry a `_spark_metadata`
    * exactly-once log that still lists expired files — a single-path read
    * resolves through that log and crashes on the deleted files, while a
    * multi-path read bypasses it (the log must stay: the higher-tier
    * cascade's file source uses it to know which files it already
    * processed, and never re-opens expired ones).
    */
  private def readTierDays(spark: SparkSession, tierDir: String, days: Seq[String]): DataFrame = {
    require(days.nonEmpty, "readTierDays needs at least one day")
    spark.read.option("basePath", tierDir)
      .parquet(days.map(d => s"$tierDir/day=$d"): _*)
  }

  /** Expire lower-tier day partitions strictly older than `olderThan` whose
    * points are EXACTLY accounted for in the covering tier (per-day sum(n)
    * equality — the tiers compose, so equality means every lower cell is
    * sealed above). Days that fail the seal check are skipped and reported,
    * never deleted. `maxPartitions` > 0 bounds the deletes per invocation
    * (the resume tests use it to simulate a kill mid-expiry).
    */
  def expire(
      spark: SparkSession,
      storeDir: String,
      olderThan: String,
      lowerTier: String = "tier_1m",
      upperTier: String = "tier_1h",
      maxPartitions: Int = -1
  ): ExpiryStats = {
    val lowerDir = s"$storeDir/$lowerTier"
    val upperDir = s"$storeDir/$upperTier"
    val all = partitionDays(spark, lowerDir)
    var candidates = all.filter(_ < olderThan)
    if (maxPartitions > 0) candidates = candidates.take(maxPartitions)
    if (candidates.isEmpty) return ExpiryStats(Nil, Nil, Nil, 0L)

    // seal check, partition-pruned on BOTH sides (the candidate-day filter
    // reaches the scans; the upper read derives day from chunk_start when
    // the tier predates day-partitioning)
    val (lowerN, upperN) = sealCheckFrames(spark, lowerDir, upperDir, candidates)
    val sealCheck = lowerN.join(upperN, Seq("day"), "left")
      .select(col("day"), col("lower_n"),
        coalesce(col("upper_n"), lit(0L)).as("upper_n"))
      .collect() // one row per candidate DAY — bounded by the horizon, not data
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq

    val (covered, uncovered) = sealCheck.partition { case (_, lo, up) => lo == up }
    val (fs, _) = fsOf(spark, lowerDir)
    covered.foreach { case (day, _, _) =>
      fs.delete(new Path(s"$lowerDir/day=$day"), true)
    }
    if (covered.nonEmpty) {
      TableFormat.appendSnapshot(storeDir, Map(
        "job" -> "retention-expire",
        "tier" -> lowerTier,
        "covered_by" -> upperTier,
        "older_than" -> olderThan,
        "expired_days" -> covered.map(_._1).mkString(","),
        "points_expired" -> covered.map(_._2).sum.toString))
    }
    ExpiryStats(candidates, covered.map(_._1), uncovered.map(_._1),
      covered.map(_._2).sum)
  }

  /** The seal check's two aggregation frames — per candidate day, the
    * total point count on each side. Filters use DATE literals on the
    * partition column directly (a cast around it would defeat partition
    * pruning and turn the check into a full-tier scan — plan-gated in
    * PlanSpec); the string form is re-derived AFTER the filter for the
    * join/output.
    */
  private[graft] def sealCheckFrames(
      spark: SparkSession, lowerDir: String, upperDir: String,
      candidates: Seq[String]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val candDates = candidates.map(java.sql.Date.valueOf)
    def agg(df: DataFrame, out: String) = df
      .where(col("day").isInCollection(candDates))
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(sum(col("n")).as(out))
    def side(dir: String, out: String): DataFrame = {
      val present = partitionDays(spark, dir).intersect(candidates)
      if (present.nonEmpty) agg(readTierDays(spark, dir, present), out)
      else if (partitionDays(spark, dir).nonEmpty) // day-partitioned, none of the candidates present
        Seq.empty[(String, Long)].toDF("day", out)
      else agg(readTier(spark, dir), out) // legacy non-day-partitioned tier: derived day
    }
    (side(lowerDir, "lower_n"), side(upperDir, "upper_n"))
  }

  /** Compact a tier's day partitions down to `targetFiles` parquet files
    * each (streaming sinks leave one small file per micro-batch — the
    * 100 TB small-file problem). Per day: write the compacted copy to a
    * hidden tmp dir, swap via two renames (day -> trash, tmp -> day), then
    * drop the trash; [[recoverCompaction]] completes any swap a kill
    * interrupted, so rerun-after-crash converges and no state loses rows.
    * Days already at or under `targetFiles` are untouched (idempotent).
    */
  def compactTier(
      spark: SparkSession,
      storeDir: String,
      tier: String,
      targetFiles: Int = 1
  ): Seq[String] = {
    val tierDir = s"$storeDir/$tier"
    recoverCompaction(spark, tierDir)
    val (fs, _) = fsOf(spark, tierDir)
    val compacted = partitionDays(spark, tierDir).filter { day =>
      val dayPath = new Path(s"$tierDir/day=$day")
      val nFiles = fs.listStatus(dayPath).count(_.getPath.getName.endsWith(".parquet"))
      if (nFiles <= targetFiles) false
      else {
        val tmp = new Path(s"$tierDir/.compact_day=$day")
        val trash = new Path(s"$tierDir/.trash_day=$day")
        fs.delete(tmp, true) // stale attempt from a dead run
        spark.read.parquet(dayPath.toString)
          .coalesce(targetFiles)
          .write.parquet(tmp.toString)
        fs.rename(dayPath, trash)
        fs.rename(tmp, dayPath)
        fs.delete(trash, true)
        true
      }
    }
    if (compacted.nonEmpty)
      TableFormat.appendSnapshot(storeDir, Map(
        "job" -> "retention-compact", "tier" -> tier,
        "days" -> compacted.mkString(","),
        "target_files" -> targetFiles.toString))
    compacted
  }

  /** Finish compaction swaps interrupted by a kill: a finished tmp dir
    * (`_SUCCESS` present) with its day dir missing is renamed into place; a
    * surviving trash dir whose day dir exists again is dropped; anything
    * else hidden is a dead partial write and is removed.
    */
  def recoverCompaction(spark: SparkSession, tierDir: String): Unit = {
    val (fs, path) = fsOf(spark, tierDir)
    if (!fs.exists(path)) return
    val hidden = fs.listStatus(path).map(_.getPath.getName)
    // tmp dirs FIRST (a finished tmp is the newest valid copy), trash after
    // — listStatus order is unspecified and a trash restore must not race
    // a pending tmp promotion
    hidden.filter(_.startsWith(".compact_day=")).foreach { name =>
      val tmp = new Path(tierDir, name)
      val day = new Path(tierDir, name.stripPrefix(".compact_"))
      val finished = fs.exists(new Path(tmp, "_SUCCESS"))
      if (finished && !fs.exists(day)) fs.rename(tmp, day)
      else fs.delete(tmp, true) // stale or unfinished attempt — the day dir (or its trash) still holds the data
    }
    hidden.filter(_.startsWith(".trash_day=")).foreach { name =>
      val trash = new Path(tierDir, name)
      val day = new Path(tierDir, name.stripPrefix(".trash_"))
      // crash between the two swap renames with no finished tmp: the trash
      // holds the ONLY copy -> restore it; otherwise it's a dead original
      if (!fs.exists(day)) fs.rename(trash, day)
      else fs.delete(trash, true)
    }
  }

  /** Read the store routing each day to the FINEST surviving tier — the
    * query surface that makes expiry invisible: an expired range answers
    * from the tier that sealed it. Output columns: the composable stats +
    * `day` + `tier`. Tier membership comes from partition listings (no data
    * scan); each tier is then read partition-pruned to exactly the days it
    * serves.
    */
  def tieredRead(
      spark: SparkSession,
      storeDir: String,
      tiers: Seq[String] = Seq("tier_1m", "tier_1h", "tier_1d")
  ): DataFrame = {
    val daysByTier = tiers.map(t => t -> partitionDays(spark, s"$storeDir/$t"))
    var served = Set.empty[String]
    val parts = daysByTier.flatMap { case (tier, days) =>
      val mine = days.filterNot(served.contains)
      served ++= mine
      if (mine.isEmpty) None
      else Some(readTierDays(spark, s"$storeDir/$tier", mine)
        .select(col("conv_id"), col("metric"), col("chunk_start"),
          col("n"), col("sum"), col("min"), col("max"),
          col("first"), col("last"),
          col("day").cast("date").as("day"), lit(tier).as("tier")))
    }
    require(parts.nonEmpty, s"no tier data under $storeDir")
    parts.reduce(_.unionByName(_))
  }
}
