package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{CcRow, ManifestRow}
import graft.meta.{Cf19, Hasher, TableFormat}
import graft.ops.{Correlate, Ingest}

/** Checkpoint-resumable CC production job — the Spark re-expression of the
  * reference driver loop (/root/reference/xcorr/core/process.py:23-185 and
  * lazy orchestration /root/reference/xcorr/core/lazy.py:26-82):
  *
  *  - work item  = (pair, metric, win_start) ↔ the reference's (pair, time)
  *    cell with status flags {-1 missing, 0 todo, 1 done}
  *    (/root/reference/xcorr/core/init.py:237-249);
  *  - availability pre-gating (↔ lazy.py:128-177): one action over the
  *    cached series collects the paired conversations' window-start bounds
  *    (`Correlate.bounds`, spans only — no window arrays are assembled to
  *    decide what to do), and the driver intersects them into one range of
  *    window starts per (pair, metric). The total is the ranges' sum; the
  *    cells are exploded from the ranges inside the plans that read them.
  *    A pairs table that lists a pair twice yields each cell once;
  *  - "skip already processed" = LEFT ANTI join of the cells against the
  *    manifest (process.py:93-104's `status != 0` skip — Spark has no
  *    cross-run memo, so the manifest table IS the memo, SURVEY.md §4),
  *    with per-key status resolved LATEST-WINS so a `retry_missing` run
  *    that upgrades a cell from -1 to 1 is never shadowed by the old row.
  *    One per-pair aggregate of the remaining cells, collected, gives the
  *    pending count and the pending pairs; with no manifest every cell is
  *    pending and no action runs;
  *  - driver memory: the pair list, the bounds and the ranges, all
  *    O(pairs × metrics) rows — the pair list the walk broadcasts is of the
  *    same order. The cells, O(pairs × windows), stay distributed and are
  *    never cached, counted or collected;
  *  - the pending cells drive `Correlate.ccCells`: the series is densified
  *    once into gcd(window, stride) blocks, and one pair-keyed exchange
  *    carries the blocks of the pending conversations plus one marker per
  *    pending cell into a sorted block walk. Each marker yields exactly one
  *    CC row, so the job computes and writes only its pending cells;
  *  - results append-write, manifest rows written AFTER data (write-after-
  *    data ordering): a crash between the two re-computes a deterministic
  *    result; `readCc` collapses duplicates freshest-wins (highest status —
  *    equal-status duplicates are bit-identical recomputes);
  *  - one manifest row per CC row, with the kernel's status, the window
  *    points read (2 × npts) and the lag points stored (`size(cc)`); the
  *    job config hash is revalidated like the reference's preprocess hash
  *    gate (/root/reference/xcorr/core/process.py:68-73).
  *  - table properties are written before the first data append, and a
  *    run into a directory whose properties fail their own metadata hash,
  *    or name another job config, fails before any work.
  *
  * All filesystem probes go through Hadoop `FileSystem`, so manifests and
  * snapshots work on cluster storage (HDFS/S3), not only local disk.
  */
object ProcessJob {

  final case class Config(
      stepSec: Long = 60,
      windowSec: Long = 3600,
      strideSec: Long = 3600,
      normalize: Boolean = true,
      clipLagSec: Double = -1,
      // per-cell sha256 of the input windows, stored on each cc row
      // (↔ reference `hash` var, init.py:252-272 — costly, off by default)
      hashInputs: Boolean = false
  ) {
    def hash: String = Hasher.hashObj(Map(
      "stepSec" -> stepSec, "windowSec" -> windowSec, "strideSec" -> strideSec,
      "normalize" -> normalize, "clipLagSec" -> clipLagSec,
      "hashInputs" -> hashInputs))
  }

  final case class Stats(total: Long, pending: Long, written: Long)

  private def manifestPath(outDir: String) = s"$outDir/_manifest"
  private def dataPath(outDir: String) = s"$outDir/data"

  /** True if the directory (recursively) holds at least one parquet part —
    * an existing-but-empty dir (e.g. created by a crashed write) must read
    * as an empty table, not an inference error. Hadoop FileSystem, so any
    * scheme the cluster mounts (file:, hdfs:, s3a:) works.
    */
  private def hasParquet(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return false
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    }
    false
  }

  /** The config-hash gate: when `outDir` already holds table properties,
    * they must pass their own metadata hash and carry `cfgHash` as the job
    * config — appending cells of a second config would leave `readCc` to
    * pick between equal-status rows of both.
    */
  private def checkStoredConfig(spark: SparkSession, outDir: String, cfgHash: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir, "_table_properties.json")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) return
    val props = TableFormat.readProps(outDir)
    val stored = props.getOrElse("sha256_hash_metadata", "")
    val recomputed = Hasher.hashObj(props)
    if (stored != recomputed)
      throw new IllegalStateException(s"$outDir: table properties fail their metadata " +
        s"hash: stored=$stored recomputed=$recomputed")
    val job = props.getOrElse("job_config_sha256", "")
    if (job != cfgHash)
      throw new IllegalStateException(s"$outDir holds cells of job config $job, " +
        s"not this run's $cfgHash: write to a new output directory")
  }

  /** The manifest key `metric|pair|epoch seconds` of a row with `metric`
    * and `win_start` columns and the given pair id.
    */
  private[graft] def partitionKey(pair: Column): Column =
    concat_ws("|", col("metric"), pair, unix_timestamp(col("win_start")))

  /** The full work list: the cells (partition_key, conv_a, conv_b, metric,
    * win_start) of each distinct pair where both sides have a complete
    * window, with each pair's cell count on the driver. One action collects
    * the paired conversations' window-start bounds from the spans-only
    * `Correlate.bounds` pre-gate, so no window array is assembled to decide
    * the work; the driver intersects them per (conv_a, conv_b, metric) into
    * one range [max lo, min hi], and the cells are exploded from those
    * ranges in the plan that reads them, never collected. A pair listed
    * twice is one pair.
    */
  private[graft] def workList(series: DataFrame, pairs: DataFrame, cfg: Config): Correlate.Cells = {
    val spark = series.sparkSession
    import spark.implicits._
    val distinct = pairs.select(col("conv_a"), col("conv_b")).as[(String, String)].collect().distinct.toSeq
    val convs = distinct.flatMap(p => Seq(p._1, p._2)).distinct
    val bounds = Correlate.bounds(series.where(col("conv_id").isin(convs: _*)),
        cfg.windowSec, cfg.strideSec, cfg.stepSec)
      .as[(String, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> (r._3, r._4)).toMap).toMap
    val ranges = for {
      (a, b) <- distinct
      (metric, (loA, hiA)) <- bounds.getOrElse(a, Map.empty[String, (Long, Long)]).toSeq
      (loB, hiB) <- bounds.getOrElse(b, Map.empty[String, (Long, Long)]).get(metric).toSeq
      (lo, hi) = (math.max(loA, loB), math.min(hiA, hiB))
      if lo <= hi
    } yield (a, b, metric, lo, hi)
    val cells = ranges.toDF("conv_a", "conv_b", "metric", "lo", "hi")
      .select(col("conv_a"), col("conv_b"), col("metric"),
        explode(sequence(col("lo"), col("hi"), lit(cfg.strideSec))).as("win_start_s"))
      .withColumn("win_start", timestamp_seconds(col("win_start_s")))
      .select(
        partitionKey(Correlate.pairId).as("partition_key"),
        col("conv_a"), col("conv_b"), col("metric"), col("win_start")
      )
    Correlate.Cells(cells,
      ranges.groupMapReduce(r => (r._1, r._2))(r => (r._5 - r._4) / cfg.strideSec + 1)(_ + _).toSeq)
  }

  /** The manifest rows of `outDir`, read with the `ManifestRow` schema (no
    * schema inference job); empty when no manifest was written.
    */
  def readManifest(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val p = manifestPath(outDir)
    if (hasParquet(spark, p)) spark.read.schema(Encoders.product[ManifestRow].schema).parquet(p)
    else spark.emptyDataset[ManifestRow].toDF()
  }

  /** Completed CC table with freshest-wins duplicate collapse: the row with
    * the highest status per key wins (a retry upgrades -1 → 1; equal-status
    * duplicates are bit-identical deterministic recomputes, so any of them
    * is exact). Empty, with the stored columns (`CcRow`'s and `day`), when
    * no cell was ever written.
    */
  def readCc(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val p = dataPath(outDir)
    if (!hasParquet(spark, p))
      return spark.emptyDataset[CcRow].toDF().withColumn("day", lit(null).cast("date"))
    val w = Window.partitionBy(col("pair"), col("metric"), col("win_start"))
      .orderBy(col("status").desc)
    spark.read.parquet(p)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Run (or resume) the job.
    *
    * @param retryMissing re-process cells previously flagged -1
    *                     (missing_data), mirroring the reference's
    *                     `retry_missing` (process.py:93-104)
    */
  def run(
      spark: SparkSession,
      transcripts: DataFrame,
      pairs: DataFrame,
      outDir: String,
      cfg: Config = Config(),
      retryMissing: Boolean = false
  ): Stats = {
    import spark.implicits._
    // a bad grid fails before any action, also when no cell is pending
    Correlate.checkGrid(cfg.windowSec, cfg.strideSec, cfg.stepSec)
    val startedTs = new java.sql.Timestamp(System.currentTimeMillis())
    checkStoredConfig(spark, outDir, cfg.hash)
    val jobId = s"ccjob-${cfg.hash.take(12)}"

    // one materialization of the series feeds BOTH the work-list planning
    // and the block walk — round 1 recomputed the whole ingest lineage once
    // per consumer. The SPARSE form (occupied buckets only) is sufficient
    // and exact for windowed CC: the blocks reconstruct zeros and spans are
    // gap-fill-invariant (OpsSpec asserts bitwise equality of the two
    // forms' windows).
    val series = Ingest.seriesSparse(transcripts, cfg.stepSec)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val work = workList(series, pairs, cfg)
    val nTotal = work.count

    // skip cells already processed (status=1) and — unless retrying —
    // cells flagged missing_data (status=-1), exactly the reference's
    // status-flag skip (process.py:93-104). Status per key is the LATEST
    // manifest row's: a retry that appended 1 after -1 must read as 1. A
    // cell with a 1 row is never recomputed, so a key's rows are -1s then at
    // most one 1, and its latest status is done iff some row's status is.
    // With no manifest, every cell is pending; otherwise one per-pair
    // aggregate over the remaining cells, collected, gives the pending
    // pairs and their count together.
    val pending =
      if (!hasParquet(spark, manifestPath(outDir))) work
      else {
        val doneStatuses = if (retryMissing) Seq(1) else Seq(1, -1)
        val done = readManifest(spark, outDir)
          .where(col("job_id") === jobId && col("status").isin(doneStatuses: _*))
          .select(col("partition_key"))
        val cells = work.df.join(done, Seq("partition_key"), "left_anti")
        Correlate.Cells(cells, cells.groupBy(col("conv_a"), col("conv_b")).count()
          .as[(String, String, Long)].collect().toSeq.map(r => (r._1, r._2) -> r._3))
      }
    val nPending = pending.count

    if (nPending > 0) {
      // one CC row per pending cell: the block walk emits a cell at each
      // marker, so no window is assembled for a cell that is not pending
      val cc = Correlate.ccCells(series, pending, cfg.windowSec, cfg.strideSec, cfg.stepSec,
        cfg.normalize, clipLagSec = cfg.clipLagSec, hashInputs = cfg.hashInputs)

      // properties BEFORE the first data append: a run that dies after
      // appending cells must leave the config-hash gate something to check
      val cfgHash = cfg.hash
      TableFormat.writeProps(outDir, Cf19.props(
        title = "xcorrspark pairwise cross-correlation",
        extra = Map("job_config_sha256" -> cfgHash)))
      val ccCached = cc.cache()
      ccCached.toDF()
        .withColumn("day", to_date(col("win_start")))
        .write.mode(SaveMode.Append).partitionBy("day").parquet(dataPath(outDir))

      // manifest AFTER data: crash between the two → deterministic recompute.
      // Written distributed (no driver collect — the work list can be huge
      // at production scale). One row per CC row: both windows' points in,
      // the stored lag points out.
      ccCached.toDF()
        .select(
          lit(jobId).as("job_id"),
          lit("cc").as("stage"),
          partitionKey(col("pair")).as("partition_key"),
          // carry the kernel's verdict: 1 processed, -1 missing_data
          // (degenerate window), matching init.py:244-247 flag semantics
          col("status"),
          (col("npts") * 2L).as("rows_in"),
          size(col("cc")).cast("long").as("rows_out"),
          lit(startedTs).as("started_ts"),
          current_timestamp().as("finished_ts"),
          lit(cfgHash).as("input_hash"),
          lit(s"xcorrspark: ccCells(${cfgHash.take(8)})").as("history")
        )
        .write.mode(SaveMode.Append).parquet(manifestPath(outDir))
      ccCached.unpersist()

      TableFormat.appendSnapshot(outDir, Map(
        "job_id" -> jobId, "written" -> nPending.toString, "config" -> cfgHash))
    }
    series.unpersist()
    Stats(nTotal, nPending, nPending)
  }
}
