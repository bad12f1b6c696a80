package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import graft.core.RollupRow
import graft.jobs.{ProcessJob, RetentionJob}
import graft.meta.TableFormat
import graft.ops.{Correlate, Ingest, Postprocess, Rollup, Timelapse, Trigger}
import graft.ops.Rollup.ladder

/** Config-file-driven console entry points — the user surface the reference
  * registers as console_scripts (/root/reference/setup.cfg:51-59:
  * xcorr-snr/plmax/psd/ct/timelapse/beamform/swresp, plus the cc driver
  * script /root/reference/xcorr/scripts/cc.py). One launcher, one
  * subcommand per script:
  *
  * {{{
  * spark-submit --class graft.cli.Main xcorrspark.jar <command> <config.properties>
  * commands: cc | snr | ct | psd | plmax | timelapse | beamform | rollup | dedup | asof | streamrollup | retention | serve | curate | prep | ann | distinct | anomaly
  * }}}
  *
  * The config is a flat java.util.Properties file; every command reads
  * `input` (parquet path or cc-table dir) and writes `output`. Defaults
  * mirror the reference scripts' argparse defaults where one exists.
  * Local runs without spark-submit work too (`sbt "runMain graft.cli.Main
  * …"`): master falls back to `spark.master` in the config, then local[*].
  */
object Main {

  final class Conf(p: java.util.Properties) {
    def apply(k: String): String = {
      val v = p.getProperty(k)
      require(v != null, s"config key '$k' is required")
      v
    }
    def get(k: String, d: String): String = Option(p.getProperty(k)).getOrElse(d)
    def long(k: String, d: Long): Long = get(k, d.toString).toLong
    def int(k: String, d: Int): Int = get(k, d.toString).toInt
    def dbl(k: String, d: Double): Double = get(k, d.toString).toDouble
    def bool(k: String, d: Boolean): Boolean = get(k, d.toString).toBoolean
    def opt(k: String): Option[String] = Option(p.getProperty(k))
  }

  def session(c: Conf): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit provides the master; standalone runs fall back
    if (!SparkSession.getActiveSession.exists(_.sparkContext.isLocal))
      c.opt("spark.master").orElse(sys.props.get("spark.master")) match {
        case Some(m) => b.master(m)
        case None if sys.env.contains("SPARK_MASTER") => b.master(sys.env("SPARK_MASTER"))
        case None => b.master("local[*]")
      }
    c.opt("spark.sql.shuffle.partitions").foreach(n => b.config("spark.sql.shuffle.partitions", n))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(c.get("loglevel", "WARN"))
    s
  }

  /** Complete windows (Correlate.windows; keys step_sec, window_sec,
    * stride_sec) of the long-form series from either a transcripts table
    * or an already-long (conv_id, metric, ts, value) table.
    */
  private def windowsOf(spark: SparkSession, c: Conf): DataFrame = {
    val step = c.long("step_sec", 60)
    val in = spark.read.parquet(c("input"))
    val series = if (in.columns.contains("metric")) in else Ingest.seriesSparse(in, step)
    Correlate.windows(series, c.long("window_sec", 86400), c.long("stride_sec", 43200), step)
  }

  /** PSD spectrograms of [[windowsOf]] (keys nperseg, hop). */
  private def spectrogramsOf(spark: SparkSession, c: Conf): DataFrame =
    Timelapse.spectrograms(windowsOf(spark, c), c.long("step_sec", 60).toDouble,
      c.int("nperseg", 64), c.int("hop", 16))

  /** cc — the production driver (↔ scripts/cc.py + core/process.py):
    * transcripts → checkpoint-resumable pairwise windowed CC table.
    * Keys: input, output, step_sec, window_sec, stride_sec, normalize,
    * clip_lag_sec, hash_inputs, pairs (optional parquet of conv_a/conv_b),
    * retry_missing, max_auto_pairs_convs. Without an explicit `pairs` table
    * the implicit all-pairs fallback is GUARDED: it refuses above
    * `max_auto_pairs_convs` (default 1024) distinct conversations, because
    * the triangular pairing is quadratic — at corpus scale the pair list is
    * production CONFIG, not something a CLI default should synthesize (the
    * reference reads its pair list from explicit config,
    * scripts/cc.py:136-145).
    */
  def cc(spark: SparkSession, c: Conf): String = {
    val t = spark.read.parquet(c("input"))
    val cfg = ProcessJob.Config(
      stepSec = c.long("step_sec", 60),
      windowSec = c.long("window_sec", 86400),
      strideSec = c.long("stride_sec", 43200),
      normalize = c.bool("normalize", true),
      clipLagSec = c.dbl("clip_lag_sec", -1),
      hashInputs = c.bool("hash_inputs", false))
    val pairs = c.opt("pairs") match {
      case Some(p) => spark.read.parquet(p)
      case None    => Correlate.allPairs(Ingest.seriesSparse(t, cfg.stepSec),
        maxConvs = c.long("max_auto_pairs_convs", 1024))
    }
    val st = ProcessJob.run(spark, t, pairs, c("output"), cfg,
      retryMissing = c.bool("retry_missing", false))
    s"cc: ${st.written} of ${st.total} cells written (resume-aware) -> ${c("output")}"
  }

  /** snr — postprocess chain + SNR (↔ xcorr-snr): validated cc-table read,
    * unbias → demean → taper → timeshift → filter → taper → lag window
    * (global or per-pair celerity), then SNR. Keys: input (cc table dir),
    * output, step_sec, unbias, taper_sec, filter_freq_hz, filter_order,
    * taper2_sec, lag_min_sec, lag_max_sec, pair_distance (optional parquet),
    * celerity_min, celerity_max, signal_min, signal_max, noise_min,
    * noise_max, envelope, power, decibels.
    */
  def snr(spark: SparkSession, c: Conf): String = {
    val step = c.dbl("step_sec", 60)
    val cc = ProcessJob.readCc(spark, c("input"))
    val post = Postprocess(cc, Postprocess.Config(
      stepSec = step,
      lagMinSec = c.dbl("lag_min_sec", Double.NegativeInfinity),
      lagMaxSec = c.dbl("lag_max_sec", Double.PositiveInfinity),
      unbias = c.bool("unbias", true),
      taperSec = c.dbl("taper_sec", 300),
      filterFreqHz = c.dbl("filter_freq_hz", 0),
      filterOrder = c.int("filter_order", 2),
      taper2Sec = c.dbl("taper2_sec", 90),
      celerityMin = c.dbl("celerity_min", 1460),
      celerityMax = c.dbl("celerity_max", 1500)),
      c.opt("pair_distance").map(spark.read.parquet))
    val out = Postprocess.snr(post, step,
      signalBand = (c.dbl("signal_min", -300), c.dbl("signal_max", 300)),
      noiseBand = (c.dbl("noise_min", 600), c.dbl("noise_max", 1800)),
      envelope = c.bool("envelope", false),
      power = c.bool("power", false),
      decibels = c.bool("decibels", false))
    out.write.mode("overwrite").parquet(c("output"))
    s"snr -> ${c("output")}"
  }

  /** ct — coincidence trigger (↔ xcorr-ct): characteristic function
    * (key, time, value — by default pair/win_start/snr of an snr table) →
    * trigger periods. Keys: input, output, threshold, coincidence,
    * step_sec, min_duration_steps, extend_steps, values_output (optional:
    * also write the period-labeled cf rows).
    */
  def ct(spark: SparkSession, c: Conf): String = {
    val in = spark.read.parquet(c("input"))
    val cf =
      if (in.columns.contains("key")) in
      else in.select(col("pair").as("key"), col("win_start").as("time"), col("snr").as("value"))
    val periods = Trigger.periods(cf,
      thrOn = c.dbl("threshold", 10),
      coincidence = c.int("coincidence", 2),
      stepSec = c.long("step_sec", 60),
      minDurationSteps = c.int("min_duration_steps", 3),
      extendSteps = c.int("extend_steps", 0))
    periods.write.mode("overwrite").parquet(c("output"))
    c.opt("values_output").foreach(p =>
      Trigger.values(cf, spark.read.parquet(c("output")), c.long("step_sec", 60))
        .write.mode("overwrite").parquet(p))
    s"ct -> ${c("output")}"
  }

  /** psd — per-window PSD spectrograms (↔ xcorr-psd): series/transcripts →
    * windows → spectrograms. Keys: input, output, step_sec, window_sec,
    * stride_sec, nperseg, hop.
    */
  def psd(spark: SparkSession, c: Conf): String = {
    spectrogramsOf(spark, c).write.mode("overwrite").parquet(c("output"))
    s"psd -> ${c("output")}"
  }

  /** plmax — per-window local maxima of the PSD spectrogram
    * (↔ xcorr-plmax, /root/reference/xcorr/scripts/plmax.py): series →
    * windows → spectrograms → 2-D peak_local_max, top `max_peaks` per
    * window. Keys as psd, plus min_distance, threshold_rel, max_peaks.
    */
  def plmax(spark: SparkSession, c: Conf): String = {
    import spark.implicits._
    val minDist = c.int("min_distance", 1)
    val thrRel = c.dbl("threshold_rel", 0.1)
    val maxPeaks = c.int("max_peaks", 3)
    spectrogramsOf(spark, c)
      .select(col("conv_id"), col("metric"), col("win_start"),
        col("spec"), col("n_seg"), col("n_freq"))
      .as[(String, String, java.sql.Timestamp, Array[Double], Int, Int)]
      .flatMap { case (cid, met, w, spec, nSeg, nFreq) =>
        // peakLocalMax is well-defined for any nSeg, nFreq >= 1 — no
        // silent window dropping
        val m = Array.tabulate(nSeg, nFreq)((i, j) => spec(i * nFreq + j))
        graft.kernel.Signal2d.peakLocalMax(m, minDist, thrRel)
          .take(maxPeaks).map { case (i, j, v) => (cid, met, w, i, j, v) }
      }
      .toDF("conv_id", "metric", "win_start", "seg_idx", "freq_idx", "power")
      .write.mode("overwrite").parquet(c("output"))
    s"plmax -> ${c("output")}"
  }

  /** timelapse — second-order (time1 × time2) spectrogram CC matrix
    * (↔ xcorr-timelapse). Keys as psd.
    */
  def timelapse(spark: SparkSession, c: Conf): String = {
    Timelapse.matrix(spectrogramsOf(spark, c), c.long("step_sec", 60).toDouble)
      .write.mode("overwrite").parquet(c("output"))
    s"timelapse -> ${c("output")}"
  }

  /** beamform — plane-wave least squares per (metric, window)
    * (↔ xcorr-beamform; Correlate.planeWaves): series + receiver
    * coordinates → one (metric, win_start, doa_deg, velocity, residual)
    * row per window. Keys: input, output, step_sec, window_sec,
    * stride_sec, coords (conv_id:x:y,conv_id:x:y,…).
    */
  def beamform(spark: SparkSession, c: Conf): String = {
    val coords: Map[String, (Double, Double)] = c("coords").split(",").map { s =>
      val Array(id, x, y) = s.trim.split(":")
      id -> ((x.toDouble, y.toDouble))
    }.toMap
    Correlate.planeWaves(windowsOf(spark, c), coords, c.long("step_sec", 60))
      .write.mode("overwrite").parquet(c("output"))
    s"beamform -> ${c("output")}"
  }

  /** A stored tier's columns: the stats row and its `day` partition. The
    * higher tiers read the tier below with it, so no read infers a schema.
    */
  private lazy val tierSchema = Encoders.product[RollupRow].schema.add("day", DateType)

  /** rollup — continuous-aggregate cascade (engine-new, the north-rule
    * job): series/transcripts → the `Rollup.ladder` tiers (1m/1h/1d), each
    * day-partitioned so retention can expire a day with one partition drop
    * (the layout `graft.jobs.RetentionJob` enforces). The input is read
    * once, for tier-1; each higher tier is folded (`Rollup.fromLower`) from
    * the STORED tier below it — the walk `streamrollup` runs over its
    * sealed tiers. Keys: input, output, step_sec.
    */
  def rollup(spark: SparkSession, c: Conf): String = {
    val in = spark.read.parquet(c("input"))
    val out = c("output")
    val unit = ladder.head.unit
    val tier1 =
      if (in.columns.contains("metric")) Rollup.fromPoints(in, unit)
      else Rollup.tier1FromBuckets(
        Ingest.bucketed(in, c.long("step_sec", 60)), c.long("step_sec", 60), unit)
    RetentionJob.writeTier(tier1, s"$out/${ladder.head.dir}")
    ladder.zip(ladder.tail).foreach { case (lower, upper) =>
      RetentionJob.writeTier(
        Rollup.fromLower(spark.read.schema(tierSchema).parquet(s"$out/${lower.dir}"), upper.unit),
        s"$out/${upper.dir}")
    }
    s"rollup -> $out/tier_{1m,1h,1d}"
  }

  /** retention — enforce the tier store's retention policy (engine-new;
    * the reference's analog is its skip-processed status flags over the
    * (pair, year, doy) file layout, xcorr/io/filesystem.py:28-97): expire
    * lower-tier day partitions strictly older than `older_than` (ISO date)
    * or `keep_days` (relative to the newest lower-tier day) once the
    * covering tier seals them exactly; optionally compact surviving
    * partitions of `compact_tier` to `target_files` files each. Idempotent,
    * snapshot-logged, kill-safe (see graft.jobs.RetentionJob). Also folds
    * the store's `_snapshots` manifest into one checkpoint file
    * (TableFormat.compactSnapshots — the manifest otherwise grows one
    * object per job run forever; opt out with compact_snapshots=false).
    * Keys: input (store dir), lower_tier, upper_tier, older_than |
    * keep_days, max_partitions, compact_tier, target_files,
    * compact_snapshots.
    */
  def retention(spark: SparkSession, c: Conf): String = {
    val store = c("input")
    val lower = c.get("lower_tier", ladder(0).dir)
    val done = retentionStep(spark, c, store, lower, c.get("upper_tier", ladder(1).dir),
      c.opt("older_than"), c.long("keep_days", 30), c.int("max_partitions", -1),
      c.opt("compact_tier")
        .map(t => RetentionJob.compactTier(spark, store, t, c.int("target_files", 1)))
        .getOrElse(Nil))
    require(done.nonEmpty, s"no day partitions under $store/$lower and no older_than given")
    val (st, compacted, pruned) = done.get
    s"retention: expired ${st.expired.size} of ${st.candidates.size} candidate days " +
      s"(${st.pointsExpired} pts; uncovered skipped: ${st.uncovered.size}); " +
      s"compacted ${compacted.size} partitions; manifest files pruned: $pruned"
  }

  /** The retention step of `retention` and `streamrollup`: expire `lower`
    * days older than `olderThan` — by default `keepDays` before the newest
    * `lower` day — once `upper` seals them, run `compact`, then fold the
    * store's `_snapshots` manifest (key compact_snapshots). The fold runs
    * AFTER this run's own snapshot records are appended, so the run that
    * just happened is inside the checkpoint too. None when no `olderThan`
    * is given and `lower` has no day partitions.
    */
  private def retentionStep(
      spark: SparkSession, c: Conf, store: String, lower: String, upper: String,
      olderThan: Option[String], keepDays: => Long, maxPartitions: Int = -1,
      compact: => Seq[String] = Nil
  ): Option[(RetentionJob.ExpiryStats, Seq[String], Int)] =
    olderThan
      .orElse(RetentionJob.partitionDays(spark, s"$store/$lower").lastOption
        .map(java.time.LocalDate.parse(_).minusDays(keepDays).toString))
      .map { horizon =>
        val st = RetentionJob.expire(spark, store, horizon, lower, upper, maxPartitions)
        val compacted = compact
        val pruned = if (c.bool("compact_snapshots", true)) TableFormat.compactSnapshots(store) else 0
        (st, compacted, pruned)
      }

  /** dedup — near-duplicate cluster assignment over a documents table
    * (engine-new; no reference counterpart). Keys: input (parquet with
    * id_col + text_col), output, mode = exact | minhash (default) |
    * winnow (MOSS fingerprints; keys k, w, min_shared, max_df),
    * id_col, text_col, ngram, n_hashes, rows_per_band. Output one row per
    * document: (doc_id, cluster_id, keep) — keep marks the canonical
    * member of each near-dup group, chosen by `keep_by`:
    * `min_id` (default — the cluster label itself) or `centrality`
    * (PageRank over the same candidate graph, most-central wins with
    * round-6 rank order and id tiebreak — the q125 semantics; a template
    * family keeps its hub, not whichever member happens to sort first;
    * keys `iterations`, `damping`).
    */
  def dedup(spark: SparkSession, c: Conf): String = {
    import graft.ops.Dedup
    val in = spark.read.parquet(c("input"))
    val idCol = c.get("id_col", "doc_id")
    val textCol = c.get("text_col", "text")
    val edges = c.get("mode", "minhash") match {
      case "minhash" => Dedup.minhashLshCandidates(in, idCol, textCol,
        n = c.int("ngram", 3), nHashes = c.int("n_hashes", 8),
        rowsPerBand = c.int("rows_per_band", 2))
      case "winnow" => graft.ops.Winnow.candidatePairs(in, idCol, textCol,
          k = c.int("k", 5), w = c.int("w", 4),
          minShared = c.int("min_shared", 2), maxDf = c.int("max_df", 50))
        .select(col("a").as("d1"), col("b").as("d2"))
      case "exact" =>
        val h = in.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
        val keep = h.groupBy(col("h")).agg(min(col("doc_id")).as("d1"))
        h.join(keep, "h").where(col("doc_id") =!= col("d1"))
          .select(col("d1"), col("doc_id").as("d2"))
      case m => throw new IllegalArgumentException(s"unknown dedup mode '$m'")
    }
    val clustered = Dedup.clusters(edges, "d1", "d2", in, idCol)
    val kept = c.get("keep_by", "min_id") match {
      case "min_id" =>
        clustered.withColumn("keep", col("doc_id") === col("cluster_id"))
      case "centrality" =>
        val pr = graft.ops.Graph.pageRank(in, idCol,
            edges, "d1", "d2",
            iterations = c.int("iterations", 3),
            d = c.get("damping", "0.85").toDouble)
          .select(col(idCol).as("doc_id"), round(col("rank"), 6).as("rank_r"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))
          .orderBy(col("rank_r").desc, col("doc_id").asc)
        // rank_r rides along so downstream audits can check the argmax
        clustered.join(pr, "doc_id")
          .withColumn("keep", row_number().over(w) === 1)
      case kb => throw new IllegalArgumentException(
        s"unknown keep_by '$kb' (have: min_id, centrality)")
    }
    kept.write.mode("overwrite").parquet(c("output"))
    s"dedup -> ${c("output")}"
  }

  /** curate — the corpus-curation pipeline (Gopher repetition filter →
    * exact-dedup keeper → n-gram decontamination → deterministic hash
    * split), written PARTITIONED BY split so a trainer reads only
    * `split=train`. Keys: input, output, id_col, text_col, and either
    * `bench` (parquet path of an external holdout table) or `bench_mod`
    * (holdout = id % bench_mod == 0, default 10); min_words, shingle_n,
    * threshold_pct.
    */
  def curate(spark: SparkSession, c: Conf): String = {
    import graft.ops.Curation
    val in = spark.read.parquet(c("input"))
    val idCol = c.get("id_col", "doc_id")
    val textCol = c.get("text_col", "text")
    val (minW, n, pct) =
      (c.int("min_words", 5), c.int("shingle_n", 5), c.int("threshold_pct", 10))
    val out = c.opt("bench") match {
      case Some(bp) => Curation.curateAgainst(in, spark.read.parquet(bp),
        idCol, textCol, minW, n, pct)
      case None => Curation.curate(in, idCol, textCol,
        benchPred = col(idCol) % c.int("bench_mod", 10) === 0,
        minWords = minW, shingleN = n, thresholdPct = pct)
    }
    out.write.mode("overwrite").partitionBy("split").parquet(c("output"))
    // read back with the EXPLICIT schema: an all-filtered corpus writes
    // only _SUCCESS, and schema inference on an empty dir would throw
    // after the (successful) write
    val counts = spark.read.schema(out.schema).parquet(c("output"))
      .groupBy("split").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")
    s"curate -> ${c("output")} ($counts)"
  }

  /** prep — the trainer-facing last mile over a kept corpus
    * (graft.ops.TrainPrep), downstream of `curate`: PII scrub, then
    * token-budget sequence packing over the CLEAN text, then optional
    * sliding-window chunks. Keys: input, output, id_col (doc_id),
    * text_col (text), budget (2048), shards (64), chunk_size (0 = skip
    * the chunk output), stride (chunk_size/2 when unset). Outputs:
    * output/clean (docs + redaction counts + clean text), output/packing
    * (per-doc sequence placement), output/chunks (when chunk_size > 0).
    * Packing and chunking read the STORED clean table back (one scrub
    * pass, not one per stage).
    */
  def prep(spark: SparkSession, c: Conf): String = {
    import graft.ops.TrainPrep
    val idCol = c.get("id_col", "doc_id")
    val textCol = c.get("text_col", "text")
    val out = c("output")
    val clean = TrainPrep.scrubPii(spark.read.parquet(c("input")), textCol)
    clean.write.mode("overwrite").parquet(s"$out/clean")
    val stored = spark.read.schema(clean.schema).parquet(s"$out/clean")
    val packed = TrainPrep.pack(stored, idCol, "clean",
      budget = c.int("budget", 2048), nShards = c.int("shards", 64))
    packed.write.mode("overwrite").parquet(s"$out/packing")
    // total training sequences = Σ_shard (max last_seq + 1); one tiny agg
    val seqs = spark.read.schema(packed.schema).parquet(s"$out/packing")
      .groupBy("shard").agg(max(col("last_seq")).as("m"))
      .agg(coalesce(sum(col("m") + 1L), lit(0L))).collect()(0).getLong(0)
    val scrubbed = stored
      .where(col("n_emails") + col("n_phones") + col("n_ips") > 0).count()
    val chunkMsg = c.int("chunk_size", 0) match {
      case n if n > 0 =>
        val ch = TrainPrep.chunk(stored, idCol, "clean", n, c.int("stride", math.max(n / 2, 1)))
        ch.write.mode("overwrite").parquet(s"$out/chunks")
        s", ${spark.read.schema(ch.schema).parquet(s"$out/chunks").count()} chunks"
      case _ => ""
    }
    s"prep -> $out ($scrubbed docs scrubbed, $seqs sequences$chunkMsg)"
  }

  /** asof — as-of enrichment of an event table from a reference table.
    * Keys: left, right (parquet paths), output, keys (comma-separated),
    * left_ts, right_ts, pick (comma-separated right columns),
    * tolerance_sec (optional).
    */
  def asof(spark: SparkSession, c: Conf): String = {
    val out = graft.ops.AsofJoin.leftAsof(
      spark.read.parquet(c("left")), spark.read.parquet(c("right")),
      keys = c("keys").split(',').map(_.trim).toSeq,
      leftTs = c.get("left_ts", "ts"), rightTs = c.get("right_ts", "ts"),
      pick = c("pick").split(',').map(_.trim).toSeq,
      toleranceSec = c.opt("tolerance_sec").map(_.toLong))
    out.write.mode("overwrite").parquet(c("output"))
    s"asof -> ${c("output")}"
  }

  /** streamrollup — the LIVE retention pipeline: streaming tier-1 (1 m)
    * stats from a transcript feed (graft.streaming.StreamingRollup), then
    * each higher `Rollup.ladder` tier folded by `Rollup.fromLower` from the
    * sealed stream of the stored tier below it — the walk `rollup` runs in
    * batch — each tier a parquet sink with its own checkpoint. Triggers
    * are AvailableNow, so a cron re-run processes only NEW input files and
    * state (open windows, watermarks) resumes from the checkpoints — a
    * rerun over unchanged input writes nothing.
    * Keys: input (transcript parquet dir — the stream source), output,
    * lateness (watermark, default "5 minutes"), retention_keep_days
    * (optional: expire 1m days older than this once 1h seals them),
    * compact_snapshots (with retention, as in `retention`).
    */
  def streamrollup(spark: SparkSession, c: Conf): String = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingRollup
    val out = c("output")
    val lateness = c.get("lateness", "5 minutes")
    def runStage(df: DataFrame, name: String): Unit = {
      // day partitioning = the retention unit (graft.jobs.RetentionJob
      // expires a sealed day with one partition drop)
      val q = RetentionJob.withDay(df)
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$out/$name")
        .option("checkpointLocation", s"$out/_checkpoints/$name")
        .partitionBy("day")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val inSchema = spark.read.parquet(c("input")).schema
    runStage(StreamingRollup.tier1Stats(
      spark.readStream.schema(inSchema).parquet(c("input")), lateness), ladder.head.dir)
    // higher tiers fold the SEALED lower stream
    ladder.zip(ladder.tail).foreach { case (lower, upper) =>
      runStage(Rollup.fromLower(
        spark.readStream.schema(tierSchema).parquet(s"$out/${lower.dir}"), upper.unit), upper.dir)
    }
    // optional in-pipeline retention: with the higher tiers freshly sealed,
    // expire 1m days older than `retention_keep_days` (idempotent — a day
    // the 1h tier has not fully sealed is skipped, never deleted); the
    // manifest fold matters here too: this cron loop is exactly the writer
    // that grows _snapshots one record per run
    val ret = c.opt("retention_keep_days").map { kd =>
      retentionStep(spark, c, out, ladder(0).dir, ladder(1).dir, None, kd.toLong) match {
        case None => "; retention: no 1m partitions yet"
        case Some((st, _, pruned)) =>
          s"; retention: expired ${st.expired.size} 1m days, ${st.uncovered.size} unsealed kept" +
            s"; manifest files pruned: $pruned"
      }
    }.getOrElse("")
    s"streamrollup: tiers 1m/1h/1d (resumable checkpoints) -> $out$ret"
  }

  /** ann — IVF-PQ vector index build + query (the embedding-serving
    * surface). `mode=index`: input = (vec_id, embedding) parquet →
    * output/{coarse,codebook,codes}; codes are written PARTITIONED BY
    * cent_id so a query scans only its nProbe lists. By default the
    * coarse/sub codebooks are the deterministic lowest-id stand-ins; pass
    * `coarse`/`codebook` parquet paths (cent_id, cv double-array) to use
    * externally trained ones — the index format is identical.
    * `mode=query`: `index` = dir from mode=index, input = queries parquet
    * (vec_id, embedding) → output = top-k parquet (q_id, neighbor_id,
    * adc, rk). Index keys: n_centroids, k, n_sub, dim; query keys:
    * n_probe, top_k — nSub/dim are derived from the stored index, never
    * from query config (a mismatch would silently null-rank every
    * candidate).
    */
  def ann(spark: SparkSession, c: Conf): String = {
    import graft.ops.Similarity
    c.get("mode", "index") match {
      case "index" =>
        val nSub = c.int("n_sub", 8)
        val dim = c.int("dim", 64)
        val emb = spark.read.parquet(c("input"))
        val e = emb.select(col("vec_id"), expr(Similarity.castVec).as("v"))
        def standIn(n: Int) = e.where(col("vec_id") < n)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        val coarse = c.opt("coarse").map(spark.read.parquet)
          .getOrElse(standIn(c.int("n_centroids", 8)))
        val codebook = c.opt("codebook").map(spark.read.parquet)
          .getOrElse(standIn(c.int("k", 16)))
        val out = c("output")
        coarse.write.mode("overwrite").parquet(s"$out/coarse")
        codebook.write.mode("overwrite").parquet(s"$out/codebook")
        val lists = Similarity.pqEncodeWith(emb, codebook, nSub, dim)
          .join(Similarity.ivfAssign(e, coarse).select(col("vec_id"), col("cent_id")),
            Seq("vec_id"))
        lists.write.mode("overwrite").partitionBy("cent_id").parquet(s"$out/codes")
        // explicit schema: an empty corpus writes only _SUCCESS and schema
        // inference would throw after the (successful) write — same guard
        // as the curate command's count read-back
        val n = spark.read.schema(lists.schema).parquet(s"$out/codes").count()
        s"ann index: $n vectors coded into ${coarse.count()} lists -> $out"
      case "query" =>
        val idx = c("index")
        val codebook = spark.read.parquet(s"$idx/codebook")
        val codes = spark.read.parquet(s"$idx/codes")
        // nSub/dim are PROPERTIES OF THE STORED INDEX, never config: a
        // mismatched n_sub would make zip_with(codes, lut) null-pad and
        // rank every candidate at adc null — silently wrong top-k. Derive
        // both from the index itself.
        val dim = codebook.select(size(col("cv"))).head().getInt(0)
        val nSub = codes.select(size(col("codes"))).head().getInt(0)
        val res = Similarity.ivfPqQuery(
          spark.read.parquet(c("input")),
          spark.read.parquet(s"$idx/coarse"),
          codebook, codes,
          topK = c.int("top_k", 3), nProbe = c.int("n_probe", 2),
          nSub = nSub, dim = dim)
        res.write.mode("overwrite").parquet(c("output"))
        val n = spark.read.schema(res.schema).parquet(c("output")).count()
        s"ann query: $n result rows (top_k=${c.int("top_k", 3)}, nSub=$nSub, dim=$dim) -> ${c("output")}"
      case m => throw new IllegalArgumentException(s"unknown ann mode '$m'")
    }
  }

  /** distinct — stored per-day HLL sketch build + range serving (the
    * cardinality companion to `ann`'s stored vector index, and the
    * retention story's payoff: expire raw days, keep ≤2^p-row sketches,
    * still answer "distinct ids in [from, to]").
    * `mode=build`: input parquet + `ts_col`/`id_col` → output/registers
    * PARTITIONED BY day (yyyy-MM-dd string, so a range query
    * partition-prunes to its days) + output/meta carrying p — a property
    * of the stored sketch, never query config (the ann discipline: a
    * mismatched p would silently mis-scale the estimate).
    * `mode=query`: `index` = build dir, optional `from`/`to` (inclusive
    * yyyy-MM-dd; lexicographic = chronological) → folds the in-range day
    * registers ([[graft.ops.Sketch.foldRegisters]]) and estimates
    * ([[graft.ops.Sketch.hllEstimate]]); writes the 1-row
    * (m, occupied, estimate) to output. Raw data is never read.
    */
  def distinctCmd(spark: SparkSession, c: Conf): String = {
    import graft.ops.Sketch
    c.get("mode", "build") match {
      case "build" =>
        val p = c.int("p", 8)
        val in = spark.read.parquet(c("input"))
        val regs = Sketch.hllRegistersBy(
          in.withColumn("day", date_format(col(c.get("ts_col", "ts")), "yyyy-MM-dd")),
          Seq("day"), c.get("id_col", "user_id"), p)
        val out = c("output")
        regs.write.mode("overwrite").partitionBy("day").parquet(s"$out/registers")
        spark.range(1).select(lit(p).as("p"))
          .write.mode("overwrite").parquet(s"$out/meta")
        val days = spark.read.schema(regs.schema).parquet(s"$out/registers")
          .select("day").distinct().count()
        s"distinct build: $days day sketches (p=$p) -> $out"
      case "query" =>
        val idx = c("index")
        val p = spark.read.parquet(s"$idx/meta").head().getAs[Int]("p")
        // explicit schema: partition-value inference would type day as
        // DATE, breaking the documented lexicographic-STRING range
        // contract (and a malformed bound would cast to NULL and silently
        // select zero days instead of erroring)
        val regs0 = spark.read.schema("bucket INT, register INT, day STRING")
          .parquet(s"$idx/registers")
        val from = c.opt("from")
        val to = c.opt("to")
        for (b <- from.iterator ++ to.iterator)
          require(b.matches("""\d{4}-\d{2}-\d{2}"""),
            s"range bounds must be yyyy-MM-dd, got '$b'")
        val regs = regs0
          .where(from.map(col("day") >= _).getOrElse(lit(true)) &&
            to.map(col("day") <= _).getOrElse(lit(true)))
        val est = Sketch.hllEstimate(Sketch.foldRegisters(regs, Nil), p)
        est.write.mode("overwrite").parquet(c("output"))
        val row = spark.read.parquet(c("output")).head()
        f"distinct query: estimate ${row.getAs[Double]("estimate")}%.1f over " +
          s"${regs.select("day").distinct().count()} day sketches (p=$p) -> ${c("output")}"
      case m => throw new IllegalArgumentException(s"unknown distinct mode '$m'")
    }
  }

  /** anomaly — robust median/MAD outlier flags over a series or tier
    * table (engine-new; the live counterpart of the reference's
    * running-RMS pre-trigger screening, signal/rms.py:15-60). Keys:
    * input, output, key_cols (comma list, default conv_id,metric),
    * ts_col (default chunk_start — tier tables from `rollup`/
    * `streamrollup` work unchanged), value_col (default n), win (rows,
    * default 9), k (default 3), and mode:
    *
    *  - `batch` (default): trailing window via
    *    SeriesStats.trailingMadAnomaly; `centered=true` switches to the
    *    ±halfWin centered window (win must then be odd).
    *  - `stream`: input is a LIVE parquet dir (e.g. the streamrollup 1m
    *    sink); StreamingAnomaly.flags runs as a resumable AvailableNow
    *    query (checkpoint under output/_checkpoints) — rerun with no new
    *    input files is a no-op, flags are final on arrival (no
    *    watermark). The key is concat_ws("\u0001", key_cols) — trailing
    *    state is per composite key.
    */
  def anomaly(spark: SparkSession, c: Conf): String = {
    import graft.ops.SeriesStats
    import graft.streaming.StreamingAnomaly
    val keyCols = c.get("key_cols", "conv_id,metric").split(",").map(_.trim).toSeq
    val tsCol = c.get("ts_col", "chunk_start")
    val valueCol = c.get("value_col", "n")
    val win = c.int("win", 9)
    val k = c.int("k", 3)
    c.get("mode", "batch") match {
      case "batch" =>
        val in = spark.read.parquet(c("input"))
        val flags =
          if (c.bool("centered", false)) {
            require(win % 2 == 1, s"centered mode needs an odd win, got $win")
            SeriesStats.rollingMadAnomaly(in, keyCols, tsCol, valueCol, (win - 1) / 2, k)
          } else SeriesStats.trailingMadAnomaly(in, keyCols, tsCol, valueCol, win, k)
        flags.write.mode("overwrite").parquet(c("output"))
        val n = spark.read.parquet(c("output")).where(col("is_anomaly")).count()
        s"anomaly: $n flagged rows -> ${c("output")}"
      case "stream" =>
        import org.apache.spark.sql.streaming.Trigger
        val out = c("output")
        val inSchema = spark.read.parquet(c("input")).schema
        val keyed = spark.readStream.schema(inSchema).parquet(c("input"))
          .withColumn("__key", concat_ws("\u0001", keyCols.map(col): _*))
        val q = StreamingAnomaly.flags(keyed, "__key", tsCol, valueCol, win, k)
          .writeStream.outputMode("append").format("parquet")
          .option("path", s"$out/flags")
          .option("checkpointLocation", s"$out/_checkpoints/flags")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val n = spark.read.parquet(s"$out/flags").where(col("is_anomaly")).count()
        s"anomaly stream: $n flagged rows so far (resumable) -> $out/flags"
      case m => throw new IllegalArgumentException(s"unknown anomaly mode '$m'")
    }
  }

  /** serve — answer one dashboard request from a tier store written by
    * `rollup`/`streamrollup`: pick the finest tier whose grid fits
    * `max_points` over [t0, t1) (graft.ops.Rollup.serve — a 1h panel
    * reads 1m cells, a 90-day panel reads 1d cells, raw points are never
    * scanned), read ONLY that tier with day-partition pruning, tag rows
    * with the chosen step. Keys: input (store dir containing
    * tier_1m/tier_1h/tier_1d), t0, t1 ('yyyy-MM-dd HH:mm:ss'),
    * max_points, output. Downsampling below the tier grid is the viz
    * ops' job (Rollup.m4 / lttbTier) — serve routes, it does not resample.
    */
  def serve(spark: SparkSession, c: Conf): String = {
    val t0 = java.sql.Timestamp.valueOf(c("t0"))
    val t1 = java.sql.Timestamp.valueOf(c("t1"))
    require(t1.after(t0), s"empty request window: t0=$t0 t1=$t1")
    val dirs = ladder.map(t => t.stepSec -> t.dir).toMap
    var step = 0L // the tier Rollup.serve picks
    Rollup.serve({ s => step = s; spark.read.parquet(s"${c("input")}/${dirs(s)}") },
        t0, t1, c.long("max_points", 1000))
      .write.mode("overwrite").parquet(c("output"))
    s"serve: step=${step}s over [$t0, $t1) -> ${c("output")}"
  }

  val commands: Map[String, (SparkSession, Conf) => String] = Map(
    "cc" -> cc, "snr" -> snr, "ct" -> ct, "psd" -> psd, "plmax" -> plmax,
    "timelapse" -> timelapse, "beamform" -> beamform, "rollup" -> rollup,
    "dedup" -> dedup, "asof" -> asof, "streamrollup" -> streamrollup,
    "retention" -> retention, "curate" -> curate, "ann" -> ann,
    "distinct" -> distinctCmd, "anomaly" -> anomaly, "prep" -> prep,
    "serve" -> serve)

  def run(command: String, configPath: String): String = {
    require(commands.contains(command),
      s"unknown command '$command' (have: ${commands.keys.toSeq.sorted.mkString(", ")})")
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(configPath))
    try p.load(in) finally in.close()
    val c = new Conf(p)
    val spark = session(c)
    commands(command)(spark, c)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      s"usage: graft.cli.Main <${commands.keys.toSeq.sorted.mkString("|")}> <config.properties>")
    println(run(args(0), args(1)))
  }
}
