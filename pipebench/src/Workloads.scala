package pipebench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cli.Main
import graft.codec.ChunkBlob
import graft.jobs.ProcessJob
import graft.ops.{Correlate, Ingest, Rollup}
import graft.refimpl.Ref
import graft.synth.Transcripts

/** Shape of one generated transcript table: `Transcripts.generate` with
  * `hotConvs` conversations (the first ids) at `hotFactor`× the turns.
  */
final case class Sizes(nConvs: Int, baseTurns: Int, hotConvs: Int, hotFactor: Int) {
  def convs(idx: Seq[Long], seed: Long): Seq[graft.core.Transcript] =
    idx.flatMap(i => Transcripts.genConv(seed, i, baseTurns, hotConvs, hotFactor, Workload.StartSec))
}

/** One benchmark workload. [[PipelineBench]] calls [[setup]] (timed as set-up),
  * then per operation [[prepare]] (untimed) and [[op]] (timed), then reads
  * the output through [[digest]] and [[check]] (untimed).
  */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long, val sz: Sizes) {
  import Workload._
  def setup(): Unit
  def prepare(): Unit
  /** Run one operation; returns the input turns it consumed. Spans go to
    * `tr` when tracing.
    */
  def op(tr: Option[Tracer]): Long
  /** Directory whose bytes are the operation's output. */
  def outputDir: String
  /** Order-independent content digest of the operation's output. */
  def digest(): String
  /** Full output check against the single-node reference; failures. */
  def check(): Seq[String]
  /** Untimed first operation in a fresh JVM (JIT, page faults). */
  def warmUp(): Unit = { prepare(); op(None) }
  /** Layer-by-layer pass: each layer's public function is called on its own
    * and its output materialized, inside a span named after the layer.
    */
  def layers(tr: Tracer): Unit
  /** Rows of the whole input table after the operation's input landed. */
  def tableRows: Long

  val in = s"$dir/transcripts"

  protected def writeTranscripts(path: String): Unit = {
    import spark.implicits._
    Transcripts.generate(spark, sz.nConvs, sz.baseTurns, sz.hotConvs, sz.hotFactor, seed, StartSec)
      .toDF().write.mode("overwrite").parquet(path)
  }

  protected def sp[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))
}

object Workload {
  val StartSec = 1704067200L // 2024-01-01T00:00:00Z, the generator's default
  val StepSec = 60L

  def conf(kv: (String, String)*): Main.Conf = {
    val p = new java.util.Properties()
    kv.foreach { case (k, v) => p.setProperty(k, v) }
    new Main.Conf(p)
  }

  /** Per table: row count and sum of 31-bit row hashes over every column,
    * all tables in one Spark job.
    */
  def tableDigests(tables: Seq[(String, DataFrame)]): Seq[(String, String)] = {
    val hashed = tables.map { case (name, df) =>
      df.select(lit(name).as("t"),
        pmod(xxhash64(df.columns.sorted.toSeq.map(col): _*), lit(2147483647L)).as("h"))
    }
    val got = hashed.reduce(_ unionByName _).groupBy(col("t")).agg(count(lit(1)), sum(col("h")))
      .collect().map(r => r.getString(0) -> s"${r.getLong(1)}:${r.getLong(2)}").toMap
    tables.map { case (name, _) => name -> got.getOrElse(name, "0:0") }
  }

  def digestOf(parts: Seq[(String, String)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { case (k, v) => md.update(s"$k=$v;".getBytes("UTF-8")) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** CC table (freshest-wins) plus the manifest's per-status cell counts;
    * the manifest's timestamps are left out, they differ on every run.
    */
  def ccDigest(spark: SparkSession, out: String): Seq[(String, String)] = {
    val m = ProcessJob.readManifest(spark, out)
      .groupBy(col("partition_key")).agg(max(col("status")).as("status"))
      .groupBy(col("status")).count().collect()
      .map(r => s"${r.get(0)}:${r.getLong(1)}").sorted.mkString(",")
    tableDigests(Seq("cc" -> ProcessJob.readCc(spark, out))) :+ ("manifest" -> m)
  }

  def ringPairs(spark: SparkSession, n: Int, neighbours: Int): DataFrame = {
    import spark.implicits._
    (0 until n).flatMap(i => (1 to neighbours).filter(i + _ < n)
      .map(j => (Transcripts.convId(i), Transcripts.convId(i + j))))
      .toDF("conv_a", "conv_b")
  }

  /** CC job settings shared by cc_batch and append: 8 h windows at a 2 h
    * stride on the 60 s grid (480 samples), lags clipped to ±3600 s.
    */
  val CcConfig = ProcessJob.Config(stepSec = StepSec, windowSec = 28800, strideSec = 7200,
    clipLagSec = 3600)
  val Neighbours = 4

  /** A failure message unless `got == want`. */
  def same[T](what: String, got: T, want: T): Seq[String] =
    if (got == want) Nil else Seq(s"$what differs from the reference")

  /** Compare the stored CC rows of the sampled pairs with `Ref.ccPairs`. */
  def checkCcPairs(spark: SparkSession, out: String, sz: Sizes, seed: Long,
                   pairs: Seq[(Long, Long)]): Seq[String] = {
    val cfg = CcConfig
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val pts = Ref.series(sz.convs(ids, seed), cfg.stepSec)
    val named = pairs.map(p => (Transcripts.convId(p._1), Transcripts.convId(p._2)))
    val want = Ref.ccPairs(pts, named, cfg.stepSec, cfg.windowSec, cfg.strideSec)
    val n = (cfg.windowSec / cfg.stepSec).toInt
    val half = math.min(n - 1, math.floor(cfg.clipLagSec / cfg.stepSec + 1e-9).toInt)
    val wantRows = want.map { c =>
      val clipped = java.util.Arrays.copyOfRange(c.cc, n - 1 - half, n + half)
      var jm = 0
      for (j <- clipped.indices) if (clipped(j) > clipped(jm)) jm = j
      (c.pair, c.metric, c.winStartMs) -> (clipped.toSeq.map(java.lang.Double.doubleToLongBits),
        (jm - half) * cfg.stepSec.toDouble, clipped(jm), n, n - 1 - half)
    }.toMap
    val gotRows = ProcessJob.readCc(spark, out)
      .where(col("pair").isin(named.map(p => s"${p._1}-${p._2}"): _*))
      .select("pair", "metric", "win_start", "cc", "shift", "cc_max", "npts", "lag0")
      .collect().map { r =>
        (r.getString(0), r.getString(1), r.getTimestamp(2).getTime) ->
          (r.getSeq[Double](3).map(java.lang.Double.doubleToLongBits), r.getDouble(4), r.getDouble(5),
            r.getInt(6), r.getInt(7))
      }.toMap
    val cells = if (wantRows.isEmpty) Seq("no CC cells for the sampled pairs") else Nil
    cells ++ same("CC rows of the sampled pairs", gotRows, wantRows)
  }

  /** Manifest cell counts equal the data rows, per status. */
  def checkManifest(spark: SparkSession, out: String): Seq[String] = {
    val m = ProcessJob.readManifest(spark, out)
      .groupBy(col("partition_key")).agg(max(col("status")).as("status"))
      .groupBy(col("status")).count().collect().map(r => r.getByte(0).toInt -> r.getLong(1)).toMap
    val d = ProcessJob.readCc(spark, out)
      .groupBy(col("status")).count().collect().map(r => r.getByte(0).toInt -> r.getLong(1)).toMap
    same("manifest cell counts", m, d)
  }
}

/** Stored transcripts → the CLI `rollup` command's day-partitioned
  * 1m/1h/1d tiers, the day-chunked Gorilla blobs and the LTTB(1000) tier.
  */
final class RollupBatch(spark: SparkSession, dir: String, seed: Long, sz: Sizes)
    extends Workload(spark, dir, seed, sz) {
  import Workload._
  private val out = s"$dir/out"
  def outputDir: String = out
  var turns = 0L
  def tableRows: Long = turns
  val Lttb = 1000
  private val tiers = Seq("tier_1m", "tier_1h", "tier_1d")

  def setup(): Unit = {
    writeTranscripts(in)
    turns = spark.read.parquet(in).count()
  }
  def prepare(): Unit = Fs.rm(out)

  def op(tr: Option[Tracer]): Long = {
    sp(tr, "e2e.cli_rollup") {
      Main.rollup(spark, conf("input" -> in, "output" -> out, "step_sec" -> StepSec.toString))
    }
    sp(tr, "e2e.chunks") {
      Rollup.toChunks(Ingest.series(spark.read.parquet(in), StepSec), "day").write.parquet(s"$out/chunks")
    }
    sp(tr, "e2e.lttb") {
      Rollup.lttbTier(Ingest.series(spark.read.parquet(in), StepSec), Lttb).write.parquet(s"$out/lttb")
    }
    turns
  }

  def digest(): String =
    digestOf(tableDigests((tiers :+ "chunks" :+ "lttb").map(t => t -> spark.read.parquet(s"$out/$t"))))

  def check(): Seq[String] = {
    // the first ids are the hot conversations
    val idx = Seq(0L, sz.nConvs / 2L, sz.nConvs - 1L)
    val ids = idx.map(Transcripts.convId)
    val pts = Ref.series(sz.convs(idx, seed), StepSec)
    val m = Ref.rollup(pts, "minute")
    val h = Ref.rollupFromLower(m, "hour")
    val d = Ref.rollupFromLower(h, "day")
    def sample(t: String) = spark.read.parquet(s"$out/$t").where(col("conv_id").isin(ids: _*))
    def tier(t: String) = sample(t).collect().map { r =>
      (r.getAs[String]("conv_id"), r.getAs[String]("metric"), r.getAs[Timestamp]("chunk_start").getTime) ->
        Ref.Stats(r.getAs[Long]("n"), r.getAs[Double]("sum"), r.getAs[Double]("min"),
          r.getAs[Double]("max"), r.getAs[Double]("first"), r.getAs[Double]("last"))
    }.toMap
    val byChunk = pts.groupBy(p => (p.convId, p.metric, Ref.truncMs(p.tsMs, "day")))
      .map { case (k, ps) => k -> ps.sortBy(_.tsMs) }
    val chunks = sample("chunks").collect().map { r =>
      val (ts, vs) = ChunkBlob.decode(r.getAs[Array[Byte]]("chunk_blob"))
      (r.getAs[String]("conv_id"), r.getAs[String]("metric"), r.getAs[Timestamp]("chunk_start").getTime) ->
        (ts.toSeq, vs.toSeq, r.getAs[Int]("n_points"))
    }.toMap
    val wantChunks = byChunk.map { case (k, ps) =>
      k -> (ps.map(_.tsMs * 1000L), ps.map(_.value), ps.size)
    }
    val lttb = sample("lttb").groupBy("conv_id", "metric").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wantLttb = pts.groupBy(p => (p.convId, p.metric))
      .map { case (k, ps) => k -> math.min(Lttb.toLong, ps.size.toLong) }
    same("tier_1m", tier("tier_1m"), m) ++ same("tier_1h", tier("tier_1h"), h) ++
      same("tier_1d", tier("tier_1d"), d) ++ same("decoded chunk blobs", chunks, wantChunks) ++
      same("LTTB keeper counts", lttb, wantLttb)
  }

  def layers(tr: Tracer): Unit = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val lay = s"$dir/layers"
    Fs.rm(lay)
    val t = spark.read.parquet(in)
    val b = Ingest.bucketed(t, StepSec).persist(MEMORY_AND_DISK)
    tr.counted("ingest.bucket")(b.count())
    val m1 = Rollup.tier1FromBuckets(b, StepSec, "minute").persist(MEMORY_AND_DISK)
    tr.counted("rollup.tier1")(m1.count())
    val h1 = Rollup.fromLower(m1, "hour").persist(MEMORY_AND_DISK)
    val d1 = Rollup.fromLower(h1, "day").persist(MEMORY_AND_DISK)
    tr.counted("rollup.fold")(h1.count() + d1.count())
    tr.span("rollup.tier_write") {
      // the CLI `rollup` command's layout
      Seq(m1 -> "tier_1m", h1 -> "tier_1h", d1 -> "tier_1d").foreach { case (df, n) =>
        df.withColumn("day", to_date(col("chunk_start")))
          .write.partitionBy("day").parquet(s"$lay/$n")
      }
    }
    val s = Ingest.series(t, StepSec).persist(MEMORY_AND_DISK)
    tr.counted("ingest.gapfill")(s.count())
    tr.span("rollup.chunks")(Rollup.toChunks(s, "day").write.parquet(s"$lay/chunks"))
    tr.span("rollup.lttb")(Rollup.lttbTier(s, Lttb).write.parquet(s"$lay/lttb"))
    Seq(b, m1, h1, d1, s).foreach(_.unpersist())
    // the streaming layer: `streamrollup` from scratch over the same table
    tr.span("streaming.streamrollup") {
      Main.streamrollup(spark, conf("input" -> in, "output" -> s"$lay/stream"))
    }
  }

  /** Stored blob bytes per grid point of the layer pass's chunks. */
  def bytesPerPoint(): Double = {
    val r = spark.read.parquet(s"$dir/layers/chunks")
      .agg(sum(length(col("chunk_blob"))), sum(col("n_points"))).head()
    r.getLong(0).toDouble / r.getLong(1)
  }
}

/** A fresh output directory and the CC job (`ProcessJob.run`) over stored
  * transcripts with an explicit ring-pairs table.
  */
final class CcBatch(spark: SparkSession, dir: String, seed: Long, sz: Sizes)
    extends Workload(spark, dir, seed, sz) {
  import Workload._
  private val out = s"$dir/out"
  private val pairsPath = s"$dir/pairs"
  def outputDir: String = out
  var turns = 0L
  def tableRows: Long = turns
  var stats: ProcessJob.Stats = ProcessJob.Stats(0, 0, 0)

  def setup(): Unit = {
    writeTranscripts(in)
    ringPairs(spark, sz.nConvs, Neighbours).write.mode("overwrite").parquet(pairsPath)
    turns = spark.read.parquet(in).count()
  }
  def prepare(): Unit = Fs.rm(out)

  def op(tr: Option[Tracer]): Long = {
    stats = CcBatch.runJob(spark, tr, "e2e.cc_job", spark.read.parquet(in),
      spark.read.parquet(pairsPath), out)
    turns
  }

  def digest(): String = digestOf(ccDigest(spark, out))

  def check(): Seq[String] = {
    val n = sz.nConvs.toLong
    val pairs = Seq((0L, 1L), (n / 2, n / 2 + 2), (n - 5, n - 1))
    checkCcPairs(spark, out, sz, seed, pairs) ++ checkManifest(spark, out)
  }

  var pairRows = 0L
  var fanout = 0.0

  def layers(tr: Tracer): Unit = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cfg = CcConfig
    val s = Ingest.seriesSparse(spark.read.parquet(in), cfg.stepSec).persist(MEMORY_AND_DISK)
    tr.counted("ingest.sparse")(s.count())
    tr.counted("correlate.candidates") {
      Correlate.candidates(s, cfg.windowSec, cfg.strideSec, cfg.stepSec).count()
    }
    val w = Correlate.windows(s, cfg.windowSec, cfg.strideSec, cfg.stepSec).persist(MEMORY_AND_DISK)
    tr.counted("correlate.windows")(w.count())
    val cc = Correlate.ccPairs(w, spark.read.parquet(pairsPath), cfg.stepSec, cfg.windowSec,
      cfg.normalize, clipLagSec = cfg.clipLagSec).toDF().persist(MEMORY_AND_DISK)
    pairRows = tr.counted("correlate.cc_pairs")(cc.count())
    // window rows shipped per nonzero point: the number of window starts
    // (stride-aligned, non-negative) whose window holds the point
    val (win, str) = (cfg.windowSec, cfg.strideSec)
    val r = s.where(col("value") =!= 0.0)
      .select(expr(s"size(filter(sequence(" +
        s"CAST(ceil((unix_timestamp(ts) - $win + ${cfg.stepSec}) / $str) AS BIGINT) * $str, " +
        s"(unix_timestamp(ts) DIV $str) * $str, $str), x -> x >= 0))").as("k"))
      .agg(sum(col("k")), count(lit(1))).head()
    fanout = r.getLong(0).toDouble / r.getLong(1)
    Seq(s, w, cc).foreach(_.unpersist())
    // resume over the traced operation's finished output: nothing pending
    val (st, span) = tr.open("jobs.resume") {
      ProcessJob.run(spark, spark.read.parquet(in), spark.read.parquet(pairsPath), out, CcConfig)
    }
    resumeStats = st
    resumeS = span.wallS
  }

  var resumeStats: ProcessJob.Stats = ProcessJob.Stats(0, 0, 0)
  var resumeS = 0.0
}

object CcBatch {
  /** Child span of a ProcessJob.run span, from the root SQL execution's
    * physical plan: which table the job writes, if any.
    */
  def jobLayer(plan: String): String = {
    // the formatted plan lists each node's details after the tree; the
    // write command's first argument is its output path
    val i = plan.lastIndexOf("Execute InsertIntoHadoopFsRelationCommand")
    val a = if (i < 0) -1 else plan.indexOf("Arguments: ", i)
    val target = if (a < 0) "" else plan.substring(a + "Arguments: ".length).takeWhile(c => c != ',' && c != '\n')
    if (i < 0) "jobs.worklist"
    else if (target.endsWith("/_manifest")) "jobs.manifest_write"
    else "jobs.cc_write"
  }

  def runJob(spark: SparkSession, tr: Option[Tracer], span: String, t: DataFrame,
             pairs: DataFrame, out: String): ProcessJob.Stats = tr match {
    case None => ProcessJob.run(spark, t, pairs, out, Workload.CcConfig)
    case Some(x) =>
      val (st, s) = x.open(span)(ProcessJob.run(spark, t, pairs, out, Workload.CcConfig))
      // the work list's output is the pending cells
      x.splitByExecution(s)(jobLayer).filter(_.name == "jobs.worklist").foreach(_.rows = Some(st.pending))
      st
  }
}

/** Incremental landing: a store built from history up to T (the
  * `streamrollup` tiers and checkpoints plus the CC job's table) takes a
  * new event-time slice [T, E) and runs `streamrollup` and a resuming
  * `ProcessJob.run`. Conversations start over the first day and run for
  * about a day and a half, so the slice holds both hot and normal ones.
  */
final class Append(spark: SparkSession, dir: String, seed: Long, sz: Sizes, horizonSec: Long)
    extends Workload(spark, dir, seed, sz) {
  import Workload._
  private val all = s"$dir/all"
  private val slice = s"$dir/slice"
  private val store = s"$dir/store"
  private val pairsPath = s"$dir/pairs"
  private val snap = s"$dir/snapshot"
  def outputDir: String = store
  var sliceTurns = 0L
  var tableRows = 0L
  var stats: ProcessJob.Stats = ProcessJob.Stats(0, 0, 0)

  private def streamrollup(out: String): Unit =
    Main.streamrollup(spark, conf("input" -> in, "output" -> out))

  def setup(): Unit = {
    Seq(all, slice, in, store, snap, pairsPath).foreach(Fs.rm)
    import spark.implicits._
    Transcripts.generate(spark, sz.nConvs, sz.baseTurns, sz.hotConvs, sz.hotFactor, seed, StartSec)
      .toDF().where(col("ts") < lit(new Timestamp((StartSec + horizonSec) * 1000L)))
      .write.parquet(all)
    val t = spark.read.parquet(all)
    // T: the minute holding the 7/8 row quantile, so [T, E) holds about
    // 1/8 of the rows and no grid bucket straddles the cut
    val ts = t.select(unix_timestamp(col("ts"))).as[Long].collect().sorted
    tableRows = ts.length
    val cutSec = ts((ts.length * 7L / 8).toInt) / 60 * 60
    val cut = lit(new Timestamp(cutSec * 1000L))
    t.where(col("ts") < cut).write.parquet(in)
    t.where(col("ts") >= cut).write.parquet(slice)
    sliceTurns = spark.read.parquet(slice).count()
    ringPairs(spark, sz.nConvs, Neighbours).write.parquet(pairsPath)
    streamrollup(store)
    ProcessJob.run(spark, spark.read.parquet(in), spark.read.parquet(pairsPath), store, CcConfig)
    Fs.copy(in, s"$snap/in")
    Fs.copy(store, s"$snap/store")
  }

  /** Restore the snapshot, then land the slice's files in the input. */
  def prepare(): Unit = {
    Seq(in, store).foreach(Fs.rm)
    Fs.copy(s"$snap/in", in)
    Fs.copy(s"$snap/store", store)
    Fs.landParquet(slice, in)
  }

  def op(tr: Option[Tracer]): Long = {
    sp(tr, "e2e.streamrollup")(streamrollup(store))
    stats = CcBatch.runJob(spark, tr, "e2e.cc_resume", spark.read.parquet(in),
      spark.read.parquet(pairsPath), store)
    sliceTurns
  }

  private def digestAt(out: String): String = digestOf(
    tableDigests(Seq("tier_1m", "tier_1h", "tier_1d").map(t => t -> spark.read.parquet(s"$out/$t"))) ++
      ccDigest(spark, out))

  def digest(): String = digestAt(store)

  /** Digest of a from-scratch run over the table truncated at E (history
    * plus slice), built on first use: the input directory then holds the
    * landed slice.
    */
  private lazy val reference: String = {
    val ref = s"$dir/reference"
    Fs.rm(ref)
    streamrollup(ref)
    ProcessJob.run(spark, spark.read.parquet(in), spark.read.parquet(pairsPath), ref, CcConfig)
    digestAt(ref)
  }

  def check(): Seq[String] = {
    val hot = spark.read.parquet(slice).where(col("conv_id") < Transcripts.convId(sz.hotConvs))
      .limit(1).count()
    val normal = spark.read.parquet(slice).where(col("conv_id") >= Transcripts.convId(sz.hotConvs))
      .limit(1).count()
    val mix = if (hot == 1 && normal == 1) Nil else Seq("slice lacks hot or normal conversations")
    mix ++ same("sealed tiers and CC table", digest(), reference) ++ checkManifest(spark, store)
  }

  def layers(tr: Tracer): Unit = {
    val s = Ingest.seriesSparse(spark.read.parquet(in), CcConfig.stepSec)
    tr.counted("ingest.sparse")(s.count())
  }
}
