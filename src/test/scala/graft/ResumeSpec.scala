package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.ProcessJob
import graft.meta.{Hasher, TableFormat}
import graft.synth.Transcripts

/** Checkpoint-resume gate (BASELINE.md (b) "Resumability"): a partial run
  * followed by a resume converges to the same table as a from-scratch run,
  * with no duplicate work (manifest anti-join semantics of
  * /root/reference/xcorr/core/process.py:93-104).
  */
class ResumeSpec extends AnyFunSuite with SparkSuite {

  /** The manifest rows and the stored CC rows of `dir`, as multisets, name
    * the same cells with the same status, and each manifest row counts its
    * cell's window points in (2 × npts) and stored lag points out.
    */
  private def assertManifestMatchesData(dir: String): Unit = {
    def counted(rows: Seq[(String, Byte, Long, Long)]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    val m = ProcessJob.readManifest(spark, dir)
      .select("partition_key", "status", "rows_in", "rows_out").collect()
      .map(r => (r.getString(0), r.getByte(1), r.getLong(2), r.getLong(3))).toSeq
    val d = spark.read.parquet(s"$dir/data")
      .select(ProcessJob.partitionKey(col("pair")), col("status"), col("npts"), col("cc")).collect()
      .map(r => (r.getString(0), r.getByte(1), 2L * r.getInt(2), r.getSeq[Double](3).length.toLong)).toSeq
    assert(m.nonEmpty && counted(m) == counted(d),
      s"manifest vs data: ${(counted(m).toSet diff counted(d).toSet).take(3)} / ${(counted(d).toSet diff counted(m).toSet).take(3)}")
  }

  test("kill-after-partial-manifest rerun == from-scratch run, no duplicate work") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val transcripts = Transcripts.generate(spark, 8, 150).toDF().cache()
    val pairs = Seq(
      ("conv-000000", "conv-000001"), ("conv-000002", "conv-000003"),
      ("conv-000004", "conv-000005"), ("conv-000001", "conv-000006")
    ).toDF("conv_a", "conv_b")
    val cfg = ProcessJob.Config(stepSec = 60, windowSec = 1800, strideSec = 1800)

    val dirPartial = java.nio.file.Files.createTempDirectory("cc-partial").toString
    val dirFull = java.nio.file.Files.createTempDirectory("cc-full").toString

    // from-scratch run
    val full = ProcessJob.run(spark, transcripts, pairs, dirFull, cfg)
    assert(full.pending == full.total && full.total > 4, s"want real work, got $full")

    // partial state the way real traffic builds it: a first run over the
    // transcripts before a step-aligned cut (the median end of the full
    // run's windows) writes its own work list, then a rerun over the whole
    // table computes only the rest
    val ends = ProcessJob.readCc(spark, dirFull).select(unix_timestamp(col("win_start")))
      .as[Long].collect().map(_ + cfg.windowSec).sorted
    val cut = ends(ends.length / 2)
    assert(cut % cfg.stepSec == 0)
    val part1 = ProcessJob.run(spark, transcripts.where(unix_timestamp(col("ts")) < cut),
      pairs, dirPartial, cfg)
    assert(part1.pending == part1.total && part1.written == part1.total, s"first run: $part1")
    assert(part1.written > 0 && part1.written < full.total, s"first run: $part1, full: $full")
    assert(spark.read.parquet(s"$dirPartial/data").count() == part1.written)
    val part2 = ProcessJob.run(spark, transcripts, pairs, dirPartial, cfg)
    assert(part2.pending == full.total - part1.written, s"resume recomputed: $part2")
    // third run: nothing to do
    val part3 = ProcessJob.run(spark, transcripts, pairs, dirPartial, cfg)
    assert(part3.pending == 0)

    // identical final tables
    val a = ProcessJob.readCc(spark, dirPartial).drop("day")
    val b = ProcessJob.readCc(spark, dirFull).drop("day")
    assert(a.count() == full.total && b.count() == full.total)
    val diff = a.select("pair", "metric", "win_start", "shift", "cc_max")
      .union(b.select("pair", "metric", "win_start", "shift", "cc_max"))
      .groupBy("pair", "metric", "win_start", "shift", "cc_max").count()
      .where(col("count") =!= 2)
    assert(diff.count() == 0, "resumed table differs from from-scratch table")
    // cc arrays equal too
    val ccA = a.select(col("pair"), col("metric"), col("win_start"), col("cc")).as[(String, String, java.sql.Timestamp, Array[Double])]
      .collect().map(r => ((r._1, r._2, r._3.getTime), r._4)).toMap
    val ccB = b.select(col("pair"), col("metric"), col("win_start"), col("cc")).as[(String, String, java.sql.Timestamp, Array[Double])]
      .collect().map(r => ((r._1, r._2, r._3.getTime), r._4)).toMap
    assert(ccA.keySet == ccB.keySet)
    ccA.foreach { case (k, v) => assert(v.sameElements(ccB(k)), s"cc differs at $k") }

    // manifest carries kernel status flags (1 processed, -1 missing_data)
    // and retry_missing reprocesses exactly the -1 cells
    val manifest = ProcessJob.readManifest(spark, dirPartial)
    val nMissing = manifest.where(col("status") === -1).count()
    val nDone = manifest.where(col("status") === 1).count()
    assert(nDone + nMissing >= full.total, s"manifest under-covers: $nDone + $nMissing < ${full.total}")
    val retry = ProcessJob.run(spark, transcripts, pairs, dirPartial, cfg, retryMissing = true)
    assert(retry.pending == nMissing, s"retryMissing reprocessed ${retry.pending}, want $nMissing")
    assertManifestMatchesData(dirPartial)
    assertManifestMatchesData(dirFull)

    // CF-1.9 properties persisted (north rule: metadata conventions as
    // table properties)
    val props = TableFormat.readProps(dirPartial)
    assert(props.get("Conventions").contains("CF-1.9"))
    assert(props.contains("sha256_hash_metadata"))
    transcripts.unpersist()
  }

  test("a pairs table that lists a pair twice computes, counts and writes each cell once") {
    import spark.implicits._
    val transcripts = Transcripts.generate(spark, 6, 120).toDF()
    val once = Seq(("conv-000000", "conv-000001"), ("conv-000002", "conv-000003"))
    val cfg = ProcessJob.Config(stepSec = 60, windowSec = 1800, strideSec = 900)
    val dirOnce = java.nio.file.Files.createTempDirectory("cc-once").toString
    val dir = java.nio.file.Files.createTempDirectory("cc-twice").toString
    val want = ProcessJob.run(spark, transcripts, once.toDF("conv_a", "conv_b"), dirOnce, cfg)
    assert(want.total > 0 && want.pending == want.total && want.written == want.total, s"$want")
    val before = System.currentTimeMillis()
    val got = ProcessJob.run(spark, transcripts, (once.head +: once).toDF("conv_a", "conv_b"), dir, cfg)
    val after = System.currentTimeMillis()
    assert(got == want)
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == want.total)
    assert(data.select("pair", "metric", "win_start").distinct().count() == want.total)
    val manifest = ProcessJob.readManifest(spark, dir)
    assert(manifest.count() == want.total)
    assert(manifest.select("partition_key").distinct().count() == want.total)
    // started when the run began, finished when its manifest was written
    val times = manifest.select("started_ts", "finished_ts").distinct()
      .as[(java.sql.Timestamp, java.sql.Timestamp)].collect()
    assert(times.length == 1, s"one run, one (started, finished): ${times.toSeq}")
    val (started, finished) = times.head
    assert(before <= started.getTime && started.before(finished) && finished.getTime <= after,
      s"started $started, finished $finished, run within [$before, $after] ms")
    assert(TableFormat.snapshots(dir).map(_("written")) == Seq(want.total.toString))
    assertManifestMatchesData(dir)
  }

  test("config-hash gate: a rerun under another config or over tampered properties fails before writing") {
    import spark.implicits._
    val transcripts = Transcripts.generate(spark, 8, 150).toDF()
    val pairs = Seq(("conv-000000", "conv-000001"), ("conv-000002", "conv-000003")).toDF("conv_a", "conv_b")
    val cfg = ProcessJob.Config(stepSec = 60, windowSec = 1800, strideSec = 1800)
    val dir = java.nio.file.Files.createTempDirectory("cc-gate").toString
    assert(ProcessJob.run(spark, transcripts, pairs, dir, cfg).written > 0)
    def rows(): Long = spark.read.parquet(s"$dir/data").count()
    val before = rows()

    // same dir, another window: the stored job config hash is not this run's
    val other = cfg.copy(windowSec = 3600)
    val e = intercept[IllegalStateException](ProcessJob.run(spark, transcripts, pairs, dir, other))
    Seq(dir, cfg.hash, other.hash).foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    assert(rows() == before)

    // tampered properties no longer match their stored metadata hash
    val props = TableFormat.readProps(dir)
    TableFormat.writeProps(dir, props + ("title" -> "tampered"))
    val t = intercept[IllegalStateException](ProcessJob.run(spark, transcripts, pairs, dir, cfg))
    Seq(dir, props("sha256_hash_metadata"), Hasher.hashObj(props + ("title" -> "tampered")))
      .foreach(w => assert(t.getMessage.contains(w), t.getMessage))
    assert(rows() == before)
  }

  test("config-hash gate: a first run that dies after its data append still gates a rerun under another config") {
    import spark.implicits._
    val transcripts = Transcripts.generate(spark, 8, 150).toDF()
    val pairs = Seq(("conv-000000", "conv-000001"), ("conv-000002", "conv-000003")).toDF("conv_a", "conv_b")
    val cfg = ProcessJob.Config(stepSec = 60, windowSec = 1800, strideSec = 1800)
    val dir = java.nio.file.Files.createTempDirectory("cc-crash").toString
    // a plain file where the manifest dir goes: the run appends its cells,
    // then dies writing the manifest
    val manifest = java.nio.file.Paths.get(dir, "_manifest")
    java.nio.file.Files.writeString(manifest, "")
    intercept[Exception](ProcessJob.run(spark, transcripts, pairs, dir, cfg))
    def rows(): Long = spark.read.parquet(s"$dir/data").count()
    val before = rows()
    assert(before > 0, "the first run must have appended cells before dying")
    java.nio.file.Files.delete(manifest)

    val other = cfg.copy(windowSec = 3600)
    val e = intercept[IllegalStateException](ProcessJob.run(spark, transcripts, pairs, dir, other))
    Seq(dir, cfg.hash, other.hash).foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    assert(rows() == before)
  }

  test("grid guard: a stride longer than the window fails before writing, also with no cell pending") {
    import spark.implicits._
    val transcripts = Transcripts.generate(spark, 2, 150).toDF()
    val pairs = Seq(("conv-000000", "conv-000001")).toDF("conv_a", "conv_b")
    // the one-day window has no cell over these conversations, the
    // 30-minute window has some
    Seq(ProcessJob.Config(stepSec = 60, windowSec = 86400, strideSec = 90000) -> false,
        ProcessJob.Config(stepSec = 60, windowSec = 1800, strideSec = 2400) -> true).foreach { case (cfg, cells) =>
      val work = ProcessJob.workList(graft.ops.Ingest.seriesSparse(transcripts, cfg.stepSec), pairs, cfg)
      assert((work.count > 0) == cells, s"$cfg: ${work.count} cells")
      val dir = java.nio.file.Files.createTempDirectory("cc-grid").toString
      val e = intercept[IllegalArgumentException](ProcessJob.run(spark, transcripts, pairs, dir, cfg))
      assert(e.getMessage.contains("stride must not exceed the window"), e.getMessage)
      assert(new java.io.File(dir).list().isEmpty, s"$cfg wrote under $dir")
    }
  }

  test("retry upgrade: readCc prefers the fresh status=1 row over a stale -1 for the same cell") {
    import spark.implicits._
    // the append-only data path can legitimately hold BOTH a degenerate
    // status=-1 row (first attempt: missing data) and a later status=1 row
    // (retry_missing after new data arrived) for one (pair, metric,
    // win_start) — the freshest-wins collapse must return the 1 row
    val dir = java.nio.file.Files.createTempDirectory("cc-retry").toString
    val t0 = new java.sql.Timestamp(1704067200000L)
    def write(cc: Array[Double], status: Byte, ccMax: Double): Unit =
      Seq(("a-b", "m", t0, cc, status, 0.0, -900.0, 0.0, ccMax, 2, 0, ""))
        .toDF("pair", "metric", "win_start", "cc", "status", "pair_offset",
          "time_offset", "shift", "cc_max", "npts", "lag0", "input_hash")
        .write.mode("append").parquet(s"$dir/data")
    write(Array(0.0, 0.0, 0.0), -1, 0.0) // stale degenerate
    write(Array(0.5, 1.0, 0.5), 1, 1.0)  // fresh recompute
    val got = ProcessJob.readCc(spark, dir).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Byte]("status") == 1 && got(0).getAs[Double]("cc_max") == 1.0)
  }

  test("job count: a fresh run and a nothing-pending resume stay under their Spark job ceilings, one spans pass each") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Min, Partial}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // stored inputs, as the CLI and the benchmark pass them; their schema is
    // read here, outside the counted runs
    val in = java.nio.file.Files.createTempDirectory("cc-jobs-in").toString
    Transcripts.generate(spark, 8, 150).toDF().write.parquet(s"$in/t")
    Seq(("conv-000000", "conv-000001"), ("conv-000002", "conv-000003"), ("conv-000001", "conv-000006"))
      .toDF("conv_a", "conv_b").write.parquet(s"$in/pairs")
    val (transcripts, pairs) = (spark.read.parquet(s"$in/t"), spark.read.parquet(s"$in/pairs"))
    val cfg = ProcessJob.Config(stepSec = 60, windowSec = 1800, strideSec = 900)
    val dir = java.nio.file.Files.createTempDirectory("cc-jobs").toString

    val marker = "job_count_marker"
    @volatile var markerSeen = false
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(marker) != null)) markerSeen = true
        else jobs.incrementAndGet()
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plans.add(qe)
    }
    // the spans pass: the partial min/max of each (conv_id, metric) key's
    // timestamps under the spans exchange, one plan node per exchange run —
    // a reused exchange is not walked again, and a cached plan's nodes are
    // the same objects in every plan that reads the cache
    val aqe = new AdaptiveSparkPlanHelper {}
    def spansAggs(plan: SparkPlan): Seq[SparkPlan] = aqe.collect(plan) {
      case h: HashAggregateExec if h.groupingExpressions.map(_.name) == Seq("conv_id", "metric") &&
          h.aggregateExpressions.exists(e => e.mode == Partial && e.aggregateFunction.isInstanceOf[Min]) => Seq(h)
      case c: InMemoryTableScanExec => spansAggs(c.relation.cachedPlan)
    }.flatten
    /** Spark jobs and spans passes of one `ProcessJob.run`. */
    def counted(run: => ProcessJob.Stats): (ProcessJob.Stats, Int, Int) = {
      jobs.set(0); plans.clear(); markerSeen = false
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      try {
        val st = run
        // listener events arrive in order: once the marker job and query are
        // seen, every job and plan of the run has been delivered
        spark.sparkContext.setLocalProperty(marker, "1")
        try spark.range(0, 1, 1, 1).toDF(marker).collect()
        finally spark.sparkContext.setLocalProperty(marker, null)
        val deadline = System.nanoTime() + 60000000000L
        while (!markerSeen || !plans.toArray.exists(_.asInstanceOf[QueryExecution].analyzed.output.exists(_.name == marker)))
          if (System.nanoTime() > deadline) fail("the marker never reached the listeners")
          else Thread.sleep(50)
        val aggs = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
        plans.toArray.map(_.asInstanceOf[QueryExecution])
          .filterNot(_.analyzed.output.exists(_.name == marker))
          .foreach(qe => spansAggs(qe.executedPlan).foreach(aggs.add))
        val passes = aggs.size
        (st, jobs.get(), passes)
      } finally {
        spark.sparkContext.removeSparkListener(jobListener)
        spark.listenerManager.unregister(planListener)
      }
    }
    val (fresh, freshJobs, freshPasses) = counted(ProcessJob.run(spark, transcripts, pairs, dir, cfg))
    assert(fresh.total > 0 && fresh.written == fresh.total, s"$fresh")
    val (resume, resumeJobs, resumePasses) = counted(ProcessJob.run(spark, transcripts, pairs, dir, cfg))
    assert(resume.total == fresh.total && resume.pending == 0, s"$resume")
    assert(freshJobs <= FreshJobs, s"a fresh run ran $freshJobs Spark jobs, ceiling $FreshJobs")
    assert(resumeJobs <= ResumeJobs, s"a nothing-pending resume ran $resumeJobs Spark jobs, ceiling $ResumeJobs")
    assert(freshPasses == 1 && resumePasses == 1,
      s"spans exchange runs: fresh $freshPasses, resume $resumePasses; want one each")
  }

  /** Spark jobs of `ProcessJob.run` over stored inputs whose schema was
    * already read: a fresh run (the pair list, the spans pass over the cached
    * series, the CC write and the manifest write) and a resume with nothing
    * pending (the pair list, the spans pass and the manifest anti-join).
    */
  private val FreshJobs = 12
  private val ResumeJobs = 7
}
