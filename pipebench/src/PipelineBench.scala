package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.codec.{ChunkBlob, Lttb}
import graft.kernel.{Cc, Fft}
import graft.refimpl.Ref

/** Local-filesystem helpers for the benchmark's work directory. */
object Fs {
  def rm(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally all.close()
    }
  }

  def copy(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    val all = Files.walk(s)
    try all.forEach { x =>
      val t = d.resolve(s.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t)
      else Files.copy(x, t, StandardCopyOption.REPLACE_EXISTING)
    } finally all.close()
  }

  /** Copy the parquet part files of `src` into `dst` (a new input slice). */
  def landParquet(src: String, dst: String): Unit = {
    val all = Files.list(Paths.get(src))
    try all.filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach(x => Files.copy(x, Paths.get(dst).resolve(x.getFileName)))
    finally all.close()
  }

  def bytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val all = Files.walk(root)
      try all.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally all.close()
    }
  }
}

/** Peak heap occupancy right after each garbage collection. */
object HeapPeak {
  private val peak = new AtomicLong(0L)
  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
      }, null, null)
    case _ =>
  }
  def reset(): Unit = peak.set(0L)
  /** Peak since [[reset]]; the live heap now when no collection ran. */
  def mb(): Double = {
    val p = peak.get()
    val v = if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    v / 1048576.0
  }
}

/** Executor CPU time of every finished task (`cpu_s`): task CPU only, so
  * JIT compiler and GC threads, which vary most between runs, stay out.
  */
final class TaskCpu extends org.apache.spark.scheduler.SparkListener {
  private val ns = new AtomicLong(0L)
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) ns.addAndGet(e.taskMetrics.executorCpuTime)
  def total(spark: SparkSession): Long = {
    org.apache.spark.PipebenchBus.drain(spark.sparkContext)
    ns.get()
  }
}

/** Benchmark main: one workload, one seed, one JVM. The last stdout line is
  * the result object; lines before it record the configuration and each
  * metric by name and unit.
  *
  * Usage: PipelineBench <workload> <seed> <seconds> <trace 0|1> <size> <workDir>
  */
object PipelineBench {

  val SetupReps = 3

  /** One timed operation; `cpuS` is its tasks' executor CPU time. */
  final case class Op(wallS: Double, cpuS: Double, turns: Long, heapMb: Double, bytes: Long)
  val MinOps = 3

  /** Input sizes per workload. `smoke` is for the benchmark's own test. */
  def sizes(workload: String, size: String): Sizes = (workload, size) match {
    case ("rollup_batch", "full") => Sizes(nConvs = 500, baseTurns = 40, hotConvs = 5, hotFactor = 50)
    case ("cc_batch", "full")     => Sizes(nConvs = 80, baseTurns = 480, hotConvs = 0, hotFactor = 1)
    case ("append", "full")       => Sizes(nConvs = 120, baseTurns = 600, hotConvs = 2, hotFactor = 50)
    case ("rollup_batch", "smoke") => Sizes(nConvs = 40, baseTurns = 30, hotConvs = 1, hotFactor = 10)
    case (_, "smoke")             => Sizes(nConvs = 16, baseTurns = 300, hotConvs = 1, hotFactor = 4)
    case other                    => throw new IllegalArgumentException(s"unknown workload/size $other")
  }

  /** End of the append workload's table: 44 h after the first turn, while
    * normal conversations are still running and the first day has sealed.
    */
  val AppendHorizonSec = 44 * 3600L

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .appName("pipebench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def q(x: String): String = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: PipelineBench <workload> <seed> <seconds> <trace 0|1> <size> <workDir>")
    val Array(workload, seedS, secondsS, traceS, size, work) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val sz = sizes(workload, size)
    HeapPeak.install()
    // where the run's time goes, for sizing runs against the time budget
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val sinceStartMs = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
    var mark = System.nanoTime() - sinceStartMs * 1000000L
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val spark = session(work)
    val taskCpu = new TaskCpu
    spark.sparkContext.addSparkListener(taskCpu)
    phase("jvm_and_session")
    val dir = s"$work/data"
    val w: Workload = workload match {
      case "rollup_batch" => new RollupBatch(spark, dir, seed, sz)
      case "cc_batch"     => new CcBatch(spark, dir, seed, sz)
      case "append"       => new Append(spark, dir, seed, sz, AppendHorizonSec)
    }
    val conf = spark.sparkContext.getConf.getAll.sorted.map { case (k, v) => s"${q(k)}:${q(v)}" }
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens")).map(q)
    val mem = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize
    println(s"""{"config":{"workload":${q(workload)},"seed":$seed,"size":${q(size)},""" +
      s""""sizes":${q(sz.toString)},"nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""mem_total_bytes":$mem,"jvm_flags":[${jvm.mkString(",")}],""" +
      s""""spark_conf":{${conf.mkString(",")}},"setup_reps":$SetupReps,""" +
      s""""warmup":"one untimed operation after set-up",""" +
      s""""timed_ops":"at least $MinOps, until their wall times add up to --seconds"}}""")

    var attempted = 0
    var failed = 0
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]

    /** One operation: prepare, then the timed op; the output is checked
      * against the first timed operation's digest, and that first one in
      * full.
      */
    var firstDigest: Option[String] = None
    def runOp(tr: Option[Tracer]): Option[Op] = {
      attempted += 1
      try {
        w.prepare()
        System.gc()
        HeapPeak.reset()
        val c0 = taskCpu.total(spark)
        val t0 = System.nanoTime()
        val turns = w.op(tr)
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (taskCpu.total(spark) - c0) / 1e9
        val heap = HeapPeak.mb()
        val d = w.digest()
        val bad = firstDigest match {
          case None =>
            firstDigest = Some(d)
            println(s"""{"digest":${q(d)}}""")
            w.check()
          case Some(f) => if (d == f) Nil else Seq(s"output digest $d differs from $f")
        }
        if (bad.nonEmpty) {
          problems ++= bad
          failed += 1
          None
        } else Some(Op(wall, cpu, turns, heap, Fs.bytes(w.outputDir)))
      } catch {
        case e: Exception =>
          problems += s"operation threw: $e"
          failed += 1
          None
      }
    }

    val setups = (1 to (if (trace) 1 else SetupReps)).map { _ =>
      val t = System.nanoTime()
      w.setup()
      (System.nanoTime() - t) / 1e9
    }

    phase("setup")
    // warm-up: the first operation in a fresh JVM runs up to 2x slower (JIT,
    // class loading, Spark codegen)
    try w.warmUp()
    catch { case e: Exception => problems += s"warm-up threw: $e" }
    phase("warmup")
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

    if (!trace) {
      // measure until the timed operations add up to `seconds`, and at least
      // MinOps of them: the median then drops one slow outlier
      val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
      while ((ops.size < MinOps && attempted < MinOps + 3 || ops.map(_.wallS).sum < seconds) && attempted < 64)
        runOp(None).foreach(ops += _)
      if (ops.nonEmpty) {
        metrics("setup_s") = (median(setups), "s")
        metrics("wall_s") = (median(ops.map(_.wallS).toSeq), "s")
        metrics("turns_per_s") = (median(ops.map(o => o.turns / o.wallS).toSeq), "turns/s")
        metrics("output_bytes") = (median(ops.map(_.bytes.toDouble).toSeq), "bytes")
        metrics("heap_peak_mb") = (median(ops.map(_.heapMb).toSeq), "MB")
        println(s"""{"ops":${ops.size},"wall_s":[${ops.map(o => f"${o.wallS}%.4f").mkString(",")}],""" +
          s""""heap_peak_mb":[${ops.map(o => f"${o.heapMb}%.1f").mkString(",")}],""" +
          s""""setup_s":[${setups.map(x => f"$x%.3f").mkString(",")}]}""")
      }
    } else {
      val untraced = runOp(None)
      val tr = new Tracer(spark, s"$workload-$seed-${System.currentTimeMillis()}")
      val traced = runOp(Some(tr))
      val (_, lay) = tr.open("layers")(w.layers(tr))
      tr.close()
      for (u <- untraced; t <- traced)
        metrics ++= Layers.metrics(tr, w, u, t.wallS, lay.wallS)
      Files.createDirectories(Paths.get(s"$work/../traces"))
      val file = Paths.get(s"$work/../traces/${tr.runId}.json")
      Files.write(file, tr.json.getBytes("UTF-8"))
      println(s"""{"trace_file":${q(file.normalize.toString)}}""")
      Layers.top3(tr, w).foreach { case (n, share) => println(f"""{"top_layer":${q(n)},"share_of_wall":$share%.4f}""") }
    }

    phase("measure")
    println(s"""{"phases_s":{${phases.map { case (k, v) => f"${q(k)}:$v%.2f" }.mkString(",")}}}""")
    problems.distinct.foreach(p => println(s"""{"problem":${q(p)}}"""))
    val correct = failed == 0 && problems.isEmpty && metrics.nonEmpty
    val ms = metrics.map { case (k, (v, u)) => s"${q(k)}:{${q("value")}:$v,${q("unit")}:${q(u)}}" }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}""")
    spark.stop()
  }
}

/** Per-layer metrics from a traced run. */
object Layers {
  val Spans = Seq("ingest.bucket", "ingest.gapfill", "ingest.sparse", "rollup.tier1", "rollup.fold",
    "rollup.tier_write", "rollup.chunks", "rollup.lttb", "correlate.candidates", "correlate.windows",
    "correlate.cc_pairs", "jobs.worklist", "jobs.cc_write", "jobs.manifest_write")
  val Writes = Set("rollup.tier_write", "rollup.chunks", "rollup.lttb", "jobs.cc_write", "jobs.manifest_write")
  val LayerPrefixes = Seq("ingest.", "rollup.", "correlate.", "jobs.")

  /** Passes in the layer pass that are not part of the workload's
    * operation; they feed per-layer metrics but not the ranking.
    */
  val Extras = Set("streaming.streamrollup", "jobs.resume")

  /** The three layers with the largest share of the operation's traced
    * wall time. Batch workloads rank the layer pass's spans by self time
    * over that pass; `append` ranks its operation's job spans and
    * streaming tiers over the operation.
    */
  def top3(tr: Tracer, w: Workload): Seq[(String, Double)] = {
    def root(s: Span): Span = if (s.parent < 0) s else root(tr.spans(s.parent))
    val isLayer = (s: Span) => LayerPrefixes.exists(s.name.startsWith) && !Extras(s.name)
    val (spans, total) = w match {
      case _: Append =>
        val ops = tr.spans.filter(s => s.parent < 0 && s.name.startsWith("e2e."))
        (tr.spans.filter(s => isLayer(s) && root(s).name.startsWith("e2e.")).toSeq, ops.map(_.wallS).sum)
      case _ =>
        val pass = tr.spans.filter(_.name == "layers")
        val extra = tr.spans.filter(s => Extras(s.name)).map(_.wallS).sum
        (tr.spans.filter(s => isLayer(s) && root(s).name == "layers").toSeq, pass.map(_.wallS).sum - extra)
    }
    val ranked = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(tr.selfS).sum } ++
      (if (w.isInstanceOf[Append]) streamingSeconds(tr) else Nil)
    ranked.toSeq.sortBy(-_._2).take(3).map { case (n, s) => n -> s / total }
  }

  /** Seconds per streaming tier, in query start order (1m, 1h, 1d), summed
    * over each query's micro-batch durations.
    */
  def streamingSeconds(tr: Tracer): Seq[(String, Double)] =
    tr.queryOrder.toSeq.zip(Seq("streaming.tier_1m_s", "streaming.tier_1h_s", "streaming.tier_1d_s"))
      .map { case (id, n) =>
        n -> tr.progress.filter(_.id == id).map(_.batchDuration).sum / 1000.0
      }

  def metrics(tr: Tracer, w: Workload, untraced: PipelineBench.Op, tracedS: Double,
              layeredS: Double): Seq[(String, (Double, String))] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(n: String, v: Double, u: String): Unit = out += n -> (v, u)
    for (name <- Spans) {
      val ss = tr.spans.filter(_.name == name)
      val c = new Counters
      ss.foreach(s => c.add(s.counters))
      put(s"$name.busy_s", c.busyMs / 1000.0, "s")
      put(s"$name.cpu_s", c.cpuNs / 1e9, "s")
      put(s"$name.gc_s", c.gcMs / 1000.0, "s")
      put(s"$name.rows_out", ss.map(s => s.rows.getOrElse(s.counters.rowsWritten)).sum.toDouble, "rows")
      put(s"$name.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes")
      put(s"$name.spill_bytes", c.spill.toDouble, "bytes")
      put(s"$name.self_s", ss.map(tr.selfS).sum, "s")
      if (Writes(name)) put(s"$name.bytes_written", c.bytesWritten.toDouble, "bytes")
    }
    val e2e = tr.spans.filter(s => s.name.startsWith("e2e."))
    val rowsRead = e2e.map(_.counters.rowsRead).sum
    put("ingest.scan_passes", rowsRead.toDouble / w.tableRows, "ratio")

    val floors = Floors(w)
    put("codec.bytes_per_point", w match {
      case r: RollupBatch => r.bytesPerPoint()
      case _              => 0.0
    }, "bytes/pt")
    put("codec.encode_pts_per_s", floors.encodePtsPerS, "pts/s")
    put("codec.decode_pts_per_s", floors.decodePtsPerS, "pts/s")
    put("codec.lttb_pts_per_s", floors.lttbPtsPerS, "pts/s")

    val (pairs, fanout) = w match {
      case c: CcBatch => (c.pairRows, c.fanout)
      case _          => (0L, 0.0)
    }
    put("correlate.window_fanout", fanout, "ratio")
    val ccBusy = tr.spans.filter(_.name == "correlate.cc_pairs").map(_.counters.busyMs).sum / 1000.0
    put("kernel.cc_ns_per_pair", floors.ccNsPerPair, "ns")
    put("kernel.pairs", pairs.toDouble, "count")
    put("kernel.flops_computed", pairs * floors.flopsPerPair, "flop")
    put("kernel.share_of_cc_pairs",
      if (ccBusy > 0) pairs * floors.ccNsPerPair / 1e9 / ccBusy else 0.0, "ratio")

    // cells of the operation's CC job, and the share a resume skips: of the
    // append operation's resume, or of cc_batch's resume over its finished
    // output (which should skip every cell)
    val (st, resume, resumeS) = w match {
      case c: CcBatch => (c.stats, c.resumeStats, c.resumeS)
      case a: Append  => (a.stats, a.stats, tr.spans.filter(_.name == "e2e.cc_resume").map(_.wallS).sum)
      case _          => (graft.jobs.ProcessJob.Stats(0, 0, 0), graft.jobs.ProcessJob.Stats(0, 0, 0), 0.0)
    }
    put("jobs.pending_cells", st.pending.toDouble, "count")
    put("jobs.total_cells", st.total.toDouble, "count")
    put("jobs.skip_ratio", if (resume.total > 0) 1.0 - resume.pending.toDouble / resume.total else 0.0, "ratio")
    put("jobs.resume_s", resumeS, "s")

    val tiers = streamingSeconds(tr).toMap
    Seq("streaming.tier_1m_s", "streaming.tier_1h_s", "streaming.tier_1d_s")
      .foreach(n => put(n, tiers.getOrElse(n, 0.0), "s"))
    val first = tr.queryOrder.headOption
    put("streaming.input_rows", tr.progress.filter(p => first.contains(p.id)).map(_.numInputRows).sum.toDouble, "rows")
    put("streaming.state_rows", tr.queryOrder.map { id =>
      tr.progress.filter(_.id == id).lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    }.sum.toDouble, "rows")

    put("trace.tasks_failed", tr.tasksFailed.toDouble, "count")
    put("trace.untraced_s", untraced.wallS, "s")
    put("trace.untraced_cpu_s", untraced.cpuS, "s")
    put("trace.listener_gap_s", tracedS - untraced.wallS, "s")
    put("trace.layered_gap_s", layeredS - untraced.wallS, "s")
    out.toSeq
  }
}

/** Single-thread floors of the codec and kernel on arrays shaped like the
  * workload's: the hot conversation's gap-filled series, chunked by day,
  * and 480-sample CC windows (transform size 1024).
  */
final case class Floors(encodePtsPerS: Double, decodePtsPerS: Double, lttbPtsPerS: Double,
                        ccNsPerPair: Double, flopsPerPair: Double)

object Floors {
  /** Operations per second of `body` (which does `work` units), after a
    * warm-up pass.
    */
  private def rate(work: Long)(body: => Unit): Double = {
    def loop(secs: Double): Double = {
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < secs * 1e9) { body; n += 1 }
      n * work / ((System.nanoTime() - t0) / 1e9)
    }
    loop(0.2)
    loop(0.4)
  }

  def apply(w: Workload): Floors = {
    val pts = Ref.series(w.sz.convs(Seq(0L), w.seed), Workload.StepSec)
    val chunks = pts.groupBy(p => (p.metric, Ref.truncMs(p.tsMs, "day"))).values.toSeq.map { ps =>
      val s = ps.sortBy(_.tsMs)
      (s.map(_.tsMs * 1000L).toArray, s.map(_.value).toArray)
    }
    val n = chunks.map(_._1.length.toLong).sum
    val blobs = chunks.map { case (t, v) => ChunkBlob.encode(t, v) }
    val enc = rate(n)(chunks.foreach { case (t, v) => ChunkBlob.encode(t, v) })
    val dec = rate(n)(blobs.foreach(ChunkBlob.decode))
    val lttb = rate(n)(chunks.foreach { case (t, v) => Lttb.downsample(t, v, 1000) })
    val npts = (Workload.CcConfig.windowSec / Workload.CcConfig.stepSec).toInt
    val series = pts.filter(_.metric == "token_volume").sortBy(_.tsMs).map(_.value.toFloat.toDouble).toArray
    val wins = series.grouped(npts).filter(_.length == npts).toArray
    val ccNs =
      if (wins.length < 2) 0.0
      else 1e9 / rate(wins.length - 1L)((1 until wins.length).foreach(i => Cc.cc(wins(i - 1), wins(i))))
    val nt = Integer.highestOneBit(2 * npts - 1) * 2
    // one complex forward and one inverse transform, 5 N log2 N each
    val flops = 2 * 5.0 * nt * (math.log(nt) / math.log(2))
    require(Fft.isPow2(nt))
    Floors(enc, dec, lttb, ccNs, flops)
  }
}
