package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Scaling-efficiency evidence for the north rule: the same jobs on the
  * same deterministic input at N=8 and 4N=32 local cores (the sandbox
  * stand-in for N vs 4N executors — no real cluster here), reporting
  * throughput at both levels + efficiency in BENCH/BASELINE.md.
  *
  * Measurement methodology (round 4 — variance-proofed): this VM's
  * attainable throughput drifts ±20%+ over minutes, so EVERY 8-vs-32
  * division must happen inside one narrow drift window. Per job per
  * visit: a back-to-back pure-JVM floor pair (8 then 32 threads, seconds
  * apart), job@8 (warm + best-of-2), job@32 ~30 s later (one session
  * restart), a third floor pair; the per-visit engine-vs-floor ratio
  * divides the job's raw 8→32 efficiency by the MEDIAN of its three
  * bracketing floor-pair efficiencies, and the shipped number is the
  * median over >= 3 visits with MAD (and full range) as the band. (The r3
  * design measured the control once per run, minutes from the jobs — its
  * ratios swung 0.60→0.87 on the same binary; a first r4 cut that paired
  * the two LEVELS minutes apart swung ±0.08-0.14 the same way, in the
  * jobs or the floors depending on where the drift landed.)
  *
  * Three jobs × two floors, matched by resource profile:
  *  - CC kernel stage (scan -> mapPartitions FFT -> count): floor =
  *    [[kernelMemCeiling]] — bare threads running the IDENTICAL per-row
  *    work (float32 window pairs streamed from thread-private cache-busting
  *    memory, converted, FFT-correlated), i.e. the job minus Spark. The
  *    old shared-input cache-resident FFT burn ([[kernelCeiling]]) is kept
  *    as a secondary reference but overstates what a memory-touching job
  *    can attain, which is why r3's kernel-vs-floor ratio was noisy.
  *  - e2e CC production: same floor (optimistic for e2e — it also
  *    shuffles; stated in the report).
  *  - rollup (ingest -> tier-1): floor = [[memCeiling]] — private-array
  *    streaming, the memory-bandwidth wall a row-streaming job tops out
  *    at in one JVM.
  */
object Scaling {

  /** SCALE_MODE=threads (default): local[8] vs local[32] — one JVM, shared
    * heap/GC/shuffle substrate. SCALE_MODE=cluster: local-cluster[1,8,mem]
    * vs local-cluster[4,8,mem] — REAL separate executor JVMs (per-executor
    * heaps, GC, netty shuffle), the closest sandbox analog to N vs 4N
    * executors the north rule names. Cluster mode needs SPARK_HOME=
    * /opt/spark and SPARK_SCALA_VERSION=2.13 exported (the dist launcher
    * that builds executor commands probes dev dirs otherwise), and
    * SPARK_LOCAL_DIRS for tmpfs shuffle (standalone workers ignore
    * spark.local.dir).
    */
  private val mode = sys.env.getOrElse("SCALE_MODE", "threads")

  /** The two parallelism levels: lo = N, hi = 4N (the north rule fixes
    * the ratio at 4). Default lo=8 — the r1-r5 8-vs-32 series. In cluster
    * mode lo is ALSO the per-executor core count, so the two levels are
    * exactly 1 vs 4 executor JVMs of lo cores each: SCALE_LO=2 gives
    * local-cluster[1,2] vs local-cluster[4,2] — 2 vs 8 TOTAL threads,
    * BELOW the box's memory-bus saturation point (the wall that pins raw
    * 8-vs-32 efficiency at ~0.55-0.65 regardless of engine quality), the
    * closest single-box regime to "each executor brings its own
    * bandwidth" that the north rule's real-cluster criterion assumes.
    */
  private val lo = sys.env.getOrElse("SCALE_LO", "8").toInt
  private val hi = 4 * lo

  /** One bounded retry on executor-registration failure: successive
    * local-cluster sessions in one JVM occasionally race the previous
    * cluster's teardown (the Worker logs "Shutdown hooks cannot be
    * modified during shutdown" and never launches executors) — a
    * harness-bringup flake, not a measured quantity; the retry rebuilds
    * from a clean stop and the registration gate still applies.
    */
  private def session(cores: Int): SparkSession =
    try sessionOnce(cores)
    catch {
      case e: IllegalArgumentException
          if mode == "cluster" && e.getMessage.contains("failed to register") =>
        System.err.println(s"[scaling] $e — retrying session bringup once")
        Thread.sleep(15000)
        sessionOnce(cores)
    }

  private def sessionOnce(cores: Int): SparkSession = {
    val master =
      if (mode == "cluster") {
        require(sys.env.contains("SPARK_HOME"),
          "SCALE_MODE=cluster needs SPARK_HOME (=/opt/spark), SPARK_SCALA_VERSION=2.13, SPARK_LOCAL_DIRS exported")
        val execMem = sys.env.getOrElse("SCALE_EXEC_MEM_MB", "4096").toInt
        s"local-cluster[${math.max(cores / lo, 1)},$lo,$execMem]"
      } else s"local[$cores]"
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // rows carry 2 × npts float arrays: the default 4096-row vectorized
      // batch is ~100 MB per column per task — size batches for array-wide
      // rows (same knob a real cluster would set for this table shape)
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (mode == "cluster") {
      val execMem = sys.env.getOrElse("SCALE_EXEC_MEM_MB", "4096").toInt
      b.config("spark.executor.memory", s"${execMem}m")
        // ship the sbt classpath (our classes + test scala-library) to the
        // separate executor JVMs; dist jars come from the worker SPARK_HOME
        .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
        .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
        .config("spark.executorEnv.SPARK_HOME", sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
        // Two flags measured ESSENTIAL on this box (probe, r5):
        //  - AlwaysPreTouch: without it the committed -Xms heap pages are
        //    zeroed lazily MID-MEASUREMENT — 4 executors fault 24 GB in
        //    during the second run (40-55 s spikes on a 2 s job); the 180 s
        //    registration deadline absorbs the up-front pretouch instead.
        //  - ActiveProcessorCount=<exec cores>: each executor JVM
        //    otherwise sizes its GC/JIT thread pools for the FULL 32-core
        //    box — 4 JVMs x ~32 GC threads oversubscribe it. Real clusters
        //    get this from container CPU limits; this is the faithful
        //    emulation.
        .config("spark.executor.extraJavaOptions",
          s"-Xms${execMem}m -XX:+AlwaysPreTouch -XX:ActiveProcessorCount=$lo")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (mode == "cluster") {
      // don't let a timed run start before every executor registered
      val want = math.max(cores / lo, 1) + 1 // + driver entry
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (s.sparkContext.getExecutorMemoryStatus.size < want && System.nanoTime() < deadline)
        Thread.sleep(100)
      require(s.sparkContext.getExecutorMemoryStatus.size >= want,
        s"local-cluster executors failed to register (${s.sparkContext.getExecutorMemoryStatus.size}/$want)")
      // a STALE LocalSparkCluster from a previous session would hand this
      // app the wrong worker set and silently flatten the 8-vs-32
      // comparison (both levels = same slots, eff pinned to 0.25) — gate
      // the slot count, don't trust the master string
      // CoarseGrainedSchedulerBackend floors defaultParallelism at 2
      require(s.sparkContext.defaultParallelism == math.max(cores, 2),
        s"cluster slot count ${s.sparkContext.defaultParallelism} != requested $cores (stale LocalSparkCluster?)")
    }
    s
  }

  final case class M(cells: Long, secs: Double) { def pps: Double = cells / secs }

  /** Cache-resident FFT burn (shared input, zero memory traffic) — the
    * round-1..3 control, kept as a secondary reference point only: it
    * bounds pure-compute thread scaling but no job that streams rows can
    * match it.
    */
  def kernelCeiling(threads: Int): Double = {
    import graft.kernel.Cc
    val rng = new java.util.Random(1)
    val x = Array.fill(2880)(rng.nextGaussian())
    val y = Array.fill(2880)(rng.nextGaussian())
    Cc.cc(x, y)
    val per = 15360 / threads
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      new Thread(() => { var i = 0; while (i < per) { Cc.cc(x, y); i += 1 } })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    threads.toLong * per / ((System.nanoTime() - t0) / 1e9)
  }

  /** The kernel job's FAITHFUL floor: bare threads, each streaming its OWN
    * cache-busting set of float32 window pairs (2880 samples, the job's
    * npts at 10 s step / 8 h window), converting to double and running the
    * identical `Cc.cc(normalize) + extractShiftAndMax` per pair — the
    * Spark kernel stage minus Spark (scan/decode modeled by the private-
    * memory float reads). cc windows / sec, directly comparable to the
    * job's throughput unit.
    */
  def kernelMemCeiling(threads: Int): Double = {
    import graft.kernel.Cc
    val npts = 2880
    val pairsPerThread = 192 // 2 × 2880 floats × 192 ≈ 4.4 MB/thread — L2+ busting
    val all = Array.tabulate(threads) { t =>
      val rng = new java.util.Random(1000 + t)
      Array.fill(pairsPerThread)((
        Array.fill(npts)(rng.nextFloat()),
        Array.fill(npts)(rng.nextFloat())))
    }
    def toD(f: Array[Float]): Array[Double] = {
      val d = new Array[Double](f.length)
      var i = 0
      while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
      d
    }
    // ~constant total work per level, sized so each burn runs multiple
    // seconds — sub-second burns measure thread-start overhead and timer
    // noise, not throughput (the r4-B rollup floor pair that read 0.398
    // was a 0.06 s burn)
    val passes = math.max(2, 40 * 8 / threads)
    val sink = new java.util.concurrent.atomic.LongAdder
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val mine = all(t)
        var p = 0
        var acc = 0.0
        while (p < passes) {
          var i = 0
          while (i < pairsPerThread) {
            val rxy = Cc.cc(toD(mine(i)._1), toD(mine(i)._2), normalize = true)
            acc += Cc.extractShiftAndMax(rxy, 10.0)._2
            i += 1
          }
          p += 1
        }
        sink.add(java.lang.Double.doubleToRawLongBits(acc)) // defeat DCE
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    threads.toLong * passes * pairsPerThread / ((System.nanoTime() - t0) / 1e9)
  }

  /** Pure-JVM memory-bandwidth ceiling: each thread streams a reduction
    * over its OWN 32 MB double array (cache-busting, zero sharing) — the
    * attainable 8→32 thread-scaling for bandwidth-bound work on this box,
    * i.e. the honest floor for the shuffle/memory-bound rollup job.
    */
  def memCeiling(threads: Int): Double = {
    val n = 4 << 20 // 4M doubles = 32 MB per thread
    val arrays = Array.fill(threads)(Array.tabulate(n)(i => i * 0.5 + 1.0))
    val sink = new java.util.concurrent.atomic.LongAdder
    // ~100 GB streamed per burn regardless of thread count: ≥ 1 s at this
    // box's ~50-100 GB/s, so the burn measures bandwidth, not thread-start
    // overhead (192 total passes = 6 GB = 0.06 s at 32 threads — garbage)
    val per = math.max(8, 3200 / threads)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val a = arrays(t)
        var p = 0
        var acc = 0.0
        while (p < per) {
          var i = 0
          while (i < n) { acc += a(i); i += 1 }
          p += 1
        }
        sink.add(java.lang.Double.doubleToRawLongBits(acc)) // defeat DCE
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    threads.toLong * per * n * 8.0 / 1e9 / ((System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nConvs = sys.env.getOrElse("SCALE_CONVS", "4000").toInt
    val baseTurns = sys.env.getOrElse("SCALE_TURNS", "800").toInt
    val ccConvs = sys.env.getOrElse("SCALE_CC_CONVS", "600").toInt

    val rollupPath = s"/tmp/graft-scale-rollup-$nConvs-$baseTurns"
    val ccPath = s"/tmp/graft-scale-cc-$ccConvs"

    // "-f32": window arrays are float32-packed since round 2 — don't reuse
    // round-1 double-array caches under the old path
    val pwPath = s"/tmp/graft-scale-pairwins-f32-$ccConvs"

    // setup (untimed): materialize input tables + pre-joined pair-windows
    locally {
      val s = session(hi)
      if (!new java.io.File(s"$rollupPath/_SUCCESS").exists())
        Bench.materializeTranscripts(s, nConvs, baseTurns, rollupPath)
      if (!new java.io.File(s"$ccPath/_SUCCESS").exists())
        Bench.materializeTranscripts(s, ccConvs, 1500, ccPath)
      if (!new java.io.File(s"$pwPath/_SUCCESS").exists())
        Bench.materializePairWindows(s, ccPath, pwPath, ccConvs)
      s.stop()
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

    // Control pairs: the floors are pure-JVM thread burns, independent of
    // the live Spark session's core count — each 8-vs-32 floor ratio is
    // measured BACK-TO-BACK (seconds apart, same drift regime). Returns
    // (abs8, abs32, pairEff).
    def kPair(): (Double, Double, Double) = {
      val cLo = kernelMemCeiling(lo); val cHi = kernelMemCeiling(hi)
      (cLo, cHi, (cHi / cLo) / 4.0)
    }
    def rPair(): (Double, Double, Double) = {
      val cLo = memCeiling(lo); val cHi = memCeiling(hi)
      (cLo, cHi, (cHi / cLo) / 4.0)
    }

    // In cluster mode every session spins FRESH executor JVMs whose JIT
    // state dominates early runs (probe: first timed pass up to 3x steady
    // even after one warm). Before any per-job warm, burn the FFT kernel
    // across all executors, and take best-of-3 instead of best-of-2.
    def clusterWarm(s: SparkSession): Unit = if (mode == "cluster") {
      import s.implicits._
      (1 to 2).foreach { _ =>
        s.range(0, 4000L).repartition(s.sparkContext.defaultParallelism)
          .mapPartitions { it =>
            it.map { i =>
              val x = Array.tabulate(2880)(j => math.sin(i + j * 0.1))
              graft.kernel.Cc.cc(x, x, normalize = true).max
            }
          }
          .reduce(_ + _)
      }
    }

    // One job's tight 8-vs-32 comparison: floor pair, job@8 (warm +
    // best-of-2), job@32 (warm + best-of-2), floor pair. The two levels
    // sit ~30 s apart (one session restart + one warm pass) instead of
    // the per-level design's 4-5 minutes — the r4-first-cut showed the
    // raw job ratio drifts ±0.08 at minutes-scale separation while the
    // back-to-back floor pairs hold, so BOTH divisions now happen inside
    // one narrow drift window. Per-visit floor eff = mean of the two
    // bracketing pairs.
    final case class JobMeas(m8: M, m32: M, floorEff: Double, f8: Double, f32: Double)
    def measureJob(pair: () => (Double, Double, Double))(
        run: SparkSession => (Long, Double)): JobMeas = {
      def best2(spark: SparkSession): M = {
        clusterWarm(spark)
        run(spark) // warm: JIT + codegen + page-faults for THIS plan
        val runs = (1 to (if (mode == "cluster") 3 else 2)).map(_ => run(spark))
        M(runs.head._1, runs.map(_._2).min)
      }
      // THREE floor pairs (before / between levels / after), MEDIAN ratio:
      // a single drift spike inside one pair must not poison the floor
      val f1 = pair()
      val s8 = session(lo)
      val m8 = best2(s8)
      s8.stop()
      val f2 = pair()
      val s32 = session(hi)
      val m32 = best2(s32)
      s32.stop()
      val f3 = pair()
      JobMeas(m8, m32, median(Seq(f1._3, f2._3, f3._3)),
        Seq(f1._1, f2._1, f3._1).max, Seq(f1._2, f2._2, f3._2).max)
    }

    final case class VisitRatios(
        kRaw: Double, kFloorEff: Double, kRatio: Double,
        eRaw: Double, eFloorEff: Double, eRatio: Double, eRatioMem: Double,
        rRaw: Double, rFloorEff: Double, rRatio: Double)

    // JIT the control loops once before any pair is trusted
    kernelMemCeiling(lo); memCeiling(lo)

    val visits = sys.env.getOrElse("SCALE_VISITS", "3").toInt
    val ms = (1 to visits).map { v =>
      println(s"[scaling] visit $v/$visits")
      val k = measureJob(kPair)(s => Bench.ccKernelThroughput(s, pwPath))
      val e = measureJob(kPair)(s => Bench.ccThroughput(s, ccPath, ccConvs,
        stepSec = 10, windowSec = 28800, strideSec = 14400, neighbors = 2))
      val r = measureJob(rPair)(s =>
        { val (cl, _, sec) = Bench.rollupThroughput(s, rollupPath); (cl, sec) })
      require(k.m8.cells == k.m32.cells && e.m8.cells == e.m32.cells &&
        r.m8.cells == r.m32.cells, "non-deterministic workload")
      (k, e, r)
    }
    // secondary cache-resident FFT reference, once (back-to-back pair)
    val kFft8 = kernelCeiling(lo)
    val kFft32 = kernelCeiling(hi)
    val ratios = ms.map { case (k, e, r) =>
      def eff(a: Double, b: Double) = (b / a) / 4.0
      val kRaw = eff(k.m8.pps, k.m32.pps)
      val eRaw = eff(e.m8.pps, e.m32.pps)
      val rRaw = eff(r.m8.pps, r.m32.pps)
      VisitRatios(kRaw, k.floorEff, kRaw / k.floorEff,
        eRaw, e.floorEff, eRaw / e.floorEff, eRaw / r.floorEff,
        rRaw, r.floorEff, rRaw / r.floorEff)
    }
    def spread(xs: Seq[Double]): Double = (xs.max - xs.min) / 2
    // median absolute deviation: the robust band (one outlier visit on a
    // drifting VM must widen, not dominate, the confidence band); the full
    // range is reported alongside for transparency
    def mad(xs: Seq[Double]): Double = {
      val m = median(xs)
      median(xs.map(x => math.abs(x - m)))
    }
    def agg(f: VisitRatios => Double): (Double, Double, Double) =
      (median(ratios.map(f)), mad(ratios.map(f)), spread(ratios.map(f)))

    val (kRawM, kRawD, kRawS) = agg(_.kRaw)
    val (kRatM, kRatD, kRatS) = agg(_.kRatio)
    val (eRawM, eRawD, eRawS) = agg(_.eRaw)
    val (eRatM, eRatD, eRatS) = agg(_.eRatio)
    val (eMemM, eMemD, eMemS) = agg(_.eRatioMem)
    val (rRawM, rRawD, rRawS) = agg(_.rRaw)
    val (rRatM, rRatD, rRatS) = agg(_.rRatio)
    val (kFm, _, _) = agg(_.kFloorEff)
    val (eFm, _, _) = agg(_.eFloorEff)
    val (rFm, _, _) = agg(_.rFloorEff)

    // representative absolute-throughput rows: the visit with the median
    // kernel ratio (absolute numbers are for scale context; the shipped
    // evidence is the ratio distribution)
    val repIdx = ratios.indexWhere(_.kRatio == median(ratios.map(_.kRatio))) match {
      case -1 => ratios.indices.minBy(i => math.abs(ratios(i).kRatio - kRatM))
      case i  => i
    }
    val (repK, repE, repR) = ms(repIdx)

    def visitRows(f: VisitRatios => (Double, Double, Double)): String =
      ratios.zipWithIndex.map { case (r, i) =>
        val (raw, fl, rat) = f(r)
        f"| visit ${i + 1} | $raw%.3f | $fl%.3f | $rat%.3f |"
      }.mkString("\n")

    // mode-aware row labels: in cluster mode the two levels are 1-vs-4
    // executor JVMs of lo cores each, not local[lo]/local[hi] threads
    val loLbl = if (mode == "cluster") s"1 exec × $lo c  (N)" else s"local[$lo]  (N)"
    val hiLbl = if (mode == "cluster") s"4 exec × $lo c (4N)" else s"local[$hi] (4N)"

    val md =
      f"""# BENCH — scaling evidence (north rule: efficiency >= 0.8 at N vs 4N)
         |
         |Sandbox stand-in for N vs 4N executors: ${if (mode == "cluster")
           s"local-cluster[1,$lo,mem] vs local-cluster[4,$lo,mem] — REAL separate executor JVMs, 1 vs 4 of them at $lo cores each (per-executor heaps, GC, netty shuffle between processes; SCALE_MODE=cluster, SCALE_LO=$lo)"
         else s"local[$lo] vs local[$hi] (threads in one JVM; SCALE_MODE=threads)"} on one
         |32-core box (no real cluster; per driver instruction). Inputs are
         |pre-materialized deterministic synthetic transcript tables (the
         |generator is partitioning-independent — asserted in PipelineSpec);
         |generation is setup, not measured.
         |
         |**Methodology (r4, variance-proofed)**: the box's throughput drifts
         |±20%% at minutes scale, so EVERY $lo-vs-$hi division is measured inside
         |one narrow drift window. Per job per visit: floor pair (pure-JVM
         |burns at $lo then $hi threads, seconds apart), job@$lo (warm +
         |best-of-2), job@$hi (warm + best-of-2, ~30 s after job@$lo — one
         |session restart), floor pair — three pairs per job per visit, the
         |job's floor efficiency being their MEDIAN (one drift spike inside
         |a pair must not poison the floor; burns stream ~100 GB / run for
         |seconds so they measure throughput, not thread-start overhead).
         |The per-visit engine-vs-floor ratio divides the job's raw $lo→$hi
         |efficiency by its floor efficiency; the shipped number is the
         |median over $visits interleaved visits with the median absolute
         |deviation as the confidence band (full range alongside). (The r3 design measured the control once per
         |run, minutes from the jobs — its ratios swung 0.60-0.87 on the
         |same binary; the first r4 cut paired levels minutes apart and the
         |raw job ratios swung ±0.08 the same way.)
         |Controls are matched to each job's resource profile: the CC jobs'
         |floor is bare threads running the IDENTICAL per-window work
         |(float32 pairs streamed from thread-private cache-busting memory ->
         |convert -> normalized FFT CC + shift extract — the job minus Spark);
         |the rollup's floor is private-array memory streaming (the bandwidth
         |wall for row-streaming work in one JVM).
         |
         |## Job 1 — CC kernel stage (compute-bound, the inner production loop)
         |
         |pre-joined pair-windows table -> scan -> mapPartitions FFT CC
         |(normalize + shift extract) -> count. Zero shuffle; isolates how
         |the engine's hot kernel scales with cores.
         |
         |Representative absolutes (median-ratio visit):
         |
         || parallelism | cc windows | seconds | cc/sec | floor cc/sec (bare threads) |
         ||---|---|---|---|---|
         || $loLbl | ${repK.m8.cells}%,d | ${repK.m8.secs}%.1f | ${repK.m8.pps}%,.1f | ${repK.f8}%,.1f |
         || $hiLbl | ${repK.m32.cells}%,d | ${repK.m32.secs}%.1f | ${repK.m32.pps}%,.1f | ${repK.f32}%,.1f |
         |
         |Per-visit (raw eff | floor eff | engine-vs-floor ratio):
         |
         || visit | raw | floor | ratio |
         ||---|---|---|---|
         |${visitRows(r => (r.kRaw, r.kFloorEff, r.kRatio))}
         |
         |**Kernel: raw efficiency $kRawM%.3f ± $kRawD%.3f MAD (range ±$kRawS%.3f);
         |floor efficiency $kFm%.3f;
         |engine-vs-floor $kRatM%.3f ± $kRatD%.3f MAD (range ±$kRatS%.3f)**
         |(target: ratio >= 0.85, band <= 0.05)
         |
         |Secondary reference: the cache-resident shared-input FFT burn (the
         |r1-r3 control) attained ${kFft8}%,.0f cc/s @$lo / ${kFft32}%,.0f @$hi (one
         |back-to-back pair) — it bounds pure-compute scaling but no job that
         |streams rows from memory can match it, which is why ratios against
         |it were noisy (r3: 0.65-0.96 across runs).
         |
         |## Job 1b — end-to-end CC production (ingest + windows + join + kernel)
         |
         |transcripts($ccConvs convs) -> gap-fill (10 s grid) -> 8 h windows,
         |4 h stride -> ring-paired convs -> mapPartitions FFT CC kernel.
         |Floor: same per-window bare-threads control — OPTIMISTIC for this
         |job (the floor does no shuffle/window-assembly, the job does), so
         |its ratio is a lower bound on engine quality.
         |
         || parallelism | cc windows | seconds | cc/sec | floor cc/sec |
         ||---|---|---|---|---|
         || $loLbl | ${repE.m8.cells}%,d | ${repE.m8.secs}%.1f | ${repE.m8.pps}%,.1f | ${repE.f8}%,.1f |
         || $hiLbl | ${repE.m32.cells}%,d | ${repE.m32.secs}%.1f | ${repE.m32.pps}%,.1f | ${repE.f32}%,.1f |
         |
         || visit | raw | floor | ratio |
         ||---|---|---|---|
         |${visitRows(r => (r.eRaw, r.eFloorEff, r.eRatio))}
         |
         |**e2e CC: raw efficiency $eRawM%.3f ± $eRawD%.3f MAD (range ±$eRawS%.3f);
         |floor efficiency $eFm%.3f;
         |engine-vs-compute-floor $eRatM%.3f ± $eRatD%.3f MAD (range ±$eRatS%.3f);
         |engine-vs-bandwidth-floor $eMemM%.3f ± $eMemD%.3f MAD** — the job both
         |computes (kernel) and streams/shuffles (assembly), so its TRUE
         |attainable floor lies between the two controls and the two ratios
         |bracket it: the compute-floor ratio is the pessimistic bound, the
         |bandwidth-floor ratio the optimistic one.
         |
         |## Job 2 — ingest -> tier-1 rollup (shuffle/memory-bound)
         |
         |transcripts($nConvs convs, ${nConvs / 100} hot x50) -> gap-filled 1 m
         |series -> tier-1 (1 m) rollup. Floor: private-array memory
         |streaming (GB/s) — bandwidth-bound work's attainable thread
         |scaling on this box.
         |
         || parallelism | tier-1 points | seconds | points/sec | floor GB/s |
         ||---|---|---|---|---|
         || $loLbl | ${repR.m8.cells}%,d | ${repR.m8.secs}%.1f | ${repR.m8.pps}%,.0f | ${repR.f8}%,.1f |
         || $hiLbl | ${repR.m32.cells}%,d | ${repR.m32.secs}%.1f | ${repR.m32.pps}%,.0f | ${repR.f32}%,.1f |
         |
         || visit | raw | floor | ratio |
         ||---|---|---|---|
         |${visitRows(r => (r.rRaw, r.rFloorEff, r.rRatio))}
         |
         |**Rollup: raw efficiency $rRawM%.3f ± $rRawD%.3f MAD (range ±$rRawS%.3f);
         |floor efficiency $rFm%.3f;
         |engine-vs-floor $rRatM%.3f ± $rRatD%.3f MAD (range ±$rRatS%.3f)**
         |
         |Caveat (single-box honesty): ${if (mode == "cluster")
           s"the executor JVMs are real but share one BOX — one memory bus, one set of physical cores. At $hi total threads the bus itself stops scaling linearly (the floor efficiencies above ARE that measurement), so raw efficiency is bounded by floor efficiency regardless of engine quality"
         else "both \"cluster sizes\" share ONE JVM, one memory bus and one shuffle substrate, so raw efficiencies top out on shared-resource limits rather than cores (rollup @32 saturates at the same ~absolute points/sec for 34.6M- and 138M-point inputs — a bandwidth wall, not fixed overhead)"}.
         |The engine-vs-floor ratios —
         |same work, same memory behavior, minus Spark — are the signal that
         |transfers to a real 4x-executor cluster, where each executor brings
         |its own cores, clocks, memory bandwidth and shuffle disks and the
         |floors themselves scale near-linearly.
         |Skew handling (hot conv_ids combined map-side by the bucket aggregate,
         |so the gap-fill explodes span/step rows per conversation) is in the
         |measured path.
         |""".stripMargin

    Files.createDirectories(Paths.get("BENCH"))
    // preserve the hand-curated cross-round run-history section: fresh
    // tables replace the measured part, history survives re-runs
    // SCALE_OUT redirects exploratory runs (e.g. a SCALE_LO sweep) away
    // from the shipped headline report
    val out = Paths.get(sys.env.getOrElse("SCALE_OUT", "BENCH/BASELINE.md"))
    val history =
      if (Files.exists(out)) {
        val old = Files.readString(out)
        val i = old.indexOf("## Run history")
        if (i >= 0) "\n" + old.substring(i) else ""
      } else ""
    Files.writeString(out, md + history)
    println(f"""{"kernel_raw_med":$kRawM%.3f,"kernel_raw_spread":$kRawS%.3f,"kernel_vs_floor_med":$kRatM%.3f,"kernel_vs_floor_mad":$kRatD%.3f,"kernel_vs_floor_spread":$kRatS%.3f,"e2e_raw_med":$eRawM%.3f,"e2e_raw_spread":$eRawS%.3f,"e2e_vs_floor_med":$eRatM%.3f,"e2e_vs_floor_mad":$eRatD%.3f,"e2e_vs_floor_spread":$eRatS%.3f,"e2e_vs_memfloor_med":$eMemM%.3f,"e2e_vs_memfloor_spread":$eMemS%.3f,"rollup_raw_med":$rRawM%.3f,"rollup_raw_spread":$rRawS%.3f,"rollup_vs_floor_med":$rRatM%.3f,"rollup_vs_floor_mad":$rRatD%.3f,"rollup_vs_floor_spread":$rRatS%.3f,"visits":$visits,"mode":"$mode","lo":$lo,"hi":$hi}""")
  }
}
