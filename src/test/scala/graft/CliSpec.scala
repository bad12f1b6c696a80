package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.synth.Transcripts

/** Console entry points (graft.cli.Main): the config-file-driven user
  * surface mirroring the reference's console_scripts
  * (/root/reference/setup.cfg:51-59). Each command is driven end-to-end on
  * a tiny deterministic fixture: a properties file in, parquet out.
  */
class CliSpec extends AnyFunSuite with SparkSuite {

  private lazy val transcriptsPath = {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val p = Files.createTempDirectory("cli-in").toString + "/transcripts"
    Transcripts.generate(spark, 4, 200).toDF().write.parquet(p)
    p
  }

  private def conf(kv: (String, String)*): String = {
    val f = Files.createTempFile("cli", ".properties")
    Files.writeString(f, kv.map { case (k, v) => s"$k=$v" }.mkString("\n"))
    f.toString
  }

  private def out(): String = Files.createTempDirectory("cli-out").toString + "/t"

  test("distinct: stored day sketches serve range cardinality with raw data gone") {
    import org.apache.spark.sql.functions._
    val events = "/root/testdata/sf0.001/events.parquet"
    val idxDir = out()
    val msg = cli.Main.run("distinct", conf(
      "mode" -> "build", "input" -> events, "output" -> idxDir,
      "ts_col" -> "ts", "id_col" -> "user_id", "p" -> "8"))
    assert(msg.contains("day sketches"))
    // stored registers == the library's grouped sketch (string-day keyed)
    val evB = spark.read.parquet(events)
    val want = graft.ops.Sketch.hllRegistersBy(
      evB.withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
      Seq("day"), "user_id", 8)
    val stored = spark.read.parquet(s"$idxDir/registers")
      .select("day", "bucket", "register")
    assert(stored.collect().map(_.toString).toSet ==
      want.collect().map(_.toString).toSet)
    // full-range query (no raw input key at all) ~ exact distinct
    val ansDir = out()
    cli.Main.run("distinct", conf(
      "mode" -> "query", "index" -> idxDir, "output" -> ansDir))
    val est = spark.read.parquet(ansDir).head().getAs[Double]("estimate")
    val exact = evB.select("user_id").distinct().count().toDouble
    assert(math.abs(est - exact) / exact < 0.16, s"est $est vs exact $exact")
    // sub-range query == estimate from only those days' raw slice
    val ans2 = out()
    cli.Main.run("distinct", conf(
      "mode" -> "query", "index" -> idxDir, "output" -> ans2,
      "from" -> "2024-01-05", "to" -> "2024-01-10"))
    val est2 = spark.read.parquet(ans2).head().getAs[Double]("estimate")
    val slice = evB.where(date_format(col("ts"), "yyyy-MM-dd").between("2024-01-05", "2024-01-10"))
    val want2 = graft.ops.Sketch.hllEstimate(
      graft.ops.Sketch.hllRegisters(slice, "user_id", 8), 8)
      .head().getAs[Double]("estimate")
    assert(est2 == want2, s"range-served $est2 != recomputed $want2")
    // empty range -> estimate 0.0 (not NULL) in the stored answer
    val ans3 = out()
    cli.Main.run("distinct", conf(
      "mode" -> "query", "index" -> idxDir, "output" -> ans3,
      "from" -> "2030-01-01", "to" -> "2030-01-02"))
    val r3 = spark.read.parquet(ans3).head()
    assert(!r3.isNullAt(r3.fieldIndex("estimate")) && r3.getAs[Double]("estimate") == 0.0)
    // malformed bound errors instead of silently matching nothing
    val thrown = intercept[IllegalArgumentException] {
      cli.Main.run("distinct", conf(
        "mode" -> "query", "index" -> idxDir, "output" -> out(),
        "from" -> "garbage"))
    }
    assert(thrown.getMessage.contains("yyyy-MM-dd"))
    // rebuild is idempotent (overwrite): same registers
    cli.Main.run("distinct", conf(
      "mode" -> "build", "input" -> events, "output" -> idxDir,
      "ts_col" -> "ts", "id_col" -> "user_id", "p" -> "8"))
    assert(spark.read.parquet(s"$idxDir/registers")
      .select("day", "bucket", "register")
      .collect().map(_.toString).toSet ==
      want.collect().map(_.toString).toSet)
  }

  test("cc -> snr -> ct chain runs from properties files end-to-end") {
    val ccDir = out()
    cli.Main.run("cc", conf(
      "input" -> transcriptsPath, "output" -> ccDir,
      "step_sec" -> "60", "window_sec" -> "1800", "stride_sec" -> "900"))
    assert(graft.jobs.ProcessJob.readCc(spark, ccDir).count() > 0)
    // resume: a second identical run writes nothing new
    val again = cli.Main.run("cc", conf(
      "input" -> transcriptsPath, "output" -> ccDir,
      "step_sec" -> "60", "window_sec" -> "1800", "stride_sec" -> "900"))
    assert(again.contains("0 of"), s"cc must resume, got: $again")

    val snrDir = out()
    cli.Main.run("snr", conf(
      "input" -> ccDir, "output" -> snrDir,
      "step_sec" -> "60", "taper_sec" -> "120", "taper2_sec" -> "60",
      "lag_min_sec" -> "-900", "lag_max_sec" -> "900",
      "signal_min" -> "-300", "signal_max" -> "300",
      "noise_min" -> "400", "noise_max" -> "900"))
    val snrDf = spark.read.parquet(snrDir)
    assert(snrDf.count() > 0 && snrDf.columns.contains("snr"))

    val ctDir = out()
    cli.Main.run("ct", conf(
      "input" -> snrDir, "output" -> ctDir,
      "threshold" -> "0", "coincidence" -> "1",
      "step_sec" -> "900", "min_duration_steps" -> "1"))
    assert(spark.read.parquet(ctDir).columns.toSet ==
      Set("period", "period_start", "period_end", "n_steps"))
  }

  test("cc over conversations shorter than one window writes no cell; snr over it writes an empty table") {
    val ccDir = out()
    val msg = cli.Main.run("cc", conf(
      "input" -> transcriptsPath, "output" -> ccDir,
      "step_sec" -> "60", "window_sec" -> "604800", "stride_sec" -> "604800"))
    assert(msg.contains("0 of 0"), msg)
    val snrDir = out()
    cli.Main.run("snr", conf("input" -> ccDir, "output" -> snrDir, "step_sec" -> "60"))
    val snrDf = spark.read.parquet(snrDir)
    assert(snrDf.count() == 0 && snrDf.columns.contains("snr"))
    assert(graft.jobs.ProcessJob.readCc(spark, ccDir).columns.toSet ==
      (org.apache.spark.sql.Encoders.product[graft.core.CcRow].schema.fieldNames :+ "day").toSet)
  }

  test("rollup command writes the three tiers; psd writes spectrogram cells") {
    val rDir = out()
    cli.Main.run("rollup", conf("input" -> transcriptsPath, "output" -> rDir, "step_sec" -> "60"))
    val m1 = spark.read.parquet(s"$rDir/tier_1m")
    val d1 = spark.read.parquet(s"$rDir/tier_1d")
    assert(m1.count() > d1.count() && d1.count() > 0)

    // serve: a 2-day window at 50 points must route to the 1h tier
    val h1 = spark.read.parquet(s"$rDir/tier_1h")
    val tMin = m1.agg(org.apache.spark.sql.functions.min("chunk_start"))
      .collect()(0).getTimestamp(0)
    val day0 = new java.sql.Timestamp(tMin.getTime - tMin.getTime % 86400000L)
    val day2 = new java.sql.Timestamp(day0.getTime + 2L * 86400000L)
    val sDir = out()
    cli.Main.run("serve", conf(
      "input" -> rDir, "output" -> sDir, "max_points" -> "50",
      "t0" -> day0.toString.stripSuffix(".0"), "t1" -> day2.toString.stripSuffix(".0")))
    val served = spark.read.parquet(sDir)
    assert(served.select("step_sec").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(3600L))
    assert(served.count() ==
      h1.where(org.apache.spark.sql.functions.col("chunk_start") >= day0 &&
        org.apache.spark.sql.functions.col("chunk_start") < day2).count())

    val pDir = out()
    cli.Main.run("psd", conf(
      "input" -> transcriptsPath, "output" -> pDir,
      "step_sec" -> "60", "window_sec" -> "1800", "stride_sec" -> "900",
      "nperseg" -> "8", "hop" -> "4"))
    val psd = spark.read.parquet(pDir)
    assert(psd.count() > 0 && psd.columns.contains("spec"))

    val lDir = out()
    cli.Main.run("plmax", conf(
      "input" -> transcriptsPath, "output" -> lDir,
      "step_sec" -> "60", "window_sec" -> "1800", "stride_sec" -> "900",
      "nperseg" -> "8", "hop" -> "4", "max_peaks" -> "3"))
    val pl = spark.read.parquet(lDir)
    assert(pl.count() > 0 && pl.columns.contains("power"))
    assert(pl.groupBy("conv_id", "metric", "win_start").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0) <= 3)
  }

  test("rollup reads its input once: each higher tier folds the stored tier below it") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val marker = "rollup_scan_marker"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plans.add(qe)
    }
    def readsInput(qe: QueryExecution): Boolean = qe.analyzed.collect {
      case r: LogicalRelation => r.relation
    }.exists {
      case h: HadoopFsRelation => h.location.rootPaths.exists(_.toUri.getPath == transcriptsPath)
      case _                   => false
    }
    spark.listenerManager.register(listener)
    try {
      cli.Main.run("rollup", conf("input" -> transcriptsPath, "output" -> out(), "step_sec" -> "60"))
      // listener events arrive in order: once the marker query is seen,
      // every plan the rollup executed has been delivered
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60000000000L
      while (!plans.asScala.exists(_.analyzed.output.exists(_.name == marker)))
        if (System.nanoTime() > deadline) fail("the marker query never reached the listener")
        else Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val scans = plans.asScala.count(readsInput)
    assert(scans == 1, s"rollup scanned its input in $scans executed plans")
  }

  test("timelapse command equals the library spectrogram matrix on the same keys") {
    import graft.ops.{Correlate, Ingest, Timelapse}
    val tDir = out()
    cli.Main.run("timelapse", conf(
      "input" -> transcriptsPath, "output" -> tDir,
      "step_sec" -> "60", "window_sec" -> "1800", "stride_sec" -> "900",
      "nperseg" -> "8", "hop" -> "4"))
    val want = Timelapse.matrix(Timelapse.spectrograms(
      Correlate.windows(Ingest.seriesSparse(spark.read.parquet(transcriptsPath), 60), 1800, 900, 60),
      60.0, 8, 4), 60.0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(want.columns.map(df.col).toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
    val got = rows(spark.read.parquet(tDir))
    assert(got.nonEmpty && got == rows(want))
  }

  test("retention command: keep_days=0 after rollup expires every older 1m day; tiered per-day sums unchanged") {
    import org.apache.spark.sql.functions.{col, sum}
    import graft.jobs.RetentionJob
    val inDir = Files.createTempDirectory("ret-in").toString + "/t"
    Transcripts.generate(spark, 3, 1600).toDF().write.parquet(inDir)
    val store = out()
    cli.Main.run("rollup", conf("input" -> inDir, "output" -> store, "step_sec" -> "60"))
    val days = RetentionJob.partitionDays(spark, s"$store/tier_1m")
    assert(days.size > 1, s"fixture must span several days: $days")
    def perDay = RetentionJob.tieredRead(spark, store)
      .groupBy(col("day")).agg(sum(col("n")))
      .collect().map(_.toString).sorted.toSeq
    val before = perDay
    val msg = cli.Main.run("retention", conf("input" -> store, "keep_days" -> "0"))
    assert(msg.startsWith(s"retention: expired ${days.size - 1} of ${days.size - 1} candidate days"), msg)
    assert(RetentionJob.partitionDays(spark, s"$store/tier_1m") == Seq(days.last))
    assert(perDay == before)
  }

  test("beamform command: one row per (metric, window), each the plane-wave kernel over that metric's windows") {
    import spark.implicits._
    // 3 receivers x 2 metrics on a 60 s grid; each metric's wave reaches
    // the receivers with its own delays (samples)
    val rnd = new scala.util.Random(3)
    val sig = Array.fill(260)(rnd.nextInt(9).toDouble)
    val delays = Map("m1" -> Map("a" -> 0, "b" -> 2, "c" -> 0), "m2" -> Map("a" -> 0, "b" -> 0, "c" -> 3))
    val inDir = out()
    (for { (m, dm) <- delays.toSeq; (cv, dl) <- dm.toSeq; i <- 0 until 240 }
      yield (cv, m, new java.sql.Timestamp(1704067200000L + i * 60000L), sig(i + 10 - dl)))
      .toDF("conv_id", "metric", "ts", "value").write.parquet(inDir)
    val coords = Map("a" -> ((0.0, 0.0)), "b" -> ((1000.0, 0.0)), "c" -> ((0.0, 1000.0)))
    val bDir = out()
    cli.Main.run("beamform", conf("input" -> inDir, "output" -> bDir,
      "step_sec" -> "60", "window_sec" -> "3600", "stride_sec" -> "1800",
      "coords" -> "a:0:0,b:1000:0,c:0:1000"))
    type Out = (String, java.sql.Timestamp, Double, Double, Double)
    val got = spark.read.parquet(bDir)
      .select("metric", "win_start", "doa_deg", "velocity", "residual")
      .as[(String, java.sql.Timestamp, Double, Double, Double)].collect().toSeq
    val want = graft.ops.Correlate.windows(spark.read.parquet(inDir), 3600, 1800, 60)
      .select($"metric", $"win_start", $"conv_id", $"values".cast("array<double>"))
      .as[(String, java.sql.Timestamp, String, Array[Double])].collect().toSeq
      .groupBy(r => (r._1, r._2)).toSeq.map { case ((m, w), rs) =>
        val byConv = rs.map(r => r._3 -> r._4).toMap
        val keys = Seq("a", "b", "c")
        val res = graft.kernel.Beamform.planeWave(
          keys.map(coords).toArray, keys.map(byConv).toArray, delta = 60.0)
        (m, w, res.doaDeg, res.velocity, res.residual): Out
      }
    def key(r: Out) = (r._1, r._2.getTime)
    assert(want.map(_._1).toSet == Set("m1", "m2"))
    assert(got.map(key).distinct.size == got.size, "one row per (metric, win_start)")
    assert(got.sortBy(key) == want.sortBy(key))
    // and each metric recovers its own wave: m1 reaches b (1000 m east)
    // 2 steps late, m2 reaches c (1000 m north) 3 steps late
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    assert(got.filter(_._1 == "m1").forall(r => near(r._3, 90.0) && near(r._4, 1000.0 / 120)))
    assert(got.filter(_._1 == "m2").forall(r => near(r._3, 0.0) && near(r._4, 1000.0 / 180)))
  }

  test("dedup and asof commands run end-to-end from properties files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val dDir = out()
    cli.Main.run("dedup", conf("input" -> docs, "output" -> dDir, "mode" -> "minhash"))
    val cl = spark.read.parquet(dDir)
    val nDocs = spark.read.parquet(docs).count()
    assert(cl.count() == nDocs, "one row per document")
    assert(cl.columns.sorted.sameElements(Array("cluster_id", "doc_id", "keep")))
    // every cluster id is its own keeper; keepers <= docs
    assert(cl.where(col("keep")).count() == cl.select(col("cluster_id")).distinct().count())

    val eDir = out()
    cli.Main.run("dedup", conf("input" -> docs, "output" -> eDir, "mode" -> "exact"))
    assert(spark.read.parquet(eDir).count() == nDocs)

    val wDir = out()
    cli.Main.run("dedup", conf("input" -> docs, "output" -> wDir,
      "mode" -> "winnow", "min_shared" -> "3"))
    val wl = spark.read.parquet(wDir)
    assert(wl.count() == nDocs, "one row per document (winnow mode)")
    assert(wl.where(col("keep")).count() ==
      wl.select(col("cluster_id")).distinct().count())

    // keep_by=centrality: still one keeper per cluster, but the keeper is
    // the most-central member (max rank_r, then min id) — checked as a
    // property over the real corpus clusters, not a hand-tuned fixture
    val cDir = out()
    cli.Main.run("dedup", conf("input" -> docs, "output" -> cDir,
      "mode" -> "winnow", "min_shared" -> "3", "keep_by" -> "centrality"))
    val cent = spark.read.parquet(cDir)
    assert(cent.count() == nDocs, "one row per document (centrality keeper)")
    assert(cent.where(col("keep")).count() ==
      cent.select(col("cluster_id")).distinct().count(), "one keeper per cluster")
    // keeper argmax law: no cluster member may outrank its keeper (or tie
    // it with a smaller id)
    val k2 = cent.where(col("keep"))
      .select(col("cluster_id"), col("rank_r").as("k_rank"), col("doc_id").as("k_id"))
    val viol = cent.join(k2, "cluster_id")
      .where(col("rank_r") > col("k_rank") ||
        (col("rank_r") === col("k_rank") && col("doc_id") < col("k_id")))
    assert(viol.count() == 0, "a member outranks its cluster's keeper")
    // the winnow corpus clusters are non-trivial at sf0.001 — make the
    // property vacuous-proof
    assert(cent.groupBy(col("cluster_id")).count()
      .where(col("count") > 1).count() > 0, "no multi-doc clusters to test")

    val events = "/root/testdata/sf0.001/events.parquet"
    val refDir = out()
    spark.read.parquet(events)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("ref_value"))
      .write.parquet(refDir)
    val aDir = out()
    cli.Main.run("asof", conf(
      "left" -> events, "right" -> refDir, "output" -> aDir,
      "keys" -> "user_id", "pick" -> "ref_value", "tolerance_sec" -> "3600"))
    val a = spark.read.parquet(aDir)
    assert(a.count() == spark.read.parquet(events).count())
    assert(a.columns.contains("asof_ts") && a.columns.contains("ref_value"))
  }

  test("streamrollup: live cascade writes 1m/1h/1d tiers; rerun over unchanged input is a no-op") {
    // multi-day fixture so the day tier actually seals
    val inDir = Files.createTempDirectory("srl-in").toString + "/t"
    Transcripts.generate(spark, 3, 1600).toDF().write.parquet(inDir)
    val outDir = Files.createTempDirectory("srl-out").toString
    cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> outDir, "lateness" -> "0 seconds"))
    val m1 = spark.read.parquet(s"$outDir/tier_1m")
    val h1 = spark.read.parquet(s"$outDir/tier_1h")
    val d1 = spark.read.parquet(s"$outDir/tier_1d")
    assert(m1.count() > h1.count() && h1.count() > d1.count() && d1.count() > 0)
    assert(h1.columns.toSet ==
      Set("conv_id", "metric", "chunk_start", "n", "sum", "min", "max", "first", "last", "day"))
    // resumability: AvailableNow + checkpoints — no new input, no new rows
    val (m0, h0, d0) = (m1.count(), h1.count(), d1.count())
    cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> outDir, "lateness" -> "0 seconds"))
    assert(spark.read.parquet(s"$outDir/tier_1m").count() == m0)
    assert(spark.read.parquet(s"$outDir/tier_1h").count() == h0)
    assert(spark.read.parquet(s"$outDir/tier_1d").count() == d0)
  }

  test("streamrollup: kill mid-batch, restart from checkpoint converges to the single-shot result") {
    import org.apache.spark.sql.functions.{col, to_date, unix_micros, min => smin, max => smax}
    val inDir = Files.createTempDirectory("srk-in").toString + "/t"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    // TIME-ORDERED chunk files (the log-rotation shape a live feed has):
    // the rate-limited first attempt advances the watermark chunk by chunk
    // without dropping anything as late — a shuffled-file fixture would
    // lose later files' rows to the lateness-0 watermark by design, which
    // tests streaming semantics, not checkpoint recovery
    locally {
      val t = Transcripts.generate(spark, 3, 1600).toDF().cache()
      val mm = t.agg(smin(unix_micros(col("ts").cast("timestamp"))),
        smax(unix_micros(col("ts").cast("timestamp")))).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1) + 1)
      for (i <- 0 until 8) {
        val a = lo + i * ((hi - lo) / 8 + 1)
        val b = math.min(lo + (i + 1) * ((hi - lo) / 8 + 1), hi)
        val chunkDir = Files.createTempDirectory(s"srk-chunk$i").toString
        t.where(unix_micros(col("ts").cast("timestamp")).between(a, b - 1))
          .coalesce(1).write.mode("overwrite").parquet(chunkDir)
        val part = new java.io.File(chunkDir).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(inDir, f"chunk-$i%02d.parquet")
        Files.move(part.toPath, dst)
        // deterministic oldest-first source order
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      t.unpersist()
    }
    val killed = Files.createTempDirectory("srk-out1").toString
    val clean = Files.createTempDirectory("srk-out2").toString

    // partial first attempt at tier_1m: 1 file per micro-batch, killed
    // while batches may still be flowing (if the box races through all 8
    // batches first, the test degrades to the rerun-no-op case — never a
    // false failure). Source rate-limit options are not part of the
    // checkpoint contract, so the CLI's resume query is compatible.
    locally {
      import org.apache.spark.sql.streaming.Trigger
      val inSchema = spark.read.parquet(inDir).schema
      val src = spark.readStream.schema(inSchema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = graft.streaming.StreamingRollup.tier1Stats(src, "0 seconds")
        .withColumn("day", to_date(col("chunk_start")))
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$killed/tier_1m")
        .option("checkpointLocation", s"$killed/_checkpoints/tier_1m")
        .partitionBy("day")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(1500)
      if (q.isActive) q.stop()
    }

    cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> killed, "lateness" -> "0 seconds"))
    cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> clean, "lateness" -> "0 seconds"))
    for (tier <- Seq("tier_1m", "tier_1h", "tier_1d")) {
      val a = spark.read.parquet(s"$killed/$tier")
      val b = spark.read.parquet(s"$clean/$tier")
      val cols = b.columns.toSeq.sorted
      val diff = a.select(cols.map(col): _*).union(b.select(cols.map(col): _*))
        .groupBy(cols.map(col): _*).count()
        .where(col("count") =!= 2)
      assert(a.count() == b.count() && diff.count() == 0,
        s"$tier differs between kill+restart and single-shot")
    }

    // in-pipeline retention on the live store: keep_days=0 expires every
    // sealed 1m day older than the newest; tieredRead still serves them
    import graft.jobs.RetentionJob
    val daysBefore = RetentionJob.partitionDays(spark, s"$clean/tier_1m")
    val servedBefore = RetentionJob.tieredRead(spark, clean)
      .select(col("day")).distinct().count()
    val msg = cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> clean, "lateness" -> "0 seconds",
      "retention_keep_days" -> "0"))
    assert(msg.contains("retention: expired"), msg)
    val daysAfter = RetentionJob.partitionDays(spark, s"$clean/tier_1m")
    assert(daysAfter.size < daysBefore.size && daysAfter.contains(daysBefore.last),
      s"retention must drop sealed old 1m days: $daysBefore -> $daysAfter")
    assert(RetentionJob.tieredRead(spark, clean)
      .select(col("day")).distinct().count() == servedBefore,
      "expired days must stay answerable from the surviving tiers")
  }

  test("streamrollup: retention expiry MID-stream-lifetime — later input appends exactly-once and tiered reads stay correct") {
    // the 100 TB operating mode (round-5 verdict item 6): a live rollup
    // stream whose 1m tier is expired by retention BETWEEN micro-batch
    // waves, then receives MORE input. Two stores consume the identical
    // two-phase input; only `ret` runs the expiry between the phases. If
    // the expiry damaged the stream's exactly-once log, phase 2 would
    // re-ingest (or drop) rows in `ret` and its 1h/1d tiers would diverge
    // from the control's; if it damaged serving, the day-level tiered
    // reads would diverge.
    import org.apache.spark.sql.functions.{col, unix_micros, min => smin, max => smax, sum => ssum, min => mmin}
    val inDir = Files.createTempDirectory("srr-in").toString + "/t"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    val later = Files.createTempDirectory("srr-later").toString
    // time-ordered chunk files, first half now, second half staged for
    // phase 2 (the CliSpec kill/restart fixture shape)
    locally {
      val t = Transcripts.generate(spark, 3, 1600).toDF().cache()
      val mm = t.agg(smin(unix_micros(col("ts").cast("timestamp"))),
        smax(unix_micros(col("ts").cast("timestamp")))).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1) + 1)
      for (i <- 0 until 8) {
        val a = lo + i * ((hi - lo) / 8 + 1)
        val b = math.min(lo + (i + 1) * ((hi - lo) / 8 + 1), hi)
        val chunkDir = Files.createTempDirectory(s"srr-chunk$i").toString
        t.where(unix_micros(col("ts").cast("timestamp")).between(a, b - 1))
          .coalesce(1).write.mode("overwrite").parquet(chunkDir)
        val part = new java.io.File(chunkDir).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst =
          if (i < 4) java.nio.file.Paths.get(inDir, f"chunk-$i%02d.parquet")
          else java.nio.file.Paths.get(later, f"chunk-$i%02d.parquet")
        Files.move(part.toPath, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      t.unpersist()
    }
    val ret = Files.createTempDirectory("srr-ret").toString
    val ctl = Files.createTempDirectory("srr-ctl").toString
    // phase 1: both stores ingest the first wave
    cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> ret, "lateness" -> "0 seconds"))
    cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> ctl, "lateness" -> "0 seconds"))
    // mid-lifetime expiry on ret ONLY (keep_days=0: every sealed 1m day
    // older than the newest goes); ctl keeps everything
    import graft.jobs.RetentionJob
    val msg = cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> ret, "lateness" -> "0 seconds",
      "retention_keep_days" -> "0"))
    assert(msg.contains("retention: expired"), msg)
    val retDaysMid = RetentionJob.partitionDays(spark, s"$ret/tier_1m")
    val ctlDaysMid = RetentionJob.partitionDays(spark, s"$ctl/tier_1m")
    assert(retDaysMid.size < ctlDaysMid.size,
      s"expiry must drop sealed 1m days mid-lifetime: $retDaysMid vs $ctlDaysMid")
    // phase 2: the later wave arrives; both streams resume their
    // checkpoints over the grown directory
    new java.io.File(later).listFiles().sortBy(_.getName).foreach { f =>
      Files.move(f.toPath, java.nio.file.Paths.get(inDir, f.getName))
    }
    cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> ret, "lateness" -> "0 seconds"))
    cli.Main.run("streamrollup", conf(
      "input" -> inDir, "output" -> ctl, "lateness" -> "0 seconds"))
    // exactly-once across the expiry: the sealed higher tiers must be
    // row-identical between the expired store and the control
    for (tier <- Seq("tier_1h", "tier_1d")) {
      val a = spark.read.parquet(s"$ret/$tier")
      val b = spark.read.parquet(s"$ctl/$tier")
      val cols = b.columns.toSeq.sorted
      val diff = a.select(cols.map(col): _*).union(b.select(cols.map(col): _*))
        .groupBy(cols.map(col): _*).count().where(col("count") =!= 2)
      assert(a.count() == b.count() && diff.count() == 0,
        s"$tier diverged across the mid-lifetime expiry")
    }
    // serving: day-level aggregates of the tiered read agree (ret serves
    // expired days from coarser tiers, so per-day SUMS are the common
    // comparable surface, not raw chunk_start rows)
    def dayAgg(store: String) = RetentionJob.tieredRead(spark, store)
      .groupBy(col("day"), col("conv_id"), col("metric"))
      .agg(ssum(col("n")).as("n"), ssum(col("sum")).as("s"),
        mmin(col("min")).as("mn"), smax(col("max")).as("mx"))
    val da = dayAgg(ret); val db = dayAgg(ctl)
    assert(da.exceptAll(db).count() == 0 && db.exceptAll(da).count() == 0,
      "tiered day-level reads diverged across the mid-lifetime expiry")
    // and the expired days stayed expired (phase 2 only adds newer days)
    val retDaysEnd = RetentionJob.partitionDays(spark, s"$ret/tier_1m")
    assert((ctlDaysMid.toSet -- retDaysMid.toSet)
      .forall(d => !retDaysEnd.contains(d)),
      "phase 2 must not resurrect expired 1m days")
  }

  test("curate command: split-partitioned output equals the library pipeline; external bench mode") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docsP = Files.createTempDirectory("cli-cur").toString + "/docs"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(docsP)
    val o1 = out()
    val msg = cli.Main.run("curate", conf("input" -> docsP, "output" -> o1))
    assert(msg.contains("train="), msg)
    // partitioned-by-split layout: a trainer lists only split=train
    val parts = new java.io.File(o1).list().filter(_.startsWith("split=")).sorted
    assert(parts.nonEmpty && parts.forall(Set("split=train", "split=val", "split=test")), parts.mkString(","))
    val docs = spark.read.parquet(docsP)
    val want = graft.ops.Curation.curate(docs, "doc_id", "text", col("doc_id") % 10 === 0)
    val got = spark.read.parquet(o1)
      .select("doc_id", "n_words", "n_sh", "n_hit", "bucket", "split")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // external holdout: corpus docs are ALL training candidates (no %10 removal)
    val benchP = Files.createTempDirectory("cli-cur").toString + "/bench"
    docs.where(col("doc_id") % 10 === 0).write.parquet(benchP)
    val o2 = out()
    cli.Main.run("curate", conf("input" -> docsP, "output" -> o2, "bench" -> benchP))
    val got2 = spark.read.parquet(o2)
    // the %10 docs now survive curation (they match the holdout 100% ->
    // dropped as contaminated), but their non-bench duplicates aside, the
    // row set must be a superset of the bench_mod run restricted the same way
    assert(got2.where(col("doc_id") % 10 === 0).count() == 0,
      "fully-contaminated holdout copies must still be dropped")
    assert(got2.count() >= got.count())
    // all-filtered corpus (bench_mod=1 puts every doc in the holdout):
    // the write succeeds with zero rows and the count read-back must not
    // choke on schema inference over an empty directory
    val o3 = out()
    val msg3 = cli.Main.run("curate",
      conf("input" -> docsP, "output" -> o3, "bench_mod" -> "1"))
    assert(msg3.contains("curate ->") && !msg3.contains("="), msg3)
  }

  test("ann command: stored index + query equals the library ivfPqTopK; codes partitioned by list") {
    import org.apache.spark.sql.functions._
    val embP = Files.createTempDirectory("cli-ann").toString + "/emb"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").write.parquet(embP)
    val idx = out()
    val msg = cli.Main.run("ann", conf("input" -> embP, "output" -> idx))
    assert(msg.contains("500 vectors coded into 8 lists"), msg)
    // the inverted lists are physical partitions: a query prunes to nProbe dirs
    val parts = new java.io.File(s"$idx/codes").list().filter(_.startsWith("cent_id=")).sorted
    assert(parts.length == 8, parts.mkString(","))
    // query the stored index: identical results to the all-in-one library call
    val qP = Files.createTempDirectory("cli-ann").toString + "/q"
    val emb = spark.read.parquet(embP)
    emb.where(col("vec_id").isin(20L, 21L, 22L)).write.parquet(qP)
    val o = out()
    cli.Main.run("ann", conf("mode" -> "query", "index" -> idx,
      "input" -> qP, "output" -> o))
    val got = spark.read.parquet(o)
    val want = graft.ops.Similarity.ivfPqTopK(emb, Seq(20L, 21L, 22L), 3)
    assert(got.count() == 9 &&
      got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("cc refuses an implicit quadratic pairing above max_auto_pairs_convs") {
    val ex = intercept[IllegalArgumentException] {
      cli.Main.run("cc", conf(
        "input" -> transcriptsPath, "output" -> out(),
        "step_sec" -> "60", "window_sec" -> "1800", "stride_sec" -> "900",
        "max_auto_pairs_convs" -> "2")) // fixture has 4 convs
    }
    assert(ex.getMessage.contains("explicit pairs table"), ex.getMessage)
  }

  test("anomaly command: batch flags a tier table; stream mode is resumable and equals batch") {
    import org.apache.spark.sql.functions._
    // tier-1 rollup of a small transcript set = the table a user points
    // the command at (chunk_start/n columns are the defaults)
    val t = Transcripts.generate(spark, 3, 400).toDF()
    val tier = graft.ops.Rollup.fromPoints(
      graft.ops.Ingest.series(t, 60), "minute").cache()
    val tierDir = Files.createTempDirectory("anom-in").toString + "/tier"
    tier.write.parquet(tierDir)

    // batch mode: library equality
    val outB = out()
    val msg = cli.Main.run("anomaly", conf(
      "input" -> tierDir, "output" -> outB, "win" -> "5", "k" -> "3"))
    assert(msg.startsWith("anomaly:"))
    val got = spark.read.parquet(outB)
    val want = graft.ops.SeriesStats.trailingMadAnomaly(
      tier, Seq("conv_id", "metric"), "chunk_start", "n", win = 5, k = 3)
    assert(got.count() == want.count() && got.count() == tier.count())
    val cols = got.columns.toSeq
    val diff = got.union(want.select(cols.map(col): _*))
      .groupBy(cols.map(col): _*).count().where(col("count") =!= 2)
    assert(diff.count() == 0, "CLI batch flags differ from the library call")

    // centered mode rejects an even window with a usable message
    val e = intercept[IllegalArgumentException](cli.Main.run("anomaly", conf(
      "input" -> tierDir, "output" -> out(), "centered" -> "true", "win" -> "4")))
    assert(e.getMessage.contains("odd win"))

    // stream mode: flags equal the batch trailing operator on the
    // composite key, and a rerun with no new input is a no-op
    val outS = Files.createTempDirectory("anom-out").toString
    val msgS = cli.Main.run("anomaly", conf(
      "input" -> tierDir, "output" -> outS, "mode" -> "stream",
      "win" -> "5", "k" -> "3"))
    assert(msgS.contains("resumable"))
    val flags = spark.read.parquet(s"$outS/flags")
    assert(flags.count() == tier.count())
    val wantS = want.select(
      concat_ws("\u0001", col("conv_id"), col("metric")).as("key"),
      col("chunk_start").as("ts"), col("x"),
      col("med2"), col("mad4"), col("is_anomaly"))
    val colsS = flags.columns.toSeq
    val diffS = flags.union(wantS.select(colsS.map(col): _*))
      .groupBy(colsS.map(col): _*).count().where(col("count") =!= 2)
    assert(diffS.count() == 0, "streamed flags differ from batch trailing operator")
    val n0 = flags.count()
    cli.Main.run("anomaly", conf(
      "input" -> tierDir, "output" -> outS, "mode" -> "stream",
      "win" -> "5", "k" -> "3"))
    assert(spark.read.parquet(s"$outS/flags").count() == n0, "rerun not a no-op")
  }

  test("prep command: clean/packing/chunks outputs equal the library ops; chunks optional") {
    import org.apache.spark.sql.functions._
    val docsP = Files.createTempDirectory("cli-prep").toString + "/docs"
    // lace deterministic PII into the word-soup corpus so the scrub bites
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 4 === 0, concat(lit(" u"), col("doc_id").cast("string"),
          lit("@mail.example"))).otherwise(lit(""))))
      .write.parquet(docsP)
    val o1 = out()
    val msg = cli.Main.run("prep", conf("input" -> docsP, "output" -> o1,
      "budget" -> "64", "shards" -> "4", "chunk_size" -> "16"))
    assert(msg.contains("docs scrubbed") && msg.contains("sequences") && msg.contains("chunks"), msg)
    val docs = spark.read.parquet(docsP)
    val wantClean = graft.ops.TrainPrep.scrubPii(docs, "text")
    val gotClean = spark.read.parquet(s"$o1/clean")
    assert(gotClean.exceptAll(wantClean).count() == 0 && wantClean.exceptAll(gotClean).count() == 0)
    // 125 of 500 docs carry the injected email and must be flagged
    assert(gotClean.where(col("n_emails") > 0).count() == 125)
    val wantPack = graft.ops.TrainPrep.pack(wantClean, "doc_id", "clean", 64, 4)
    val gotPack = spark.read.parquet(s"$o1/packing")
    assert(gotPack.exceptAll(wantPack).count() == 0 && wantPack.exceptAll(gotPack).count() == 0)
    val wantChunks = graft.ops.TrainPrep.chunk(wantClean, "doc_id", "clean", 16, 8)
    val gotChunks = spark.read.parquet(s"$o1/chunks")
    assert(gotChunks.exceptAll(wantChunks).count() == 0 && wantChunks.exceptAll(gotChunks).count() == 0)
    // chunk_size unset -> no chunks dir, message without the chunk clause
    val o2 = out()
    val msg2 = cli.Main.run("prep", conf("input" -> docsP, "output" -> o2))
    assert(!msg2.contains("chunks") && !new java.io.File(s"$o2/chunks").exists(), msg2)
  }

  test("unknown command and missing keys fail with usable messages") {
    intercept[IllegalArgumentException](cli.Main.run("nope", conf("input" -> "x")))
    val e = intercept[IllegalArgumentException](
      cli.Main.run("rollup", conf("input" -> transcriptsPath)))
    assert(e.getMessage.contains("output"))
  }
}
