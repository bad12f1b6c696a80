package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.meta.{Cf19, TableFormat}
import graft.streaming.StreamingRollup
import graft.synth.Transcripts

class IoStreamingSpec extends AnyFunSuite with SparkSuite {

  test("TableFormat props/snapshots work through an explicit file: URI (Hadoop FS path)") {
    val dir = "file:" + java.nio.file.Files.createTempDirectory("tfuri").toString
    TableFormat.writeProps(dir, Cf19.props("uri-test"))
    val props = TableFormat.readProps(dir)
    assert(props("title") == "uri-test" && props("Conventions") == "CF-1.9")
    TableFormat.appendSnapshot(dir, Map("n" -> "1"))
    TableFormat.appendSnapshot(dir, Map("n" -> "2"))
    val snaps = TableFormat.snapshots(dir)
    assert(snaps.map(_("n")) == Seq("1", "2"))
    // atomic replace keeps the metadata hash self-consistent
    TableFormat.writeProps(dir, Cf19.props("uri-test-2"))
    assert(TableFormat.readProps(dir)("title") == "uri-test-2")
  }

  test("CF-1.9 template: the CC table's metadata hash is pinned") {
    // CC tables already on disk carry this template's properties and hash,
    // which the config-hash gate (ProcessJob.checkStoredConfig) reads back:
    // a change to the template must be deliberate
    val p = Cf19.props("xcorrspark pairwise cross-correlation", extra = Map("job_config_sha256" -> "x"))
    assert(p("sha256_hash_metadata") == "4fee628e29898a3c4a33eff2e3e02c3e860e03bc4b19aab95971903e2f333786")
    assert(p("institution") == "n/a" && p("author") == "n/a" && p("source") == "xcorrspark")
  }

  test("appendSnapshot is append-only: max+1 indexing survives a removed snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("tfsnap").toString
    TableFormat.appendSnapshot(dir, Map("n" -> "1"))
    TableFormat.appendSnapshot(dir, Map("n" -> "2"))
    TableFormat.appendSnapshot(dir, Map("n" -> "3"))
    // a manually removed snapshot used to make the count-based index
    // collide with snap-00002 and silently overwrite committed history
    assert(new java.io.File(s"$dir/_snapshots/snap-00001.json").delete())
    TableFormat.appendSnapshot(dir, Map("n" -> "4"))
    val snaps = TableFormat.snapshots(dir)
    assert(snaps.map(_("n")) == Seq("1", "3", "4"),
      s"commit log must keep snap-2 ('3') and append '4' at max+1, got ${snaps.map(_("n"))}")
  }

  test("compactSnapshots folds the manifest into one checkpoint; reads unchanged; appends continue") {
    val dir = java.nio.file.Files.createTempDirectory("tfckpt").toString
    val rec = (i: Int) => Map("n" -> i.toString, "note" -> s"line\nbreak $i") // \n must survive JSONL
    (1 to 5).foreach(i => TableFormat.appendSnapshot(dir, rec(i)))
    val before = TableFormat.snapshots(dir)
    val pruned = TableFormat.compactSnapshots(dir)
    assert(pruned == 4, s"5 records fold to ckpt + kept cover: 4 pruned, got $pruned")
    assert(TableFormat.snapshots(dir) == before, "history must be identical after compaction")
    val files = new java.io.File(s"$dir/_snapshots").list()
      .filterNot(_.startsWith(".")).sorted.toSeq // drop Hadoop .crc sidecars
    assert(files == Seq("ckpt-snap-00004.json", "snap-00004.json"),
      s"expected one checkpoint + the kept cover, got $files")
    // idempotent: nothing new to fold
    assert(TableFormat.compactSnapshots(dir) == 0)
    // appends continue ABOVE the cover (no index recycling into the covered range)
    TableFormat.appendSnapshot(dir, Map("n" -> "6"))
    assert(TableFormat.snapshots(dir).map(_("n")) == (1 to 6).map(_.toString))
    // second compaction folds the newer record in
    assert(TableFormat.compactSnapshots(dir) == 2) // old ckpt + old cover pruned
    assert(TableFormat.snapshots(dir).map(_("n")) == (1 to 6).map(_.toString))
  }

  test("compactSnapshots crash-mid-prune leaves a readable store; rerun reclaims; index HWM survives cover removal") {
    val dir = java.nio.file.Files.createTempDirectory("tfckpt2").toString
    (1 to 3).foreach(i => TableFormat.appendSnapshot(dir, Map("n" -> i.toString)))
    // simulate the crash window: checkpoint committed, NOTHING pruned yet —
    // replay the commit step by compacting, then restoring a covered record
    // and a stale checkpoint alongside the new one
    TableFormat.compactSnapshots(dir)
    val snapDir = new java.io.File(s"$dir/_snapshots")
    java.nio.file.Files.write(snapDir.toPath.resolve("snap-00000.json"),
      "{\"n\":\"1\"}".getBytes("UTF-8")) // leftover covered record
    java.nio.file.Files.write(snapDir.toPath.resolve("ckpt-snap-00001.json"),
      "{\"n\":\"1\"}\n{\"n\":\"2\"}".getBytes("UTF-8")) // stale older checkpoint
    // reader ignores both leftovers — no double-count, newest cover wins
    assert(TableFormat.snapshots(dir).map(_("n")) == Seq("1", "2", "3"))
    // rerun reclaims the garbage and changes nothing visible
    assert(TableFormat.compactSnapshots(dir) == 2)
    assert(TableFormat.snapshots(dir).map(_("n")) == Seq("1", "2", "3"))
    // even if the kept cover record is manually removed, the checkpoint's
    // cover keeps the high-water mark: the next append must NOT mint an
    // index that sorts inside the covered range and vanish from reads
    assert(new java.io.File(snapDir, "snap-00002.json").delete())
    TableFormat.appendSnapshot(dir, Map("n" -> "4"))
    assert(TableFormat.snapshots(dir).map(_("n")) == Seq("1", "2", "3", "4"))
  }

  test("streaming cascade: 1h from sealed 1m, then 1d from sealed 1h == batch fromLower") {
    import spark.implicits._
    // ~3-day span so day-tier cells actually seal
    val t = Transcripts.generate(spark, 3, 1600).toDF()
    val m1 = graft.ops.Rollup.fromPoints(graft.ops.Ingest.series(t, 60), "minute")
      .cache()

    // one cascade stage: sealed lower-tier parquet -> the streaming
    // fromLower(unit) vs the batch fromLower restricted to windows the
    // watermark closed
    def stage(lower: org.apache.spark.sql.DataFrame, unit: String, span: String,
        qname: String): org.apache.spark.sql.DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory(s"stream-cascade-$unit").toString
      lower.write.mode("overwrite").parquet(dir)
      val streamIn = spark.readStream.schema(lower.schema).parquet(dir)
      val q = graft.ops.Rollup.fromLower(streamIn, unit)
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.sql(s"SELECT * FROM $qname")
      val maxChunk = lower.agg(max("chunk_start")).collect()(0).getTimestamp(0)
      val want = graft.ops.Rollup.fromLower(lower, unit)
        .where(col("chunk_start") + expr(s"interval $span") <= lit(maxChunk))
      // all stats are integral-valued doubles/longs -> exact equality
      val cols = got.columns.toSeq
      val diff = got.union(want.select(cols.map(col): _*))
        .groupBy(cols.map(col): _*).count().where(col("count") =!= 2)
      assert(got.count() > 0 && got.count() == want.count(),
        s"$unit: ${got.count()} streamed vs ${want.count()} batch-sealed cells")
      assert(diff.count() == 0, s"$unit tier differs from batch fromLower")
      got
    }

    val h1sealed = stage(m1, "hour", "1 hour", "cascade_h1")
    stage(h1sealed, "day", "1 day", "cascade_d1")
  }

  test("streaming tier-1 rollup equals the batch tier on the same data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream-in").toString
    val t = Transcripts.generate(spark, 5, 80).toDF()
    t.write.mode("overwrite").parquet(dir)

    val streamIn = spark.readStream.schema(t.schema).parquet(dir)
    val agg = StreamingRollup.tier1m(streamIn, lateness = "0 seconds")
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_tier1m")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.sql("SELECT conv_id, chunk_start, turn_rate, token_volume FROM stream_tier1m")
    // batch equivalent over occupied buckets only (streaming emits no
    // gap-fill rows), restricted to windows the watermark has CLOSED —
    // append mode never emits windows still open at end-of-stream
    val maxTs = t.agg(max("ts")).collect()(0).getTimestamp(0)
    val want = graft.ops.Ingest.bucketed(t, 60)
      .select(col("conv_id"), col("ts").as("chunk_start"), col("turn_rate"), col("token_volume"))
      .where(col("chunk_start") + expr("interval 60 seconds") <= lit(maxTs))
    val diff = got.union(want)
      .groupBy("conv_id", "chunk_start", "turn_rate", "token_volume")
      .count().where(col("count") =!= 2)
    assert(got.count() > 0 && got.count() == want.count())
    assert(diff.count() == 0, "streaming tier differs from batch tier")
  }

  test("compactSnapshots: random append/compact interleavings never lose or reorder history") {
    val rng = new scala.util.Random(7)
    val dir = java.nio.file.Files.createTempDirectory("tfckpt3").toString
    var appended = 0
    (1 to 60).foreach { _ =>
      if (rng.nextInt(3) == 0) TableFormat.compactSnapshots(dir)
      else {
        appended += 1
        TableFormat.appendSnapshot(dir, Map("n" -> appended.toString))
      }
      val seen = TableFormat.snapshots(dir).map(_("n"))
      assert(seen == (1 to appended).map(_.toString),
        s"history diverged after $appended appends: $seen")
    }
    // end state folds to checkpoint + kept cover + any post-compact tail
    TableFormat.compactSnapshots(dir)
    val files = new java.io.File(s"$dir/_snapshots").list()
      .filterNot(_.startsWith(".")).sorted.toSeq
    assert(files.count(_.startsWith("ckpt-")) == 1 && files.size == 2, s"got $files")
  }

  test("tier1m watermark: late-within-horizon rows fold; later-than-watermark rows drop deterministically") {
    import spark.implicits._
    // the production late-data contract at the streaming tier: a turn that
    // arrives after its window sealed is DROPPED (never a partial re-emit
    // that would double-count in the cascade), a turn inside the lateness
    // horizon folds into the still-open window. Two AvailableNow runs over
    // one checkpoint make the batch boundary (and the persisted watermark)
    // deterministic.
    val base = java.nio.file.Files.createTempDirectory("late-rows").toString
    val in = s"$base/in"
    def ts(m: Int, s: Int) = new java.sql.Timestamp(1704067200000L + (m * 60 + s) * 1000L)
    def write(rs: (Int, Int)*): Unit =
      rs.map { case (m, s) => ("c", ts(m, s), "w") }.toDF("conv_id", "ts", "text")
        .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = StreamingRollup.tier1m(
          spark.readStream.schema(spark.read.parquet(in).schema).parquet(in),
          lateness = "2 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // run 1: on-time turns; final watermark = 9:10 - 2:00 = 7:10, so
    // minute-windows 0..3 seal and evict; [9,10) stays open in state
    write((0, 10), (1, 10), (2, 10), (3, 10), (9, 10))
    runOnce()
    // run 2 against the SAME checkpoint (watermark restored at 7:10):
    //   3:20 -> window [3,4) already sealed  -> dropped
    //   8:30 -> window [8,9) end 9:00 > 7:10 -> folds (late but in horizon)
    //   12:10 on-time -> watermark 10:10 seals [8,9) and [9,10)
    write((3, 20), (8, 30), (12, 10))
    runOnce()
    val got = spark.read.parquet(s"$base/out")
      .select(((unix_timestamp(col("chunk_start")) - 1704067200L) / 60).cast("int").as("m"),
        col("turn_rate").cast("long").as("n"))
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L, 8 -> 1L, 9 -> 1L),
      s"sealed tier got ${got.mkString(",")}: window 3 must NOT refold the too-late row, " +
        "window 8 must contain the in-horizon late row, window 12 stays open")
  }

  test("gopherQuality + pqEncodeWith run unchanged over a stream (stateless maps == batch)") {
    import org.apache.spark.sql.streaming.Trigger
    // both ops are pure per-row codegen maps — the claim here is that they
    // are literally streaming-safe, not re-implementations: the same
    // library call over readStream must equal the batch call row-for-row
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dDir = java.nio.file.Files.createTempDirectory("stream-gopher").toString
    docs.write.mode("overwrite").parquet(dDir)
    val gq = graft.ops.TextQuality.gopherQuality(
        spark.readStream.schema(docs.schema).parquet(dDir), "doc_id", "text", 25, 80)
      .writeStream.outputMode("append").format("memory").queryName("stream_gopher")
      .trigger(Trigger.AvailableNow()).start()
    gq.awaitTermination(120000)
    val gGot = spark.sql("SELECT * FROM stream_gopher")
    val gWant = graft.ops.TextQuality.gopherQuality(docs, "doc_id", "text", 25, 80)
    assert(gGot.count() == 500 &&
      gGot.exceptAll(gWant).count() == 0 && gWant.exceptAll(gGot).count() == 0)
    // PQ encode of a streaming corpus against a FROZEN batch codebook (the
    // production shape: codebooks are trained offline, the corpus arrives)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val eDir = java.nio.file.Files.createTempDirectory("stream-pq").toString
    emb.write.mode("overwrite").parquet(eDir)
    val codebook = emb.where(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"),
        expr(graft.ops.Similarity.castVec).as("cv"))
    val pq = graft.ops.Similarity.pqEncodeWith(
        spark.readStream.schema(emb.schema).parquet(eDir), codebook)
      .selectExpr("vec_id", "concat_ws('-', codes) AS code_s")
      .writeStream.outputMode("append").format("memory").queryName("stream_pq")
      .trigger(Trigger.AvailableNow()).start()
    pq.awaitTermination(120000)
    val pGot = spark.sql("SELECT * FROM stream_pq")
    val pWant = graft.ops.Similarity.pqEncode(emb)
      .selectExpr("vec_id", "concat_ws('-', codes) AS code_s")
    assert(pGot.count() == 500 &&
      pGot.exceptAll(pWant).count() == 0 && pWant.exceptAll(pGot).count() == 0)
  }
}
