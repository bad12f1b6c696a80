package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Correlate, Ingest, Trigger}
import graft.synth.Transcripts

/** Physical-plan quality gates: the properties that make these operators
  * hold at 100 TB are asserted on the plans themselves, so a regression
  * (a filter that stops reaching the scan, a range join that degrades to a
  * nested loop, an extra exchange on the CC path) fails CI instead of
  * surfacing as a cluster bill.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: filter + projection reach the parquet scan (pushdown/pruning)") {
    spark.sparkContext.setLogLevel("WARN")
    val df = Queries.q02.fn(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("IsNotNull") || p.contains("GreaterThan"), s"filter not pushed:\n$p")
    // column pruning: the scan must not read all 16 lineitem columns
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.split(",").length <= 6, s"scan reads too many columns: $read")
  }

  test("q03: small dims broadcast (BroadcastHashJoin, no shuffle join for nation/region)") {
    val p = plan(Queries.q03.fn(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
  }

  test("ccPairs: single array exchange, no sort-merge/nested-loop join, no collect") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 8, 120).toDF()
    val series = Ingest.series(t, 60)
    val wins = Correlate.windows(series, 1800, 900, 60)
    val pairs = Seq(("conv-000000", "conv-000001")).toDF("conv_a", "conv_b")
    val p = plan(Correlate.ccPairs(wins, pairs, 60, 1800).toDF())
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ on the CC path:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian on the CC path:\n$p")
    // pair tagging must be a broadcast join, and the window arrays must be
    // exchanged exactly once (the pairing groupBy) after assembly: the plan
    // has one exchange keyed by (pair, metric, win_start)
    assert(p.contains("BroadcastHashJoin"), s"pair tagging not broadcast:\n$p")
    val pairingExchanges = "Exchange hashpartitioning\\(pair".r.findAllIn(p).length
    assert(pairingExchanges == 1, s"want exactly 1 pair-keyed exchange, got $pairingExchanges:\n$p")
  }

  test("windows→ccPairs assembly has no Scala UDF (densify is a codegen'd Expression)") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 6, 120).toDF()
    val wins = Correlate.windows(Ingest.series(t, 60), 1800, 900, 60)
    val pairs = Seq(("conv-000000", "conv-000001")).toDF("conv_a", "conv_b")
    val p = plan(Correlate.ccPairs(wins, pairs, 60, 1800).toDF())
    assert(!p.contains("UDF("), s"Scala UDF broke codegen on the assembly path:\n$p")
    assert(p.contains("densifyfloat"), s"native densify expression missing:\n$p")
  }

  test("CC job path (ccCells): one pair-keyed exchange with an explicit count, no array SortAggregate") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 8, 120).toDF()
    val series = Ingest.seriesSparse(t, 60)
    val pairs = Seq(("conv-000000", "conv-000001"), ("conv-000002", "conv-000003")).toDF("conv_a", "conv_b")
    val cfg = graft.jobs.ProcessJob.Config(stepSec = 60, windowSec = 1800, strideSec = 1200)
    val cells = graft.jobs.ProcessJob.workList(series, pairs, cfg)
    val p = plan(Correlate.ccCells(series, cells, 1800, 1200, 60).toDF())
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ on the CC path:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian on the CC path:\n$p")
    assert(!p.contains("SortAggregate"), s"sort-based aggregation on the CC path:\n$p")
    assert(!p.contains("UDF("), s"Scala UDF on the CC path:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"pair tagging not broadcast:\n$p")
    // blocks and markers share ONE exchange, keyed by (pair, metric), whose
    // partition count is fixed (AQE may not coalesce the FFT stage)
    val pairExchanges = "Exchange hashpartitioning\\(pair".r.findAllIn(p).length
    assert(pairExchanges == 1, s"want exactly 1 pair-keyed exchange, got $pairExchanges:\n$p")
    assert("Exchange hashpartitioning\\(pair#\\d+, metric#\\d+, 4\\), REPARTITION_BY_NUM".r
      .findFirstIn(p).isDefined, s"pair exchange without an explicit count:\n$p")
  }

  test("windows: blocks and markers through one explicit-count (conv_id, metric) exchange, no join, no Scala UDF") {
    val t = Transcripts.generate(spark, 8, 120).toDF()
    val p = plan(Correlate.windows(Ingest.seriesSparse(t, 60), 1800, 1200, 60))
    for (join <- Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "NestedLoopJoin", "CartesianProduct"))
      assert(!p.contains(join), s"$join on the windows path:\n$p")
    assert(!p.contains("UDF("), s"Scala UDF on the windows path:\n$p")
    assert(p.contains("densifyfloat"), s"native densify expression missing:\n$p")
    // the walk's exchange takes the union of blocks and markers, and its
    // partition count is fixed
    assert("Exchange hashpartitioning\\(conv_id#\\d+, metric#\\d+, 4\\), REPARTITION_BY_NUM.*\\n\\s*\\+- Union".r
      .findFirstIn(p).isDefined, s"no explicit-count (conv_id, metric) exchange over the blocks and markers:\n$p")
  }

  test("asof join: one key exchange over the union, no range/nested-loop join") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val r = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("ref_value"))
    val df = graft.ops.AsofJoin.leftAsof(
      e.select(col("event_id"), col("user_id"), col("ts")),
      r, Seq("user_id"), "ts", "ts", Seq("ref_value"))
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of degraded to a per-row probe:\n$p")
    assert(!p.contains("SortMergeJoin"), s"as-of should not JOIN at all (union+window):\n$p")
    val keyExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(keyExchanges == 1, s"want exactly 1 key exchange for the carry-forward window, got $keyExchanges:\n$p")
  }

  test("bucketed asof: carry-forward window is (key, bucket)-partitioned; no range/BNLJ") {
    val e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val r = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("ref_value"))
    val df = graft.ops.AsofJoin.leftAsofBucketed(
      e.select(col("event_id"), col("user_id"), col("ts")),
      r, Seq("user_id"), "ts", "ts", Seq("ref_value"), bucketSec = 86400)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucketed as-of degraded to a per-row probe:\n$p")
    // the hot-key point: the big row-level sort exchange hashes on
    // (key, bucket) — a hot key's history spreads across partitions
    assert("Exchange hashpartitioning\\(user_id[^)]*__bkt".r.findFirstIn(p).isDefined,
      s"row-level carry window is not bucket-partitioned:\n$p")
  }

  test("allPairs refuses an implicit quadratic pairing above maxConvs") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 12, 20).toDF()
    val s = Ingest.seriesSparse(t, 60)
    val ex = intercept[IllegalArgumentException] {
      Correlate.allPairs(s, maxConvs = 8)
    }
    assert(ex.getMessage.contains("explicit pairs table"), ex.getMessage)
    assert(Correlate.allPairs(s, maxConvs = 12).count() == 12L * 11 / 2)
  }

  test("toChunks: one explicit-count group-walk exchange — no typed aggregate, no Scala UDF, no collect_list") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 4, 60).toDF()
    val df = graft.ops.Rollup.toChunks(Ingest.series(t, 60), "hour")
    df.collect()
    val p = plan(df)
    assert(!p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"),
      s"typed aggregate on the encode path:\n$p")
    // the walk's exchange is keyed by (conv_id, metric, chunk) and its
    // partition count is fixed (AQE may not coalesce the encode stage)
    assert("Exchange hashpartitioning\\(conv_id#\\d+, metric#\\d+, chunk#\\d+L, 4\\), REPARTITION_BY_NUM".r
      .findFirstIn(p).isDefined, s"no explicit-count (conv_id, metric, chunk) exchange:\n$p")
    assert(!p.contains("UDF("), s"Scala UDF on the encode path:\n$p")
    assert(!p.contains("collect_list"), s"boxed-Row collect_list is back:\n$p")
  }

  test("lttbTier: two explicit-count group-walk exchanges (per day, then per key), no typed aggregate") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 4, 60).toDF()
    // the initial plan, which lists each exchange once
    val p = plan(graft.ops.Rollup.lttbTier(Ingest.series(t, 60), 20))
    assert(!p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"),
      s"typed aggregate on the LTTB path:\n$p")
    // the per-key pass's chunk is the constant 0, folded into the exchange
    val walks = "Exchange hashpartitioning\\(conv_id#\\d+, metric#\\d+, (chunk#\\d+L|0), 4\\), REPARTITION_BY_NUM".r
      .findAllMatchIn(p).map(_.group(1).take(5)).toSeq.sorted
    assert(walks == Seq("0", "chunk"), s"want one explicit-count exchange per pass, per day then per key:\n$p")
    assert(!p.contains("UDF("), s"Scala UDF on the LTTB path:\n$p")
  }

  test("tier-1 over Ingest.series: the bucket exchange and one explicit-count conv_id exchange, none above the window") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 4, 60, hotConvs = 1, hotFactor = 5).toDF()
    // the initial plan, which lists each exchange once
    val p = plan(graft.ops.Rollup.cascade(Ingest.series(t, 60))._1)
    val exchanges = p.linesIterator.filter(_.matches(".*\\bExchange .*")).toSeq
    assert(exchanges.size == 2, s"want the bucket aggregate's exchange and the fill's, got:\n$p")
    assert("Exchange hashpartitioning\\(conv_id#\\d+, 4\\), REPARTITION_BY_NUM".r.findFirstIn(p).isDefined,
      s"no explicit-count conv_id exchange before the fill's window:\n$p")
    assert(!"hashpartitioning\\(conv_id#\\d+, ts#".r.findFirstIn(p).isDefined, s"the fill is salted by ts again:\n$p")
    assert(p.contains("Window ["), s"no Window in the plan:\n$p")
    assert(!p.linesIterator.takeWhile(!_.contains("Window [")).exists(_.contains("Exchange")),
      s"an exchange above the fill's window:\n$p")
  }

  test("dedup clusters: star-contraction rounds are equi-joins, never cartesian") {
    import spark.implicits._
    // capture the FIRST round's plan shape by running one large-star +
    // small-star composition on a small edge set: the iteration is a
    // fixpoint of exactly this plan, so gating one round gates them all
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2")
    val nodes = (0L to 5L).toDF("doc_id")
    val out = graft.ops.Dedup.clusters(e, "d1", "d2", nodes, "doc_id")
    val p = plan(out)
    assert(!p.contains("CartesianProduct"), s"cartesian in the cluster assembly:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in the cluster assembly:\n$p")
  }

  test("q36: DF cap is groupBy+broadcast anti-join; shingle lineage reused, no window buffer") {
    val df = Queries.q36.fn(spark, "/root/testdata/sf0.001")
    df.collect() // AQE materializes ReusedExchange only in the final plan
    val p = plan(df)
    assert(!"Window \\[".r.findFirstIn(p).isDefined,
      s"window-function DF cap is back (full shuffle+buffer of the shingle table):\n$p")
    assert(p.contains("ReusedExchange"),
      s"shingle lineage computed more than once (no exchange reuse):\n$p")
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(p).isDefined,
      s"hot-shingle cap not a broadcast anti-join:\n$p")
  }

  test("ivfAssign: narrow broadcast fold — zero shuffle of the embeddings, zero windows") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), expr(graft.ops.Similarity.castVec).as("v"))
    val cents = e.where(col("vec_id") < 8).select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val p = plan(graft.ops.Similarity.ivfAssign(e, cents))
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"assignment shuffles the embeddings (was: crossJoin×k + row_number over N·k rows):\n$p")
    assert(!"Window \\[".r.findFirstIn(p).isDefined, s"window on the assignment path:\n$p")
    assert(p.contains("BroadcastExchange"), s"codebook not broadcast:\n$p")
  }

  test("kmeansRefine: one partial-agg exchange; the vectors themselves never shuffle") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.ops.Similarity.kmeansRefine(e, nCentroids = 8))
    // assignment is the ivfAssign broadcast fold (zero exchange); the ONE
    // hash exchange is the (cent_id, dim) groupBy, and it must sit above a
    // map-side partial aggregate so it carries <= partitions*k*dim combined
    // rows, never the exploded vector components
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly one hash exchange (the centroid-update groupBy):\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"centroid update not map-side combined before the exchange:\n$p")
    assert(p.contains("BroadcastExchange"), s"codebook not broadcast:\n$p")
    assert(!"Window \\[".r.findFirstIn(p).isDefined, s"window on the refine path:\n$p")
  }

  test("pqEncode: zero-exchange broadcast fold — the codes path never shuffles the corpus") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.ops.Similarity.pqEncode(e))
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"PQ encode shuffles the embeddings:\n$p")
    assert(!"Window \\[".r.findFirstIn(p).isDefined, s"window on the encode path:\n$p")
    assert(p.contains("BroadcastExchange"), s"codebook not broadcast:\n$p")
  }

  test("ivfPqTopK: corpus-sized joins stay equi, cross joins are broadcast-only") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.ops.Similarity.ivfPqTopK(e, Seq(20L, 21L, 22L), 3))
    // an unbroadcast cross join is the scale killer; the intentional tiny
    // crossJoins (8 centroids / 1-row codebook / |queries| LUT rows) are
    // all BroadcastNestedLoopJoin by construction and allowed
    assert(!p.contains("CartesianProduct"), s"unbroadcast cartesian on the IVF-PQ path:\n$p")
    // codes↔assignment (vec_id) and probed-lists (cent_id) — the joins
    // that carry corpus-sized rows — must be hash/merge equi joins
    val equi = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[(vec_id|cent_id)".r
    assert(equi.findAllIn(p).length >= 2, s"corpus joins degraded from equi shape:\n$p")
    assert(p.contains("BroadcastExchange"), s"codebook/centroids not broadcast:\n$p")
  }

  test("rollup chunk READ path has no Scala UDF (ChunkDecode is a codegen'd Expression)") {
    import spark.implicits._
    val t = Transcripts.generate(spark, 3, 60).toDF()
    val pts = Ingest.series(t, 60)
    val dir = java.nio.file.Files.createTempDirectory("chunks").toString
    graft.ops.Rollup.toChunks(pts, "day").write.mode("overwrite").parquet(dir)
    val p = plan(graft.ops.Rollup.fromChunks(spark.read.parquet(dir)))
    assert(!p.contains("UDF("), s"Scala UDF broke codegen on the chunk read path:\n$p")
    assert(p.contains("chunkdecode"), s"native decode expression missing:\n$p")
  }

  test("Trigger.values: bucket equi-join (hash join), never a nested-loop range join") {
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 60000L)
    val cf = (0 until 200).map(i => ("k", ts(i), 5.0)).toDF("key", "time", "value")
    val periods = Trigger.periods(cf, 1.0, 1, 60, minDurationSteps = 2)
    val p = plan(Trigger.values(cf, periods, 60))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"values degraded to BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("Trigger.periods: the islands window sort is bucket-partitioned, not global") {
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 60000L)
    val cf = (0 until 200).map(i => ("k", ts(i), 5.0)).toDF("key", "time", "value")
    val p = plan(Trigger.periods(cf, 1.0, 1, 60, bucketSteps = 16))
    // the first islands pass must be a partitioned window (partition spec
    // contains the bucket), not Window [.. ORDER BY ..] over everything
    assert("Window \\[[^\\]]*row_number\\(\\)[^\\]]*\\], \\[bucket".r.findFirstIn(p).isDefined,
      s"islands window not bucket-partitioned:\n$p")
  }

  test("retention seal check: candidate-day filters PRUNE the tier scans (no full-tier read)") {
    import spark.implicits._
    // 4-day day-partitioned tier pair; the check targets 2 candidate days
    val store = java.nio.file.Files.createTempDirectory("plan-ret").toString
    val rows = (0 until 4).flatMap { d =>
      (0 until 10).map(h => ("c1", "m", java.sql.Timestamp.valueOf(f"2024-01-0${d + 1}%d 0$h%d:00:00"), 1L, 1.0))
    }.toDF("conv_id", "metric", "chunk_start", "n", "sum")
      .withColumn("day", to_date(col("chunk_start")))
    rows.write.partitionBy("day").parquet(s"$store/tier_1m")
    rows.write.partitionBy("day").parquet(s"$store/tier_1h")
    val (lowerN, upperN) = graft.jobs.RetentionJob.sealCheckFrames(
      spark, s"$store/tier_1m", s"$store/tier_1h", Seq("2024-01-01", "2024-01-02"))
    for (df <- Seq(lowerN, upperN)) {
      val p = plan(df)
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
      assert(pf.contains("day") && (pf.contains("IN") || pf.contains("in(")),
        s"candidate-day predicate did not reach PartitionFilters:\n$p")
    }
    assert(lowerN.collect().map(_.getString(0)).sorted.sameElements(Array("2024-01-01", "2024-01-02")))
  }

  test("GraftExtensions: graft_* SQL functions resolve to the SAME codegen Expressions as the Column API") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    // semantics: SQL call == Column-API call on the same data
    // parquet-backed so ConvertToLocalRelation can't constant-fold the
    // projection away before the plan assertions see the expression
    val dir = java.nio.file.Files.createTempDirectory("ext-docs").toString
    Seq("a b  c", "", " x ").toDF("text").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    df.createOrReplaceTempView("ext_docs")
    val sqlCounts = spark.sql("SELECT graft_token_count(text) AS n FROM ext_docs ORDER BY length(text) DESC")
    val colCounts = df.orderBy(length(col("text")).desc)
      .select(graft.functions.TokenCount(col("text")).as("n"))
    assert(sqlCounts.collect().map(_.getInt(0)).toSeq == Seq(3, 1, 0))
    assert(sqlCounts.collect().sameElements(colCounts.collect()))
    // plan: the SQL path is the native Expression (no UDF wrapper)
    val p = plan(sqlCounts)
    assert(!p.contains("UDF(") && p.toLowerCase.contains("tokencount"),
      s"SQL function did not resolve to the native expression:\n$p")
    // arity errors surface at analysis, not execution
    val err = intercept[Exception](spark.sql("SELECT graft_token_count(text, 2) FROM ext_docs").collect())
    assert(err.getMessage.contains("expects 1 argument"), err.getMessage)
    // densify: npts must be a literal; array round-trips through SQL
    val d = spark.sql(
      "SELECT graft_densify_float(array(struct(0, CAST(1.5 AS FLOAT)), struct(3, CAST(2.5 AS FLOAT))), 4) AS v")
      .collect().head.getSeq[Float](0)
    assert(d == Seq(1.5f, 0f, 0f, 2.5f), s"densify via SQL got $d")

    // the build-time injectFunction path: a FRESH session (same context)
    // built .withExtensions(new GraftExtensions) has the functions without
    // any register() call
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions).getOrCreate()
      assert(s2 ne spark, "expected a fresh session for the extensions path")
      assert(s2.sql("SELECT graft_token_count('a b') AS n").collect().head.getInt(0) == 2)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("q74 tf-idf: df join is a hash join, top-k window is doc-partitioned, only the 1-row N crossjoin nests") {
    val p = plan(Queries.q74.fn(spark, "/root/testdata/sf0.001"))
    // the ONLY nested-loop join allowed is the broadcast of the 1-row
    // n_docs aggregate; the tf |><| df(term) join must be a hash join so
    // AQE can split skewed stop-word keys at corpus scale
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1, s"expected exactly the 1-row N crossjoin, got $bnlj BNLJs:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"df join is not a hash/merge join:\n$p")
    // the rank window must be doc-partitioned — a global window would
    // funnel the whole scored table through one task
    val win = p.linesIterator.find(_.contains("Window [")).getOrElse("")
    assert("Window \\[[^\\]]*\\], \\[doc_id".r.findFirstIn(win).isDefined,
      s"top-k window not partitioned by doc_id: $win")
  }

  test("q78 curation: all three joins stay equi-joins; no cartesian anywhere in the composition") {
    val p = plan(Queries.q78.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"curation composition degraded to a non-equi join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no hash/merge join in the curation plan:\n$p")
  }

  test("q75 contamination: shingle-set join stays an equi-join (no BNLJ/cartesian), one groupBy(doc)") {
    val p = plan(Queries.q75.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"contamination join degraded to a non-equi join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"bench-shingle join is not a hash/merge join:\n$p")
  }

  test("q91 interval overlap: range predicate rides a (key,bucket) HASH join — never a nested-loop range join") {
    val p = plan(Queries.q91.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"interval join degraded to a nested-loop range join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no hash/merge join in the interval plan:\n$p")
  }

  test("q90 heavy hitters: candidate set broadcast, only the 1-row total nests, no full-vocab shuffle join") {
    val p = plan(Queries.q90.fn(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), s"candidate semi-join not broadcast:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj == 1, s"expected exactly the 1-row total crossjoin, got $bnlj BNLJs:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("q89 HLL: one partial-aggregated groupBy over <=256 buckets, no join, no window") {
    val p = plan(Queries.q89.fn(spark, "/root/testdata/sf0.001"))
    assert(p.contains("HashAggregate"), s"registers not a hash aggregate:\n$p")
    assert(!p.contains("Join") && !p.contains("Window ["),
      s"unexpected join/window in the sketch plan:\n$p")
    // partial agg must run map-side: two HashAggregate levels around one exchange
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"no map-side partial aggregation:\n$p")
  }

  test("q88 boilerplate: frequency build + join-back are equi-joins/aggregates keyed by md5(line), no nested loop") {
    val p = plan(Queries.q88.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"boilerplate join degraded:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"line-frequency join-back is not a hash/merge join:\n$p")
    // the doc-frequency must be the distinct-pairs-then-count form, not an
    // engine-planned count(DISTINCT) expand
    assert(!p.contains("Expand"), s"count(DISTINCT) expand snuck in:\n$p")
  }

  test("q92 CMS: single scan (one Generate explode, no union rescans), map-side partial agg, no join") {
    val p = plan(Queries.q92.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Join"), s"unexpected join in the CMS grid plan:\n$p")
    // one input scan: the d hashes ride ONE exploded array, not d unions
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans (per-hash union rescans?):\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side partial agg:\n$p")
  }

  test("q93 bloom probe: filter side broadcast, probe join is a hash equi-join on bit") {
    val p = plan(Queries.q93.fn(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), s"bits not broadcast:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"probe degraded:\n$p")
  }

  test("q94 cohort: distinct-first collapse then equi-join — no window, no nested loop") {
    val p = plan(Queries.q94.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Window ["), s"unexpected window:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"cohort join degraded:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"cohort-day join-back is not a hash/merge join:\n$p")
  }

  test("q96/q97 grouped HLL: pure partial-aggregated groupBys, no join — the fold adds one agg, not a rescan") {
    for (q <- Seq(Queries.q96, Queries.q97)) {
      val p = plan(q.fn(spark, "/root/testdata/sf0.001"))
      assert(!p.contains("Join"), s"${q.name}: unexpected join:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"${q.name}: no map-side partial agg:\n$p")
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"${q.name}: expected 1 scan, got $scans:\n$p")
    }
  }

  test("q98 hybrid RRF: probe sides broadcast — term join is a BroadcastHashJoin, only the 5-probe crossjoin nests") {
    val p = plan(Queries.q98.fn(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), s"query-term join not broadcast:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"expected at most the probe crossjoin BNLJ, got $bnlj:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("q95 funnel: one groupBy pipeline — no joins at all, no window") {
    val p = plan(Queries.q95.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Join"), s"funnel should not join (in-row fold):\n$p")
    assert(!p.contains("Window ["), s"unexpected window:\n$p")
  }

  test("q103 LM support: both model joins are hash equi-joins (AQE-sizeable), no nested loop") {
    val p = plan(Queries.q103.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"model join degraded to a non-equi join:\n$p")
    // bigram + unigram lookups: must stay hash/merge joins so AQE can pick
    // broadcast vs shuffle (and split hot stop-word w1 keys) by model size
    val hj = "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)".r.findAllIn(p).size
    assert(hj >= 2, s"expected >=2 hash/merge joins (bigram, unigram), got $hj:\n$p")
  }

  test("q100 acf: one window sort carries all lags — no self-join on the grid") {
    val p = plan(Queries.q100.fn(spark, "/root/testdata/sf0.001"))
    // the series pairs against itself via lead() over ONE window, never a
    // time-shifted self-join (which re-shuffles the grid per lag); the
    // plan prints top-down, so anything ABOVE the window (the pairing +
    // aggregation) is the prefix before "Window [" — the only join allowed
    // is below it (the gap-fill grid join feeding the window)
    val aboveWindow = p.substring(0, p.indexOf("Window ["))
    assert(!aboveWindow.contains("Join"),
      s"acf pairing uses a join above the window instead of lead():\n$p")
    assert("Window \\[".r.findAllIn(p).size == 1, s"expected one window:\n$p")
  }

  test("q105 pii / q107 chunks: pure per-row maps — zero exchange, no join, no UDF") {
    for (q <- Seq(Queries.q105, Queries.q107)) {
      val p = plan(q.fn(spark, "/root/testdata/sf0.001"))
      assert(!p.contains("Exchange"), s"${q.name} shuffles a per-row map:\n$p")
      assert(!p.contains("Join"), s"${q.name} joins in a per-row map:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
        s"${q.name} fell off codegen onto a UDF:\n$p")
    }
  }

  test("q108 m4 / q111 ewma: tier shapes stay equi-joined, no global sort") {
    // m4: the tiny span table joins back on the key EQUI-join (AQE may
    // broadcast it); a theta-join or range partitioning would make the
    // pixel bucketing quadratic / serialized at corpus scale
    val m4 = plan(Queries.q108.fn(spark, "/root/testdata/sf0.001"))
    assert(!m4.contains("NestedLoop") && !m4.contains("CartesianProduct"),
      s"m4 span join degraded to a non-equi join:\n$m4")
    assert(!m4.contains("rangepartitioning"), s"m4 introduced a global sort:\n$m4")
    // ewma: the recursion rides ONE key-hash exchange into the sorted
    // groups (local sort only); a global order-by would serialize all keys
    val ew = plan(Queries.q111.fn(spark, "/root/testdata/sf0.001"))
    assert(!ew.contains("rangepartitioning"), s"ewma degraded to a global sort:\n$ew")
    assert(!ew.contains("CartesianProduct") && !ew.contains("NestedLoop"),
      s"ewma gap-fill join degraded:\n$ew")
  }

  test("q112 shared spans: positional self-join is equi on the shingle, one run window") {
    val p = plan(Queries.q112.fn(spark, "/root/testdata/sf0.001"))
    // sh-equality must be the join key (d1<d2 is a post-condition);
    // Cartesian/BNLJ here is O(positions²) at corpus scale
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"span join degraded to a non-equi join:\n$p")
    // exactly one window sort (the diagonal-run islands)
    assert("Window \\[".r.findAllIn(p).size == 1, s"expected one run window:\n$p")
  }

  test("q106 packing: ONE shard-keyed exchange feeds the cumsum window — no global sort") {
    val p = plan(Queries.q106.fn(spark, "/root/testdata/sf0.001"))
    // hashpartitioning(shard) → per-shard window sort; a global order-by
    // (rangepartitioning) or a second exchange would serialize packing
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(p).size == 1,
      s"expected exactly one shard-keyed exchange:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected ONE exchange total:\n$p")
    assert(!p.contains("rangepartitioning"), s"packing degraded to a global sort:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 1, s"expected one cumsum window:\n$p")
  }

  test("q115 winnow fingerprints: pure map over the scan — zero exchange, codegen'd kernel") {
    val p = plan(Queries.q115.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Exchange"), s"fingerprints must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"kernel must be an Expression, not a UDF:\n$p")
    // '*(n)' prefix = operator runs inside whole-stage codegen stage n
    assert("\\*\\(\\d+\\) Generate explode\\(winnowfingerprints".r.findFirstIn(p).isDefined,
      s"kernel fell out of codegen:\n$p")
  }

  test("q116 winnow pairs: df-cap and self-join are hash equi-joins on fp — no nested loop") {
    val p = plan(Queries.q116.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"candidate join degenerated to all-pairs:\n$p")
    assert(p.contains("HashJoin"), s"expected hash equi-joins on fp:\n$p")
  }

  test("q118 ensemble near-dup: vector joins stay hash equi-joins onto the bounded candidate set") {
    val p = plan(Queries.q118.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"semantic leg degenerated to all-pairs:\n$p")
    assert(!p.contains("ScalaUDF"), s"cosine must be builtin HOFs:\n$p")
  }

  test("q117 langid: per-row profile scan — zero exchange, no join, no UDF") {
    val p = plan(Queries.q117.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Exchange"), s"langid must not shuffle:\n$p")
    assert(!p.contains("Join"), s"profiles are map literals, not a join:\n$p")
    assert(!p.contains("ScalaUDF"), s"scoring must be builtins:\n$p")
  }

  test("q121 lagged corr: shifted-ts join is an equi-join (lag fan-out never nests), partial agg before the pair shuffle") {
    val p = plan(Queries.q121.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"lag sweep degenerated to all-pairs:\n$p")
    // the key_a < key_b predicate must ride the ts equi-join as a filter,
    // not force a nested loop
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the shifted timestamp:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"pair aggregate must map-side combine:\n$p")
  }

  test("q122 daily trend: one map-side-combined groupBy — no join, no window sort") {
    val p = plan(Queries.q122.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Window"), s"trend must be aggregate-only:\n$p")
    assert(p.contains("partial"), s"normal equations must map-side combine:\n$p")
  }

  test("q130 twap: one day-window lead feeds one partial aggregate — no join, no UDF") {
    val p = plan(Queries.q130.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Join"), s"twap must not join:\n$p")
    assert(p.contains("partial"), s"integral must map-side combine:\n$p")
    assert(!p.contains("ScalaUDF"), s"dt arithmetic must be builtins:\n$p")
  }

  test("q132 fuzzy pairs: variant self-join is a hash equi-join, never an edit-distance theta join") {
    val p = plan(Queries.q132.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"deletion-neighborhood blocking degenerated to all-pairs:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the variant:\n$p")
    assert(!p.contains("ScalaUDF"), s"levenshtein must be the builtin:\n$p")
  }

  test("q134 cdc: chunking is one mapPartitions pass — zero exchange before the output") {
    val p = plan(Queries.q134.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
  }

  test("q128 phrase search: postings join is equi on the term, phrase side broadcast") {
    val p = plan(Queries.q128.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"phrase match degenerated to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"phrase side must broadcast:\n$p")
  }

  test("q139 step latency: anchor agg + two equi-joins, exact percentile stays in the agg") {
    val p = plan(Queries.q139.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"conversion join degenerated to all-pairs:\n$p")
    assert(!p.contains("ScalaUDF"), s"latency arithmetic must be builtins:\n$p")
  }

  test("q142 mix drift: small-table windows and equi-joins only — no nested loop on the cell frame") {
    val p = plan(Queries.q142.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"cell alignment degenerated to all-pairs:\n$p")
    assert(!p.contains("ScalaUDF"), s"chi-square algebra must be builtins:\n$p")
  }

  test("q123 pagerank: contribution joins are hash equi-joins, no nested loop, no UDF") {
    val p = plan(Queries.q123.fn(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"rank iteration degenerated to all-pairs:\n$p")
    assert(!p.contains("ScalaUDF"), s"rank arithmetic must be builtins:\n$p")
    // lineage truncation: iterations must not stack the winnow pipeline
    // (the plan after 3 rounds reads the checkpointed rank scan, not a
    // 3x-repeated fingerprint self-join)
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD") ||
      !p.contains("winnowfingerprints"),
      s"iterations must start from the truncated rank table:\n$p")
  }
}
