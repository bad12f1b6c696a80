package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{IntervalJoin, Sketch, TextQuality}

/** Sketch laws (HLL merge/partition-independence/accuracy, Misra-Gries
  * exactness guarantees), cross-corpus boilerplate semantics, and the
  * interval-overlap join vs its brute-force theta-join truth.
  */
class SketchSpec extends AnyFunSuite with SparkSuite {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  // ------------------------------------------------------------------ HLL

  test("hllRegisters: partitioning-independent (3 vs 13 partitions, same registers)") {
    spark.sparkContext.setLogLevel("WARN")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val a = Sketch.hllRegisters(ev.repartition(3), "user_id")
    val b = Sketch.hllRegisters(ev.repartition(13), "user_id")
    assert(rows(a) == rows(b))
  }

  test("hllEstimate: within 2.5 sigma (16%) of exact, both correction regimes") {
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    // user_id: 150 distinct over 256 buckets -> linear-counting regime;
    // event_id: 10000 distinct -> raw harmonic-mean regime
    for ((c, exact) <- Seq(("user_id", 150.0), ("event_id", 10000.0))) {
      val est = Sketch.hllEstimate(Sketch.hllRegisters(ev, c))
        .select("estimate").head.getDouble(0)
      val rel = math.abs(est - exact) / exact
      assert(rel < 0.16, s"$c: estimate $est vs exact $exact (rel $rel)")
    }
  }

  test("hllRegisters: rho is the true leading-zero-bit count (cross-check vs Long.numberOfLeadingZeros)") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    val got = Sketch.hllRegisters(ids, "id", p = 8).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    // recompute with plain JVM bit arithmetic on the same md5 domain
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = (0L until 2000L).map { i =>
      val hex = md.digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val bucket = Integer.parseInt(hex.substring(0, 2), 16)
      val w = java.lang.Long.parseLong(hex.substring(2, 14), 16) // 48 bits
      val rho = if (w == 0L) 49 else java.lang.Long.numberOfLeadingZeros(w) - 16 + 1
      bucket -> rho
    }.groupMapReduce(_._1)(_._2)(math.max)
    assert(got == want)
  }

  test("hllEstimate: empty register table estimates 0, not NULL") {
    import spark.implicits._
    val empty = Seq.empty[(Int, Int)].toDF("bucket", "register")
    val row = Sketch.hllEstimate(empty).head
    assert(!row.isNullAt(row.fieldIndex("estimate")))
    assert(row.getAs[Double]("estimate") == 0.0)
  }

  test("hllRegistersBy: each group's sketch == hllRegisters of that slice; fold == whole") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("day", date_trunc("day", col("ts")))
    val byDay = Sketch.hllRegistersBy(ev, Seq("day"), "user_id")
    val days = ev.select("day").distinct().collect().map(_.getTimestamp(0))
    assert(days.length > 1)
    for (d <- days.take(3)) {
      val slice = Sketch.hllRegisters(ev.where(col("day") === d), "user_id")
      val group = byDay.where(col("day") === d).select("bucket", "register")
      assert(rows(group) == rows(slice), s"day $d")
    }
    assert(rows(Sketch.foldRegisters(byDay, Nil)) ==
      rows(Sketch.hllRegisters(ev, "user_id")))
  }

  test("histByKey: clamped equi-width bins by hand; histFold == direct") {
    import spark.implicits._
    // lo=0 hi=100 nBins=4 -> width 25; out-of-range clamps to edge bins
    val df = Seq(("A", -5.0), ("A", 0.0), ("A", 24.9), ("A", 25.0),
      ("A", 99.9), ("A", 100.0), ("A", 250.0), ("B", 50.0))
      .toDF("k", "v")
    val got = Sketch.histByKey(df, Seq("k"), "v", lo = 0.0, hi = 100.0, nBins = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == Set(("A", 0, 3L), ("A", 1, 1L), ("A", 3, 3L), ("B", 2, 1L)))
    // tier law on real data: fold(per-day hists) == direct histogram
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("day", date_trunc("day", col("ts")))
    val byDay = Sketch.histByKey(ev, Seq("event_type", "day"), "value", 0.0, 500.0, 20)
    assert(rows(Sketch.histFold(byDay, Seq("event_type"))
        .select(col("event_type"), col("bin"), col("cnt"))) ==
      rows(Sketch.histByKey(ev, Seq("event_type"), "value", 0.0, 500.0, 20)
        .select(col("event_type"), col("bin"), col("cnt").cast("long"))))
  }

  // ---------------------------------------------------------- heavy hitters

  test("heavyHitters: equals the exact full groupBy, under any partitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val items = docs.select(explode(
      expr("filter(split(trim(text), '\\\\s+'), w -> w != '')")).as("item"))
    val exact = {
      val n = items.count()
      items.groupBy("item").agg(count(lit(1)).as("n"))
        .where(col("n") * 30 > n)
        .withColumn("n_total", lit(n))
    }
    for (parts <- Seq(1, 7)) {
      val got = Sketch.heavyHitters(items.repartition(parts), "item", 30)
      assert(rows(got) == rows(exact), s"parts=$parts")
    }
  }

  test("heavyHitters: an item just over N/k survives MG pruning in a worst-case single partition") {
    import spark.implicits._
    // 90 distinct fillers + one item at freq 11 over N=101, k=10 -> 11*10 > 101
    val data = ((1 to 90).map(i => s"f$i") ++ Seq.fill(11)("hot")).toDF("item")
      .coalesce(1) // one partition: MG holds only k-1 = 9 counters for 91 keys
    val got = Sketch.heavyHitters(data, "item", 10).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("hot"))
    assert(got.head.getLong(1) == 11L)
  }

  // ------------------------------------------------------------- count-min

  test("cmsCounts: partitioning-independent and merge(sketch(A), sketch(B)) == sketch(A++B)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val items = docs.select(explode(
      expr("filter(split(trim(text), '\\\\s+'), w -> w != '')")).as("item"))
    assert(rows(Sketch.cmsCounts(items.repartition(3), "item")) ==
      rows(Sketch.cmsCounts(items.repartition(11), "item")))
    // each of the 4 rows holds exactly N total mass
    val perRow = Sketch.cmsCounts(items, "item", d = 4, wHex = 2)
      .groupBy("cms_row").agg(sum("cnt").as("mass"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = items.count()
    assert(perRow == (0 until 4).map(_ -> n).toMap)
  }

  // ------------------------------------------------------------------ bloom

  test("bloomBits/bloomMightContain: zero false negatives, fp rate within 3x theory, merge = union") {
    import spark.implicits._
    val present = (0L until 1000L).toDF("id")
    val bits = Sketch.bloomBits(present, "id", k = 4, mHex = 4)
    val probes = (0L until 2000L).toDF("item")
    val got = Sketch.bloomMightContain(bits, probes, k = 4, mHex = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 1000L).forall(got(_)), "false negative — structurally impossible")
    val fp = (1000L until 2000L).count(got(_))
    // fill = 1 - (1 - 1/65536)^4000 ~ 5.9%; fpr ~ fill^4 ~ 1.2e-5; 1000
    // absent probes -> expect ~0.01 fps, allow <= 3 before crying foul
    assert(fp <= 3, s"$fp false positives at ~6% fill")
    val bitsUnion = Sketch.bloomBits(
      (0L until 500L).toDF("id"), "id", k = 4, mHex = 4)
      .unionByName(Sketch.bloomBits((500L until 1000L).toDF("id"), "id", k = 4, mHex = 4))
      .distinct()
    assert(rows(bitsUnion) == rows(bits))
  }

  // ------------------------------------------------------------ boilerplate

  test("boilerplate: shared lines stripped, order preserved, all-boiler doc -> NULL text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nSHARED\nbeta"),
      (2L, "SHARED\ngamma"),
      (3L, "delta\nSHARED"),
      (4L, "SHARED"), // every line boilerplate
      (5L, "   \n\n")  // no non-blank lines -> absent from output
    ).toDF("doc_id", "text")
    val got = TextQuality.boilerplate(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect()
    assert(got.length == 4) // doc 5 absent
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got(0).getAs[String]("clean_text") == "alpha\nbeta") // order kept
    assert(got(1).getAs[String]("clean_text") == "gamma")
    assert(got(2).getAs[String]("clean_text") == "delta")
    assert(got(3).isNullAt(got(3).fieldIndex("clean_text"))) // not ""
    assert(got(3).isNullAt(got(3).fieldIndex("clean_fp")))
    assert(got(0).getAs[Long]("n_boiler") == 1L)
    assert(got(3).getAs[Long]("n_kept") == 0L)
  }

  test("boilerplate: threshold boundary — doc-frequency == minDocs strips, minDocs-1 keeps") {
    import spark.implicits._
    val docs = Seq(
      (1L, "twice\nthrice"), (2L, "twice\nthrice"), (3L, "thrice\nsolo")
    ).toDF("doc_id", "text")
    val got = TextQuality.boilerplate(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect()
    // 'thrice' (df 3) stripped; 'twice' (df 2) kept
    assert(got(0).getAs[String]("clean_text") == "twice")
    assert(got(2).getAs[String]("clean_text") == "solo")
  }

  // ---------------------------------------------------------- interval join

  test("IntervalJoin.overlap == brute-force theta join, incl. multi-bucket spans (no dupes)") {
    import spark.implicits._
    def t(ms: Long) = new java.sql.Timestamp(1704067200000L + ms)
    val left = Seq(
      (1L, 10L, t(0L), t(100000L)),       // spans many 10s buckets
      (1L, 11L, t(50000L), t(60000L)),
      (2L, 12L, t(0L), t(30000L)),
      (1L, 13L, t(200000L), t(200001L))   // 1 ms sliver
    ).toDF("user_id", "l_id", "l_start", "l_end")
    val right = Seq(
      (1L, 20L, t(90000L), t(150000L)),   // overlaps 10 across 2 shared buckets
      (1L, 21L, t(55000L), t(58000L)),    // inside 11
      (1L, 22L, t(100000L), t(110000L)),  // TOUCHES 10's end: [_,100) vs [100,_) -> no overlap
      (2L, 23L, t(10000L), t(20000L)),
      (1L, 24L, t(10000L), t(20000L)),    // key 1 overlaps 10 only
      (3L, 25L, t(0L), t(30000L))         // key mismatch
    ).toDF("user_id", "r_id", "r_start", "r_end")
    val got = IntervalJoin.overlap(left, right, "user_id", bucketSec = 10)
    val brute = left.as("l").join(right.as("r"),
        col("l.user_id") === col("r.user_id") &&
          col("l_start") < col("r_end") && col("r_start") < col("l_end"))
      .select(col("l.user_id"), col("l_id"), col("r_id"),
        (expr("unix_micros(cast(least(l_end, r_end) as timestamp))") -
          expr("unix_micros(cast(greatest(l_start, r_start) as timestamp))")).as("overlap_us"))
    assert(rows(got) == rows(brute))
    val m = got.collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(m.size == got.count(), "duplicate pairs emitted")
    assert(m((10L, 20L)) == 10000L * 1000L)
    assert(!m.contains((10L, 22L)), "half-open endpoint touch must not match")
    assert(m.contains((12L, 23L)) && !m.keys.exists(_._2 == 25L))
  }

  test("IntervalJoin.overlap: bucket size does not change the answer") {
    import spark.implicits._
    def t(ms: Long) = new java.sql.Timestamp(1704067200000L + ms)
    val left = (0 until 40).map(i =>
      (i % 3L, i.toLong, t(i * 7000L), t(i * 7000L + 15000L)))
      .toDF("user_id", "l_id", "l_start", "l_end")
    val right = (0 until 40).map(i =>
      (i % 3L, 100L + i, t(i * 11000L), t(i * 11000L + 9000L)))
      .toDF("user_id", "r_id", "r_start", "r_end")
    val fine = IntervalJoin.overlap(left, right, "user_id", bucketSec = 2)
    val coarse = IntervalJoin.overlap(left, right, "user_id", bucketSec = 600)
    assert(rows(fine) == rows(coarse) && fine.count() > 0)
  }
}
