package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Funnel

/** Cohort-retention and ordered-funnel semantics on handcrafted event
  * fixtures: strict after-previous-step ordering, tie/exhaustion edges,
  * the state cap, and the report-surface invariants.
  */
class FunnelSpec extends AnyFunSuite with SparkSuite {

  private def t(dayMs: Long): java.sql.Timestamp =
    new java.sql.Timestamp(1704067200000L + dayMs) // 2024-01-01 + offset

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private val DAY = 86400000L

  // ----------------------------------------------------------------- cohort

  test("cohortRetention: first-day buckets, offsets, multiple same-day events collapse") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val ev = Seq(
      (1L, t(0L)), (1L, t(1000L)),      // user 1: day 0 twice (one row)
      (1L, t(2 * DAY)),                 // ... back on day 2
      (2L, t(0L)), (2L, t(DAY)),        // user 2: days 0, 1
      (3L, t(DAY + 5000L))              // user 3: cohort day 1
    ).toDF("user_id", "ts")
    val got = Funnel.cohortRetention(ev, "user_id", "ts")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getInt(1)) -> r.getLong(2)).toMap
    val d0 = 1704067200000L
    assert(got == Map(
      (d0, 0) -> 2L,          // users 1, 2 start day 0
      (d0, 1) -> 1L,          // user 2 retained day 1
      (d0, 2) -> 1L,          // user 1 retained day 2
      (d0 + DAY, 0) -> 1L))   // user 3's own cohort
  }

  test("cohortRetention: offset-0 row equals cohort size; total mass = distinct (user, day)") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val m = Funnel.cohortRetention(ev, "user_id", "ts")
    val total = m.agg(sum("n_users")).head.getLong(0)
    val userDays = ev.select(col("user_id"), date_trunc("day", col("ts")))
      .distinct().count()
    assert(total == userDays)
    // every user appears in exactly one cohort at offset 0
    val cohortMass = m.where(col("offset_days") === 0).agg(sum("n_users")).head.getLong(0)
    assert(cohortMass == ev.select("user_id").distinct().count())
  }

  // ----------------------------------------------------------------- funnel

  private def funnelFixture = {
    import spark.implicits._
    Seq(
      // user 1: clean A -> B -> C
      (1L, t(0L), "A"), (1L, t(1000L), "B"), (1L, t(2000L), "C"),
      // user 2: C arrives BEFORE B — stops at stage 2 (strict ordering)
      (2L, t(0L), "A"), (2L, t(500L), "C"), (2L, t(1000L), "B"),
      // user 3: only A
      (3L, t(0L), "A"),
      // user 4: B and C but never A — not in the funnel at all
      (4L, t(0L), "B"), (4L, t(100L), "C"),
      // user 5: B at the EXACT ts of A — strictly-after excludes it; a
      // later B rescues stage 2, and C before that B doesn't count
      (5L, t(0L), "A"), (5L, t(0L), "B"), (5L, t(50L), "C"), (5L, t(100L), "B"),
      // user 6: repeated A's; funnel anchors at the FIRST A
      (6L, t(500L), "A"), (6L, t(900L), "A"), (6L, t(700L), "B")
    ).toDF("user_id", "ts", "event_type")
  }

  test("orderedFunnel: strict after-previous ordering, ties, missing entry step") {
    val got = Funnel.orderedFunnel(funnelFixture, "user_id", "ts", "event_type",
        Seq("A", "B", "C"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getTimestamp(2), r.getTimestamp(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 5L, 6L)) // user 4 absent (no A)
    assert(got(1L) == ((3, t(0L), t(2000L))))
    assert(got(2L) == ((2, t(0L), t(1000L))))    // C@500 < B@1000 never counts
    assert(got(3L) == ((1, t(0L), t(0L))))
    assert(got(5L) == ((2, t(0L), t(100L))))     // tie-B excluded, later B counts, C@50 lost
    assert(got(6L) == ((2, t(500L), t(700L))))   // anchored at first A
  }

  test("orderedFunnel: partitioning-independent; 2-step prefix agrees with 3-step stages") {
    val f3 = Funnel.orderedFunnel(funnelFixture, "user_id", "ts", "event_type",
      Seq("A", "B", "C"))
    assert(rows(Funnel.orderedFunnel(funnelFixture.repartition(7), "user_id", "ts",
      "event_type", Seq("A", "B", "C"))) == rows(f3))
    val f2 = Funnel.orderedFunnel(funnelFixture, "user_id", "ts", "event_type",
        Seq("A", "B"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s3 = f3.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((u, s) <- s3) assert(f2(u) == math.min(s, 2), s"user $u")
  }

  test("orderedFunnel horizon: later steps must land within the first-touch window; no re-anchoring") {
    import spark.implicits._
    val ev = Seq(
      // user 1: B inside the 10 s window, C outside -> stage 2
      (1L, t(0L), "A"), (1L, t(5000L), "B"), (1L, t(20000L), "C"),
      // user 2: all inside -> stage 3
      (2L, t(0L), "A"), (2L, t(3000L), "B"), (2L, t(9000L), "C"),
      // user 3: B only after the window; a LATER A would admit it but the
      // funnel anchors at the FIRST A -> stage 1
      (3L, t(0L), "A"), (3L, t(30000L), "A"), (3L, t(32000L), "B"),
      // user 4: B exactly AT the window edge (<=) -> counts
      (4L, t(0L), "A"), (4L, t(10000L), "B")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.orderedFunnel(ev, "user_id", "ts", "event_type",
        Seq("A", "B", "C"), horizonSec = Some(10L))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 2, 2L -> 3, 3L -> 1, 4L -> 2))
    // no horizon == infinite horizon
    assert(rows(Funnel.orderedFunnel(funnelFixture, "user_id", "ts", "event_type",
      Seq("A", "B", "C"), horizonSec = Some(86400L * 365))) ==
      rows(Funnel.orderedFunnel(funnelFixture, "user_id", "ts", "event_type",
        Seq("A", "B", "C"))))
  }

  test("orderedFunnel: maxTimesPerStep cap is a no-op when first matches suffice") {
    val uncapped = Funnel.orderedFunnel(funnelFixture, "user_id", "ts", "event_type",
      Seq("A", "B", "C"))
    val capped = Funnel.orderedFunnel(funnelFixture, "user_id", "ts", "event_type",
      Seq("A", "B", "C"), maxTimesPerStep = 2)
    assert(rows(capped) == rows(uncapped))
    // cap = 1 CAN lose user 5's rescue-B (its first B is the tie) — the
    // documented exactness trade for bounded state
    val tight = Funnel.orderedFunnel(funnelFixture, "user_id", "ts", "event_type",
        Seq("A", "B", "C"), maxTimesPerStep = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tight(5L) == 1 && tight(1L) == 3)
  }

  test("stepLatency: strictly-after anchor, earliest conversion, non-converters counted") {
    import spark.implicits._
    import graft.ops.Funnel
    val ev = Seq(
      (1L, 0L, "view"), (1L, 5L, "click"), (1L, 3L, "click"),  // converts at +3 s
      (2L, 0L, "click"), (2L, 1L, "view"),                     // click BEFORE view: no conversion
      (3L, 10L, "view"),                                       // never clicks
      (4L, 0L, "view"), (4L, 0L, "click"), (4L, 2L, "click")   // same-ts click excluded; +2 s
    ).map { case (u, sec, t) =>
      (u, new java.sql.Timestamp((1704067200L + sec) * 1000L), t)
    }.toDF("user_id", "ts", "event_type")
    val out = Funnel.stepLatency(ev, "user_id", "ts", "event_type",
      from = "view", to = "click").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_entered") == 4L)
    assert(r.getAs[Long]("n_converted") == 2L)
    assert(r.getAs[Long]("min_lat_us") == 2000000L)
    assert(r.getAs[Long]("max_lat_us") == 3000000L)
    assert(r.getAs[Double]("p50_s_r") == 2.5) // midpoint of {2 s, 3 s}
  }

  test("userLifecycle: new/returning/last-seen per day, single-day user counts in both") {
    import spark.implicits._
    import graft.ops.Funnel
    // u1 active d0,d1,d2; u2 only d1; u3 d1,d2 — multiple events collapse
    val ev = Seq((1L, 0L), (1L, 0L), (1L, 1L), (1L, 2L),
      (2L, 1L), (3L, 1L), (3L, 2L)).map { case (u, di) =>
      (u, new java.sql.Timestamp((1704067200L + di * 86400L) * 1000L))
    }.toDF("user_id", "ts")
    val out = Funnel.userLifecycle(ev, "user_id", "ts")
      .orderBy("day").collect()
      .map(r => (r.getAs[Long]("n_active"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_last_seen"), r.getAs[Long]("n_returning")))
    // d0: u1 new; d1: u1 returning, u2 new+last-seen, u3 new;
    // d2: u1 and u3 returning, both last-seen
    assert(out.toSeq == Seq((1L, 1L, 0L, 0L), (3L, 2L, 1L, 1L), (2L, 0L, 2L, 2L)))
  }

  test("giniDiversity: single-type is 0, uniform k-type is 1 - 1/k, exact pieces") {
    import spark.implicits._
    import graft.ops.Funnel
    val ev = Seq((1L, "A"), (1L, "A"), (1L, "A"),               // pure
      (2L, "A"), (2L, "B"), (2L, "C"), (2L, "D"),               // uniform 4
      (3L, "A"), (3L, "A"), (3L, "A"), (3L, "B"))               // skewed
      .toDF("user_id", "event_type")
    val out = Funnel.giniDiversity(ev, "user_id", "event_type")
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Double]("gini_r") == 0.0)
    assert(out(1L).getAs[Long]("n_types") == 1L)
    assert(out(2L).getAs[Double]("gini_r") == 0.75) // 1 - 1/4, exact in binary
    // user 3: n=4, counts 3,1 -> num = 16 - 10 = 6, den = 16 -> 0.375
    assert(out(3L).getAs[Long]("gini_num") == 6L &&
      out(3L).getAs[Long]("gini_den") == 16L)
    assert(out(3L).getAs[Double]("gini_r") == 0.375)
  }

  // ----------------------------------------------------------- session paths

  test("sessionPaths: gap split, step cap, tie order by id, top-k rank") {
    import spark.implicits._
    import graft.ops.Funnel
    val ev = Seq(
      // user 1, session 1: A,B,C,D within 30 min — path capped at A>B>C
      (1L, t(0L), 10L, "A"), (1L, t(1000L), 11L, "B"),
      (1L, t(2000L), 12L, "C"), (1L, t(3000L), 13L, "D"),
      // > 30 min gap -> session 2: lone D
      (1L, t(3000L + 1801L * 1000L), 14L, "D"),
      // user 2: same-ts tie broken by event_id -> A>B; then a new session A>B
      (2L, t(0L), 20L, "A"), (2L, t(0L), 21L, "B"),
      (2L, t(7200L * 1000L), 22L, "A"), (2L, t(7200L * 1000L + 1L), 23L, "B"),
      // user 3: another A>B session
      (3L, t(0L), 30L, "A"), (3L, t(500L), 31L, "B")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Funnel.sessionPaths(ev, "user_id", "ts", "event_id",
      "event_type", gapSec = 1800L, maxSteps = 3, k = 10)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[String]("path")).toSeq ==
      Seq("A>B", "A>B>C", "D"))
    val ab = out(0)
    assert(ab.getAs[Long]("n_sessions") == 3L) // two from user 2, one from user 3
    assert(ab.getAs[Long]("n_users") == 2L)
    assert(ab.getAs[Int]("rank") == 1)
    // ties between A>B>C and D (1 session each) break by path asc
    assert(out(1).getAs[String]("path") == "A>B>C" && out(1).getAs[Int]("rank") == 2)
    // k cuts the tail
    val top1 = Funnel.sessionPaths(ev, "user_id", "ts", "event_id",
      "event_type", gapSec = 1800L, maxSteps = 3, k = 1).collect()
    assert(top1.length == 1 && top1.head.getAs[String]("path") == "A>B")
  }
}
