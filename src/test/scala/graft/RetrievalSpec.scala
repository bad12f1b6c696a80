package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Retrieval

/** Hybrid-retrieval semantics: integer term-overlap ranking (self
  * exclusion, tie order), RRF fusion laws (missing-leg contribution,
  * known orderings, single-leg degeneration), partitioning independence.
  */
class RetrievalSpec extends AnyFunSuite with SparkSuite {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def corpus = {
    import spark.implicits._
    Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta gamma delta"), // overlaps q0 on 3 terms
      (2L, "alpha beta"),             // 2 terms
      (3L, "alpha alpha alpha"),      // 1 DISTINCT term despite repeats
      (4L, "zeta eta")                // no overlap -> absent
    ).toDF("doc_id", "text")
  }

  test("termOverlapTopN: distinct-term overlap, self excluded, ties break by id") {
    spark.sparkContext.setLogLevel("WARN")
    val got = Retrieval.termOverlapTopN(corpus, "doc_id", "text",
        corpus.where(col("doc_id") === 0), "doc_id", n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.sortBy(_._4).toSeq == Seq(
      (0L, 1L, 3L, 1), (0L, 2L, 2L, 2), (0L, 3L, 1L, 3)))
    // doc 4 (no shared term) and doc 0 (self) are absent
    assert(!got.exists(g => g._2 == 4L || g._2 == 0L))
  }

  test("termOverlapTopN: excludeSelf=false keeps the id-colliding candidate (external probe id space)") {
    val got = Retrieval.termOverlapTopN(corpus, "doc_id", "text",
        corpus.where(col("doc_id") === 0), "doc_id", n = 10, excludeSelf = false)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got(0L) == 3L, "self doc (3-term full overlap) must appear when probes are external")
    assert(got(1L) == 3L && got(2L) == 2L)
  }

  test("rrfFuse: both-legs doc outranks single-leg doc at same ranks; missing leg adds 0") {
    import spark.implicits._
    val lex = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("q_id", "doc_id", "rk")
    val vec = Seq((0L, 10L, 2), (0L, 12L, 1)).toDF("q_id", "doc_id", "rk")
    val got = Retrieval.rrfFuse(Seq(lex, vec), "doc_id", k = 60, topN = 10)
      .collect().map(r => r.getLong(1) -> ((r.getDouble(2), r.getInt(3)))).toMap
    assert(got(10L)._1 == 1.0 / 61 + 1.0 / 62) // both legs
    assert(got(12L)._1 == 1.0 / 61)            // vec only
    assert(got(11L)._1 == 1.0 / 62)            // lex only
    assert(got(10L)._2 == 1 && got(12L)._2 == 2 && got(11L)._2 == 3)
  }

  test("rrfFuse: single leg degenerates to the leg's own order; topN truncates") {
    import spark.implicits._
    val leg = Seq((0L, 5L, 1), (0L, 6L, 2), (0L, 7L, 3)).toDF("q_id", "doc_id", "rk")
    val got = Retrieval.rrfFuse(Seq(leg), "doc_id", k = 60, topN = 2)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(5L, 6L))
  }

  test("hybrid q98 shape: partitioning-independent on real data") {
    val d = "/root/testdata/sf0.001"
    val a = rows(Queries.q98.fn(spark, d))
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try assert(rows(Queries.q98.fn(spark, d)) == a)
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("phraseSearch: consecutive-only matches, overlapping repeats, duplicate phrase terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b"),      // "a b" at 0 and 3; "b c a" at 1
      (2L, "b a c"),          // has all terms of "a b" but never consecutive
      (3L, "x x x"),          // "x x" overlaps: anchors 0 and 1
      (4L, ""), (5L, "a")     // empty + too short
    ).toDF("doc_id", "text")
    val ph = Seq(("q1", "a b"), ("q2", "b c a"), ("q3", "x x"))
      .toDF("q_id", "phrase")
    val out = Retrieval.phraseSearch(docs, "doc_id", "text", ph, "q_id", "phrase")
      .collect().map(r => (r.getAs[String]("q_id"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("n_hits"), r.getAs[Long]("first_pos"))).toMap
    assert(out == Map(
      ("q1", 1L) -> ((2L, 0L)),   // two "a b" occurrences, first at 0
      ("q2", 1L) -> ((1L, 1L)),   // the 3-term phrase at anchor 1
      ("q3", 3L) -> ((2L, 0L)))) // overlapping "x x" counts both anchors
  }
}
