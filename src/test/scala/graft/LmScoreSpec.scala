package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.LmScore

/** Hand-computed gates for the bigram LM document scorer (q103): exact
  * integer supports, the cross-multiplied low-quality flag and transition
  * edge cases.
  */
class LmScoreSpec extends AnyFunSuite with SparkSuite {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // reference corpus: "a b" x2 and "a b c" -> transitions
  //   a->b (x3), b->c (x1); unigram starts: a:3, b:1
  private lazy val ref = docsDf(Seq(1L -> "a b", 2L -> "a b", 3L -> "a b c"))
  private lazy val big = LmScore.bigramCounts(ref, "doc_id", "text")
  private lazy val uni = LmScore.unigramCounts(ref, "doc_id", "text")

  test("transitions: adjacency pairs; <2-token and NULL docs excluded") {
    val df = docsDf(Seq(1L -> "x y z", 2L -> "solo", 3L -> null))
    val tr = LmScore.transitions(df, "doc_id", "text")
      .orderBy("w1").collect()
    assert(tr.map(r => (r.getString(1), r.getString(2))).toSeq ==
      Seq(("x", "y"), ("y", "z")))
  }

  test("model counts: bigram and transition-start unigram totals agree") {
    val b = big.collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(b == Map(("a", "b") -> 3L, ("b", "c") -> 1L))
    val u = uni.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(u == Map("a" -> 3L, "b" -> 1L))
  }

  test("supportScore: exact integer supports and the cross-multiplied flag") {
    // doc 10: "a b c" -> a->b (seen c2=3, c1(a)=3), b->c (seen c2=1, c1(b)=1)
    //   n_big=2 n_unk=0 support=4 uni_support=4 avg=2.0 unk=0.0 lowq=false
    // doc 11: "a b q z" -> a->b (3), b->q (unseen, c1(b)=1), q->z (unseen, no c1)
    //   n_big=3 n_unk=2 support=3 uni_support=4 unk_rate=0.666667 lowq (2*100 >= 3*50)
    val out = LmScore.supportScore(
      docsDf(Seq(10L -> "a b c", 11L -> "a b q z")), big, uni, "doc_id", "text")
      .orderBy("doc_id").collect()
    val d10 = out(0)
    assert(d10.getAs[Long]("n_big") == 2L && d10.getAs[Long]("n_unk") == 0L)
    assert(d10.getAs[Long]("support") == 4L && d10.getAs[Long]("uni_support") == 4L)
    assert(d10.getAs[Double]("avg_support") == 2.0)
    assert(d10.getAs[Double]("unk_rate") == 0.0)
    assert(!d10.getAs[Boolean]("is_lowq"))
    val d11 = out(1)
    assert(d11.getAs[Long]("n_big") == 3L && d11.getAs[Long]("n_unk") == 2L)
    assert(d11.getAs[Long]("support") == 3L && d11.getAs[Long]("uni_support") == 4L)
    assert(d11.getAs[Double]("unk_rate") == 0.666667)
    assert(d11.getAs[Boolean]("is_lowq"))
  }

  test("supportScore: threshold edge is >= (integer cross-multiply, no float)") {
    // doc with exactly half its transitions unseen flags at the 50% default
    val out = LmScore.supportScore(
      docsDf(Seq(12L -> "a b q")), big, uni, "doc_id", "text")
      .collect().head
    // a->b seen, b->q unseen: n_unk*100 = 100 >= n_big*50 = 100 -> flagged
    assert(out.getAs[Long]("n_unk") == 1L && out.getAs[Long]("n_big") == 2L)
    assert(out.getAs[Boolean]("is_lowq"))
  }

  test("supportScore is partitioning-independent") {
    val d = docsDf((0L to 40L).map(i =>
      i -> Seq.tabulate(6)(j => s"w${(i + j) % 7}").mkString(" ")))
    val r = LmScore.bigramCounts(d.where(col("doc_id") % 2 === 0), "doc_id", "text")
    val u = LmScore.unigramCounts(d.where(col("doc_id") % 2 === 0), "doc_id", "text")
    val t = d.where(col("doc_id") % 2 === 1)
    val a = LmScore.supportScore(t, r, u, "doc_id", "text").orderBy("doc_id").collect()
    val b = LmScore.supportScore(t.repartition(7), r.repartition(3), u.repartition(2),
      "doc_id", "text").orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
  }
}
