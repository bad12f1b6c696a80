package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.WinnowUtil
import graft.ops.Winnow
import org.apache.spark.unsafe.types.UTF8String

/** Gates for the winnowing fingerprints (q115/q116): hand-computed hash
  * selections, the normalization fold, the paper's substring-match
  * guarantee, rightmost-tie behavior, and partitioning invariance of the
  * candidate-pair join.
  */
class WinnowSpec extends AnyFunSuite with SparkSuite {

  private def fps(s: String, k: Int, w: Int): Seq[(Int, Long)] = {
    val a = WinnowUtil.fingerprints(UTF8String.fromString(s), k, w)
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      (r.getInt(0), r.getLong(1))
    }
  }

  test("hand-computed k=2 w=2 on 'abcb'") {
    // hashes: ab=97*257+98=25027, bc=98*257+99=25285, cb=99*257+98=25541
    // windows: e=2 min 25027@1; e=3 min 25285@2
    assert(fps("abcb", 2, 2) == Seq((1, 25027L), (2, 25285L)))
  }

  test("normalization: case folded, punctuation/whitespace/non-ASCII dropped") {
    assert(fps("A b,C-d!eé", 2, 2) == fps("abcde", 2, 2))
  }

  test("shorter than k filtered chars -> empty; exactly k -> one fingerprint") {
    assert(fps("a b!", 5, 4).isEmpty)
    assert(fps("abcde", 5, 4).size == 1)
    assert(fps("abcde", 5, 4).head._1 == 1)
  }

  test("short doc (fewer hashes than w) -> single window over all hashes") {
    // 'abcb' k=2 gives 3 hashes < w=9: one window, min = 25027 at pos 1
    assert(fps("abcb", 2, 9) == Seq((1, 25027L)))
  }

  test("rightmost-min tie rule: equal hashes select the later position") {
    // k=1: hashes are the char codes; 'aaaa' w=2 -> every window's min is
    // the RIGHT element, so positions advance 2,3,4 (density 1 on
    // constant text — the paper's noted worst case for the rightmost rule)
    assert(fps("aaaa", 1, 2) == Seq((2, 97L), (3, 97L), (4, 97L)))
  }

  test("paper guarantee: shared substring of length >= k+w-1 shares a fingerprint") {
    val shared = "thequickbrownfox"
    val d1 = fps("xyzu" + shared + "lmno", 5, 4).map(_._2).toSet
    val d2 = fps("qqqq" + shared + "zzzz", 5, 4).map(_._2).toSet
    assert(d1.intersect(d2).nonEmpty)
  }

  test("candidatePairs: near-dup pair found, distinct doc untouched, df cap applies") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (0L, base),
      (1L, "The QUICK, brown fox; jumps over the lazy dog again & again!"), // = base normalized
      (2L, "completely unrelated content with different words entirely here")
    ).toDF("doc_id", "text")
    val pairs = Winnow.candidatePairs(df, "doc_id", "text", k = 5, w = 4,
      minShared = 2, maxDf = 50).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
    assert(pairs.head.getAs[Long]("n_shared") >= 2L)

    // df cap: three identical docs -> every fp has df=3 > maxDf=2 -> no pairs
    val trip = Seq((0L, base), (1L, base), (2L, base)).toDF("doc_id", "text")
    assert(Winnow.candidatePairs(trip, "doc_id", "text", k = 5, w = 4,
      minShared = 1, maxDf = 2).isEmpty)
  }

  test("fingerprints are partitioning-invariant and distinct per doc") {
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, s"document number $i shares a large common prefix of words"))
      .toDF("doc_id", "text")
    val a = Winnow.fingerprints(df.repartition(1), "doc_id", "text")
      .orderBy("doc_id", "pos").collect().toSeq
    val b = Winnow.fingerprints(df.repartition(7), "doc_id", "text")
      .orderBy("doc_id", "pos").collect().toSeq
    assert(a == b)
    val dup = Winnow.fingerprints(df, "doc_id", "text")
      .groupBy("doc_id", "pos", "fp").count().where(col("count") > 1).count()
    assert(dup == 0L)
  }
}
