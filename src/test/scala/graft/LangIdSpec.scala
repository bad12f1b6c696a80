package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.LangId

/** Gates for the n-gram language ID (q117): real-language snippets land on
  * the right profile, ties resolve alphabetically, margins are exact, and
  * the 2-profile runner-up branch works.
  */
class LangIdSpec extends AnyFunSuite with SparkSuite {

  private def classify(texts: (Long, String)*): Map[Long, (String, Long, Long, Long, Long)] = {
    import spark.implicits._
    LangId.classify(texts.toDF("id", "text"), "text")
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("lang_pred"), r.getAs[Long]("s_de"),
          r.getAs[Long]("s_en"), r.getAs[Long]("s_es"), r.getAs[Long]("margin"))))
      .toMap
  }

  test("language snippets hit their profiles") {
    val out = classify(
      1L -> "the committee agreed that the proposal would improve the standing of the organization",
      2L -> "der schnelle braune fuchs springt über den faulen hund und die anderen tiere im wald",
      3L -> "el gobierno de la nación anunció que las medidas entrarán en vigor la semana que viene")
    assert(out(1L)._1 == "en")
    assert(out(2L)._1 == "de")
    assert(out(3L)._1 == "es")
    assert(out.values.forall(_._5 > 0L)) // confident margins
  }

  test("empty / null-ish text: all scores 0, alpha-first tie, margin 0") {
    val out = classify(1L -> "", 2L -> "!!! 123 ???")
    for (id <- Seq(1L, 2L)) {
      val (pred, de, en, es, margin) = out(id)
      assert((de, en, es) == ((0L, 0L, 0L)))
      assert(pred == "de") // alphabetically first among tied
      assert(margin == 0L)
    }
  }

  test("margin is exact best-minus-runner-up") {
    // 'the ' alone: en grams ' th'(20) 'the'(19) 'he '(18) = 57; de 0; es 0
    val out = classify(1L -> "the")
    val (pred, de, en, es, margin) = out(1L)
    assert(pred == "en" && en == 57L && de == 0L && es == 0L)
    assert(margin == 57L)
  }

  test("two-profile map exercises the binary runner-up branch") {
    import spark.implicits._
    val two = LangId.profiles.view.filterKeys(Set("en", "de")).toMap
    val df = Seq((1L, "the thing and the other thing")).toDF("id", "text")
    val r = LangId.classify(df, "text", two).collect().head
    assert(r.getAs[String]("lang_pred") == "en")
    assert(r.getAs[Long]("margin") ==
      r.getAs[Long]("s_en") - r.getAs[Long]("s_de"))
  }
}
