package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftExtensions

/** The r6 byte-pass tokenizer (TokenArray / graft_tokens / graft_words)
  * must be BIT-equal to the regex spellings it replaced — including the
  * Java-split edge fields (leading/trailing empties for non-space
  * whitespace at the trimmed ends, [""] for blank input) and SQL trim's
  * spaces-only stripping.
  */
class TokenArraySpec extends AnyFunSuite with SparkSuite with BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.register(spark)
  }

  private val splitForm = raw"split(trim(text), '\\s+')"
  private val wordsForm = raw"filter(split(trim(text), '\\s+'), w -> w != '')"

  test("graft_tokens/graft_words == regex forms on real documents and events text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bad = docs.select(
        expr("graft_tokens(text)").as("ft"), expr(splitForm).as("rt"),
        expr("graft_words(text)").as("fw"), expr(wordsForm).as("rw"))
      .where(col("ft") =!= col("rt") || col("fw") =!= col("rw"))
    assert(bad.count() == 0)
  }

  test("adversarial whitespace edges match Java split semantics exactly") {
    import spark.implicits._
    val edge = Seq(
      "", " ", "  ", "\t", "\t\t", "\n", " \t ", "a", " a ", "\ta",
      "a\t", "\ta\t", "a b", "a  b", "a\tb\nc", "  a   b  ", "\r\nab",
      "é 漢字\tb", "a\fb", null.asInstanceOf[String]
    ).toDF("text")
    val got = edge.select(
      expr("graft_tokens(text)").as("ft"), expr(splitForm).as("rt"),
      expr("graft_words(text)").as("fw"), expr(wordsForm).as("rw"))
    assert(got.where(
      (col("ft") =!= col("rt")) || (col("ft").isNull =!= col("rt").isNull) ||
        (col("fw") =!= col("rw")) || (col("fw").isNull =!= col("rw").isNull))
      .count() == 0)
  }

  test("interpreted eval path agrees with codegen (filter forces eval)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // a where-clause referencing the expression runs interpreted eval in
    // some plan shapes; compare counts from both spellings
    val a = docs.where(expr(s"size(graft_words(text)) >= 25")).count()
    val b = docs.where(expr(s"size($wordsForm) >= 25")).count()
    assert(a == b)
  }
}
