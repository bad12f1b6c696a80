package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftExtensions

/** The r6 codegen shingle kernel (ShingleArray / graft_shingles) must be
  * BIT-equal to the r5 zip_with-over-slices chain it replaced as the body
  * of Dedup.shingleArrayExpr — on real corpus text and on the empty/short/
  * NULL edges the CASE guard and concat null-propagation covered.
  */
class ShingleSpec extends AnyFunSuite with SparkSuite with BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.register(spark)
  }

  /** The r5 spelling, verbatim. */
  private def hofExpr(toksCol: String, n: Int): String = {
    val m = n - 1
    def part(k: Int) = s"slice($toksCol, ${k + 1}, size($toksCol) - $m)"
    val zipped = (1 until n).foldLeft(part(0))((acc, k) =>
      s"zip_with($acc, ${part(k)}, (x, y) -> concat(x, ' ', y))")
    s"CASE WHEN size($toksCol) < $n THEN array() ELSE $zipped END"
  }

  test("graft_shingles == zip_with chain on real documents for n in 1..5") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(split(trim(col("text")), "\\s+").as("t"))
    for (n <- 1 to 5) {
      val bad = docs.select(
          expr(s"graft_shingles(t, $n)").as("fast"),
          expr(hofExpr("t", n)).as("hof"))
        .where(col("fast") =!= col("hof"))
      assert(bad.count() == 0, s"n=$n")
    }
  }

  test("edges: short array, exact-width array, null element, null array") {
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (array('a')),
        |  (array('a', 'b')),
        |  (array('a', 'b', 'c')),
        |  (array('a', CAST(NULL AS STRING), 'c', 'd')),
        |  (CAST(NULL AS ARRAY<STRING>)),
        |  (array())
        |AS t(t)""".stripMargin)
    val got = rows.select(
      expr("graft_shingles(t, 3)").as("fast"),
      expr(hofExpr("t", 3)).as("hof"))
    assert(got.where(
      (col("fast") =!= col("hof")) ||
        (col("fast").isNull =!= col("hof").isNull)).count() == 0)
  }

  test("Dedup.shingles output is unchanged (set equality on real docs)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val now = graft.ops.Dedup.shingles(docs, "doc_id", "text", 3)
    val before = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .where(size(col("__toks")) >= 3)
      .select(col("doc_id"), explode(expr(hofExpr("__toks", 3))).as("sh"))
      .distinct()
    assert(now.exceptAll(before).isEmpty && before.exceptAll(now).isEmpty)
  }
}
