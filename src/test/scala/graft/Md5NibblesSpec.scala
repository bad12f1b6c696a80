package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r6 fused digest+nibble expression and the packed-counter simhash
  * aggregate must reproduce the r5 surfaces bit-for-bit.
  */
class Md5NibblesSpec extends AnyFunSuite with SparkSuite {

  test("Md5Nibbles == conv(substring(md5(tok), d, 1), 16, 10) on real tokens") {
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
    val convCols = (1 to 16).map(d =>
      expr(s"CAST(conv(substring(md5(tok), $d, 1), 16, 10) AS INT)").as(s"c$d"))
    val got = toks
      .withColumn("nb", graft.functions.Md5Nibbles(col("tok"), 16))
      .select(col("nb") +: convCols: _*)
      .where((1 to 16).map(d => element_at(col("nb"), d) =!= col(s"c$d"))
        .reduce(_ || _))
    assert(got.count() == 0)
    // empty-string token (the tokenizer's blank edge) hashes too
    import spark.implicits._
    val e = Seq("").toDF("tok")
      .select(graft.functions.Md5Nibbles(col("tok"), 4).as("nb"),
        expr("md5(tok)").as("h")).head()
    val hex = e.getString(1)
    assert((0 until 4).map(i => e.getSeq[Int](0)(i)) ==
      (0 until 4).map(i => Integer.parseInt(hex.substring(i, i + 1), 16)))
  }

  test("Md5PrefixInt == cast(conv(substr(md5(x), 1, n), 16, 10) as int) for n in 1..7") {
    graft.functions.GraftExtensions.register(spark)
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
    for (n <- 1 to 7) {
      val bad = toks.select(
          expr(s"graft_md5int(tok, $n)").as("fast"),
          expr(s"cast(conv(substr(md5(tok), 1, $n), 16, 10) as int)").as("conv"))
        .where(col("fast") =!= col("conv"))
      assert(bad.count() == 0, s"n=$n")
    }
  }

  test("simhash signatures equal the r5 per-bit ±1-sum formulation bitwise") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val now = graft.ops.Dedup.simhash(docs, "doc_id", "text", bits = 64)
    // the r5 spelling, verbatim
    val toks = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("h", md5(col("tok")))
      .select(col("doc_id") +: (1 to 16).map(dd =>
        conv(substring(col("h"), dd, 1), 16, 10).cast("int").as(s"d$dd")): _*)
    val bitCols = (1 to 64).map { j =>
      val dd = (j - 1) / 4 + 1
      val w = 1 << (3 - (j - 1) % 4)
      sum(when((col(s"d$dd") / w).cast("int") % 2 === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val before = toks.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        concat((1 to 64).map(j =>
          when(col(s"s$j") >= 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
    assert(now.exceptAll(before).isEmpty && before.exceptAll(now).isEmpty)
  }
}
