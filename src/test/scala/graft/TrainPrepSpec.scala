package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TrainPrep

/** Hand-computed gates for the trainer-facing last mile (q105-q107):
  * PII redaction, token-budget sequence packing, sliding-window chunks.
  */
class TrainPrepSpec extends AnyFunSuite with SparkSuite {

  test("scrubPii: counts and redacted text, sequential category passes") {
    import spark.implicits._
    // fixture cross-checked against DuckDB RE2 (same counts, same clean):
    // x@y.z has a 1-char TLD (no match); +12 is too short; 999-555-0000
    // is a phone, 10.42.0.42 / 1.2.3.4 are IPs only AFTER phones consume
    // the NNN-NNN-NNNN span
    val t = "mail u42@ex3.org deep scan call +316000042 or 142-555-1042 " +
      "ip 10.42.0.42 end x@y.z 1.2.3.4 999-555-0000 +12 plain"
    val out = TrainPrep.scrubPii(Seq((1L, t)).toDF("doc_id", "text"), "text").collect()(0)
    assert(out.getAs[Int]("n_emails") == 1)
    assert(out.getAs[Int]("n_phones") == 3)
    assert(out.getAs[Int]("n_ips") == 2)
    assert(out.getAs[String]("clean") ==
      "mail <EMAIL> deep scan call <PHONE> or <PHONE> ip <IP> end x@y.z <IP> <PHONE> +12 plain")
  }

  test("scrubPii: NULL text stays NULL; clean text without PII is unchanged") {
    import spark.implicits._
    val out = TrainPrep.scrubPii(
      Seq((1L, null.asInstanceOf[String]), (2L, "no pii here")).toDF("doc_id", "text"), "text")
      .orderBy("doc_id").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("clean")))
    assert(out(0).isNullAt(out(0).fieldIndex("n_emails")))
    assert(out(1).getAs[String]("clean") == "no pii here")
    assert(out(1).getAs[Int]("n_emails") == 0 && out(1).getAs[Int]("n_phones") == 0)
  }

  test("pack: head-to-tail layout, straddling docs span sequences") {
    import spark.implicits._
    // one shard (nShards=1): docs in id order with 3/4/2 tokens, budget 4:
    // offsets 0/3/7 -> doc1 seq 0, doc2 straddles 0..1, doc3 seq 1
    val df = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TrainPrep.pack(df, "doc_id", "text", budget = 4, nShards = 1)
      .orderBy("doc_id").collect()
    assert(out.length == 3) // NULL text dropped
    assert(out.map(_.getAs[Long]("tok_offset")).toSeq == Seq(0L, 3L, 7L))
    assert(out.map(r => (r.getAs[Long]("first_seq"), r.getAs[Long]("last_seq"))).toSeq ==
      Seq((0L, 0L), (0L, 1L), (1L, 2L)))
    assert(out.map(_.getAs[Long]("n_seqs")).toSeq == Seq(1L, 2L, 2L))
  }

  test("pack: partitioning-invariant and append-stable within a shard") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, ("w " * (1 + (i % 7)).toInt).trim))
    val df = docs.toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame, parts: Int) =
      TrainPrep.pack(d.repartition(parts), "doc_id", "text", budget = 16, nShards = 8)
        .orderBy("doc_id").collect().toSeq
    val full = run(df, 1)
    assert(full == run(df, 11))
    // append-only growth: earlier docs' placement is unchanged when new
    // HIGHER ids arrive (intra-shard order is the id)
    val prefix = run(docs.filter(_._1 < 200L).toDF("doc_id", "text"), 4)
    assert(full.filter(_.getLong(0) < 200L) == prefix)
  }

  test("chunk: stride windows cover every token; final chunks partial") {
    import spark.implicits._
    // 7 tokens, size 4, stride 2 -> starts 0,2,4,6 with lens 4,4,3,1
    val df = Seq((1L, "t0 t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    val out = TrainPrep.chunk(df, "doc_id", "text", chunkSize = 4, stride = 2)
      .orderBy("chunk_idx").collect()
    assert(out.map(r => (r.getAs[Long]("chunk_idx"), r.getAs[Long]("tok_start"),
      r.getAs[Long]("tok_len"), r.getAs[String]("chunk_text"))).toSeq == Seq(
      (0L, 0L, 4L, "t0 t1 t2 t3"), (1L, 2L, 4L, "t2 t3 t4 t5"),
      (2L, 4L, 3L, "t4 t5 t6"), (3L, 6L, 1L, "t6")))
  }

  test("chunk: short doc yields one partial chunk; NULL text yields none") {
    import spark.implicits._
    val df = Seq((1L, "only two"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TrainPrep.chunk(df, "doc_id", "text", chunkSize = 8, stride = 8).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("tok_len") == 2L && out(0).getAs[String]("chunk_text") == "only two")
  }

  test("chunk/pack: guards reject degenerate geometry") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](TrainPrep.chunk(df, "doc_id", "text", 4, 5))
    intercept[IllegalArgumentException](TrainPrep.chunk(df, "doc_id", "text", 0, 1))
    intercept[IllegalArgumentException](TrainPrep.pack(df, "doc_id", "text", 0, 8))
    intercept[IllegalArgumentException](TrainPrep.pack(df, "doc_id", "text", 16, 257))
  }
}
