package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Multimodal, Similarity}

class MultimodalSpec extends AnyFunSuite with SparkSuite {

  test("media synthesis is deterministic and schema-conformant") {
    spark.sparkContext.setLogLevel("WARN")
    val a = Multimodal.synthesize(spark, 30).orderBy("asset_id").collect()
    val b = Multimodal.synthesize(spark, 30).repartition(7).orderBy("asset_id").collect()
    assert(a.length == 30)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(x.getAs[Array[Byte]]("bytes").sameElements(y.getAs[Array[Byte]]("bytes")))
    }
  }

  test("feature extraction: real GRFT1 decode produces normalized 16-bin histograms") {
    val media = Multimodal.synthesize(spark, 20)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 20)
    feats.foreach { r =>
      val f = r.getSeq[Float](r.fieldIndex("features"))
      assert(f.length == 16)
      assert(math.abs(f.sum - 1.0f) < 1e-4)
    }
  }

  test("GRFT1 decode round-trips the header metadata and rejects bad magic") {
    val media = Multimodal.synthesize(spark, 30).collect()
    media.foreach { r =>
      val h = Multimodal.parseHeader(r.getAs[Array[Byte]]("bytes"))
      r.getString(1) match {
        case "image" => assert(h.kind == 0 && h.width == r.getInt(3) && h.height == r.getInt(4))
        case "audio" => assert(h.kind == 1 && h.sampleRate == r.getInt(5))
        case "video" => assert(h.kind == 2 && h.nFrames == r.getInt(6)
          && h.width == r.getInt(3) && h.height == r.getInt(4))
      }
    }
    intercept[IllegalArgumentException](Multimodal.parseHeader(Array[Byte](1, 2, 3, 4, 5, 6)))
  }

  test("GRFT1 validation: truncated payloads and out-of-range frames fail fast, not deep") {
    val media = Multimodal.synthesize(spark, 9).collect()
    media.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("bytes")
      // header declares more body than the blob carries → validation error
      // (used to surface as BufferUnderflow/AIOOBE inside a decoder, or as
      // a silent read into the next frame's pixels)
      val truncated = java.util.Arrays.copyOf(bytes, bytes.length - 1)
      intercept[IllegalArgumentException](Multimodal.parseHeader(truncated))
      intercept[IllegalArgumentException](Multimodal.decodeFeatures(truncated))
    }
  }

  test("kmeansRefine: centroid = assigned mean within fixed-point ulp; partitioning-invariant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.kmeansRefine(emb, nCentroids = 8)
    val got = out.collect()
    assert(got.length == 8 * 64) // every centroid keeps its seed member, so none is empty
    // local oracle: assign by max cosine (tie -> lowest cent_id), then the
    // per-dim float mean; the fixed-point mean must agree to within the
    // quantization step 2^-20 (floor error < 1 ulp of the scale per row)
    val local = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Float]](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val cents = (0L until 8L).map(id => id -> local(id))
    val assign = local.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .minBy { case (cid, c) => (-c, cid) }._1
    }
    val wantMean = assign.groupBy(_._2).map { case (cid, m) =>
      val vs = m.keys.toSeq.map(local)
      cid -> (0 until 64).map(j => vs.map(_(j)).sum / vs.size)
    }
    got.foreach { r =>
      val (cid, dim, cNew) = (r.getAs[Long]("cent_id"), r.getAs[Int]("dim"),
        r.getAs[Double]("c_new"))
      assert(math.abs(cNew - wantMean(cid)(dim)) < 2.0 / (1 << 20) + 1e-9,
        s"centroid $cid dim $dim: $cNew vs ${wantMean(cid)(dim)}")
    }
    // exact hash invariance: the integer sums commute under repartitioning
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).toSet
    assert(rows(out) == rows(Similarity.kmeansRefine(
      emb.repartition(13), nCentroids = 8)))
  }

  test("pq: codebook self-encodes, planted duplicate retrieved at adc 0, recall shape") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // every codebook vector's slice is closest to itself in all 8 subspaces
    val codes = Similarity.pqEncode(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    (0L until 16L).foreach(j => assert(codes(j) == List.fill(8)(j), s"cent $j: ${codes(j)}"))
    assert(codes.size == 500 &&
      codes.values.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // an exact duplicate of codebook vector 3 planted at id 900: ADC from it
    // back to vec 3 is the quantization residual of a codebook vector = 0,
    // strictly the minimum, so PQ retrieves the duplicate first — the
    // must-work case for any near-dup path built on these codes
    val dup = emb.where(col("vec_id") === 3L).withColumn("vec_id", lit(900L))
    val emb2 = emb.unionByName(dup)
    val top = Similarity.pqTopK(emb2, Seq(900L), 1).collect()
    assert(top.length == 1 && top(0).getLong(1) == 3L && top(0).getDouble(2) == 0.0,
      top.mkString(","))
    val l2 = Similarity.l2TopK(emb2, Seq(900L), 1).collect()
    assert(l2.length == 1 && l2(0).getLong(1) == 3L && l2(0).getDouble(2) == 0.0)
    // IVF-PQ: the duplicate routes to coarse list 3 (cosine 1 to its own
    // centroid), vec 3 lives in that list, and its ADC is 0 — the
    // composition must surface it first too
    val ivfpq = Similarity.ivfPqTopK(emb2, Seq(900L), 1).collect()
    assert(ivfpq.length == 1 && ivfpq(0).getLong(1) == 3L && ivfpq(0).getDouble(2) == 0.0,
      ivfpq.mkString(","))
    // the exact duplicate shares vec 3's full code word, so PQ-blocked
    // near-dup must pair them at cosine 1 with the lower id as keeper
    val nd = Similarity.pqNearDup(emb2, minCosine = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(nd.contains((3L, 900L, 1.0)), nd.mkString(","))
    // the recall surface grades every query against exactly k truth rows
    val rec = Queries.q83.fn(spark, "/root/testdata/sf0.001").collect()
    assert(rec.length == 3 &&
      rec.forall(r => r.getLong(2) == 3 && r.getLong(1) >= 0 && r.getLong(1) <= 3))
  }

  test("lsh buckets: hamming-similar vectors share buckets more than random") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val buckets = Similarity.lshBuckets(emb).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(buckets.size == 500 && buckets.values.forall(_.length == 8))
    val cands = Similarity.lshCandidates(emb)
    // every candidate pair genuinely shares its bucket
    val c = cands.collect()
    c.foreach(r => assert(buckets(r.getLong(0)) == buckets(r.getLong(1))))
  }

  test("cdcChunks: chunks tile each body exactly; fingerprints replay; cross-asset dups exist") {
    import graft.ops.Multimodal
    val media = Multimodal.deterministic(spark, 30)
    val chunks = Multimodal.cdcChunks(media, mask = 32).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("start"), r.getAs[Int]("len"),
        r.getAs[Long]("fp_pos"), r.getAs[Long]("fp_sum")))
    val bodies = media.collect().map { r =>
      val bytes = r.getAs[Array[Byte]]("bytes")
      val off = Multimodal.parseHeader(bytes).bodyOffset
      r.getAs[Long]("asset_id") -> bytes.drop(off)
    }.toMap
    // tiling: contiguous starts, lengths sum to the body length
    for ((id, body) <- bodies) {
      val cs = chunks.filter(_._1 == id).sortBy(_._2)
      assert(cs.nonEmpty && cs.head._3 == 0)
      assert(cs.map(_._4).sum == body.length, s"asset $id tiling")
      cs.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3, s"asset $id gap")
        case _ =>
      }
      // fingerprints replay from the raw body bytes
      for ((_, _, s, l, fpPos, fpSum) <- cs) {
        val seg = body.slice(s, s + l).map(_ & 0xFF)
        assert(fpSum == seg.map(_.toLong).sum)
        assert(fpPos == seg.zipWithIndex
          .map { case (b, t) => (t + 1).toLong * b }.sum % 1000000007L)
      }
    }
    // the arithmetic bodies share content-aligned segments: chunk-level
    // dedup must find duplicates even though every BLOB is unique
    val groups = chunks.groupBy(c => (c._4, c._5, c._6))
    assert(groups.exists { case (_, g) => g.map(_._1).distinct.length > 1 },
      "expected cross-asset duplicate chunks")
  }
}
