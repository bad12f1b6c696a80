package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Queries.{Q, docs, emb, dotSpark, vCast}
import graft.queries.OracleSql.{cosD, cosine9, dotD, embeddingsCte, ivfAssignCtes, pqCodesCtes,
  pqDistanceCtes, tokensDuck}

/** Embedding operators ([[graft.ops.Similarity]]): brute-force, LSH, IVF and
  * PQ nearest neighbours, their recall surfaces, embedding near-dup and
  * hybrid retrieval.
  */
private[graft] trait EmbeddingQueries {

  val q40 = Q("q40_knn_brute",
    (s, d) => {
      val e = emb(s, d).select(col("vec_id"), expr(vCast).as("v"))
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val dot = expr(dotSpark.format("qv", "v"))
      val nq = expr(dotSpark.format("qv", "qv"))
      val nv = expr(dotSpark.format("v", "v"))
      val scored = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(dot / (sqrt(nq) * sqrt(nv)), 9).as("cosine"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
    },
    Some(s"""WITH ${embeddingsCte("e")},
           |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
           |scored AS (SELECT q_id, e.vec_id AS neighbor_id,
           |  ${cosine9("qv", "v")} AS cosine
           |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id)
           |SELECT q_id, neighbor_id, cosine, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
           |WHERE rk <= 3""".stripMargin))

  val q41 = Q("q41_embedding_norms",
    (s, d) => emb(s, d).select(col("vec_id"), col("label"),
      round(sqrt(expr(dotSpark.format(vCast, vCast))), 9).as("l2_norm")),
    Some("""SELECT vec_id, label,
           | round(sqrt(list_sum(list_transform(range(1, 65),
           |   i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 9) AS l2_norm
           |FROM embeddings""".stripMargin))

  /** Deterministic random-hyperplane signs: plane j, dim i → ±1 from the
    * first hex digit of md5("j:i") — computable identically in Scala here
    * and inlined as literals in the oracle SQL.
    */
  private lazy val lshPlanes: Array[Array[Int]] = graft.ops.Similarity.planes(8, 64)

  val q42 = Q("q42_lsh_buckets",
    (s, d) => {
      val e = emb(s, d).select(col("vec_id"), expr(vCast).as("v"))
      val bitExprs = lshPlanes.map { plane =>
        val planeLit = plane.mkString("array(", "D,", "D)")
        when(expr(dotSpark.format("v", planeLit)) >= 0, lit("1")).otherwise(lit("0"))
      }
      e.select(col("vec_id"), concat(bitExprs.toIndexedSeq: _*).as("bucket"))
    },
    Some {
      val bitSqls = lshPlanes.map { plane =>
        val planeLit = plane.mkString("[", ".0,", ".0]")
        s"""CASE WHEN list_sum(list_transform(range(1, 65),
           |  i -> CAST(embedding[i] AS DOUBLE) * ($planeLit)[i])) >= 0
           | THEN '1' ELSE '0' END""".stripMargin
      }
      s"SELECT vec_id, ${bitSqls.mkString(" || ")} AS bucket FROM embeddings"
    })

  val q43 = Q("q43_lsh_candidates",
    (s, d) => {
      val b = q42.fn(s, d)
      b.as("x").join(b.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"), col("x.bucket").as("bucket"))
    },
    q42.oracle.map(bucketSql =>
      s"""WITH b AS ($bucketSql)
         |SELECT x.vec_id AS v1, y.vec_id AS v2, x.bucket AS bucket
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id""".stripMargin))

  val q44 = Q("q44_ivf_ann",
    // IVF-style ANN, the scale path beyond brute force (q40) and
    // hyperplane LSH (q42/q43) — see graft.ops.Similarity.ivfTopK
    (s, d) => graft.ops.Similarity.ivfTopK(emb(s, d), queryIds = Seq(10L, 11L, 12L),
      k = 3, nCentroids = 8, nProbe = 2),
    Some(s"""WITH ${embeddingsCte("e")},
           |${ivfAssignCtes("c", "vec_id, v, cent_id")},
           |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (10, 11, 12)),
           |qc AS (SELECT q_id, qv, cent_id, ${cosD("qv", "cv")} AS cos FROM q CROSS JOIN c),
           |probed AS (SELECT q_id, qv, cent_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cent_id) AS rk
           |  FROM qc) WHERE rk <= 2),
           |cand AS (SELECT q_id, a.vec_id AS neighbor_id,
           |    round(${cosD("qv", "a.v")}, 9) AS cosine
           |  FROM probed p JOIN assigned a ON a.cent_id = p.cent_id
           |  WHERE a.vec_id <> p.q_id)
           |SELECT q_id, neighbor_id, cosine, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rk
           |  FROM cand) WHERE rk <= 3""".stripMargin))

  val q46 = Q("q46_embedding_neardup",
    // embedding-cosine near-dup: LSH-bucket candidates verified by exact
    // cosine — the dedup-by-embedding mode (graft.ops.Similarity
    // .cosineNearDup); keeper = lower vec_id
    (s, d) => graft.ops.Similarity.cosineNearDup(emb(s, d), minCosine = 0.2),
    q42.oracle.map { bucketSql =>
      s"""WITH b AS ($bucketSql),
         |cand AS (SELECT x.vec_id AS v1, y.vec_id AS v2
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |${embeddingsCte("e")},
         |sc AS (SELECT v1 AS keeper, v2 AS dup,
         |    round(${dotD("ea.v", "eb.v")}
         |      / (sqrt(${dotD("ea.v", "ea.v")}) * sqrt(${dotD("eb.v", "eb.v")})), 9) AS cosine
         |  FROM cand JOIN e ea ON ea.vec_id = v1 JOIN e eb ON eb.vec_id = v2)
         |SELECT keeper, dup, cosine FROM sc WHERE cosine >= 0.2""".stripMargin
    })

  val q48 = Q("q48_ann_recall",
    // evaluation surface for the ANN family: recall@3 of LSH retrieval
    // (q42 buckets, Hamming<=1 multi-probe: the query's own bucket + its 8
    // one-bit-flip neighbors — probe count x9, bucket space unchanged, so
    // the pattern stays output-bounded at corpus scale) ranked by exact
    // cosine, against the brute-force truth (q40). n_cand shows the
    // retrieval funnel; on near-orthogonal synthetic vectors recall is
    // legitimately low — quantifying that IS the metric's job.
    (s, d) => {
      val e = emb(s, d).select(col("vec_id"), expr(vCast).as("v"))
      val buckets = q42.fn(s, d)
      val probeExpr = // j=0: exact bucket; j=1..8: flip bit j
        """explode(transform(sequence(0, 8), j -> CASE WHEN j = 0 THEN bucket
          |  ELSE concat(substring(bucket, 1, j - 1),
          |    CASE WHEN substring(bucket, j, 1) = '1' THEN '0' ELSE '1' END,
          |    substring(bucket, j + 1, 8 - j)) END))""".stripMargin
      val qb = buckets.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), expr(probeExpr).as("bucket"))
      val cand = qb.join(buckets, Seq("bucket"))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
      val scored = cand
        .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
        .join(e, Seq("vec_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(expr(dotSpark.format("qv", "v")) /
            (sqrt(expr(dotSpark.format("qv", "qv"))) * sqrt(expr(dotSpark.format("v", "v")))), 9)
            .as("cosine"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("neighbor_id"))
      val retr = scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
      val nCand = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
      q40.fn(s, d).select(col("q_id"), col("neighbor_id"))
        .join(retr, Seq("q_id", "neighbor_id"), "left")
        .groupBy(col("q_id"))
        .agg(round(sum(coalesce(col("hit"), lit(0))) / 3.0, 6).as("recall_at_3"))
        .join(nCand, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          col("recall_at_3"))
    },
    for { knnSql <- q40.oracle; bucketSql <- q42.oracle } yield {
      s"""WITH truth AS ($knnSql),
         |b AS ($bucketSql),
         |${embeddingsCte("e")},
         |qb AS (SELECT vec_id AS q_id,
         |    CASE WHEN j = 0 THEN bucket
         |      ELSE substr(bucket, 1, j - 1)
         |        || (CASE WHEN substr(bucket, j, 1) = '1' THEN '0' ELSE '1' END)
         |        || substr(bucket, j + 1, 8 - j) END AS bucket
         |  FROM b CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j)
         |  WHERE vec_id < 5),
         |cand AS (SELECT q_id, b.vec_id FROM qb JOIN b USING (bucket)
         |  WHERE b.vec_id <> qb.q_id),
         |nc AS (SELECT q_id, count(*) AS n_cand FROM cand GROUP BY 1),
         |scored AS (SELECT c.q_id, c.vec_id AS neighbor_id,
         |  ${cosine9("eq.v", "en.v")} AS cosine
         |  FROM cand c JOIN e eq ON eq.vec_id = c.q_id JOIN e en ON en.vec_id = c.vec_id),
         |retr AS (SELECT q_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, neighbor_id) AS rk FROM scored) WHERE rk <= 3),
         |rec AS (SELECT t.q_id, round(count(r.neighbor_id) / 3.0, 6) AS recall_at_3
         |  FROM truth t LEFT JOIN retr r
         |    ON r.q_id = t.q_id AND r.neighbor_id = t.neighbor_id
         |  GROUP BY 1)
         |SELECT rec.q_id, CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand, rec.recall_at_3
         |FROM rec LEFT JOIN nc USING (q_id)""".stripMargin
    })

  val q80 = Q("q80_pq_codes",
    // product-quantization encode (Jégou et al. 2011): 8 subspaces x 8 dims,
    // 16 sub-centroids (the lowest-id vectors — the deterministic codebook
    // stand-in q44 established); codes are INTEGER surfaces, so the whole
    // compress step hash-oracles with zero float discipline beyond the
    // argmin agreeing (ordered sub-distance folds on both sides). One row
    // per (vector, subspace) relationally — graft.ops.Similarity.pqEncode.
    (s, d) => graft.ops.Similarity.pqEncode(emb(s, d))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub_m", "code"))),
    Some(s"""WITH ${embeddingsCte("e")},
           |$pqDistanceCtes
           |SELECT vec_id, m AS sub_m, cent_id AS code FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cent_id) AS rk
           |  FROM sc) WHERE rk = 1""".stripMargin))

  /** q81/q83 share the PQ ADC retrieval SQL; built once so a tie-discipline
    * change edits exactly one string.
    */
  private lazy val pqAnnSql: String =
    s"""WITH ${embeddingsCte("e")},
      |$pqCodesCtes,
      |cbl AS (SELECT list(cv ORDER BY cent_id) AS cbs FROM cb),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (20, 21, 22)),
      |adcs AS (SELECT q_id, ca.vec_id AS neighbor_id,
      |    round(list_sum(list_transform(range(0, 8), m ->
      |      list_sum(list_transform(range(1, 9), i ->
      |        (qv[m * 8 + i] - cbs[codes[m + 1] + 1][m * 8 + i])
      |        * (qv[m * 8 + i] - cbs[codes[m + 1] + 1][m * 8 + i]))))), 9) AS adc
      |  FROM ca CROSS JOIN q CROSS JOIN cbl WHERE ca.vec_id <> q_id)
      |SELECT q_id, neighbor_id, adc, rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, neighbor_id) AS rk
      |  FROM adcs) WHERE rk <= 3""".stripMargin

  val q81 = Q("q81_pq_ann",
    // PQ ANN by asymmetric distance (query unquantized, per-query LUT of
    // sub-distances, candidates ranked by nSub lookups+adds) — the
    // memory-compressed scale path: at k<=256 the codes table is nSub
    // BYTES/vector, ~32x smaller than the fp32 corpus. Engine: broadcast
    // LUT rows, one codes scan, no corpus shuffle. Oracle replays the
    // identical ordered folds (inner dims ascending, outer subspaces
    // ascending), round(adc, 9), tie -> neighbor_id (the q40 discipline).
    (s, d) => graft.ops.Similarity.pqTopK(emb(s, d), Seq(20L, 21L, 22L), 3),
    Some(pqAnnSql))

  val q82 = Q("q82_l2_brute",
    // exact squared-L2 top-k — the brute-force truth q83 grades PQ against
    // (graft.ops.Similarity.l2TopK); broadcast queries, streaming corpus
    (s, d) => graft.ops.Similarity.l2TopK(emb(s, d), Seq(20L, 21L, 22L), 3),
    Some(s"""WITH ${embeddingsCte("e")},
           |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (20, 21, 22)),
           |sc AS (SELECT q_id, e.vec_id AS neighbor_id,
           |    round(list_sum(list_transform(range(1, 65), i ->
           |      (qv[i] - v[i]) * (qv[i] - v[i]))), 9) AS l2sq
           |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id)
           |SELECT q_id, neighbor_id, l2sq, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY l2sq, neighbor_id) AS rk
           |  FROM sc) WHERE rk <= 3""".stripMargin))

  val q83 = Q("q83_pq_recall",
    // recall@3 of PQ-ADC retrieval vs the exact-L2 truth — the tuning
    // surface for (nSub, k): INTEGER hit counts per query (count of
    // non-null join markers, both engines), so the evaluation itself is
    // hash-exact. Mirrors q48 (the LSH recall gate) on the PQ path.
    (s, d) => {
      val pq = graft.ops.Similarity.pqTopK(emb(s, d), Seq(20L, 21L, 22L), 3)
        .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
      graft.ops.Similarity.l2TopK(emb(s, d), Seq(20L, 21L, 22L), 3)
        .select(col("q_id"), col("neighbor_id"))
        .join(pq, Seq("q_id", "neighbor_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_truth"))
    },
    for { l2Sql <- q82.oracle } yield {
      s"""WITH pq AS ($pqAnnSql),
         |l2 AS ($l2Sql),
         |p AS (SELECT q_id, neighbor_id, 1 AS hit FROM pq)
         |SELECT q_id, count(hit) AS n_hits, count(*) AS n_truth
         |FROM l2 LEFT JOIN p USING (q_id, neighbor_id) GROUP BY q_id""".stripMargin
    })

  val q86 = Q("q86_ivfpq_ann",
    // IVF-PQ (Jégou et al. 2011 §IV, non-residual ADC — FAISS IVFPQ with
    // by_residual=false): coarse inverted lists bound the candidates
    // (nProbe=2 of 8 lists), PQ codes bound the per-candidate memory —
    // the composition real billion-vector serving uses. Routing = q44's
    // max-cosine discipline; ranking = q81's round-9 ADC with neighbor_id
    // ties. Oracle recomputes the ADC directly from the codes (the
    // engine's LUT is an evaluation-order-identical factoring).
    (s, d) => graft.ops.Similarity.ivfPqTopK(emb(s, d), Seq(20L, 21L, 22L), 3),
    Some(s"""WITH ${embeddingsCte("e")},
           |${ivfAssignCtes("co", "vec_id, cent_id")},
           |$pqCodesCtes,
           |cbl AS (SELECT list(cv ORDER BY cent_id) AS cbs FROM cb),
           |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (20, 21, 22)),
           |qc AS (SELECT q_id, qv, co.cent_id, ${cosD("qv", "co.cv")} AS cos
           |  FROM q CROSS JOIN co),
           |probed AS (SELECT q_id, qv, cent_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cent_id) AS rk
           |  FROM qc) WHERE rk <= 2),
           |adcs AS (SELECT q_id, a.vec_id AS neighbor_id,
           |    round(list_sum(list_transform(range(0, 8), m ->
           |      list_sum(list_transform(range(1, 9), i ->
           |        (qv[m * 8 + i] - cbs[codes[m + 1] + 1][m * 8 + i])
           |        * (qv[m * 8 + i] - cbs[codes[m + 1] + 1][m * 8 + i]))))), 9) AS adc
           |  FROM probed p JOIN assigned a ON a.cent_id = p.cent_id
           |  JOIN ca ON ca.vec_id = a.vec_id CROSS JOIN cbl
           |  WHERE a.vec_id <> p.q_id)
           |SELECT q_id, neighbor_id, adc, rk FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, neighbor_id) AS rk
           |  FROM adcs) WHERE rk <= 3""".stripMargin))

  val q87 = Q("q87_pq_neardup",
    // embedding near-dup with PQ-code-PREFIX blocking (the dedup mode a
    // stored PQ index gives for free): the candidate self-join runs on
    // the codes table alone — k^prefix blocks bound the funnel (16²=256
    // here, 954 candidates of 124,750 possible pairs at sf0.001) — then
    // exact cosine verifies. Same verify/keeper discipline as q46; the
    // block key is injective (joined with '-') so the string-key engine
    // join equals the oracle's list-slice equality.
    (s, d) => graft.ops.Similarity.pqNearDup(emb(s, d), minCosine = 0.2),
    Some(s"""WITH ${embeddingsCte("e")},
           |$pqCodesCtes,
           |cand AS (SELECT x.vec_id AS v1, y.vec_id AS v2 FROM ca x JOIN ca y
           |  ON x.codes[1:2] = y.codes[1:2] AND x.vec_id < y.vec_id),
           |scv AS (SELECT v1 AS keeper, v2 AS dup,
           |    round(${dotD("a.v", "b.v")}
           |      / (sqrt(${dotD("a.v", "a.v")}) * sqrt(${dotD("b.v", "b.v")})), 9) AS cosine
           |  FROM cand JOIN e a ON a.vec_id = v1 JOIN e b ON b.vec_id = v2)
           |SELECT keeper, dup, cosine FROM scv WHERE cosine >= 0.2""".stripMargin))

  val q98 = Q("q98_hybrid_rrf",
    // hybrid retrieval (graft.ops.Retrieval): an INTEGER term-overlap
    // lexical leg (top-20) + the q40-style exact-cosine vector leg
    // (top-20, round-9 like every cosine surface), fused by reciprocal-
    // rank fusion rrf = sum 1/(60 + rank) — rank-domain, so the fused
    // score is a 2-term commutative IEEE sum, hash-exact UNROUNDED (the
    // q62 precedent). Probes = docs 0-4 (the q40 convention); doc_id and
    // vec_id are the aligned corpus ids.
    (s, d) => {
      val lex = graft.ops.Retrieval.termOverlapTopN(
        docs(s, d), "doc_id", "text",
        docs(s, d).where(col("doc_id") < 5), "doc_id", n = 20)
      val e = emb(s, d).select(col("vec_id"), expr(vCast).as("v"))
      val qv = e.where(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("v").as("qv"))
      val scored = e.crossJoin(broadcast(qv))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("doc_id"),
          round(expr(dotSpark.format("qv", "v")) /
            (sqrt(expr(dotSpark.format("qv", "qv"))) * sqrt(expr(dotSpark.format("v", "v")))), 9)
            .as("cosine"))
      val vw = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("doc_id"))
      val vec = scored.withColumn("rk", row_number().over(vw)).where(col("rk") <= 20)
      graft.ops.Retrieval.rrfFuse(Seq(lex, vec), "doc_id", k = 60, topN = 10)
    },
    Some(raw"""WITH dt AS (SELECT doc_id,
              |    unnest(list_distinct(list_filter($tokensDuck, x -> x <> ''))) AS w
              |  FROM documents),
              |qt AS (SELECT doc_id AS q_id, w FROM dt WHERE doc_id < 5),
              |ov AS (SELECT qt.q_id, dt.doc_id, count(*) AS overlap
              |  FROM dt JOIN qt USING (w) WHERE dt.doc_id <> qt.q_id GROUP BY 1, 2),
              |lex AS (SELECT q_id, doc_id, rk FROM (SELECT q_id, doc_id, row_number()
              |    OVER (PARTITION BY q_id ORDER BY overlap DESC, doc_id) AS rk FROM ov)
              |  WHERE rk <= 20),
              |${embeddingsCte("e")},
              |qe AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
              |sc AS (SELECT q_id, e.vec_id AS doc_id,
              |  ${cosine9("qv", "v")} AS cosine
              |  FROM e CROSS JOIN qe WHERE e.vec_id <> q_id),
              |vec AS (SELECT q_id, doc_id, rk FROM (SELECT q_id, doc_id, row_number()
              |    OVER (PARTITION BY q_id ORDER BY cosine DESC, doc_id) AS rk FROM sc)
              |  WHERE rk <= 20),
              |fused AS (SELECT q_id, doc_id, sum(CAST(1.0 AS DOUBLE) / (60 + rk)) AS rrf
              |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec) GROUP BY 1, 2)
              |SELECT q_id, doc_id, rrf, rank FROM (SELECT q_id, doc_id, rrf,
              |    row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank
              |  FROM fused)
              |WHERE rank <= 10""".stripMargin))

  val q114 = Q("q114_kmeans_refine",
    // one Lloyd refinement step for the coarse quantizer (graft.ops
    // .Similarity.kmeansRefine) — the clustering stage of SemDeDup-style
    // semantic dedup. Assignment is q44's max-cosine broadcast fold
    // (ties to lowest cent_id); the centroid update accumulates each
    // component in FIXED-POINT (floor(x·2^20) as BIGINT — exact: float32
    // times a power of two is exact in double), so the integer sums
    // commute and the refined centroids hash identically under any
    // partitioning; c_new is one double division over exact integers.
    (s, d) => graft.ops.Similarity.kmeansRefine(emb(s, d), nCentroids = 8),
    Some(s"""WITH ${embeddingsCte("e")},
           |${ivfAssignCtes("c", "vec_id, v, cent_id")},
           |fx AS (SELECT cent_id,
           |    CAST(unnest(generate_series(0, 63)) AS INTEGER) AS dim,
           |    unnest(list_transform(range(1, 65),
           |      i -> CAST(floor(v[i] * 1048576) AS BIGINT))) AS fx
           |  FROM assigned)
           |SELECT cent_id, dim, count(*) AS n, CAST(sum(fx) AS BIGINT) AS sum_fx,
           |  round(CAST(sum(fx) AS BIGINT) / (1048576 * count(*)), 9) AS c_new
           |FROM fx GROUP BY 1, 2""".stripMargin))
}
