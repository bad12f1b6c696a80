package graft.queries

import org.apache.spark.sql.functions._
import graft.Queries.{Q, docs, emb, dotSpark, vCast}
import graft.queries.OracleSql.{cosine9, embeddingsCte, pageRankCtes, winnowPairsCte,
  winnowRareCtes, winnowWindowCtes}

/** Winnowing fingerprints ([[graft.ops.Winnow]]) and the graph operators
  * over the winnow near-dup graph ([[graft.ops.Graph]]).
  */
private[graft] trait WinnowQueries {

  val q115 = Q("q115_winnow_fp",
    // winnowing document fingerprints (graft.functions.WinnowFingerprints,
    // the MOSS rolling-hash algorithm, k=5 w=4): the DISTINCT rightmost-min
    // (pos, hash) selections over every w-window of k-gram hashes. The
    // kernel is one codegen'd byte pass per row; the oracle replays the
    // identical integer arithmetic with list functions and picks each
    // window's rightmost minimum via list_position over the reversed slice.
    // Every output is exact-integer -> hash gate.
    (s, d) => graft.ops.Winnow.fingerprints(docs(s, d), "doc_id", "text", k = 5, w = 4),
    Some(s"""WITH $winnowWindowCtes,
            |sel AS (SELECT doc_id, e,
            |    list_min(list_slice(hs, greatest(1, e - 3), e)) AS fp,
    -- reversed-slice index p maps back to global hash index e - p + 1
            |    e - list_position(list_reverse(list_slice(hs, greatest(1, e - 3), e)),
            |                      list_min(list_slice(hs, greatest(1, e - 3), e))) + 1 AS pos0
            |  FROM win)
            |SELECT DISTINCT doc_id,
            |  CAST(pos0 AS INTEGER) AS pos, CAST(fp AS BIGINT) AS fp
            |FROM sel""".stripMargin))

  val q116 = Q("q116_winnow_pairs",
    // winnowing near-dup candidates (graft.ops.Winnow.candidatePairs): the
    // bucketed self-equi-join on fingerprint VALUES with the MOSS
    // document-frequency cap (df in [2, 50]) applied BEFORE the join — the
    // skew guard that bounds bucket fan-out at corpus scale. n_shared =
    // distinct shared hashes; pairs kept at >= 2 (one k+w-1 = 8-char run
    // can collide by chance; two fingerprints mean two separate runs).
    (s, d) => graft.ops.Winnow.candidatePairs(docs(s, d), "doc_id", "text",
      k = 5, w = 4, minShared = 2, maxDf = 50),
    Some(s"""WITH $winnowRareCtes
            |SELECT x.id AS a, y.id AS b, count(DISTINCT x.fp) AS n_shared
            |FROM fp x JOIN rare USING (fp) JOIN fp y USING (fp)
            |WHERE x.id < y.id
            |GROUP BY 1, 2 HAVING count(DISTINCT x.fp) >= 2""".stripMargin))

  val q118 = Q("q118_ensemble_neardup",
    // ensemble near-dup verdict: LEXICAL candidates (q116's winnow
    // fingerprint pairs) cross-checked by the SEMANTIC leg (embedding
    // cosine over the aligned doc_id=vec_id vectors, q40's round-9
    // discipline). Production pipelines gate deletion on both legs
    // agreeing — lexical-only pairs are often boilerplate collisions,
    // semantic-only pairs are paraphrases a fingerprint can't see. Two
    // hash equi-joins bring the vectors to the (already bucketed-join-
    // bounded) candidate set; no new shuffle shape.
    (s, d) => {
      val pairs = graft.ops.Winnow.candidatePairs(docs(s, d), "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 50)
      val e = emb(s, d).select(col("vec_id"), expr(vCast).as("v"))
      pairs
        .join(e.select(col("vec_id").as("a"), col("v").as("va")), "a")
        .join(e.select(col("vec_id").as("b"), col("v").as("vb")), "b")
        .select(col("a"), col("b"), col("n_shared"),
          round(expr(dotSpark.format("va", "vb")) /
            (sqrt(expr(dotSpark.format("va", "va"))) *
             sqrt(expr(dotSpark.format("vb", "vb")))), 9).as("cosine"))
        .withColumn("both_agree", col("cosine") >= 0.2)
    },
    Some(s"""WITH $winnowRareCtes,
            |${winnowPairsCte("pairs", ", count(DISTINCT x.fp) AS n_shared")},
            |${embeddingsCte("ev")}
            |SELECT a, b, n_shared,
            |  ${cosine9("ea.v", "eb.v")} AS cosine,
            |  ${cosine9("ea.v", "eb.v")} >= 0.2 AS both_agree
            |FROM pairs JOIN ev ea ON pairs.a = ea.vec_id
            |  JOIN ev eb ON pairs.b = eb.vec_id""".stripMargin))

  val q123 = Q("q123_pagerank",
    // PageRank document centrality (graft.ops.Graph.pageRank) over the
    // winnowing near-dup graph (q116's candidate pairs, symmetrized):
    // 3 iterations of rank = (1-d) + d·Σ rank(u)/deg(u), d = 0.85, the
    // unnormalized GraphX staticPageRank convention — the score that
    // picks the canonical representative of a template family. Degrees
    // and the iteration count are exact; ranks carry only per-neighbor
    // float-sum reorder noise (~1e-15 relative), read round-6 (the
    // q55/q56 float-sum precedent). The oracle unrolls the same three
    // join+agg iterations as chained CTEs.
    (s, d) => {
      val ds = docs(s, d)
      val pairs = graft.ops.Winnow.candidatePairs(ds, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 50)
      graft.ops.Graph.pageRank(ds, "doc_id", pairs, "a", "b",
          iterations = 3, d = 0.85)
        .select(col("doc_id"), round(col("rank"), 6).as("rank_r"))
    },
    Some(s"""WITH $winnowRareCtes,
            |${winnowPairsCte("pr", "")},
            |sym AS (SELECT a AS src, b AS dst FROM pr
            |  UNION ALL SELECT b, a FROM pr),
            |deg AS (SELECT src, count(*) AS dg FROM sym GROUP BY 1),
            |${pageRankCtes(("sym", "src", "dst"), "r.rk / d.dg")}
            |SELECT id AS doc_id, round(rk, 6) AS rank_r FROM n3""".stripMargin))

  val q125 = Q("q125_canonical_pick",
    // the dedup KEEP/DROP decision end-to-end: connected components over
    // the winnow near-dup graph (Dedup.clusters — large/small-star) joined
    // with PageRank centrality over the SAME graph (Graph.pageRank), then
    // per cluster the most-central doc wins (rank_r desc, doc_id asc —
    // deterministic because the order key is the ROUNDED rank). Output
    // per doc: cluster, size, centrality, is_keep. The oracle composes
    // q47's transitive-closure CTE with q123's unrolled iterations.
    (s, d) => {
      val ds = docs(s, d)
      // both consumers (clusters AND pageRank) lineage-truncate their
      // inputs; checkpointing the SHARED pair table first means the
      // winnow fingerprint pipeline runs once, not twice (bench: q125
      // 7.2 → ~4 s)
      val pairs = graft.ops.Winnow.candidatePairs(ds, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 50).localCheckpoint(eager = false)
      val cl = graft.ops.Dedup.clusters(pairs, "a", "b", ds, "doc_id")
      val pr = graft.ops.Graph.pageRank(ds, "doc_id", pairs, "a", "b",
          iterations = 3, d = 0.85)
        .select(col("doc_id"), round(col("rank"), 6).as("rank_r"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
      val wo = w.orderBy(col("rank_r").desc, col("doc_id").asc)
      cl.join(pr, "doc_id")
        .withColumn("cluster_size", count(lit(1)).over(w))
        .withColumn("is_keep", row_number().over(wo) === 1)
    },
    Some(s"""WITH RECURSIVE $winnowRareCtes,
            |${winnowPairsCte("pr", "")},
            |e AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
            |reach(id, r) AS (
            |  SELECT doc_id, doc_id FROM documents
            |  UNION
            |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
            |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
            |  FROM reach GROUP BY id),
            |deg AS (SELECT a AS src, count(*) AS dg FROM e GROUP BY 1),
            |${pageRankCtes(("e", "a", "b"), "r.rk / d.dg")},
            |j AS (SELECT cl.doc_id, cl.cluster_id, round(n3.rk, 6) AS rank_r
            |  FROM cl JOIN n3 ON cl.doc_id = n3.id)
            |SELECT doc_id, cluster_id, rank_r,
            |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
            |  row_number() OVER (PARTITION BY cluster_id
            |    ORDER BY rank_r DESC, doc_id ASC) = 1 AS is_keep
            |FROM j""".stripMargin))

  val q133 = Q("q133_triangles",
    // triangle counts + local clustering coefficient (graft.ops.Graph
    // .triangles) over the winnow near-dup graph: canonical a<b<c wedge
    // join + closing-edge probe (two hash equi-joins), per-node corner
    // explode — exact integers; coeff_r = 2·tri/(deg·(deg−1)) round-6,
    // NULL below deg 2. Reads template families (near-cliques, coeff→1)
    // apart from boilerplate hubs (stars, coeff→0) — the complement of
    // q123's centrality.
    (s, d) => {
      val ds = docs(s, d)
      val pairs = graft.ops.Winnow.candidatePairs(ds, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 50)
      graft.ops.Graph.triangles(ds, "doc_id", pairs, "a", "b")
    },
    Some(s"""WITH $winnowRareCtes,
            |${winnowPairsCte("pr", "")},
            |deg AS (SELECT id, count(*) AS deg FROM (
            |    SELECT a AS id FROM pr UNION ALL SELECT b FROM pr)
            |  GROUP BY 1),
            |tri AS (SELECT e1.a, e1.b, e2.b AS c
            |  FROM pr e1 JOIN pr e2 ON e1.b = e2.a
            |  JOIN pr e3 ON e1.a = e3.a AND e2.b = e3.b),
            |pn AS (SELECT id, count(*) AS tri_n FROM (
            |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
            |    UNION ALL SELECT c FROM tri)
            |  GROUP BY 1)
            |SELECT d.doc_id, coalesce(deg.deg, 0) AS deg,
            |  coalesce(pn.tri_n, 0) AS tri_n,
            |  CASE WHEN coalesce(deg.deg, 0) >= 2 THEN
            |    round(2 * coalesce(pn.tri_n, 0)
            |      / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6) END AS coeff_r
            |FROM documents d
            |LEFT JOIN deg ON d.doc_id = deg.id
            |LEFT JOIN pn ON d.doc_id = pn.id""".stripMargin))

  val q143 = Q("q143_pagerank_weighted",
    // WEIGHTED PageRank over the winnow graph (graft.ops.Graph.pageRank
    // with weightCol = n_shared): contribution w·rank/wdeg, so a doc tied
    // to its family by many shared fingerprints pulls harder than a
    // 2-fingerprint brush. Same 3-iteration unrolled-CTE oracle as q123
    // with the weight riding the sym/deg/contribution algebra; ranks
    // round-6 (float-sum reorder noise only).
    (s, d) => {
      val ds = docs(s, d)
      val pairs = graft.ops.Winnow.candidatePairs(ds, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 50)
      graft.ops.Graph.pageRank(ds, "doc_id", pairs, "a", "b",
          iterations = 3, d = 0.85, weightCol = Some("n_shared"))
        .select(col("doc_id"), round(col("rank"), 6).as("rank_r"))
    },
    Some(s"""WITH $winnowRareCtes,
            |${winnowPairsCte("prw", ",\n    CAST(count(DISTINCT x.fp) AS BIGINT) AS w")},
            |sym AS (SELECT a AS src, b AS dst, w FROM prw
            |  UNION ALL SELECT b, a, w FROM prw),
            |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS dg
            |  FROM sym GROUP BY 1),
            |${pageRankCtes(("sym", "src", "dst"), "s.w * r.rk / d.dg")}
            |SELECT id AS doc_id, round(rk, 6) AS rank_r FROM n3""".stripMargin))
}
