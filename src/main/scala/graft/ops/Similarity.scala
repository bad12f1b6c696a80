package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftExtensions.registered
import graft.meta.Hasher

/** Embedding similarity search: brute-force top-k ([[l2TopK]]) as the
  * exact baseline and random-hyperplane LSH bucketing as the scale path
  * (an IVF alternative would cluster first; LSH needs no training pass and
  * its plane matrix is derived from a hash, so both engines — and both
  * cluster sizes — agree bit-for-bit).
  *
  * All dot products are the codegen'd [[graft.functions.DotProduct]] kernel
  * (bit-equal left fold; see `dot` below) — no UDFs.
  */
object Similarity {

  /** All dot/L2 kernels are the codegen'd [[graft.functions.DotProduct]] /
    * [[graft.functions.L2Sq]] expressions (registered as `graft_dot` /
    * `graft_l2sq` so they are usable inside SQL lambda bodies, e.g. the
    * codebook folds) — bit-equivalent to the aggregate(zip_with(...)) HOF
    * spelling they replace, but whole-stage-codegen'd and allocation-free
    * (HOFs are interpreted per row and materialize 3+ transient arrays per
    * dot; see DotProduct scaladoc + OPTIMIZATION_r06.md for the q40/q81
    * measurements).
    */
  private def dot(a: String, b: String): Column =
    expr(s"graft_dot($a, $b)")

  val castVec = "transform(embedding, x -> cast(x as double))"

  /** Deterministic ±1 hyperplanes from sha256 — identical on any engine. */
  def planes(nPlanes: Int, dim: Int): Array[Array[Int]] =
    Array.tabulate(nPlanes, dim)((j, i) =>
      if (Hasher.sha256Hex(s"$j:$i").charAt(0) <= '7') 1 else -1)

  /** Sign-bucket every embedding: bucket = bit string of sign(v · plane_j).
    * One narrow projection — no shuffle.
    */
  def lshBuckets(embeddings: DataFrame, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val bitCols = planes(nPlanes, dim).map { plane =>
      val lit = plane.mkString("array(", "D,", "D)")
      when(expr(s"graft_dot($castVec, $lit)") >= 0,
        org.apache.spark.sql.functions.lit("1")).otherwise(org.apache.spark.sql.functions.lit("0"))
    }
    registered(embeddings).select(col("vec_id"), concat(bitCols.toIndexedSeq: _*).as("bucket"))
  }

  /** ANN candidate pairs: same-bucket self-join (vec_a < vec_b). At scale
    * the join key is the bucket hash — uniform by construction of the
    * random hyperplanes; multi-probe = union over Hamming-1 neighbors.
    *
    * SIZE `nPlanes` TO THE CORPUS: expected bucket occupancy is n / 2^p,
    * and the self-join emits ~n²/2^p pairs on uniform data — pick
    * p ≈ log2(n / targetBucketSize) (e.g. 30 planes for 10^9 vectors at
    * ~1-doc buckets with multi-probe for recall). The default 8 suits the
    * test corpus; it is NOT a corpus-scale setting — the same rule that
    * sized the 64-bit SimHash's 16-bit bands.
    */
  def lshCandidates(embeddings: DataFrame, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val b = lshBuckets(embeddings, nPlanes, dim)
    b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"), col("x.bucket").as("bucket"))
  }

  private def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Embedding-cosine near-duplicate pairs: LSH-bucket candidates verified
    * by exact cosine >= `minCosine`; keeper = the lower vec_id. Candidate
    * generation is the bucketed self-join (never all-pairs); verification
    * joins the output-bounded candidate set back to the vectors on vec_id —
    * both joins are equi-joins, so the whole dedup is hash-join shaped at
    * any corpus size.
    */
  def cosineNearDup(
      embeddings: DataFrame, minCosine: Double,
      nPlanes: Int = 8, dim: Int = 64
  ): DataFrame = {
    val cand = lshCandidates(embeddings, nPlanes, dim).select(col("v1"), col("v2"))
    val e = registered(embeddings).select(col("vec_id"), expr(castVec).as("v"))
    cand
      .join(e.select(col("vec_id").as("v1"), col("v").as("va")), Seq("v1"))
      .join(e.select(col("vec_id").as("v2"), col("v").as("vb")), Seq("v2"))
      .select(col("v1").as("keeper"), col("v2").as("dup"),
        round(cosine("va", "vb"), 9).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Assign every vector to its max-cosine centroid with a NARROW map:
    * the codebook is collapsed to ONE row (an id-sorted array of
    * (cent_id, cv, cvn) structs), broadcast, and each vector row folds over
    * it to an argmax — zero row amplification, zero exchange between the
    * embeddings scan and the assignment projection (asserted in PlanSpec).
    * The earlier crossJoin×nCentroids + row_number() window shuffled and
    * sorted N·k rows just to pick a per-row maximum.
    * Ties break to the lowest cent_id (the codebook array is id-sorted and
    * the fold keeps the incumbent on equality) — same order as a
    * `row_number() over (order by cos desc, cent_id)` pick.
    */
  def ivfAssign(e0: DataFrame, cents: DataFrame): DataFrame = {
    val e = registered(e0)
    val cb = cents
      .agg(sort_array(collect_list(struct(col("cent_id"),
        col("cv"), sqrt(dot("cv", "cv")).as("cvn")))).as("cb"))
    val best =
      s"""aggregate(
         |  transform(cb, c -> struct(
         |    graft_dot(v, c.cv) / (vn * c.cvn) AS cs,
         |    c.cent_id AS cid)),
         |  struct(CAST(-9e99 AS DOUBLE) AS cs, CAST(-1 AS BIGINT) AS cid),
         |  (acc, x) -> CASE WHEN x.cs > acc.cs THEN x ELSE acc END).cid""".stripMargin
    e.withColumn("vn", sqrt(dot("v", "v")))
      .crossJoin(broadcast(cb)) // one-row build side: a length-1 broadcast, not a fan-out
      .select(col("vec_id"), col("v"), expr(best).as("cent_id"))
  }

  /** IVF-style ANN: a deterministic coarse quantizer (centroids = the
    * vectors with the `nCentroids` lowest ids — a stand-in for a trained
    * codebook that keeps both engines and all cluster sizes bit-agreed),
    * every vector assigned to its max-cosine centroid (the inverted list,
    * a narrow broadcast fold — [[ivfAssign]]), queries probe only the
    * `nProbe` closest lists and rank exactly within them. At 100 TB:
    * broadcast of k centroids + an equi-join on cent_id — never all-pairs.
    */
  def ivfTopK(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      nCentroids: Int = 8,
      nProbe: Int = 2
  ): DataFrame = {
    val e = registered(embeddings).select(col("vec_id"), expr(castVec).as("v"))
    val cents = e.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val assigned = ivfAssign(e, cents)
    val q = e.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wQ = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cent_id"))
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("cos", cosine("qv", "cv"))
      .withColumn("rk", row_number().over(wQ)).where(col("rk") <= nProbe)
      .select(col("q_id"), col("qv"), col("cent_id"))
    val wR = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    probed.join(assigned, Seq("cent_id"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine("qv", "v"), 9).as("cosine"))
      .withColumn("rk", row_number().over(wR)).where(col("rk") <= k)
  }

  // --------------------------------------------------- product quantization

  /** Squared-L2 between the `m`-th `subDim`-wide slices of two double-array
    * expressions — an ordered left fold (ascending dimension), so Spark and
    * any SQL engine replaying the same arithmetic agree bit-for-bit.
    * `m` may be a lambda variable (slice offsets accept expressions).
    */
  private def subDistExpr(a: String, b: String, m: String, subDim: Int): String =
    s"graft_l2sq($a, $b, CAST($m * $subDim AS INT), $subDim)"

  /** THE one-row id-sorted codebook aggregation — the single definition
    * every PQ stage (encode fold, LUT build) broadcasts, so the
    * engine/oracle bit-agreement argument rests on exactly one expression.
    * Input: a (cent_id, cv) table; cent_ids must be dense 0..k-1 so codes
    * index the sorted array. The default codebook ([[pqEncode]] et al.) is
    * the k lowest-id vectors — a deterministic stand-in for a trained
    * k-means codebook that keeps both engines and all cluster sizes
    * bit-agreed.
    */
  private def codebookRow(codebook: DataFrame): DataFrame =
    codebook.agg(sort_array(collect_list(struct(col("cent_id"), col("cv")))).as("cb"))

  /** The default stand-in codebook table: the `k` lowest-id vectors. */
  private def standInCodebook(e: DataFrame, k: Int): DataFrame =
    e.where(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  /** Product-quantization encode (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search", IEEE TPAMI 33(1)): the vector is split
    * into `nSub` subspaces of dim/nSub dims and each slice is assigned to
    * its min-squared-L2 sub-centroid — `codes` is `nSub` small ints per
    * vector. At k<=256 that is nSub BYTES per vector: 100 TB of fp32
    * embeddings compress ~32x into something an executor can hold and scan
    * in cache. The assignment is the same zero-exchange shape as
    * [[ivfAssign]]: one broadcast codebook row, a per-row fold, no shuffle
    * of the embeddings (PlanSpec-gated). Ties break to the lowest cent_id
    * (strictly-less fold over the id-sorted array).
    */
  def pqEncode(embeddings: DataFrame, nSub: Int = 8, k: Int = 16,
      dim: Int = 64): DataFrame = {
    val e = registered(embeddings).select(col("vec_id"), expr(castVec).as("v"))
    pqEncodeWith(embeddings, standInCodebook(e, k), nSub, dim)
  }

  /** [[pqEncode]] against an EXPLICIT codebook table (cent_id, cv) — the
    * production form: the codebook is trained and frozen offline while
    * the corpus arrives, so a batch codebook side keeps the encode a
    * stateless per-row map that runs unchanged under Structured Streaming
    * (stream-batch broadcast join; spec-gated stream == batch). cent_ids
    * must be dense 0..k-1 — codes index the id-sorted array.
    */
  def pqEncodeWith(embeddings: DataFrame, codebook: DataFrame,
      nSub: Int = 8, dim: Int = 64): DataFrame = {
    require(dim % nSub == 0, s"dim=$dim not divisible by nSub=$nSub")
    val sd = dim / nSub
    val e = registered(embeddings).select(col("vec_id"), expr(castVec).as("v"))
    val cb = codebookRow(codebook)
    val codes =
      s"""transform(sequence(0, ${nSub - 1}), m ->
         |  aggregate(
         |    transform(cb, c -> named_struct(
         |      'd', ${subDistExpr("v", "c.cv", "m", sd)},
         |      'cid', c.cent_id)),
         |    named_struct('d', CAST(9e99 AS DOUBLE), 'cid', CAST(-1 AS BIGINT)),
         |    (acc, x) -> CASE WHEN x.d < acc.d THEN x ELSE acc END).cid)""".stripMargin
    e.crossJoin(broadcast(cb)) // one-row build side, not a fan-out
      .select(col("vec_id"), expr(codes).as("codes"))
  }

  /** PQ ANN search by asymmetric distance computation (ADC): the query
    * stays unquantized; per query a `nSub` x `k` lookup table of
    * sub-distances to every sub-centroid is computed once against the
    * broadcast codebook, and each encoded vector's approximate squared-L2
    * is then `nSub` table lookups + adds — never a 64-dim arithmetic pass
    * per candidate. At corpus scale the plan is: one scan of the (tiny)
    * codes table, a broadcast of |queries| LUT rows, a per-query top-k —
    * no shuffle of the corpus. Rank is (round(adc, 9) asc, neighbor_id) —
    * the q40 tie discipline.
    */
  /** lut[m+1][j+1] = ||sub(q,m) - sub(cent_j,m)||^2, cb id-sorted. */
  private def pqLutExpr(nSub: Int, subDim: Int): String =
    s"""transform(sequence(0, ${nSub - 1}), m ->
       |  transform(cb, c -> ${subDistExpr("qv", "c.cv", "m", subDim)}))""".stripMargin

  /** ADC from a codes array + a per-query LUT: ascending-m fold, mirroring
    * the oracle's ordered list_sum.
    */
  private val pqAdcExpr: String =
    """aggregate(zip_with(codes, lut, (c, lm) -> element_at(lm, CAST(c + 1 AS INT))),
      |  0D, (acc, x) -> acc + x)""".stripMargin

  def pqTopK(embeddings: DataFrame, queryIds: Seq[Long], topK: Int,
      nSub: Int = 8, k: Int = 16, dim: Int = 64): DataFrame = {
    require(dim % nSub == 0, s"dim=$dim not divisible by nSub=$nSub")
    val sd = dim / nSub
    val e = registered(embeddings).select(col("vec_id"), expr(castVec).as("v"))
    val codebook = standInCodebook(e, k) // one table feeds encode AND LUT
    val enc = pqEncodeWith(embeddings, codebook, nSub, dim)
    val q = e.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .crossJoin(broadcast(codebookRow(codebook)))
      .select(col("q_id"), expr(pqLutExpr(nSub, sd)).as("lut"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("neighbor_id"))
    enc.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(expr(pqAdcExpr), 9).as("adc"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= topK)
  }

  /** IVF-PQ: the canonical billion-scale ANN architecture (Jégou et al.
    * 2011 §IV; the non-residual ADC variant — FAISS IVFPQ with
    * by_residual=false): the coarse quantizer's inverted lists bound WHICH
    * candidates are scored (nProbe lists instead of the corpus) and PQ
    * bounds the MEMORY each candidate costs (nSub bytes at k<=256). The
    * two stages compose their scale properties: at 100 TB the plan is a
    * broadcast of nCentroids + the per-query LUTs, one equi-join from the
    * probed lists into the (tiny) codes-by-list table, and a per-query
    * top-k — the corpus itself is scanned once at encode time and never
    * again. Routing is [[ivfAssign]]'s max-cosine (q44 discipline); ranking
    * is [[pqTopK]]'s round-9 ADC with neighbor_id ties (q81 discipline).
    */
  def ivfPqTopK(embeddings: DataFrame, queryIds: Seq[Long], topK: Int,
      nCentroids: Int = 8, nProbe: Int = 2,
      nSub: Int = 8, k: Int = 16, dim: Int = 64): DataFrame = {
    val e = registered(embeddings).select(col("vec_id"), expr(castVec).as("v"))
    val coarse = standInCodebook(e, nCentroids)
    val codebook = standInCodebook(e, k)
    val lists = pqEncodeWith(embeddings, codebook, nSub, dim)
      .join(ivfAssign(e, coarse).select(col("vec_id"), col("cent_id")), Seq("vec_id"))
    ivfPqQuery(embeddings.where(col("vec_id").isin(queryIds: _*)),
      coarse, codebook, lists, topK, nProbe, nSub, dim)
  }

  /** Query a STORED IVF-PQ index — coarse centroids, sub-codebook, and the
    * coded inverted lists (vec_id, codes, cent_id), i.e. what the `ann`
    * CLI's index mode writes. Nothing is recomputed from the corpus: the
    * raw vectors are gone, only the codes remain (that is the point of
    * PQ). Routing, LUT and ADC rank are identical to [[ivfPqTopK]], which
    * delegates here (spec + oracle-gated equal). When the codes table is
    * physically partitioned by cent_id, the probed-lists join prunes to
    * nProbe partitions per query batch.
    */
  def ivfPqQuery(queries: DataFrame, coarse: DataFrame, codebook: DataFrame,
      lists: DataFrame, topK: Int, nProbe: Int = 2,
      nSub: Int = 8, dim: Int = 64): DataFrame = {
    require(dim % nSub == 0, s"dim=$dim not divisible by nSub=$nSub")
    val sd = dim / nSub
    val q = registered(queries).select(col("vec_id").as("q_id"), expr(castVec).as("qv"))
    val wQ = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cent_id"))
    val probed = q.crossJoin(broadcast(coarse))
      .withColumn("cos", cosine("qv", "cv"))
      .withColumn("rk", row_number().over(wQ)).where(col("rk") <= nProbe)
      .select(col("q_id"), col("qv"), col("cent_id"))
    val qlut = probed.crossJoin(broadcast(codebookRow(codebook)))
      .select(col("q_id"), col("cent_id"), expr(pqLutExpr(nSub, sd)).as("lut"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("neighbor_id"))
    qlut.join(lists, Seq("cent_id"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(expr(pqAdcExpr), 9).as("adc"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= topK)
  }

  /** Embedding near-duplicate candidates by PQ-code-PREFIX blocking,
    * verified by exact cosine — the dedup mode that rides on a stored PQ
    * index: the blocking self-join touches ONLY the codes table (nSub
    * small ints per vector; the raw corpus joins in just for the
    * output-bounded verification, same shape as [[cosineNearDup]]).
    * `prefix` subspaces form the block key: vectors quantizing identically
    * in the first `prefix` subspaces are candidates — k^prefix blocks, so
    * expected candidates are n²/k^prefix on uniform data; size prefix to
    * the corpus exactly like LSH plane counts. Keeper = lower vec_id.
    */
  def pqNearDup(embeddings: DataFrame, minCosine: Double, prefix: Int = 2,
      nSub: Int = 8, k: Int = 16, dim: Int = 64): DataFrame = {
    require(prefix >= 1 && prefix <= nSub, s"need 1 <= prefix <= $nSub, got $prefix")
    val codes = pqEncode(embeddings, nSub, k, dim)
      .select(col("vec_id"),
        expr(s"concat_ws('-', slice(codes, 1, $prefix))").as("blk"))
    val cand = codes.as("x").join(codes.as("y"),
        col("x.blk") === col("y.blk") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
    val e = registered(embeddings).select(col("vec_id"), expr(castVec).as("v"))
    cand
      .join(e.select(col("vec_id").as("v1"), col("v").as("va")), Seq("v1"))
      .join(e.select(col("vec_id").as("v2"), col("v").as("vb")), Seq("v2"))
      .select(col("v1").as("keeper"), col("v2").as("dup"),
        round(cosine("va", "vb"), 9).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Exact squared-L2 top-k — the brute-force truth the PQ recall metric
    * (q83) grades against. The query side is broadcast: the corpus
    * streams, nothing shuffles.
    */
  def l2TopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = registered(embeddings).select(col("vec_id"), expr(castVec).as("v"))
    val q = e.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val d = expr(s"graft_l2sq(qv, v, 0, ${Int.MaxValue})")
    val w = Window.partitionBy(col("q_id")).orderBy(col("l2sq"), col("neighbor_id"))
    e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), round(d, 9).as("l2sq"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Fixed-point scale for [[kmeansRefine]]'s reproducible accumulation:
    * float32 × 2²⁰ is EXACT in a double (power-of-two scaling only moves
    * the exponent), and floor of an exact double is engine-independent.
    */
  val kmeansFx = 1048576L // 2^20

  /** One Lloyd refinement step for the coarse quantizer — the k-means
    * iteration that turns [[ivfTopK]]'s deterministic seed centroids
    * (lowest `nCentroids` ids) into data-centered ones, and the clustering
    * stage of SemDeDup-style semantic dedup (cluster embeddings, then
    * near-dup within clusters — [[cosineNearDup]] downstream).
    *
    * The update is REPRODUCIBLE at any partitioning: a naive
    * sum-of-doubles centroid mean depends on partition visit order (float
    * addition is not associative), so instead each component is
    * accumulated in FIXED-POINT — `floor(x · 2²⁰)` as BIGINT (exact: a
    * float32 times a power of two is exact in double, floor of an exact
    * double is unambiguous) — and divided back out once at the end. The
    * integer sums commute, so the refined centroid hashes identically on
    * 1 executor or 1000 (partitioning-invariance spec-gated; the q114
    * oracle replays the same arithmetic in SQL).
    *
    * Scale shape: assignment is [[ivfAssign]]'s zero-exchange broadcast
    * fold; the update posexplodes to (cent_id, dim) rows whose groupBy
    * partial-aggregates map-side, so the ONE exchange carries ≤ partitions
    * × k × dim pre-combined rows — never the raw vectors. Output: k × dim
    * rows (cent_id, dim, n, sum_fx, c_new round-9).
    */
  def kmeansRefine(embeddings: DataFrame, nCentroids: Int = 8): DataFrame = {
    val e = registered(embeddings).select(col("vec_id"), expr(castVec).as("v"))
    val cents = e.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val assigned = ivfAssign(e, cents)
    assigned
      .select(col("cent_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("cent_id"), col("dim"),
        floor(col("x") * lit(kmeansFx)).cast("long").as("fx"))
      .groupBy(col("cent_id"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("fx")).as("sum_fx"))
      .select(col("cent_id"), col("dim"), col("n"), col("sum_fx"),
        round(col("sum_fx") / (lit(kmeansFx) * col("n")), 9).as("c_new"))
  }
}
