package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions.registered

/** Text-dedup operator library (training-data-pipeline extensions — engine-
  * new, no reference counterpart): exact, prefix-fingerprint, n-gram
  * Jaccard, MinHash+banded LSH, SimHash + banded-Hamming candidates. Every
  * operator is also a driver-checked query with a DuckDB oracle
  * (q30/q31/q36/q37/q38/q39 delegate here), so the library surface IS the
  * verified surface.
  *
  * Scale notes: all candidate generation is bucketed (band/bucket
  * self-equi-joins), never all-pairs; the Jaccard path caps shingle
  * document frequency so a stop-shingle cannot go quadratic on one key.
  * Hashing uses md5 (the cross-engine-verifiable hash domain).
  */
object Dedup {

  /** Whitespace tokens of a text column — the codegen byte-pass
    * [[graft.functions.TokenArray]], bit-equivalent to
    * `split(trim(text), '\\s+')` (TokenArraySpec) without the per-row
    * regex Matcher (the r4 TokenCount finding, now for the paths that
    * need the tokens themselves). */
  def tokens(text: Column): Column = graft.functions.TokenArray(text)

  /** The ONE spelling of the per-row shingle array (duplicates kept,
    * CASE-guarded for short docs — sequence() would count DOWN on an
    * empty range). [[shingles]] explodes it; the DuckDB oracles mirror
    * it. Any fix to the shingle lambda lands here once.
    */
  def shingleArrayExpr(toksCol: String, n: Int): String =
    // r6: the codegen ShingleArray expression (one loop emitting the
    // window concats directly) replaces the r5 zip_with-over-slices chain
    // (interpreted, n slices + n−1 zip intermediates per row) —
    // bit-equivalent including empty/NULL edges (ShingleSpec), still a
    // single per-row pass immune to optimizer inlining. Callers must have
    // run GraftExtensions.register on the session ([[registered]]).
    s"graft_shingles($toksCol, $n)"

  /** word `n`-gram shingles, distinct per (id, shingle).
    *
    * Precondition: one row per `idCol` value. Shingles are deduped within
    * a row only, so a repeated id yields repeated (id, shingle) rows and
    * inflates every count built on them (the DF cap, Jaccard sizes).
    *
    * The token array is materialized ONCE per row before the shingle
    * lambda: referencing `split(trim(text))` inside the transform body
    * re-runs the regex split per sequence ELEMENT (no common-subexpression
    * hoisting across a lambda boundary), which made shingling O(tokens²)
    * regex passes per document — the dominant cost of every shingle-based
    * query at corpus scale.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    registered(df).select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= n)
      // r6: per-doc dedup happens MAP-SIDE (guide §2.3 — drop duplicate
      // rows before they cross the exchange): the old shape exploded the
      // raw shingle array and ran .distinct() after the shuffle, paying
      // shuffle bytes for every repeated shingle plus a full post-shuffle
      // hash aggregate over the exploded table. array_distinct dedups
      // inside the row (the distinct-on-(doc_id, sh) set is exactly the
      // union of per-row distinct sets), so the aggregate disappears and
      // the exchange carries only unique (doc_id, sh) rows.
      .select(col("doc_id"),
        explode(array_distinct(expr(shingleArrayExpr("__toks", n)))).as("sh"))
      // ONE exchange keyed on sh serves the whole downstream family
      // (guide §2.4): the sh-keyed consumers — the DF-cap groupBy(sh) and
      // the candidate self-equi-join on sh — inherit the partitioning and
      // run zero-exchange (plan diff in plans/r06/q36_*). It also pins the
      // shingle explode to a single execution; before, each consumer
      // without an intervening exchange re-ran the explode scan. Skew
      // profile is unchanged: the pre-cap sh exchanges existed anyway.
      .repartition(col("sh"))

  /** Exact dedup groups: md5(text) → (hash, count, keeper = min id). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))

  /** Prefix-fingerprint near-dup groups (first `k` tokens). */
  def prefixFingerprint(df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame =
    registered(df).groupBy(md5(expr(
        s"array_join(slice(graft_tokens($textCol), 1, $k), ' ')")).as("fp"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))
      .where(col("n") > 1)

  /** Exact n-gram Jaccard over shingle sets, with a shingle document-
    * frequency cap (shingles in more than `dfCap` docs are dropped from
    * candidate generation/intersection; set sizes stay uncapped).
    * Returns (d1, d2, inter, jaccard) with jaccard >= `minJaccard`.
    *
    * The DF cap is a map-side-combined `groupBy(sh).count` whose over-cap
    * survivors (a tiny "stop-shingle" set by construction — only shingles
    * in >dfCap of ALL docs) broadcast into an anti-join. The earlier
    * `count() over (partition by sh)` form shuffled AND buffered the whole
    * shingle table per window frame; this form shuffles only the partial
    * counts and the capped table reuses the shingle exchange on both
    * self-join sides (ReusedExchange — asserted in PlanSpec).
    */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.2, dfCap: Int = 100
  ): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hot = sh.groupBy(col("sh")).agg(count(lit(1)).as("dfc"))
      .where(col("dfc") > dfCap).select(col("sh"))
    // The stop-shingle set is bounded by total-occurrences/dfCap — tiny at
    // test scale, but on a heavy-tailed corpus-scale distribution it can
    // outgrow the driver/broadcast limit, so the anti-join carries NO
    // broadcast hint: AQE's runtime size-based join selection broadcasts
    // the hot set when its ACTUAL materialized size is under the adaptive
    // broadcast threshold and keeps the shuffled anti-join otherwise
    // (gated in PlanSpec: the small-scale final plan is a broadcast
    // anti-join). An explicit driver-side count() guard measured an extra
    // full shingle pass per query (+25% on q36) for the same decision AQE
    // makes from sizes it already knows.
    val shc = sh.join(hot, Seq("sh"), "left_anti")
    shc.as("x").join(shc.as("y"), col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("d1"), col("d2"), col("inter"), col("jaccard"))
  }

  /** MinHash + banded LSH candidate pairs: `nHashes` string-domain
    * min-hashes (lexicographic min of md5(seed || shingle)) computed in ONE
    * aggregation pass, banded `rowsPerBand` at a time, candidates = pairs
    * sharing at least one band bucket.
    */
  def minhashLshCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, nHashes: Int = 8, rowsPerBand: Int = 2
  ): DataFrame = {
    require(nHashes % rowsPerBand == 0)
    val nBands = nHashes / rowsPerBand
    val sh = shingles(df, idCol, textCol, n)
    val minCols = (0 until nHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("sh")))).as(s"h$i"))
    val sig = sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until nBands).map { b =>
      val members = (0 until rowsPerBand).map(r => col(s"h${rowsPerBand * b + r}"))
      // order-insensitive band key (sorted concat)
      md5(concat(array_sort(array(members: _*)).cast("string"))).as(s"b$b")
    }
    val stacked = (0 until nBands).map(b => s"$b, b$b").mkString(", ")
    // r6 note: a .repartition(band, bv) to share one exchange across the
    // self-join sides was MEASURED SLOWER here (q37 0.68 -> 0.98 s): in
    // the small-scale broadcast regime the duplicated signature subtree
    // executes concurrently with the stream side, while the extra
    // exchange serializes the critical path; in the at-scale non-broadcast
    // regime both sides shuffle identically and ReusedExchange already
    // dedups the compute. Left as-is deliberately.
    val bands = sig.select(col("doc_id") +: bandCols: _*)
      .selectExpr("doc_id", s"stack($nBands, $stacked) as (band, bv)")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** The ±1 contribution of signature bit `j` (1-based) from an md5 hex
    * string column: bit j lives in hex digit (j-1)/4 + 1 at weight
    * 2^(3-(j-1)%4) — BIT-level extraction, so the signature can use all 128
    * md5 bits (the earlier one-hex-digit-per-bit form capped at 32 bits,
    * which forced 4-bit bands = 16 buckets per band = an O(n²/16)
    * within-bucket join at corpus scale).
    */
  private def bitSign(h: Column, j: Int): Column = {
    val d = (j - 1) / 4 + 1
    val w = 1 << (3 - (j - 1) % 4)
    when((conv(substring(h, d, 1), 16, 10).cast("int") / w).cast("int") % 2 === 1, 1)
      .otherwise(-1)
  }

  /** `bits`-bit SimHash signature: bit j = sign of the sum of ±1 over token
    * occurrences, the ±1 being bit j of md5(token)'s 128-bit value.
    *
    * The `bits/4` hex-digit decodes are hoisted into a projection BEFORE
    * the aggregation — one `conv(substring)` per digit per token row —
    * and each of the `bits` per-bit sums then reads its digit column with
    * two integer ops. Inlining `bitSign` into the aggregate expressions
    * instead evaluates `bits` string decodes per token row (subexpression
    * elimination does not reliably reach into aggregate buffers), which
    * dominated the signature stage at corpus scale.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 64): DataFrame = {
    require(bits <= 128, "md5 provides 128 bits")
    val nDig = (bits + 3) / 4
    // r6: one fused digest+nibble expression per token row instead of
    // md5-hex + nDig conv(substring) string conversions (bit-equivalent;
    // Md5NibblesSpec) — the decode was ~half the signature-stage time
    val toks = df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .withColumn("nb", graft.functions.Md5Nibbles(col("tok"), nDig))
      .select(col("doc_id") +: (1 to nDig).map(dd =>
        element_at(col("nb"), dd).as(s"d$dd")): _*)
    // r6: PACKED bit counters instead of `bits` ±1 sums. The r5 agg had
    // one sum(when(..., 1, -1)) buffer column per bit — 64 branchy update
    // expressions whose generated update method dominated the signature
    // stage (noop-isolated q38: ~1.4 s vs 0.55 s with the agg pruned).
    // Each digit's 4 bit-counts now pack 2-per-long in 31-bit fields
    // (counts increment by 0/1, so fields cannot carry below 2^31 rows
    // per doc — the same 2^53/exactness class of bound the rollup relies
    // on), giving nDig*2 + 1 plain integer sums. The sign is recovered
    // exactly: s_j = Σ±1 = 2·c_j − n, so bit j is '1' iff 2·c_j >= n —
    // integer arithmetic, bit-identical signatures (oracle + OpsSpec).
    val F = 2147483648L // 2^31
    val packs = (1 to nDig).flatMap { dd =>
      val d = col(s"d$dd")
      Seq(
        sum(shiftright(d, 3).cast("long") * F +
          (shiftright(d, 2) % 2).cast("long")).as(s"hi$dd"),
        sum((shiftright(d, 1) % 2).cast("long") * F +
          (d % 2).cast("long")).as(s"lo$dd"))
    } :+ count(lit(1)).as("n")
    val agg = toks.groupBy(col("doc_id")).agg(packs.head, packs.tail: _*)
    val bitChars = (1 to bits).map { j =>
      val dd = (j - 1) / 4 + 1
      val c = (3 - (j - 1) % 4) match { // weight exponent -> packed field
        case 3 => shiftright(col(s"hi$dd"), 31)
        case 2 => col(s"hi$dd").bitwiseAND(lit(2147483647L))
        case 1 => shiftright(col(s"lo$dd"), 31)
        case 0 => col(s"lo$dd").bitwiseAND(lit(2147483647L))
      }
      when(c * 2 >= col("n"), lit("1")).otherwise(lit("0"))
    }
    agg.select(col("doc_id"), concat(bitChars: _*).as("simhash"))
  }

  /** Banded-Hamming near-dup candidates over simhash signatures: band the
    * signature, self-join on band equality, verify Hamming <= maxHamming —
    * never an all-pairs distance scan.
    *
    * Completeness: any pair with Hamming <= nBands-1 shares at least one
    * clean band (pigeonhole), so maxHamming <= nBands-1 loses nothing.
    * Scale: with the 64-bit default each 16-bit band has 2^16 possible
    * values, so band buckets hold ~n/65536 docs plus genuine near-dup
    * clusters — the within-bucket self-join stays output-bounded (bucket
    * occupancy asserted in OpsSpec).
    */
  /** Connected-component cluster assignment over near-dup candidate pairs:
    * every document gets `cluster_id` = the smallest doc id reachable
    * through the candidate-pair graph (documents in no pair are their own
    * singleton cluster). This is the step that turns pairwise dedup
    * evidence (Jaccard / MinHash / SimHash candidates) into an actionable
    * keep/drop decision per document.
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    * public literature). Each round is two bounded groupBy+join passes over
    * the EDGE list; components are never materialized on one node, no
    * neighborhood is collected into one row, and convergence takes
    * O(log² n) rounds — at 10⁹ docs that is ~30 bounded shuffles, vs the
    * unbounded-diameter rounds of naive min-label propagation (a path
    * graph makes label propagation O(n) rounds; alternating star stays
    * logarithmic). Per-round `localCheckpoint` truncates lineage so the
    * plan does not grow with iterations (a production job would point
    * `spark.checkpoint.dir` at reliable storage instead).
    *
    * The per-round fixpoint test aggregates the edge set to ONE row
    * (count + order-insensitive hash sum) — iteration control, not a
    * driver-side data path.
    *
    * @param edges candidate pairs; both endpoint columns must share the
    *              id type of `nodes` (min/ordering must agree)
    * @param nodes one row per document id; absentees from `edges` come
    *              back as singletons
    */
  def clusters(
      edges: DataFrame, d1: String, d2: String,
      nodes: DataFrame, nodeCol: String
  ): DataFrame = {
    // lineage truncation per round: RELIABLE checkpoint when the session
    // has a checkpoint dir configured (survives executor loss — the
    // production setting), executor-local otherwise (in-sandbox default;
    // a lost executor would fail the job mid-iteration)
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    // local checkpoints are LAZY (r6): the round's fingerprint action is
    // the first full read, so marking lazily merges the materialization
    // into that job — one job per round instead of two (reliable stays
    // eager: non-eager reliable checkpoints recompute the lineage to
    // write their files)
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint(eager = false)
    // r6: no initial .distinct() — both call-site edge sources (groupBy
    // outputs) are already unique, and for a caller that does pass
    // duplicates round 0's terminal distinct removes them (the stars are
    // duplicate-blind: min() ignores multiplicity and every round ends in
    // a distinct); the only effect is that a duplicate-carrying input's
    // round-0 fingerprint counts duplicates, which can never fake
    // convergence (fingerprint equality only ever triggers the exact
    // exceptAll confirmation). Saves the one exchange + dedup pass that
    // re-deduped already-unique inputs.
    var e = truncate(edges.select(col(d1).as("a"), col(d2).as("b"))
      .where(col("a") =!= col("b")))

    // r6: scale-adaptive round partitioning (guide §2.2/§2.5 — derive the
    // exchange width from the data, not the session constant): every round
    // works on ≤ 2|E| small fixed-width rows, so its hash exchanges are
    // explicitly repartitioned to ceil(|E| / 4M) partitions (~128 MB each
    // at ~32 B/row) — a tiny graph contracts in single-task stages (at
    // bench scale the dominant round cost was constant-width task-launch
    // overhead per exchange, ~3 exchanges x session-width tasks per round
    // on KB-sized data), a 100 TB edge table still fans out past the
    // session default. Set from the round-0 fingerprint's edge count; the
    // edge set only shrinks across rounds.
    var roundParts = 1

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b"), col("a")).toDF("a", "b"))
        .repartition(roundParts, col("a"))
      // zero further exchange: the min-agg and the self-join both cluster
      // by `a`, satisfied by the explicit hash(a, roundParts) above
      val mn = sym.groupBy(col("a")).agg(min(col("b")).as("mn"))
      // r6: no trailing .distinct() — every round pipes this straight into
      // smallStar, whose first step re-canonicalizes AND dedups
      // ((greatest, least) + distinct), so the extra exchange bought
      // nothing: duplicate (a, b) rows here only repeat inside that
      // distinct's map-side partial. Set semantics per round are unchanged.
      sym.join(mn, "a").where(col("b") > col("a"))
        .select(col("b").as("a"), least(col("a"), col("mn")).as("b"))
        .where(col("a") =!= col("b"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // r6: no .distinct() on the canonicalized input — min() is
      // duplicate-blind and the round's terminal distinct dedupes the
      // output set, so the extra exchange only re-deduped rows the next
      // exchange dedupes anyway. Duplicate multiplicity entering the join
      // is bounded by largeStar's per-row fan-out of 1 (≤ 2|E| rows), at
      // most doubling this round's shuffle bytes in exchange for one
      // fewer full exchange per round — a win at every scale measured
      // (per-round job time, OPTIMIZATION_r06.md).
      val or = e.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
        .repartition(roundParts, col("u"))
      val mn = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      or.join(mn, "u").select(col("v").as("a"), col("m").as("b"))
        .union(mn.select(col("u").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
        // the terminal dedup clusters by (a, b): repartition explicitly so
        // the distinct aggregates at the round width, not the session's
        .repartition(roundParts, col("a"), col("b")).distinct()
    }
    def fingerprint(e: DataFrame): (Long, BigDecimal) = {
      // order-insensitive digest: count + sum of row hashes (summed in the
      // decimal domain — a Long sum overflows under ANSI mode)
      val r = e.agg(count(lit(1)), coalesce(sum(xxhash64(
        greatest(col("a"), col("b")), least(col("a"), col("b")))
        .cast("decimal(38,0)")), lit(BigDecimal(0)))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }

    var fp = fingerprint(e)
    // ~4M edge rows (~128 MB) per round partition, never zero
    roundParts = math.max(1L, (fp._1 + (4 << 20) - 1) / (4 << 20)).toInt
    var converged = e.isEmpty
    var it = 0
    val maxRounds = 50 // far above the O(log² n) rounds alternating star takes
    while (!converged && it < maxRounds) {
      val next = truncate(smallStar(largeStar(e)))
      val nfp = fingerprint(next)
      if (nfp == fp) {
        // The fingerprint is probabilistic (count + xxhash64 sum): a
        // collision between consecutive DIFFERENT edge sets would
        // terminate early with silently wrong clusters. Confirm the
        // fixpoint EXACTLY once, on fingerprint equality only — one extra
        // anti-join pass at the end, never in the hot loop.
        converged = next.exceptAll(e).isEmpty && e.exceptAll(next).isEmpty
      }
      // r6: e is superseded — nothing reads it after the check above, so
      // free its checkpoint blocks instead of letting every round's edge
      // snapshot stay resident for the session's lifetime
      org.apache.spark.sql.GraftSqlShim.dropLocalCheckpoint(e)
      fp = nfp; e = next; it += 1
    }
    require(converged, s"clusters() did not converge in $maxRounds rounds")

    // fixpoint = per-component stars centered at the min: (child, root)
    val assign = e.select(greatest(col("a"), col("b")).as("doc_id"),
      least(col("a"), col("b")).as("cluster_id"))
    val ids = nodes.select(col(nodeCol).as("doc_id"))
    ids.join(assign, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  def simhashCandidates(
      sig: DataFrame, bits: Int = 64, nBands: Int = 4, maxHamming: Int = 3
  ): DataFrame = {
    require(bits % nBands == 0)
    val w = bits / nBands
    val stacked = (0 until nBands).map(b => s"$b, substring(simhash, ${w * b + 1}, $w)").mkString(", ")
    // r6 note: the broadcast self-join computes the signature subtree
    // twice, but the copies run CONCURRENTLY (build + stream) — pinning
    // both sides to one shared exchange measured slower (q39 1.75 ->
    // 2.23 s) by serializing an extra stage; at scale the non-broadcast
    // regime reuses the identical exchanges anyway. Left as-is.
    val bands = sig.select(col("doc_id"), col("simhash"),
      expr(s"stack($nBands, $stacked) as (band, bits)"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.simhash").as("h1"), col("y.simhash").as("h2"))
      .distinct()
    // chunked XOR + popcount instead of `bits` per-character comparisons:
    // Hamming distance is band-agnostic, so decode fixed 16-bit chunks —
    // always inside a signed long, whatever the band width (a single
    // per-BAND decode would overflow at w >= 64)
    val chunk = 16
    val ham = (0 until (bits + chunk - 1) / chunk).map { c =>
      val len = math.min(chunk, bits - c * chunk)
      bit_count(conv(substring(col("h1"), chunk * c + 1, len), 2, 10).cast("long")
        .bitwiseXOR(conv(substring(col("h2"), chunk * c + 1, len), 2, 10).cast("long")))
    }.reduce(_ + _)
    cand.withColumn("hamming", ham)
      .where(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Passage-level shared spans: for every document pair, the matching
    * word n-gram positions grouped into DIAGONAL RUNS — maximal stretches
    * where both documents advance token-for-token (constant p1 − p2 with
    * consecutive p1). A run of r shingles is a verbatim shared passage of
    * r + n − 1 tokens: the substring-level signal document-level Jaccard
    * ([[ngramJaccard]]) blurs away, and the unit "dedup the repeated
    * passages, keep the documents" pipelines act on.
    *
    * Per pair (d1 < d2): `max_run` (longest run, in shingles), `n_runs`
    * (runs of length ≥ minRun), `matched` (total matching positions, =
    * Σ run lengths). Aggregate-only output — no argmax row, so no tie
    * ambiguity (the q57 lesson). All values are exact integers.
    *
    * Scale shape: positions explode once; shingles in more than `dfCap`
    * positions corpus-wide are anti-joined out BEFORE the self-join
    * (identically in the oracle), bounding every join key's fan-out by
    * dfCap², exactly the [[ngramJaccard]] discipline — AQE picks
    * broadcast vs shuffled anti-join from the hot set's real size. The
    * run detection is one window sort keyed (d1, d2, diag) — bounded by
    * matched positions, not document length.
    */
  def sharedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, dfCap: Int = 100, minRun: Int = 1
  ): DataFrame = {
    require(minRun >= 1, s"minRun must be >= 1, got $minRun")
    import org.apache.spark.sql.expressions.Window
    // duplicates KEPT (unlike shingles()): positions are the payload.
    // Same §2.4 exchange-sharing as shingles(): one sh-keyed exchange
    // feeds the DF-cap groupBy and the positional self-join, and the
    // posexplode scan runs exactly once.
    val pos = registered(df).select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= n)
      .select(col("doc_id"),
        posexplode(expr(shingleArrayExpr("__toks", n))).as(Seq("pos", "sh")))
      .repartition(col("sh"))
    val hot = pos.groupBy(col("sh")).agg(count(lit(1)).as("dfc"))
      .where(col("dfc") > dfCap).select(col("sh"))
    val rare = pos.join(hot, Seq("sh"), "left_anti")
    val hits = rare.as("x").join(rare.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.pos").as("p1"), (col("x.pos") - col("y.pos")).as("diag"))
    val w = Window.partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("p1"))
    val runs = hits
      // consecutive p1 at fixed diag share (p1 − row_number): the island id
      .withColumn("grp", col("p1") - row_number().over(w))
      .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("d1"), col("d2"))
      .agg(
        max(col("run_len")).as("max_run"),
        count(when(col("run_len") >= minRun, 1)).as("n_runs"),
        sum(col("run_len")).as("matched"))
      .where(col("max_run") >= minRun)
  }

  /** Edit-distance-1 fuzzy pairs over fixed-length prefixes — SymSpell
    * deletion-neighborhood blocking (Garbe 2012, public algorithm): two
    * strings within Levenshtein distance 1 necessarily share a member of
    * each other's {self} ∪ {one-deletion variants} set, so ONE equi-join
    * on the variant captures every true pair with a fan-out of exactly
    * prefixLen+1 variants per doc — never an all-pairs or edit-distance
    * theta join. Candidates are then verified with the exact
    * `levenshtein` built-in (integer DP — bit-portable, unlike float
    * scores). This is the typo/near-miss complement to the token-level
    * dedup family (shingles miss single-character edits inside a token).
    *
    * Output per pair (d1 < d2): the two prefixes and the verified
    * distance. Scale notes: the variant join is skew-prone on common
    * prefixes (a shared boilerplate head puts many docs in one variant
    * key) — AQE splits skewed keys, and a df-cap anti-join (the q36
    * discipline) can pre-drop variants above a frequency bound when a
    * corpus has mass-duplicated heads; at that point exact-hash dedup
    * already owns those pairs.
    */
  /** Corpus-to-corpus overlap: the EXACT Jaccard similarity of two
    * document sets (by md5 text identity) side by side with its k-MinHash
    * ESTIMATE (Broder 1997) — the q48-style evaluation surface that tells
    * an operator how much to trust signature-level corpus comparisons
    * before running them at a scale where the exact intersection is
    * unaffordable. One row out: exact `n_a/n_b/n_inter/n_union/jac_r`
    * and the estimator's `n_agree/k/est_r` (fraction of the k min-hashes
    * — lexicographic min of md5(seed || h), the [[minhashLshCandidates]]
    * hash domain — agreeing between the sides).
    *
    * Scale shape: the truth costs one distinct + one hash-join-sized
    * intersection (this is the part that stops scaling — the point of
    * the estimator); the estimate is one explode(k) + a
    * map-side-combined (side, seed) min agg + a k-row comparison, and at
    * 100 TB runs WITHOUT the truth columns (pass `exact = false`).
    */
  def corpusOverlap(a: DataFrame, b: DataFrame, textCol: String,
                    k: Int = 32, exact: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = a.sparkSession
    def hs(df: DataFrame) = df.where(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("h")).distinct()
    val ha = hs(a)
    val hb = hs(b)
    def mins(df: DataFrame, side: String) = df
      .withColumn("j", explode(array((0 until k).map(lit): _*)))
      .groupBy(col("j"))
      .agg(min(md5(concat(col("j").cast("string"), lit("|"), col("h"))))
        .as(s"m_$side"))
    val agree = mins(ha, "a").join(mins(hb, "b"), Seq("j"), "full")
      .agg(sum(when(col("m_a") === col("m_b"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("k", lit(k.toLong))
      .withColumn("est_r", round(col("n_agree") / lit(k.toDouble), 6))
    if (!exact) return agree
    val na = ha.agg(count(lit(1)).as("n_a"))
    val nb = hb.agg(count(lit(1)).as("n_b"))
    val ni = ha.join(hb, "h").agg(count(lit(1)).as("n_inter"))
    na.crossJoin(nb).crossJoin(ni).crossJoin(agree)
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jac_r", when(col("n_union") > 0,
        round(col("n_inter") / col("n_union").cast("double"), 6)))
      .select(col("n_a"), col("n_b"), col("n_inter"), col("n_union"),
        col("jac_r"), col("n_agree"), col("k"), col("est_r"))
  }

  def fuzzyPairs(docs: DataFrame, idCol: String, textCol: String,
                 prefixLen: Int = 16): DataFrame = {
    require(prefixLen >= 2, s"prefixLen must be >= 2, got $prefixLen")
    val base = docs
      .where(col(textCol).isNotNull &&
        length(trim(col(textCol))) >= prefixLen)
      .select(col(idCol).as("__id"),
        substring(trim(col(textCol)), 1, prefixLen).as("__s"))
    val variants = base.select(col("__id"), col("__s"),
      explode(expr(
        s"""array_distinct(array_append(
           |  transform(sequence(1, length(__s)),
           |    i -> concat(substring(__s, 1, i - 1),
           |                substring(__s, i + 1, $prefixLen))),
           |  __s))""".stripMargin)).as("__var"))
    val a = variants.select(col("__id").as("d1"), col("__s").as("s1"),
      col("__var"))
    val b = variants.select(col("__id").as("d2"), col("__s").as("s2"),
      col("__var"))
    a.join(b, Seq("__var")).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("s1"), col("s2")).distinct()
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .where(col("dist") <= 1)
  }
}
