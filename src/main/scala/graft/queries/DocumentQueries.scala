package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries.{Q, docs}
import graft.queries.OracleSql.tokensDuck

/** Document operators: tokenization, quality and repetition rules, shingle
  * and MinHash/simhash dedup ([[graft.ops.Dedup]]), contamination, language
  * ID, LM support scores and phrase search.
  */
private[graft] trait DocumentQueries {

  // codegen byte-pass tokenizer, bit-equal to split(trim(text), '\\s+')
  // (graft.functions.TokenArray; registered in docs())
  private val tokensSpark = "graft_tokens(text)"

  val q30 = Q("q30_dedup_exact",
    (s, d) => graft.ops.Dedup.exact(docs(s, d), "doc_id", "text"),
    Some("SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper FROM documents GROUP BY 1"))

  val q31 = Q("q31_dedup_prefix",
    (s, d) => graft.ops.Dedup.prefixFingerprint(docs(s, d), "doc_id", "text", k = 5),
    Some(s"""SELECT md5(array_to_string($tokensDuck[1:5], ' ')) AS fp,
            | count(*) AS n, min(doc_id) AS keeper
            |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin))

  val q32 = Q("q32_token_count",
    (s, d) => docs(s, d).select(col("doc_id"), expr(s"size($tokensSpark)").as("n_tokens")),
    Some(s"SELECT doc_id, len($tokensDuck) AS n_tokens FROM documents"))

  val q33 = Q("q33_quality_score",
    (s, d) => docs(s, d).select(
      col("doc_id"),
      expr(s"size($tokensSpark)").as("n_tokens"),
      length(col("text")).as("n_chars_m"),
      expr(s"size(filter($tokensSpark, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'to' OR x = 'and' OR x = 'in'))").as("n_stop"),
      (expr(s"size(filter($tokensSpark, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'to' OR x = 'and' OR x = 'in'))") * 5
        >= expr(s"size($tokensSpark)")).as("is_quality")),
    Some(s"""SELECT doc_id, len($tokensDuck) AS n_tokens, length(text) AS n_chars_m,
            | len(list_filter($tokensDuck, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'to' OR x = 'and' OR x = 'in')) AS n_stop,
            | len(list_filter($tokensDuck, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'to' OR x = 'and' OR x = 'in')) * 5
            |   >= len($tokensDuck) AS is_quality
            |FROM documents""".stripMargin))

  val q34 = Q("q34_lang_guess",
    (s, d) => docs(s, d).select(
      col("doc_id"),
      expr(s"size(filter($tokensSpark, x -> x = 'the' OR x = 'a' OR x = 'of'))").as("en_n"),
      expr(s"size(filter($tokensSpark, x -> x = 'scan' OR x = 'join' OR x = 'query'))").as("sql_n"))
      .withColumn("pred", when(col("en_n") >= col("sql_n"), lit("en")).otherwise(lit("dsl"))),
    Some(s"""SELECT doc_id,
            | len(list_filter($tokensDuck, x -> x = 'the' OR x = 'a' OR x = 'of')) AS en_n,
            | len(list_filter($tokensDuck, x -> x = 'scan' OR x = 'join' OR x = 'query')) AS sql_n,
            | CASE WHEN len(list_filter($tokensDuck, x -> x = 'the' OR x = 'a' OR x = 'of'))
            |   >= len(list_filter($tokensDuck, x -> x = 'scan' OR x = 'join' OR x = 'query'))
            |  THEN 'en' ELSE 'dsl' END AS pred
            |FROM documents""".stripMargin))

  val q35 = Q("q35_fingerprint",
    (s, d) => docs(s, d).select(col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp")),
    Some(raw"SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents"))

  /** BPE-ish regex tokenization (the GPT-2 pre-tokenizer's class structure
    * — letter runs | digit runs | punctuation runs — without its
    * lookahead, so the pattern is portable across Java regex and RE2).
    * The alternatives match disjoint character classes, so alternation
    * order cannot differ between engines.
    */
  private val bpePattern = raw"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"

  val q45 = Q("q45_bpe_tokens",
    (s, d) => docs(s, d).select(col("doc_id"),
      expr(s"size(regexp_extract_all(text, '${bpePattern.replace("\\", "\\\\")}', 0))").as("n_bpe"),
      expr(s"size($tokensSpark)").as("n_ws"))
      .withColumn("bpe_per_ws",
        when(col("n_ws") > 0, round(col("n_bpe") / col("n_ws"), 6))),
    Some(s"""SELECT doc_id,
            | len(regexp_extract_all(text, '$bpePattern')) AS n_bpe,
            | len($tokensDuck) AS n_ws,
            | CASE WHEN len($tokensDuck) > 0
            |  THEN round(len(regexp_extract_all(text, '$bpePattern'))
            |    / CAST(len($tokensDuck) AS DOUBLE), 6) END AS bpe_per_ws
            |FROM documents""".stripMargin))

  val q36 = Q("q36_ngram_jaccard",
    // DF cap 100: a stop-shingle in >100 docs would make the self-join
    // quadratic on one key; the cap applies identically in the oracle
    (s, d) => graft.ops.Dedup.ngramJaccard(docs(s, d), "doc_id", "text",
      n = 3, minJaccard = 0.2, dfCap = 100),
    Some(s"""WITH toks AS (SELECT doc_id, $tokensDuck AS a FROM documents WHERE len($tokensDuck) >= 3),
            |sh AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, len(a) - 2),
            |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS sh FROM toks),
            |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            |rare AS (SELECT sh FROM sh GROUP BY 1 HAVING count(*) <= 100),
            |shc AS (SELECT sh.doc_id, sh.sh FROM sh JOIN rare USING (sh)),
            |pairs AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
            |  FROM shc x JOIN shc y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2)
            |SELECT d1, d2, inter,
            |  inter / (s1.n_sh + s2.n_sh - inter) AS jaccard
            |FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
            |WHERE inter / (s1.n_sh + s2.n_sh - inter) >= 0.2""".stripMargin))

  val q37 = Q("q37_minhash_lsh",
    // min-wise hashing in the STRING domain (lexicographic min of
    // md5(seed || shingle)) → identical in any engine with md5; 8 hashes,
    // 4 bands of 2 → candidate pairs sharing >= 1 band. The band-key
    // encodings differ between engine and oracle but both are injective on
    // the sorted member hashes, so the candidate SETS are equal.
    (s, d) => graft.ops.Dedup.minhashLshCandidates(docs(s, d), "doc_id", "text",
      n = 3, nHashes = 8, rowsPerBand = 2),
    Some(s"""WITH toks AS (SELECT doc_id, $tokensDuck AS a FROM documents WHERE len($tokensDuck) >= 3),
            |sh AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, len(a) - 2),
            |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS sh FROM toks),
            |sig AS (SELECT doc_id, seed, min(md5(seed || '|' || sh)) AS h
            |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed) GROUP BY 1, 2),
            |bands AS (SELECT doc_id, seed // 2 AS band,
            |  md5(string_agg(h, '' ORDER BY h)) AS bv FROM sig GROUP BY 1, 2)
            |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
            |FROM bands x JOIN bands y
            |  ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id""".stripMargin))

  /** DuckDB ±1 for simhash bit j (1-based) of an md5 hex column `h` —
    * bit-level extraction matching Dedup.bitSign: hex digit (j-1)/4+1,
    * weight 2^(3-(j-1)%4).
    */
  private def duckBitSign(j: Int): String = {
    val dig = (j - 1) / 4 + 1
    val w = 1 << (3 - (j - 1) % 4)
    s"(CASE WHEN ((strpos('0123456789abcdef', substr(h, $dig, 1)) - 1) // $w) % 2 = 1 THEN 1 ELSE -1 END)"
  }
  private val simhashBits = 64

  val q38 = Q("q38_simhash",
    // 64-bit simhash: bit j = sign of sum over token occurrences of ±1,
    // where the ±1 is bit j of md5(token)'s 128-bit value (bit-level, so
    // 16-bit LSH bands have 2^16 bucket values — see q39)
    (s, d) => graft.ops.Dedup.simhash(docs(s, d), "doc_id", "text", bits = simhashBits),
    Some(s"""WITH toks0 AS (SELECT doc_id, unnest($tokensDuck) AS t FROM documents),
            |toks AS (SELECT doc_id, md5(t) AS h FROM toks0),
            |s AS (SELECT doc_id,
            |  ${(1 to simhashBits).map(j => s"sum(${duckBitSign(j)}) AS s$j").mkString(", ")}
            |  FROM toks GROUP BY 1)
            |SELECT doc_id, ${(1 to simhashBits).map(j => s"CASE WHEN s$j >= 0 THEN '1' ELSE '0' END").mkString(" || ")} AS simhash
            |FROM s""".stripMargin))

  val q39 = Q("q39_simhash_candidates",
    // near-dup candidates from the 64-bit simhash: 4 x 16-bit bands,
    // self-join on band equality (a pair collides iff it shares at least
    // one exact band — complete for Hamming <= nBands-1 = 3 by pigeonhole,
    // and each band has 2^16 bucket values so buckets hold ~n/65536 docs
    // plus real near-dup clusters, never the n/16 of a 4-bit band),
    // then verify Hamming <= 3
    (s, d) => graft.ops.Dedup.simhashCandidates(q38.fn(s, d),
      bits = simhashBits, nBands = 4, maxHamming = 3),
    Some {
      val hamming = (1 to simhashBits)
        .map(j => s"(CASE WHEN substr(h1, $j, 1) <> substr(h2, $j, 1) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks0 AS (SELECT doc_id, unnest($tokensDuck) AS t FROM documents),
         |toks AS (SELECT doc_id, md5(t) AS h FROM toks0),
         |sums AS (SELECT doc_id,
         |  ${(1 to simhashBits).map(j => s"sum(${duckBitSign(j)}) AS s$j").mkString(", ")}
         |  FROM toks GROUP BY 1),
         |sig AS (SELECT doc_id, ${(1 to simhashBits).map(j => s"CASE WHEN s$j >= 0 THEN '1' ELSE '0' END").mkString(" || ")} AS simhash FROM sums),
         |bands AS (SELECT doc_id, simhash, b AS band, substr(simhash, b * 16 + 1, 16) AS bits
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
         |    x.simhash AS h1, y.simhash AS h2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id)
         |SELECT d1, d2, $hamming AS hamming
         |FROM cand
         |WHERE $hamming <= 3""".stripMargin
    })

  val q47 = Q("q47_dedup_clusters",
    // candidate pairs → per-document cluster assignment (cluster_id = the
    // smallest doc id reachable through the q37 MinHash-LSH pair graph;
    // singletons map to themselves). Engine side: alternating large-star/
    // small-star contraction — O(log² n) bounded shuffles, components never
    // materialized on one node. Oracle side: transitive closure via a
    // recursive CTE — feasible only at test scale, which is exactly why the
    // engine uses star contraction instead.
    (s, d) => graft.ops.Dedup.clusters(q37.fn(s, d), "d1", "d2",
      docs(s, d), "doc_id"),
    q37.oracle.map { candSql =>
      s"""WITH RECURSIVE cand AS ($candSql),
         |e AS (SELECT d1 AS a, d2 AS b FROM cand
         |  UNION SELECT d2, d1 FROM cand),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin
    })

  val q73 = Q("q73_repetition_profile",
    // within-doc repetition counts (Gopher/MassiveText-shaped quality
    // rule, graft.ops.TextQuality) — integer counts + integer-arithmetic
    // flag, so the oracle is exact with zero float discipline needed
    (s, d) => graft.ops.TextQuality.repetition(docs(s, d), "doc_id", "text"),
    Some(raw"""WITH w AS (
              |  SELECT doc_id,
              |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws,
              |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS ln
              |  FROM documents),
              |g AS (
              |  SELECT doc_id, ws, ln,
              |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS g2,
              |    list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3
              |  FROM w),
              |tc AS (
              |  SELECT doc_id, max(c) AS top2 FROM (
              |    SELECT doc_id, gr, count(*) AS c
              |    FROM (SELECT doc_id, unnest(g2) AS gr FROM g) GROUP BY 1, 2)
              |  GROUP BY 1)
              |SELECT g.doc_id,
              |  len(ws) AS n_words, len(list_distinct(ws)) AS n_uniq_words,
              |  len(g2) AS n_2grams, len(list_distinct(g2)) AS n_uniq_2grams,
              |  len(g3) AS n_3grams, len(list_distinct(g3)) AS n_uniq_3grams,
              |  len(ln) AS n_lines, len(list_distinct(ln)) AS n_uniq_lines,
              |  coalesce(tc.top2, 0) AS top_2gram_count,
              |  (len(g2) - len(list_distinct(g2))) * 5 > len(g2)
              |    OR (len(ln) - len(list_distinct(ln))) * 10 > len(ln) * 3 AS is_repetitive
              |FROM g LEFT JOIN tc ON g.doc_id = tc.doc_id""".stripMargin))

  val q74 = Q("q74_tfidf_topk",
    // corpus term salience (graft.ops.TextRank.topTerms): top-3 terms per
    // doc by tf × the RATIONAL BM25 idf argument (N-df+0.5)/(df+0.5) — no
    // ln on the gated surface (DuckDB ln and Java Math.log differ by 1 ulp
    // at df=398/N=500); the rank uses the unrounded bit-exact
    // double, ties broken by term asc
    (s, d) => graft.ops.TextRank.topTerms(docs(s, d), "doc_id", "text", k = 3),
    Some(s"""WITH tfc AS (
            |  SELECT doc_id, term, count(*) AS tf FROM (
            |    SELECT doc_id, unnest($tokensDuck) AS term FROM documents)
            |  GROUP BY 1, 2),
            |dfc AS (SELECT term, count(*) AS term_df FROM tfc GROUP BY 1),
            |nn AS (SELECT count(*) AS n_docs FROM documents),
            |scored AS (
            |  SELECT doc_id, term, tf, term_df,
            |    tf * ((n_docs - term_df + 0.5::DOUBLE) / (term_df + 0.5::DOUBLE)) AS s
            |  FROM tfc JOIN dfc USING (term) CROSS JOIN nn),
            |r AS (SELECT *, row_number() OVER (
            |    PARTITION BY doc_id ORDER BY s DESC, term ASC) AS rnk
            |  FROM scored)
            |SELECT doc_id, term, tf, term_df, round(s, 6) AS score, rnk
            |FROM r WHERE rnk <= 3""".stripMargin))

  val q75 = Q("q75_contamination",
    // train/test contamination (graft.ops.Contamination.flag): word
    // 5-gram shingle overlap of each corpus doc against the benchmark
    // holdout (doc_id % 10 == 0); integer counts, int/int IEEE rate,
    // integer cross-multiplied flag at 10%
    (s, d) => graft.ops.Contamination.flag(docs(s, d), "doc_id", "text",
      benchPred = col("doc_id") % 10 === 0, n = 5, thresholdPct = 10),
    Some(s"""WITH toks AS (SELECT doc_id, $tokensDuck AS a FROM documents
            |  WHERE len($tokensDuck) >= 5),
            |sh AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, len(a) - 4),
            |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4])) AS sh
            |  FROM toks),
            |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0)
            |SELECT s.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit,
            |  round(count(b.sh) / count(*), 6) AS rate,
            |  count(b.sh) * 100 >= count(*) * 10 AS contaminated
            |FROM sh s LEFT JOIN bench b USING (sh)
            |WHERE s.doc_id % 10 <> 0 GROUP BY 1""".stripMargin))

  val q79 = Q("q79_dedup_lines",
    // the line-level REWRITE behind q73's flag (graft.ops.TextQuality
    // .dedupLines): duplicated non-blank lines removed keeping first
    // occurrence; gated on the rebuilt text itself (md5 + the string)
    (s, d) => graft.ops.TextQuality.dedupLines(docs(s, d), "doc_id", "text"),
    Some(raw"""WITH w AS (SELECT doc_id,
              |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS ln
              |  FROM documents),
              |k AS (SELECT doc_id, ln,
              |    list_filter(ln, (l, i) -> list_position(ln, l) = i) AS kept
              |  FROM w)
              |SELECT doc_id, len(ln) AS n_lines, len(kept) AS n_kept,
              |  md5(array_to_string(kept, chr(10))) AS clean_fp,
              |  array_to_string(kept, chr(10)) AS clean_text
              |FROM k""".stripMargin))

  val q84 = Q("q84_gopher_quality",
    // Gopher document-level quality gate (Rae et al. 2021 A1.1, the
    // word-level subset): word-count band, mean word length in [3,10],
    // >=80% alphabetic words, >=2 stopwords — every rule integer
    // cross-multiplied (graft.ops.TextQuality.gopherQuality), so the gate
    // hash-oracles exactly. [25,80] brackets this corpus's 10..99 word
    // range so both rejection tails are exercised.
    (s, d) => graft.ops.TextQuality.gopherQuality(docs(s, d), "doc_id", "text", 25, 80),
    Some(s"""WITH w AS (SELECT doc_id,
            |    list_filter($tokensDuck, x -> x <> '') AS ws FROM documents),
            |c AS (SELECT doc_id, len(ws) AS n_words,
            |    -- DuckDB list_sum([]) is NULL where Spark's aggregate fold
            |    -- is 0, hence the coalesce; but it must fire ONLY on the
            |    -- empty list — a NULL text is NULL on the engine side too
            |    -- CAST: list_sum returns HUGEINT, which surfaces as float64
            |    -- through the driver's type-sensitive hash (r5 q84 FAIL —
            |    -- the round-1 q13/q14/q19 class); the engine side is BIGINT
            |    CASE WHEN ws IS NULL THEN NULL
            |      ELSE CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT)
            |      END AS n_word_chars,
            |    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha_words,
            |    len(list_filter(ws, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'to' OR x = 'and' OR x = 'in')) AS n_stop
            |  FROM w)
            |SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stop,
            |  (n_words >= 25 AND n_words <= 80) AS ok_word_count,
            |  (n_word_chars >= n_words * 3
            |    AND n_word_chars <= n_words * 10) AS ok_mean_len,
            |  (n_alpha_words * 5 >= n_words * 4) AS ok_alpha,
            |  (n_stop >= 2) AS ok_stop,
            |  ((n_words >= 25 AND n_words <= 80)
            |    AND (n_word_chars >= n_words * 3
            |         AND n_word_chars <= n_words * 10)
            |    AND (n_alpha_words * 5 >= n_words * 4)
            |    AND (n_stop >= 2)) AS is_clean
            |FROM c""".stripMargin))

  /** q88's input: the corpus with deterministic boilerplate lines appended
    * (the q61/q66 synthesize-inside-the-query pattern — the real corpus is
    * single-line, so cross-document repeated lines are manufactured from
    * the row's own columns, identically on both engines): a universal
    * footer (doc-freq = corpus size), a per-source footer (doc-freq =
    * source size), a modulo promo line (doc-freq ≈ n/7), and a unique ref
    * line (doc-freq 1).
    */
  private def boilerDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).withColumn("text2", concat(
      col("text"), lit("\nsubscribe to our newsletter\ncopyright "),
      col("source"), lit("\npromo "), (col("doc_id") % 7).cast("string"),
      lit("\nref "), col("doc_id").cast("string")))

  private val boilerDocsDuck =
    // || not concat(): Spark's concat NULL-propagates, DuckDB's concat
    // skips NULL args — a NULL-text doc must go NULL on BOTH engines
    // || ends each line (never starts one): this snippet is re-embedded in
    // q88's stripMargin block, which would strip a line-leading || to |
    """SELECT doc_id, text || chr(10) || 'subscribe to our newsletter' ||
      |    chr(10) || 'copyright ' || source ||
      |    chr(10) || 'promo ' || CAST(doc_id % 7 AS VARCHAR) ||
      |    chr(10) || 'ref ' || CAST(doc_id AS VARCHAR) AS text2
      |  FROM documents""".stripMargin

  val q88 = Q("q88_boilerplate_lines",
    // cross-corpus boilerplate stripping (graft.ops.TextQuality
    // .boilerplate): lines in >= 30 distinct docs removed everywhere,
    // order preserved; gated on the rebuilt text + its md5. At sf0.01 the
    // universal footer (500 docs) and the promo line (~71) strip, the
    // per-source footer (25) and the body/ref lines stay.
    (s, d) => graft.ops.TextQuality.boilerplate(boilerDocs(s, d), "doc_id", "text2", 30),
    Some(raw"""WITH base AS ($boilerDocsDuck),
              |w AS (SELECT doc_id,
              |    list_filter(list_transform(string_split(text2, chr(10)), x -> trim(x)), x -> x <> '') AS ln
              |  FROM base),
              |e AS (SELECT doc_id, unnest(ln) AS line, unnest(range(1, len(ln) + 1)) AS pos FROM w),
              |f AS (SELECT line, count(DISTINCT doc_id) AS dfreq FROM e GROUP BY 1),
              |j AS (SELECT e.doc_id, e.pos, e.line, f.dfreq >= 30 AS boiler
              |  FROM e JOIN f USING (line))
              |SELECT doc_id, count(*) AS n_lines,
              |  count(*) FILTER (WHERE boiler) AS n_boiler,
              |  count(*) FILTER (WHERE NOT boiler) AS n_kept,
              |  md5(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT boiler)) AS clean_fp,
              |  string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT boiler) AS clean_text
              |FROM j GROUP BY 1""".stripMargin))

  val q103 = Q("q103_lm_support",
    // KenLM-style LM quality filter (graft.ops.LmScore.supportScore): a
    // bigram model from the reference slice (doc_id % 10 == 0, the q75
    // holdout convention) scores the rest by exact-integer model support.
    // All aggregates are integer sums; the two rates are single int/int
    // divisions round-6; the low-quality flag is integer cross-multiplied
    // (no ln on the gated surface — see LmScore scaladoc).
    (s, d) => {
      val dd = docs(s, d)
      val ref = dd.where(col("doc_id") % 10 === 0)
      graft.ops.LmScore.supportScore(
        dd.where(col("doc_id") % 10 =!= 0),
        graft.ops.LmScore.bigramCounts(ref, "doc_id", "text"),
        graft.ops.LmScore.unigramCounts(ref, "doc_id", "text"),
        "doc_id", "text")
    },
    Some(s"""WITH toks AS (SELECT doc_id, $tokensDuck AS a FROM documents
            |  WHERE len($tokensDuck) >= 2),
            |tr AS (SELECT doc_id,
            |    unnest(list_transform(generate_series(1, len(a) - 1), i -> a[i])) AS w1,
            |    unnest(list_transform(generate_series(1, len(a) - 1), i -> a[i+1])) AS w2
            |  FROM toks),
            |big AS (SELECT w1, w2, count(*) AS c2 FROM tr WHERE doc_id % 10 = 0 GROUP BY 1, 2),
            |uni AS (SELECT w1, count(*) AS c1 FROM tr WHERE doc_id % 10 = 0 GROUP BY 1),
            |sc AS (SELECT t.doc_id, count(*) AS n_big,
            |    count(*) - count(b.c2) AS n_unk,
            |    CAST(coalesce(sum(b.c2), 0) AS BIGINT) AS support,
            |    CAST(coalesce(sum(u.c1), 0) AS BIGINT) AS uni_support
            |  FROM tr t LEFT JOIN big b ON t.w1 = b.w1 AND t.w2 = b.w2
            |    LEFT JOIN uni u ON t.w1 = u.w1
            |  WHERE t.doc_id % 10 <> 0 GROUP BY 1)
            |SELECT doc_id, n_big, n_unk, support, uni_support,
            |  round(CAST(support AS DOUBLE) / CAST(n_big AS DOUBLE), 6) AS avg_support,
            |  round(CAST(n_unk AS DOUBLE) / CAST(n_big AS DOUBLE), 6) AS unk_rate,
            |  n_unk * 100 >= n_big * 50 AS is_lowq
            |FROM sc""".stripMargin))

  val q112 = Q("q112_shared_spans",
    // passage-level dedup (graft.ops.Dedup.sharedSpans): matching 3-gram
    // positions per doc pair grouped into diagonal runs (constant p1−p2,
    // consecutive p1) — a run of r shingles is a verbatim shared passage
    // of r+2 tokens. Per pair: longest run, run count, matched positions
    // — aggregate-only (no argmax row: the q57 tie lesson), exact
    // integers; the dfCap=100 stop-shingle anti-join applies identically
    // in the oracle (the q36 discipline).
    (s, d) => graft.ops.Dedup.sharedSpans(docs(s, d), "doc_id", "text",
      n = 3, dfCap = 100, minRun = 2),
    Some(s"""WITH toks AS (SELECT doc_id, $tokensDuck AS a FROM documents WHERE len($tokensDuck) >= 3),
            |sh AS (SELECT doc_id,
            |    unnest(generate_series(0, len(a) - 3)) AS pos,
            |    unnest(list_transform(generate_series(1, len(a) - 2),
            |      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS sh
            |  FROM toks),
            |rare AS (SELECT sh FROM sh GROUP BY 1 HAVING count(*) <= 100),
            |shc AS (SELECT s.doc_id, s.pos, s.sh FROM sh s JOIN rare USING (sh)),
            |hits AS (SELECT x.doc_id AS d1, y.doc_id AS d2, x.pos AS p1, x.pos - y.pos AS diag
            |  FROM shc x JOIN shc y ON x.sh = y.sh AND x.doc_id < y.doc_id),
            |isl AS (SELECT d1, d2, diag, p1,
            |    p1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS grp
            |  FROM hits),
            |runs AS (SELECT d1, d2, diag, grp, count(*) AS run_len
            |  FROM isl GROUP BY 1, 2, 3, 4)
            |SELECT d1, d2, max(run_len) AS max_run,
            |  count(*) FILTER (WHERE run_len >= 2) AS n_runs,
            |  CAST(sum(run_len) AS BIGINT) AS matched
            |FROM runs GROUP BY 1, 2 HAVING max(run_len) >= 2""".stripMargin))

  val q117 = Q("q117_langid",
    // n-gram language ID (graft.ops.LangId — Cavnar-Trenkle profile
    // scoring): padded char trigrams of the squeezed a-z text, rank-
    // weighted BIGINT sums against the frozen en/de/es profiles, argmax
    // with alpha-first ties plus the best-minus-runner-up margin. The
    // synthetic corpus is word soup (its English-y vocabulary happens to
    // be dense in de-profile endings like 'en '/'er ', so 'de' wins) — the
    // gate checks the MECHANISM (exact scores under the identical literal
    // profiles on both engines), not corpus realism; LangIdSpec classifies
    // real en/de/es snippets correctly.
    (s, d) => graft.ops.LangId.classify(docs(s, d), "text")
      .select("doc_id", "s_de", "s_en", "s_es", "lang_pred", "margin"),
    Some {
      val profRows = graft.ops.LangId.profiles.toSeq.sortBy(_._1).flatMap {
        case (l, ts) => ts.map { case (t, wt) => s"('$l', '$t', $wt)" }
      }.mkString(", ")
      s"""WITH prof(lang, tri, w) AS (VALUES $profRows),
         |n AS (SELECT doc_id,
         |    ' ' || trim(regexp_replace(lower(coalesce(text, '')), '[^a-z]+', ' ', 'g')) || ' ' AS s
         |  FROM documents),
         |tg AS (SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(length(s) - 1, 1)), i -> substr(s, i, 3))) AS g
         |  FROM n WHERE length(s) >= 3),
         |sc AS (SELECT tg.doc_id,
         |    CAST(coalesce(sum(CASE WHEN p.lang = 'de' THEN p.w END), 0) AS BIGINT) AS s_de,
         |    CAST(coalesce(sum(CASE WHEN p.lang = 'en' THEN p.w END), 0) AS BIGINT) AS s_en,
         |    CAST(coalesce(sum(CASE WHEN p.lang = 'es' THEN p.w END), 0) AS BIGINT) AS s_es
         |  FROM tg LEFT JOIN prof p ON tg.g = p.tri GROUP BY 1),
         |fl AS (SELECT d.doc_id, coalesce(sc.s_de, 0) AS s_de,
         |    coalesce(sc.s_en, 0) AS s_en, coalesce(sc.s_es, 0) AS s_es
         |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)
         |SELECT doc_id, s_de, s_en, s_es,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es THEN 'de'
         |       WHEN s_en >= s_es THEN 'en' ELSE 'es' END AS lang_pred,
         |  greatest(s_de, s_en, s_es)
         |    - (s_de + s_en + s_es - greatest(s_de, s_en, s_es)
         |       - least(s_de, s_en, s_es)) AS margin
         |FROM fl""".stripMargin
    })

  val q128 = Q("q128_phrase_search",
    // exact phrase search over a positional index (graft.ops.Retrieval
    // .phraseSearch): posexplode both sides, ONE term equi-join, anchor
    // arithmetic (pos − offset), full occurrence ⇔ votes == phrase
    // length. Output per (phrase, doc): occurrence count + first anchor —
    // exact integers. Three probe phrases of lengths 2/2/3 exercise the
    // duplicate-term and multi-offset paths.
    (s, d) => {
      import s.implicits._
      val phrases = Seq(("p1", "fast table"), ("p2", "table table"),
        ("p3", "scan slow fast")).toDF("q_id", "phrase")
      graft.ops.Retrieval.phraseSearch(docs(s, d), "doc_id", "text",
        phrases, "q_id", "phrase")
    },
    Some(raw"""WITH ph(q_id, phrase) AS (VALUES ('p1', 'fast table'),
              |    ('p2', 'table table'), ('p3', 'scan slow fast')),
              |dtk AS (SELECT doc_id, list_filter(
              |    regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
              |    w -> w != '') AS t FROM documents),
              |dt AS (SELECT doc_id, unnest(range(1, len(t) + 1)) - 1 AS pos,
              |    unnest(t) AS w FROM dtk),
              |qtk AS (SELECT q_id, list_filter(
              |    regexp_split_to_array(trim(phrase), '\s+'),
              |    w -> w != '') AS t FROM ph),
              |qt AS (SELECT q_id, unnest(range(1, len(t) + 1)) - 1 AS i,
              |    unnest(t) AS w FROM qtk),
              |ql AS (SELECT q_id, len(t) AS plen FROM qtk),
              |v AS (SELECT q.q_id, d.doc_id, d.pos - q.i AS anchor,
              |    count(*) AS votes
              |  FROM dt d JOIN qt q USING (w)
              |  GROUP BY 1, 2, 3 HAVING anchor >= 0)
              |SELECT v.q_id, v.doc_id, count(*) AS n_hits,
              |  min(anchor) AS first_pos
              |FROM v JOIN ql USING (q_id) WHERE votes = plen
              |GROUP BY 1, 2""".stripMargin))

  val q132 = Q("q132_fuzzy_pairs",
    // edit-distance-1 fuzzy pairs via SymSpell deletion-neighborhood
    // blocking (graft.ops.Dedup.fuzzyPairs): one equi-join on the
    // {self} ∪ {one-deletion} variant sets of 16-char prefixes (fan-out
    // exactly 17 per doc, never an all-pairs edit-distance join), then
    // exact levenshtein verification — integer DP, bit-portable. The
    // typo/near-miss complement to the shingle dedup family.
    (s, d) => graft.ops.Dedup.fuzzyPairs(docs(s, d), "doc_id", "text",
      prefixLen = 16),
    Some(raw"""WITH t AS (SELECT doc_id, substr(trim(text), 1, 16) AS s
              |  FROM documents
              |  WHERE text IS NOT NULL AND length(trim(text)) >= 16),
              |v AS (SELECT doc_id, s, unnest(list_distinct(list_append(
              |    list_transform(range(1, length(s) + 1),
              |      i -> substr(s, 1, i - 1) || substr(s, i + 1)), s))) AS var
              |  FROM t),
              |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
              |    a.s AS s1, b.s AS s2
              |  FROM v a JOIN v b ON a.var = b.var AND a.doc_id < b.doc_id)
              |SELECT d1, d2, s1, s2,
              |  CAST(levenshtein(s1, s2) AS INTEGER) AS dist
              |FROM cand WHERE levenshtein(s1, s2) <= 1""".stripMargin))

  val q141 = Q("q141_corpus_overlap",
    // corpus-to-corpus overlap (graft.ops.Dedup.corpusOverlap): exact
    // Jaccard of the two doc_id-parity halves' text-hash sets next to
    // its 32-seed MinHash estimate (Broder agreement fraction, the same
    // md5 min-hash domain as q37). One row: all counts exact BIGINTs,
    // jac_r/est_r single round-6 divisions — the q48-style estimator-vs-
    // truth surface at corpus granularity.
    (s, d) => {
      val ds = docs(s, d)
      graft.ops.Dedup.corpusOverlap(
        ds.where(col("doc_id") % 2 === 0),
        ds.where(col("doc_id") % 2 === 1), "text", k = 32)
    },
    Some(raw"""WITH ha AS (SELECT DISTINCT md5(text) AS h FROM documents
              |  WHERE text IS NOT NULL AND doc_id % 2 = 0),
              |hb AS (SELECT DISTINCT md5(text) AS h FROM documents
              |  WHERE text IS NOT NULL AND doc_id % 2 = 1),
              |js AS (SELECT unnest(range(0, 32)) AS j),
              |ma AS (SELECT j, min(md5(CAST(j AS VARCHAR) || '|' || h)) AS m_a
              |  FROM ha, js GROUP BY 1),
              |mb AS (SELECT j, min(md5(CAST(j AS VARCHAR) || '|' || h)) AS m_b
              |  FROM hb, js GROUP BY 1),
              |ag AS (SELECT CAST(sum(CASE WHEN ma.m_a = mb.m_b THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_agree
              |  FROM ma JOIN mb USING (j)),
              |tr AS (SELECT (SELECT count(*) FROM ha) AS n_a,
              |    (SELECT count(*) FROM hb) AS n_b,
              |    (SELECT count(*) FROM ha JOIN hb USING (h)) AS n_inter)
              |SELECT n_a, n_b, n_inter, n_a + n_b - n_inter AS n_union,
              |  CASE WHEN n_a + n_b - n_inter > 0 THEN
              |    round(n_inter / CAST(n_a + n_b - n_inter AS DOUBLE), 6) END AS jac_r,
              |  n_agree, CAST(32 AS BIGINT) AS k,
              |  round(n_agree / 32.0, 6) AS est_r
              |FROM tr, ag""".stripMargin))
}
