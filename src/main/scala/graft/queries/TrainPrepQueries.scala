package graft.queries

import org.apache.spark.sql.functions._
import graft.Queries.{Q, docs}
import graft.queries.OracleSql.tokensDuck

/** Multimodal media decoding and chunking ([[graft.ops.Multimodal]]) and the
  * training-data preparation operators: sampling, curation, PII scrubbing,
  * packing and chunking.
  */
private[graft] trait TrainPrepQueries {

  val q60 = Q("q60_multimodal_features",
    (s, d) => {
      // binary media columns -> per-partition (stubbed) decode -> feature
      // arrays; plumbing tested in MultimodalSpec — not SQL-expressible
      val media = graft.ops.Multimodal.synthesize(s, 200)
      graft.ops.Multimodal.extractFeatures(media)
        .select(col("asset_id"), col("kind"),
          round(expr("aggregate(features, 0D, (acc, v) -> acc + cast(v as double))"), 4).as("feat_sum"))
    },
    None)

  val q61 = Q("q61_multimodal_headers",
    (s, d) => {
      // HARD oracle for the multimodal header-DECODE path: media table
      // whose header fields are integer arithmetic of the asset id, REAL
      // GRFT1 byte encode → real byte decode (magic/version
      // checks, big-endian u16/u32 reads, declared-length validation), and
      // the oracle recomputes every decoded field from generate_series
      // arithmetic — decode-vs-truth equality, all-integer, hash-exact.
      // Only the body math (histogram q60 / resize) stays rows-only.
      graft.ops.Multimodal.decodeHeaders(graft.ops.Multimodal.deterministic(s, 200))
    },
    Some("""WITH ids AS (SELECT unnest(generate_series(0, 199)) AS i)
           |SELECT i AS asset_id,
           | CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           | CAST(CASE i % 3 WHEN 0 THEN 16 + (7*i)%17 WHEN 1 THEN 0 ELSE 8 + (3*i)%9 END AS BIGINT) AS width,
           | CAST(CASE i % 3 WHEN 0 THEN 16 + (5*i)%17 WHEN 1 THEN 0 ELSE 8 + (11*i)%9 END AS BIGINT) AS height,
           | CAST(CASE i % 3 WHEN 1 THEN 8000 + (i%5)*2000 ELSE 0 END AS BIGINT) AS sample_rate,
           | CAST(CASE i % 3 WHEN 1 THEN 512 + (31*i)%512 ELSE 0 END AS BIGINT) AS n_samples,
           | CAST(CASE i % 3 WHEN 2 THEN 2 + (13*i)%15 ELSE 1 END AS BIGINT) AS n_frames,
           | CAST(CASE i % 3 WHEN 0 THEN (16 + (7*i)%17) * (16 + (5*i)%17)
           |   WHEN 1 THEN 2 * (512 + (31*i)%512)
           |   ELSE (2 + (13*i)%15) * (8 + (3*i)%9) * (8 + (11*i)%9) END AS BIGINT) AS declared_body_len,
           | CAST(CASE i % 3 WHEN 0 THEN (16 + (7*i)%17) * (16 + (5*i)%17)
           |   WHEN 1 THEN 2 * (512 + (31*i)%512)
           |   ELSE (2 + (13*i)%15) * (8 + (3*i)%9) * (8 + (11*i)%9) END AS BIGINT) AS actual_body_len
           |FROM ids""".stripMargin))

  val q66 = Q("q66_multimodal_histogram",
    (s, d) => {
      // the multimodal BODY decode hash-gated (q61 covers headers): the
      // deterministic table's pixel/sample bytes are integer arithmetic of
      // (asset, index), so the per-bin feature histograms — real byte
      // reads, big-endian s16 sample decode, intensity/amplitude binning —
      // oracle as SQL arithmetic over generate_series. Counts recovered
      // as integers (round(frac*total)), so the output carries no
      // cross-engine float rounding. Only q55's 7-op composition and
      // q57's integer-plateau argmax remain rows-only.
      graft.ops.Multimodal.histogramCounts(graft.ops.Multimodal.deterministic(s, 200))
    },
    Some("""WITH ids AS (SELECT unnest(generate_series(0, 199)) AS i),
           |dims AS (SELECT i,
           |  CASE i % 3 WHEN 0 THEN (16 + (7*i)%17) * (16 + (5*i)%17)
           |             WHEN 1 THEN 512 + (31*i)%512
           |             ELSE (2 + (13*i)%15) * (8 + (3*i)%9) * (8 + (11*i)%9) END AS total
           | FROM ids),
           |elems AS (SELECT d.i, unnest(generate_series(0, d.total - 1)) AS j FROM dims d),
           |binned AS (SELECT i, CASE i % 3
           |    WHEN 1 THEN LEAST(abs((11*i + 17*j) % 65536 - 32768) // 2048, 15)
           |    ELSE ((7*i + 31*j) % 256) // 16 END AS bin
           |  FROM elems),
           |counts AS (SELECT i, bin, count(*) AS c FROM binned GROUP BY 1, 2),
           |bins AS (SELECT i, unnest(generate_series(0, 15)) AS bin FROM ids)
           |SELECT b.i AS asset_id, CAST(b.bin AS INT) AS bin,
           |  CAST(coalesce(c.c, 0) AS BIGINT) AS n
           |FROM bins b LEFT JOIN counts c ON c.i = b.i AND c.bin = b.bin""".stripMargin))

  // 0..255 from the first two md5 hex digits, DuckDB spelling (no conv()
  // in v1.0 — hex-digit position in the alphabet string instead; all
  // integer arithmetic so the two engines cannot disagree)
  private def duckBucket(idExpr: String): String =
    s"(strpos('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), 1, 1)) - 1) * 16" +
      s" + (strpos('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), 2, 1)) - 1)"

  val q76 = Q("q76_hash_split",
    // deterministic train/val/test assignment (graft.ops.Sampling
    // .hashSplit): a pure per-row map — a doc's split never changes when
    // the corpus grows, unlike rand()-sampling
    (s, d) => graft.ops.Sampling.hashSplit(docs(s, d), "doc_id")
      .select("doc_id", "bucket", "split"),
    Some(s"""WITH b AS (SELECT doc_id, ${duckBucket("doc_id")} AS bucket FROM documents)
            |SELECT doc_id, bucket,
            |  CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val'
            |   WHEN bucket IS NOT NULL THEN 'test' END AS split
            |FROM b""".stripMargin))

  val q77 = Q("q77_source_rebalance",
    // source-mixture rebalancing (graft.ops.Sampling.rebalance):
    // hash-rate downsample of every source toward the smallest source's
    // count; integer cross-multiplied keep rule, no division anywhere
    (s, d) => graft.ops.Sampling.rebalance(docs(s, d), "doc_id", "source"),
    Some(s"""WITH b AS (SELECT doc_id, source, ${duckBucket("doc_id")} AS bucket FROM documents),
            |c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
            |m AS (SELECT min(n_source) AS min_count FROM c)
            |SELECT doc_id, source, bucket, n_source, min_count,
            |  bucket * n_source < min_count * 256 AS kept
            |FROM b JOIN c USING (source) CROSS JOIN m""".stripMargin))

  val q78 = Q("q78_curation_pipeline",
    // the documents-side flagship COMPOSITION (graft.ops.Curation.curate):
    // Gopher repetition filter + minWords -> exact-dedup keeper ->
    // 5-gram decontamination vs the doc_id%10 holdout -> hash split.
    // Every stage decision is integer/string domain, so the whole chain
    // hash-oracles with zero float discipline
    (s, d) => graft.ops.Curation.curate(docs(s, d), "doc_id", "text",
      benchPred = col("doc_id") % 10 === 0),
    Some(raw"""WITH w AS (SELECT doc_id, text,
              |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws,
              |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS ln
              |  FROM documents),
              |g AS (SELECT doc_id, text, ws, ln,
              |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS g2
              |  FROM w),
              |s1 AS (SELECT doc_id, text, len(ws) AS n_words FROM g
              |  WHERE NOT ((len(g2) - len(list_distinct(g2))) * 5 > len(g2)
              |      OR (len(ln) - len(list_distinct(ln))) * 10 > len(ln) * 3)
              |    AND len(ws) >= 5),
              |kp AS (SELECT md5(text) AS h, min(doc_id) AS keeper FROM s1 GROUP BY 1),
              |s2 AS (SELECT s1.doc_id, s1.n_words FROM s1
              |  JOIN kp ON md5(s1.text) = kp.h AND s1.doc_id = kp.keeper),
              |toks AS (SELECT doc_id, ${tokensDuck} AS a FROM documents WHERE len(${tokensDuck}) >= 5),
              |sh AS (SELECT DISTINCT doc_id,
              |    unnest(list_transform(generate_series(1, len(a) - 4),
              |      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4])) AS sh
              |  FROM toks),
              |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0),
              |cont AS (SELECT s.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit
              |  FROM sh s JOIN s2 USING (doc_id) LEFT JOIN bench b USING (sh)
              |  WHERE s.doc_id % 10 <> 0 GROUP BY 1),
              |s3 AS (SELECT s2.doc_id, s2.n_words, c.n_sh, c.n_hit
              |  FROM s2 JOIN cont c USING (doc_id)
              |  WHERE NOT (c.n_hit * 100 >= c.n_sh * 10))
              |SELECT doc_id, n_words, n_sh, n_hit, ${duckBucket("doc_id")} AS bucket,
              |  CASE WHEN ${duckBucket("doc_id")} < 230 THEN 'train'
              |       WHEN ${duckBucket("doc_id")} < 243 THEN 'val'
              |       WHEN ${duckBucket("doc_id")} IS NOT NULL THEN 'test' END AS split
              |FROM s3""".stripMargin))

  val q85 = Q("q85_stratified_sample",
    // exact-n deterministic per-source sample: the n lowest (md5(id), id)
    // rows per stratum — a reproducible uniform draw whose members never
    // change run to run (graft.ops.Sampling.stratified); rank surface is
    // integer + md5 string order, both engines agree exactly
    (s, d) => graft.ops.Sampling.stratified(docs(s, d), "doc_id", "source", 7),
    Some("""SELECT doc_id, source, sample_rk FROM (
           |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rk
           |  FROM documents) WHERE sample_rk <= 7""".stripMargin))

  /** PII-laced text derived deterministically from the documents table —
    * the synthetic corpus is word-soup (letters only), so q105 injects
    * emails/phones/IPs from doc_id arithmetic, identically in both
    * engines, then scrubs them. Presence varies by doc (mod-classes) so
    * the counts exercise 0 and 1 per category.
    */
  private val piiTextSpark: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 3 === 0, concat(lit("mail u"), col("doc_id").cast("string"),
      lit("@ex"), (col("doc_id") % 7).cast("string"), lit(".org "))).otherwise(lit("")),
    substring(coalesce(col("text"), lit("")), 1, 80),
    when(col("doc_id") % 4 === 1, concat(lit(" call +31"),
      (col("doc_id") + 6000000L).cast("string"))).otherwise(lit("")),
    when(col("doc_id") % 5 === 2, concat(lit(" or "), (col("doc_id") % 900 + 100).cast("string"),
      lit("-555-"), (col("doc_id") % 9000 + 1000).cast("string"))).otherwise(lit("")),
    when(col("doc_id") % 2 === 0, concat(lit(" ip 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"))).otherwise(lit("")))

  private val piiTextDuck: String =
    """(CASE WHEN doc_id % 3 = 0 THEN 'mail u' || CAST(doc_id AS VARCHAR) || '@ex'
      |   || CAST(doc_id % 7 AS VARCHAR) || '.org ' ELSE '' END)
      | || substr(coalesce(text, ''), 1, 80)
      | || (CASE WHEN doc_id % 4 = 1 THEN ' call +31' || CAST(doc_id + 6000000 AS VARCHAR) ELSE '' END)
      | || (CASE WHEN doc_id % 5 = 2 THEN ' or ' || CAST(doc_id % 900 + 100 AS VARCHAR)
      |   || '-555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END)
      | || (CASE WHEN doc_id % 2 = 0 THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
      |   || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END)""".stripMargin.replace("\n", " ")

  val q105 = Q("q105_pii_scrub",
    // PII redaction (graft.ops.TrainPrep.scrubPii): sequential
    // email→phone→IP regex passes, each category counted on the text as
    // it stands when scrubbed. The patterns use only the Java-regex ∩ RE2
    // common subset (char classes, bounded quantifiers, \b, alternation)
    // so the full CLEAN STRING hash-matches RE2 byte-for-byte — the
    // privacy-scrub stage every released corpus runs (pure per-row map,
    // zero shuffle)
    (s, d) => graft.ops.TrainPrep.scrubPii(
      docs(s, d).select(col("doc_id"), piiTextSpark.as("text")), "text")
      .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
        col("n_phones").cast("long").as("n_phones"),
        col("n_ips").cast("long").as("n_ips"), col("clean")),
    Some(raw"""WITH t AS (SELECT doc_id, $piiTextDuck AS text FROM documents),
              |s1 AS (SELECT doc_id,
              |    len(regexp_extract_all(text, '${graft.ops.TrainPrep.EmailRe}')) AS n_emails,
              |    regexp_replace(text, '${graft.ops.TrainPrep.EmailRe}', '<EMAIL>', 'g') AS t FROM t),
              |s2 AS (SELECT doc_id, n_emails,
              |    len(regexp_extract_all(t, '${graft.ops.TrainPrep.PhoneRe}')) AS n_phones,
              |    regexp_replace(t, '${graft.ops.TrainPrep.PhoneRe}', '<PHONE>', 'g') AS t FROM s1)
              |SELECT doc_id, n_emails, n_phones,
              |  len(regexp_extract_all(t, '${graft.ops.TrainPrep.IpRe}')) AS n_ips,
              |  regexp_replace(t, '${graft.ops.TrainPrep.IpRe}', '<IP>', 'g') AS clean
              |FROM s2""".stripMargin))

  val q106 = Q("q106_seq_packing",
    // GPT-style sequence packing (graft.ops.TrainPrep.pack): docs laid
    // head-to-tail in (md5-shard, id) order, token stream cut every 128
    // tokens — which training sequences each doc lands in. One shuffle on
    // the shard key; the per-shard cumsum is the parallelism unit, no
    // global sort anywhere
    (s, d) => graft.ops.TrainPrep.pack(docs(s, d), "doc_id", "text",
      budget = 128, nShards = 8),
    Some(s"""WITH b AS (SELECT doc_id, (${duckBucket("doc_id")}) % 8 AS shard,
            |    CAST(len($tokensDuck) AS BIGINT) AS n_tok FROM documents),
            |o AS (SELECT doc_id, shard, n_tok,
            |    -- CAST: the window sum is HUGEINT → float64 under the
            |    -- driver's type-sensitive hash (r5 q106 FAIL); BIGINT here
            |    -- keeps tok_offset and the // results integer on both sides
            |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
            |  FROM b WHERE n_tok >= 1)
            |SELECT doc_id, shard, n_tok, tok_offset,
            |  tok_offset // 128 AS first_seq,
            |  (tok_offset + n_tok - 1) // 128 AS last_seq,
            |  (tok_offset + n_tok - 1) // 128 - tok_offset // 128 + 1 AS n_seqs
            |FROM o""".stripMargin))

  val q107 = Q("q107_token_chunks",
    // sliding-window chunking (graft.ops.TrainPrep.chunk): 32-token
    // windows at stride 24, final windows partial, chunk text rebuilt
    // from the token array (canonical single-space) — the long-context /
    // retrieval splitter. Pure per-row explode, zero shuffle
    (s, d) => graft.ops.TrainPrep.chunk(docs(s, d), "doc_id", "text",
      chunkSize = 32, stride = 24),
    Some(s"""WITH w AS (SELECT doc_id, $tokensDuck AS ws FROM documents),
            |n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM w WHERE len(ws) >= 1),
            |e AS (SELECT doc_id, ws, n, unnest(generate_series(0, n - 1, 24)) AS tok_start FROM n)
            |SELECT doc_id, tok_start // 24 AS chunk_idx, tok_start,
            |  least(32, n - tok_start) AS tok_len,
            |  array_to_string(list_slice(ws, tok_start + 1, tok_start + least(32, n - tok_start)), ' ') AS chunk_text
            |FROM e""".stripMargin))

  /** q134/q135 shared oracle prefix: re-derive every deterministic-media
    * BODY byte from (asset, index) arithmetic (the q66 discipline — audio
    * bytes are the BE s16 hi/lo split), then the 4-byte rolling-hash CDC
    * boundaries and per-chunk integer fingerprints.
    */
  private val cdcChunksDuck: String =
    raw"""ids AS (SELECT unnest(generate_series(0, 199)) AS i),
         |dims AS (SELECT i, CASE i % 3
         |    WHEN 0 THEN (16 + (7*i)%17) * (16 + (5*i)%17)
         |    WHEN 1 THEN 2 * (512 + (31*i)%512)
         |    ELSE (2 + (13*i)%15) * (8 + (3*i)%9) * (8 + (11*i)%9) END AS blen
         |  FROM ids),
         |bts AS (SELECT i, unnest(generate_series(0, blen - 1)) AS j FROM dims),
         |bv AS (SELECT i, j, CASE WHEN i % 3 = 1 THEN
         |      -- BE s16 of u - 32768: two's complement flips the hi bit,
         |      -- so hi = ((u + 32768) % 65536) // 256, lo = u % 256
         |      CASE WHEN j % 2 = 0
         |           THEN (((11*i + 17*(j//2)) % 65536 + 32768) % 65536) // 256
         |           ELSE ((11*i + 17*(j//2)) % 65536) % 256 END
         |    ELSE (7*i + 31*j) % 256 END AS b
         |  FROM bts),
         |rb AS (SELECT i, j, b,
         |    lag(b, 1) OVER w AS b1, lag(b, 2) OVER w AS b2,
         |    lag(b, 3) OVER w AS b3
         |  FROM bv WINDOW w AS (PARTITION BY i ORDER BY j)),
         |be AS (SELECT rb.i, rb.j, rb.b,
         |    CASE WHEN rb.j >= 3 AND (rb.b3*16974593 + rb.b2*66049
         |        + rb.b1*257 + rb.b) % 1000000007 % 32 = 0 THEN 1
         |      WHEN rb.j = d.blen - 1 THEN 1 ELSE 0 END AS is_end
         |  FROM rb JOIN dims d ON rb.i = d.i),
         |ck AS (SELECT i, j, b, CAST(coalesce(sum(is_end)
         |    OVER (PARTITION BY i ORDER BY j
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS chunk_idx
         |  FROM be),
         |cs AS (SELECT i, chunk_idx, min(j) AS s, count(*) AS len,
         |    CAST(sum(b) AS BIGINT) AS fp_sum
         |  FROM ck GROUP BY 1, 2),
         |fps AS (SELECT ck.i, ck.chunk_idx, cs.s, cs.len, cs.fp_sum,
         |    CAST(sum((ck.j - cs.s + 1) * ck.b) % 1000000007 AS BIGINT) AS fp_pos
         |  FROM ck JOIN cs ON ck.i = cs.i AND ck.chunk_idx = cs.chunk_idx
         |  GROUP BY 1, 2, 3, 4, 5)""".stripMargin

  val q134 = Q("q134_cdc_chunks",
    // content-defined chunking over the raw media bodies (graft.ops
    // .Multimodal.cdcChunks): boundaries where the 4-byte 257-base
    // rolling hash ≡ 0 (mod 32), per-chunk position-weighted + plain
    // byte-sum fingerprints — all exact integers, one pass per blob. The
    // oracle re-derives every body byte from the deterministic table's
    // arithmetic and replays the identical boundary/fingerprint math.
    (s, d) => graft.ops.Multimodal.cdcChunks(
      graft.ops.Multimodal.deterministic(s, 200), mask = 32),
    Some(s"""WITH $cdcChunksDuck
            |SELECT i AS asset_id, CAST(chunk_idx AS INT) AS chunk_idx,
            |  CAST(s AS INT) AS start, CAST(len AS INT) AS len,
            |  fp_pos, fp_sum
            |FROM fps""".stripMargin))

  val q135 = Q("q135_cdc_dedup",
    // chunk-level dedup over q134's CDC chunks: identical (len, fp_pos,
    // fp_sum) chunks across assets collapse to one stored copy — the
    // storage win whole-blob hashing cannot see (every blob here is
    // unique, yet arithmetic bodies share many content-aligned
    // segments). Exact integers: copies, distinct assets, total bytes
    // deduped, keeper = min (asset, chunk).
    (s, d) => {
      val ch = graft.ops.Multimodal.cdcChunks(
        graft.ops.Multimodal.deterministic(s, 200), mask = 32)
      ch.groupBy(col("len"), col("fp_pos"), col("fp_sum"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("asset_id")).as("n_assets"),
          // composite (asset, chunk) keeper as one BIGINT — min over a
          // struct is not portable to the oracle engine
          min(col("asset_id") * 1000000L + col("chunk_idx")).as("__k"))
        .where(col("n_copies") > 1)
        .select(col("len"), col("fp_pos"), col("fp_sum"), col("n_copies"),
          col("n_assets"), expr("__k div 1000000L").as("keeper_asset"),
          (col("__k") % 1000000L).cast("int").as("keeper_chunk"),
          ((col("n_copies") - 1) * col("len")).as("bytes_saved"))
    },
    Some(s"""WITH $cdcChunksDuck,
            |g AS (SELECT len, fp_pos, fp_sum, count(*) AS n_copies,
            |    count(DISTINCT i) AS n_assets,
            |    min(i * 1000000 + chunk_idx) AS k
            |  FROM fps GROUP BY 1, 2, 3 HAVING count(*) > 1)
            |SELECT CAST(len AS INT) AS len, fp_pos, fp_sum, n_copies,
            |  n_assets, k // 1000000 AS keeper_asset,
            |  CAST(k % 1000000 AS INT) AS keeper_chunk,
            |  (n_copies - 1) * len AS bytes_saved
            |FROM g""".stripMargin))
}
