package graft.queries

/** DuckDB fragments that several oracle queries share. Each is
  * pre-stripped text: embed it inside a stripMargin'd oracle, where its
  * lines (which never start with `|` after their indentation) pass the
  * outer stripMargin unchanged.
  */
private[graft] object OracleSql {

  /** Whitespace tokens of `text`, bit-equal to the engine's codegen
    * byte-pass tokenizer `graft_tokens(text)` (graft.functions.TokenArray).
    */
  val tokensDuck: String = raw"regexp_split_to_array(trim(text), '\s+')"

  /** Dot product of two 64-dim DOUBLE lists. */
  def dotD(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"

  /** Cosine of two 64-dim DOUBLE lists, on one line. */
  def cosD(a: String, b: String): String =
    s"${dotD(a, b)} / (sqrt(${dotD(a, a)}) * sqrt(${dotD(b, b)}))"

  /** Cosine rounded to 9 decimals, the q40 discipline, over three lines. */
  def cosine9(a: String, b: String): String =
    s"""round(${dotD(a, b)}
       |   / (sqrt(${dotD(a, a)})
       |      * sqrt(${dotD(b, b)})), 9)""".stripMargin

  /** CTE `alias(vec_id, v)`: the embeddings with `v` widened to DOUBLE. */
  def embeddingsCte(alias: String): String =
    s"""$alias AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)""".stripMargin

  /** IVF coarse assignment over CTE `e`: the centroid CTE `c` (the 8
    * lowest-id vectors), every vector's cosine to each centroid (`ac`) and
    * its max-cosine centroid, ties to the lowest id (`assigned(cols)`).
    */
  def ivfAssignCtes(c: String, cols: String): String =
    s"""$c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       |ac AS (SELECT e.vec_id, e.v, $c.cent_id, ${cosD("e.v", s"$c.cv")} AS cos
       |  FROM e CROSS JOIN $c),
       |assigned AS (SELECT $cols FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
       |  FROM ac) WHERE rk = 1)""".stripMargin

  /** PQ over CTE `e`: the codebook `cb` (the 16 lowest-id vectors) and the
    * squared distance `sc(vec_id, m, cent_id, d)` of every vector's
    * subspace m (8 dims) to every codeword.
    */
  val pqDistanceCtes: String =
    """cb AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
      |sc AS (SELECT e.vec_id, m.m, cb.cent_id,
      |    list_sum(list_transform(range(1, 9), i ->
      |      (v[m.m * 8 + i] - cv[m.m * 8 + i]) * (v[m.m * 8 + i] - cv[m.m * 8 + i]))) AS d
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS m) m CROSS JOIN cb)""".stripMargin

  /** [[pqDistanceCtes]] plus the nearest codeword per subspace, ties to the
    * lowest id (`codes`), and each vector's code list in subspace order
    * (`ca(vec_id, codes)`).
    */
  val pqCodesCtes: String =
    s"""$pqDistanceCtes,
       |codes AS (SELECT vec_id, m, cent_id AS code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cent_id) AS rk
       |  FROM sc) WHERE rk = 1),
       |ca AS (SELECT vec_id, list(code ORDER BY m) AS codes FROM codes GROUP BY vec_id)""".stripMargin

  /** DuckDB replica of WinnowUtil's normalize+hash pipeline: per doc, the
    * filtered ASCII-folded codepoint list, then the k=5 polynomial rolling
    * hashes (direct O(k) sums — max term 122*257^4 < 2^63, mod at the end).
    */
  private val winnowHashesDuck: String =
    """cs AS (SELECT doc_id,
      |    list_filter(list_transform(range(1, length(coalesce(text, '')) + 1),
      |      i -> CASE WHEN unicode(substr(coalesce(text, ''), i, 1)) BETWEEN 97 AND 122
      |             THEN unicode(substr(coalesce(text, ''), i, 1))
      |           WHEN unicode(substr(coalesce(text, ''), i, 1)) BETWEEN 65 AND 90
      |             THEN unicode(substr(coalesce(text, ''), i, 1)) + 32
      |           WHEN unicode(substr(coalesce(text, ''), i, 1)) BETWEEN 48 AND 57
      |             THEN unicode(substr(coalesce(text, ''), i, 1))
      |           END), c -> c IS NOT NULL) AS cs
      |  FROM documents),
      |hs AS (SELECT doc_id, len(cs) - 4 AS m,
      |    list_transform(range(1, greatest(len(cs) - 4, 0) + 1),
      |      i -> (cs[i]*4362470401 + cs[i+1]*16974593 + cs[i+2]*66049
      |            + cs[i+3]*257 + cs[i+4]) % 1000000007) AS hs
      |  FROM cs WHERE len(cs) >= 5)""".stripMargin

  /** [[winnowHashesDuck]] plus `win`: the end index `e` of every w=4
    * window over each doc's hash list.
    */
  val winnowWindowCtes: String =
    s"""$winnowHashesDuck,
       |win AS (SELECT doc_id, m, hs,
       |    unnest(range(least(4, m), m + 1)) AS e
       |  FROM hs)""".stripMargin

  /** [[winnowWindowCtes]] plus the distinct window-minimum fingerprints
    * `fp(id, fp)` and those in 2..50 docs (`rare`, the df cap).
    */
  val winnowRareCtes: String =
    s"""$winnowWindowCtes,
       |fp AS (SELECT DISTINCT doc_id AS id,
       |    list_min(list_slice(hs, greatest(1, e - 3), e)) AS fp
       |  FROM win),
       |rare AS (SELECT fp FROM fp GROUP BY fp
       |  HAVING count(*) BETWEEN 2 AND 50)""".stripMargin

  /** CTE `name(a, b, …)`: the doc pairs a < b sharing at least two rare
    * fingerprints, with `cols` appended to the select list.
    */
  def winnowPairsCte(name: String, cols: String): String =
    s"""$name AS (SELECT x.id AS a, y.id AS b$cols
       |  FROM fp x JOIN rare USING (fp) JOIN fp y USING (fp)
       |  WHERE x.id < y.id
       |  GROUP BY 1, 2 HAVING count(DISTINCT x.fp) >= 2)""".stripMargin

  /** Three unrolled PageRank iterations (d = 0.85, every document starting
    * at rank 1) as the CTEs n0..n3. `edges` is the symmetric edge CTE with
    * its (source, target) columns, and a CTE `deg(src, dg)` must exist;
    * `contrib` is what each edge `s` passes from its source's rank `r` and
    * degree `d`.
    */
  def pageRankCtes(edges: (String, String, String), contrib: String): String = {
    val (e, src, dst) = edges
    ("n0 AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE) AS rk FROM documents)" +:
      (1 to 3).map { i =>
        s"""c$i AS (SELECT s.$dst AS id, sum($contrib) AS c
           |  FROM $e s JOIN n${i - 1} r ON s.$src = r.id JOIN deg d ON s.$src = d.src
           |  GROUP BY 1),
           |n$i AS (SELECT n.id, (1.0 - 0.85) + 0.85 * coalesce(c.c, 0.0) AS rk
           |  FROM n${i - 1} n LEFT JOIN c$i c USING (id))""".stripMargin
      }).mkString(",\n")
  }

  /** Per-window Hann-weighted 8-point DFTs over the window grid CTE
    * `vals(user_id, w, i, v)` of [[hourlyGridCtes]]: 5 segments hopping by
    * 4 samples and 5 frequencies (`sums(user_id, w, s, f, re, im)`), plus
    * the window's sum of squared weights (`wss(winsumsq)`).
    */
  val spectrumCtes: String =
    """segs AS (SELECT unnest(generate_series(0, 4)) AS s),
      |freqs AS (SELECT unnest(generate_series(0, 4)) AS f),
      |win8 AS (SELECT i, 0.5 - 0.5 * cos(2 * pi() * i / 7) AS wgt
      |  FROM (SELECT unnest(generate_series(0, 7)) AS i)),
      |wss AS (SELECT sum(wgt * wgt) AS winsumsq FROM win8),
      |sums AS (SELECT v.user_id, v.w, segs.s, freqs.f,
      |    sum(v.v * w8.wgt * cos(2 * pi() * freqs.f * w8.i / 8)) AS re,
      |    sum(v.v * w8.wgt * sin(2 * pi() * freqs.f * w8.i / 8)) AS im
      |  FROM segs JOIN win8 w8 ON true
      |  JOIN vals v ON v.i = segs.s * 4 + w8.i
      |  CROSS JOIN freqs
      |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Rolling median/MAD anomaly flags (k = 3) over the series CTE
    * `f(event_type, ts, x)`, with each row's window `ROWS BETWEEN frame`;
    * all in exact integers: med2 = 2·median, mad4 = 4·MAD, flag
    * 2·|2x − med2| > 3·mad4.
    */
  def madFlagsSql(frame: String): String =
    s"""w AS (SELECT event_type, ts, x,
       |    list_sort(list(x) OVER (PARTITION BY event_type ORDER BY ts
       |      ROWS BETWEEN $frame)) AS win
       |  FROM f),
       |m AS (SELECT event_type, ts, x, win, len(win) AS n,
       |    CASE WHEN len(win) % 2 = 1 THEN 2 * win[(len(win)+1)//2]
       |         ELSE win[len(win)//2] + win[len(win)//2 + 1] END AS med2
       |  FROM w),
       |d AS (SELECT event_type, ts, x, med2, n,
       |    list_sort(list_transform(win, v -> abs(2*v - med2))) AS dev2 FROM m),
       |z AS (SELECT event_type, ts, x, med2,
       |    CASE WHEN n % 2 = 1 THEN 2 * dev2[(n+1)//2]
       |         ELSE dev2[n//2] + dev2[n//2 + 1] END AS mad4
       |  FROM d)
       |SELECT event_type, ts, x, CAST(med2 AS BIGINT) AS med2, CAST(mad4 AS BIGINT) AS mad4,
       |  (2 * abs(2*x - med2) > 3 * mad4) AS is_anomaly
       |FROM z""".stripMargin

  /** Gap-filled hourly grid of per-user event counts (rows matching
    * `filter`) assembled into 24 h windows at 12 h stride, with each
    * window value spelled `v` over the count `c.c` — the SQL mirror of
    * `Correlate.windows` over hourly counts: a window per stride-aligned
    * start that fits the user's span, a grid point without a count being 0.
    */
  def hourlyGridCtes(filter: String, v: String): String =
    s"""bth AS (SELECT user_id, date_trunc('hour', ts) AS h FROM events
       |  WHERE $filter),
       |cnt AS (SELECT user_id, h, count(*) AS c FROM bth GROUP BY 1, 2),
       |span AS (SELECT user_id, min(epoch(h)) AS t0, max(epoch(h)) AS t1 FROM bth GROUP BY 1),
       |wins AS (SELECT user_id, unnest(generate_series(
       |    CAST(ceil(t0 / 43200.0) AS BIGINT) * 43200,
       |    CAST(floor((t1 - 86400 + 3600) / 43200.0) AS BIGINT) * 43200, 43200)) AS w
       |  FROM span
       |  WHERE CAST(ceil(t0 / 43200.0) AS BIGINT) * 43200
       |    <= CAST(floor((t1 - 86400 + 3600) / 43200.0) AS BIGINT) * 43200),
       |grid AS (SELECT user_id, w, unnest(generate_series(0, 23)) AS i FROM wins),
       |vals AS (SELECT g.user_id, g.w, g.i, $v AS v
       |  FROM grid g LEFT JOIN cnt c
       |    ON c.user_id = g.user_id AND epoch(c.h) = g.w + g.i * 3600)""".stripMargin
}
