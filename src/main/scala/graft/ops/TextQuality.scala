package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions.registered

/** Within-document repetition profiling — the quality signal LLM-corpus
  * pipelines filter on BEFORE any cross-document dedup (a document that
  * repeats itself survives MinHash/SimHash untouched: those compare
  * documents to each other, not to themselves). Counts follow the shape of
  * the published Gopher/MassiveText repetition rules (duplicate-line and
  * duplicate-n-gram fractions; Rae et al. 2021, arXiv:2112.11446 table A1):
  * a doc is flagged when >20% of its word 2-grams or >30% of its non-blank
  * lines are repeats.
  *
  * Everything is per-row `functions._` over arrays (split / transform /
  * sequence / array_distinct) — whole-stage codegen, zero shuffle, zero
  * UDF: at corpus scale this is a pure map over the scan, so it pipelines
  * into whatever pruning/dedup stage runs next. Outputs are INTEGER counts
  * and an integer-arithmetic flag (cross-multiplied thresholds, no
  * division) so downstream thresholds can be retuned without re-scanning
  * and the result is exactly reproducible in any SQL engine.
  */
object TextQuality {

  /** words = whitespace tokens of trim(textCol), empties dropped (same
    * tokenization as the token-count / quality ops, graft.Queries q32/q33).
    */
  private def wordsExpr(textCol: String): String =
    // r6: codegen byte-pass tokenizer, bit-equivalent to
    // filter(split(trim(.), '\\s+'), w -> w != '') (TokenArraySpec)
    s"graft_words($textCol)"

  /** n-grams as joined strings over a words array column; empty below n
    * words (sequence() would count DOWN on an empty range — guard, don't
    * trust it).
    *
    * Built as zip_with over SLICES, never element_at($words, i) inside a
    * lambda body: Catalyst does no common-subexpression hoisting across a
    * lambda boundary, and when the optimizer later INLINES the words
    * expression into every reference (predicate pushdown rewrites
    * `annotate(df).where(flag)` exactly that way; CollapseProject can do
    * it too), an in-lambda reference re-runs the whole split+filter per
    * sequence ELEMENT — O(words²) per document per reference, measured
    * 11× on the real corpus. zip_with's arguments are evaluated once per
    * row, so the worst case stays O(words) no matter how many times the
    * optimizer duplicates the tree.
    */
  private def gramsExpr(words: String, n: Int): String =
    // r6: the codegen ShingleArray kernel (one loop, no slice/zip
    // intermediates) — bit-equivalent to the zip_with-over-slices chain
    // this built before (ShingleSpec), still immune to optimizer inlining
    // since the kernel is a single expression over the words column.
    // Sessions are registered at the public entry points below.
    s"graft_shingles($words, $n)"

  /** Max multiplicity of any element of an array column — the "top n-gram"
    * count the published char-fraction rule derives from — WITHOUT a
    * groupBy: sort the array, then the longest run of equal neighbors is
    * the answer (one aggregate() fold over adjacent-equality flags). Stays
    * a per-row codegen expression where explode+groupBy would shuffle the
    * whole gram population.
    */
  private def topCountExpr(arr: String): String =
    s"""CASE WHEN size($arr) = 0 THEN 0 WHEN size($arr) = 1 THEN 1 ELSE
       |  aggregate(
       |    zip_with(slice($arr, 1, size($arr) - 1), slice($arr, 2, size($arr) - 1),
       |      (x, y) -> IF(x = y, 1, 0)),
       |    named_struct('cur', 1, 'best', 1),
       |    (acc, x) -> named_struct(
       |      'cur', IF(x = 1, acc.cur + 1, 1),
       |      'best', greatest(acc.best, IF(x = 1, acc.cur + 1, 1))),
       |    acc -> acc.best) END""".stripMargin

  /** Non-blank trimmed lines of the text (SQL trim strips spaces only —
    * a whitespace-only line containing a tab still counts as non-blank,
    * Spark and DuckDB agree).
    */
  private def linesExpr(textCol: String): String =
    s"filter(transform(split($textCol, '\\n'), l -> trim(l)), l -> l != '')"

  /** The ONE definition of the Gopher-shaped repetition flag — >20% dup
    * word-2grams or >30% dup non-blank lines, cross-multiplied integers —
    * over the 2-gram and line ARRAY columns. [[repetition]] and
    * [[annotate]] both call this; q73's oracle mirrors the same rule, so
    * a threshold retune happens in exactly one Scala place + one SQL
    * string.
    */
  private def repFlag(g2: Column, ln: Column): Column =
    (size(g2) - size(array_distinct(g2))) * 5 > size(g2) ||
      (size(ln) - size(array_distinct(ln))) * 10 > size(ln) * 3

  /** Per-document repetition counts + flag. Output: idCol, n_words,
    * n_uniq_words, n_2grams, n_uniq_2grams, n_3grams, n_uniq_3grams,
    * n_lines, n_uniq_lines (non-blank, trimmed), top_2gram_count,
    * is_repetitive.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = "__tq_words"
    registered(df).withColumn(w, expr(wordsExpr(textCol)))
      .withColumn("__tq_2g", expr(gramsExpr(w, 2)))
      .withColumn("__tq_3g", expr(gramsExpr(w, 3)))
      .withColumn("__tq_2s", expr("array_sort(__tq_2g)"))
      .withColumn("__tq_ln", expr(linesExpr(textCol)))
      .withColumn("is_repetitive", repFlag(col("__tq_2g"), col("__tq_ln")))
      .select(
        col(idCol),
        size(col(w)).as("n_words"),
        size(array_distinct(col(w))).as("n_uniq_words"),
        size(col("__tq_2g")).as("n_2grams"),
        size(array_distinct(col("__tq_2g"))).as("n_uniq_2grams"),
        size(col("__tq_3g")).as("n_3grams"),
        size(array_distinct(col("__tq_3g"))).as("n_uniq_3grams"),
        size(col("__tq_ln")).as("n_lines"),
        size(array_distinct(col("__tq_ln"))).as("n_uniq_lines"),
        expr(topCountExpr("__tq_2s")).as("top_2gram_count"),
        col("is_repetitive"))
  }

  /** The REMOVAL step behind the q73 flag: drop duplicated non-blank
    * lines, keeping each line's first occurrence (the line-level cleanup
    * of the Gopher/MassiveText rules; C4's analog removes repeated
    * spans). The text is normalized to trimmed non-blank lines joined by
    * '\n' — same normalization family as the q35 fingerprint. Output:
    * idCol, n_lines, n_kept, clean_fp (md5 of the rebuilt text),
    * clean_text.
    *
    * First-occurrence selection is an aggregate() fold whose lambda
    * touches ONLY its own accumulator and element variables — never the
    * outer line array — so even when a caller filters on this op's
    * outputs and predicate pushdown inlines the line-split expression
    * into the predicate, the split still evaluates once per row (the
    * filter((l, i) -> array_position(__ln, l) = i+1) form would re-run
    * it per line: the q78 28 s cliff class). The fold itself is
    * O(lines²) string compares, inherent to order-preserving dedup and
    * fine at document line counts.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__ln", expr(linesExpr(textCol)))
      .withColumn("__kept",
        expr("""aggregate(__ln, cast(array() as array<string>),
               |  (acc, l) -> IF(array_contains(acc, l), acc, concat(acc, array(l))))""".stripMargin))
      .select(col(idCol),
        size(col("__ln")).as("n_lines"),
        size(col("__kept")).as("n_kept"),
        md5(concat_ws("\n", col("__kept"))).as("clean_fp"),
        concat_ws("\n", col("__kept")).as("clean_text"))

  /** CROSS-corpus boilerplate removal — the complement of [[dedupLines]]
    * (which is within-document): a non-blank line appearing in at least
    * `minDocs` DISTINCT documents is boilerplate (nav bars, cookie
    * banners, licence footers) and is stripped from every document, order
    * preserved (the C4/CCNet line-frequency cleanup; Raffel et al. 2020
    * §2.2 drop rules, Wenzek et al. 2020 §4.1 paragraph dedup).
    *
    * Scale shape: lines explode once; the document-frequency table is
    * built as distinct (line-hash, doc) pairs then a count — BOTH stages
    * partial-aggregate map-side (an engine-planned count(DISTINCT) would
    * expand instead) — and joins back by md5(line) so the exchange carries
    * 32-byte keys, never full line text. The rebuild is one groupBy(doc)
    * with an in-group sort_array (per-document state only). Two
    * aggregations + one hash equi-join total; no collect, no broadcast of
    * the (corpus-sized) line table — AQE may still choose broadcast when
    * the frequency table turns out small.
    *
    * Documents with no non-blank lines produce no rows (nothing to clean —
    * GROUP BY semantics). A document whose every line is boilerplate gets
    * NULL clean_text/clean_fp (not the empty string — both engines agree
    * NULL is "no kept lines"). Output: idCol, n_lines, n_boiler, n_kept,
    * clean_fp, clean_text.
    */
  def boilerplate(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val ln = df.select(col(idCol),
      posexplode(expr(linesExpr(textCol))).as(Seq("__pos", "__line")))
    val freq = ln.select(md5(col("__line")).as("__lh"), col(idCol)).distinct()
      .groupBy(col("__lh")).agg(count(lit(1)).as("__df"))
    ln.withColumn("__lh", md5(col("__line")))
      .join(freq, "__lh")
      .withColumn("__boiler", col("__df") >= minDocs)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_boiler"),
        array_join(
          transform(
            sort_array(collect_list(
              when(!col("__boiler"), struct(col("__pos"), col("__line"))))),
            x => x.getField("__line")),
          "\n").as("__joined"))
      .withColumn("n_kept", col("n_lines") - col("n_boiler"))
      .withColumn("clean_text", when(col("n_kept") > 0, col("__joined")))
      .select(col(idCol), col("n_lines"), col("n_boiler"), col("n_kept"),
        md5(col("clean_text")).as("clean_fp"), col("clean_text"))
  }

  /** Gopher-shaped document-level quality gate (Rae et al. 2021,
    * arXiv:2112.11446 appendix A1.1 — the word-level subset that applies
    * to whitespace-tokenizable text): word count within [minWords,
    * maxWords], mean word length within [3, 10] chars, >=80% of words
    * containing an alphabetic character, and >=2 stopwords present. Every
    * decision is integer cross-multiplication over per-row counts (no
    * division, no floats), so the whole gate hash-oracles exactly and the
    * thresholds can be retuned downstream without re-scanning the text.
    * A pure per-row codegen map — zero shuffle, pipelines into the scan,
    * streaming-safe. Each lambda touches only its own element, so the
    * optimizer inlining the words split per reference costs O(words) per
    * reference, never the O(words²) cliff (see [[gramsExpr]]).
    * Output: idCol, n_words, n_word_chars, n_alpha_words, n_stop,
    * ok_word_count, ok_mean_len, ok_alpha, ok_stop, is_clean.
    */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val w = "__gq_words"
    registered(df).withColumn(w, expr(wordsExpr(textCol)))
      .select(
        col(idCol),
        size(col(w)).as("n_words"),
        expr(s"aggregate($w, 0, (acc, x) -> acc + length(x))").as("n_word_chars"),
        expr(s"size(filter($w, x -> x rlike '[A-Za-z]'))").as("n_alpha_words"),
        expr(s"size(filter($w, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'to' OR x = 'and' OR x = 'in'))")
          .as("n_stop"))
      .withColumn("ok_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        col("n_word_chars") >= col("n_words") * 3 &&
          col("n_word_chars") <= col("n_words") * 10)
      .withColumn("ok_alpha", col("n_alpha_words") * 5 >= col("n_words") * 4)
      .withColumn("ok_stop", col("n_stop") >= 2)
      .withColumn("is_clean",
        col("ok_word_count") && col("ok_mean_len") && col("ok_alpha") && col("ok_stop"))
  }

  /** Append `n_words` + `is_repetitive` to the input, keeping every input
    * column — the form a pipeline uses when the text must survive
    * downstream (e.g. [[Curation.curate]]). Same word/gram/line
    * expressions and the same flag rule as [[repetition]]; still a pure
    * per-row codegen map, so it is streaming-safe with no state.
    */
  def annotate(df: DataFrame, textCol: String): DataFrame = {
    val w = "__tq_words"
    registered(df).withColumn(w, expr(wordsExpr(textCol)))
      .withColumn("__tq_2g", expr(gramsExpr(w, 2)))
      .withColumn("__tq_ln", expr(linesExpr(textCol)))
      .withColumn("n_words", size(col(w)))
      .withColumn("is_repetitive", repFlag(col("__tq_2g"), col("__tq_ln")))
      .drop(w, "__tq_2g", "__tq_ln")
  }
}
