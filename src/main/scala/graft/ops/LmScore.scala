package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram language-model document scoring — the KenLM-style quality
  * filter an LLM-corpus pipeline runs after the heuristic gates (CCNet,
  * Wenzek et al. 2020: rank candidate text by how typical it is under a
  * model trained on a trusted reference corpus; keep the head, drop the
  * tail).
  *
  * [[supportScore]] is hash-gateable (the [[TextRank]] precedent): per
  * document it gives the EXACT-INTEGER bigram-model supports — how many
  * transitions the model has seen (`n_big`/`n_unk`), and the summed model
  * counts behind them (`support`, `uni_support`). Every aggregate is an
  * integer sum, exact under any partitioning and any engine; the two rates
  * are single int/int IEEE divisions (round-6) and the low-quality flag is
  * integer cross-multiplied. No logarithm anywhere: a per-doc log-prob is
  * a SUM of floats whose value depends on reduction order, which the
  * cross-engine oracle hash gate cannot tolerate (and DuckDB's `ln`
  * differs from `Math.log` by 1 ulp — measured, see `TextRank`).
  *
  * Scale shape: transitions are O(total tokens) rows built with the
  * inlining-safe zip_with-over-slices form (a lambda body that touches
  * only its element variables cannot be re-expanded per element by
  * Catalyst — the q78 cliff). The bigram model is an aggregated
  * (w1, w2, c2) table, vocabulary²-bounded but corpus-bigram-sized in
  * practice; both scoring joins are plain hash equi-joins that AQE
  * broadcasts when the model is small and shuffles (with skew split —
  * stop-word w1 keys are hot) when it is not. The per-doc reduction is a
  * map-side-combinable groupBy on doc id. Nothing is quadratic; nothing
  * collects.
  *
  * Reference analog: the preprocess registry's per-key quality gates
  * (/root/reference/xcorr/core/process.py:42-85) decide per series what
  * enters the expensive CC stage; this is the text-corpus counterpart
  * deciding what enters training.
  */
object LmScore {

  /** (doc_id, w1, w2) — one row per adjacent-token transition, whitespace
    * tokenization of trim(text) (same as [[Dedup.tokens]] / q32). Docs
    * with fewer than 2 tokens (or NULL text) have no transitions and are
    * excluded here on BOTH engines.
    */
  def transitions(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("a"))
      .where(size(col("a")) >= 2)
    // zip_with over two slices: arguments evaluate once per row, the
    // lambda touches only its element variables (inlining-safe form)
    toks
      .select(col("doc_id"), explode(zip_with(
        slice(col("a"), lit(1), size(col("a")) - 1),
        slice(col("a"), lit(2), size(col("a")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"))
  }

  /** Bigram counts (w1, w2, c2) over a reference slice — the "model". */
  def bigramCounts(ref: DataFrame, idCol: String, textCol: String): DataFrame =
    transitions(ref, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))

  /** Transition-start unigram counts (w1, c1) over the same slice, so
    * c1(w1) = Σ_w2 c2(w1, w2) — the conditional-probability denominator.
    */
  def unigramCounts(ref: DataFrame, idCol: String, textCol: String): DataFrame =
    transitions(ref, idCol, textCol)
      .groupBy("w1").agg(count(lit(1)).as("c1"))

  /** Exact-integer LM support per candidate document.
    *
    * Output per doc: `n_big` transitions, `n_unk` transitions the model
    * never saw, `support` = Σ model bigram counts over the doc's
    * transitions (unseen → 0), `uni_support` = Σ model unigram counts,
    * `avg_support` = support/n_big (round-6), `unk_rate` = n_unk/n_big
    * (round-6), `is_lowq` = n_unk·100 ≥ n_big·50, i.e. at least half the
    * transitions unseen (integer cross-multiplied — no float in the
    * decision).
    */
  def supportScore(
      docs: DataFrame,
      refBigrams: DataFrame,
      refUnigrams: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val tr = transitions(docs, idCol, textCol)
    val joined = tr
      .join(refBigrams, Seq("w1", "w2"), "left")
      .join(refUnigrams, Seq("w1"), "left")
    val agg = joined.groupBy("doc_id").agg(
      count(lit(1)).as("n_big"),
      (count(lit(1)) - count(col("c2"))).as("n_unk"),
      coalesce(sum(col("c2")), lit(0L)).as("support"),
      coalesce(sum(col("c1")), lit(0L)).as("uni_support"))
    agg.select(
      col("doc_id"), col("n_big"), col("n_unk"), col("support"), col("uni_support"),
      round(col("support").cast("double") / col("n_big").cast("double"), 6).as("avg_support"),
      round(col("n_unk").cast("double") / col("n_big").cast("double"), 6).as("unk_rate"),
      (col("n_unk") * lit(100L) >= col("n_big") * lit(50L)).as("is_lowq"))
  }
}
