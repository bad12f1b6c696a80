package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.WinnowFingerprints

/** Winnowing-fingerprint document dedup surfaces over
  * [[graft.functions.WinnowFingerprints]] (MOSS; Schleimer et al. 2003).
  *
  * Scale shape: `fingerprints` is a pure map over the scan (the kernel is
  * one codegen'd byte pass per row) followed by one explode — rows out ~
  * 2/(w+1) of the filtered char count, each a (doc, pos, fp) triple.
  * `candidatePairs` is the standard bucketed candidate generation: an
  * equi-join of the fingerprint table with itself ON THE HASH VALUE, never
  * an all-pairs document scan — identical skeleton to the MinHash-LSH band
  * join (Dedup.scala) and the IVF list probe (Similarity.scala). Ubiquitous
  * fingerprints (boilerplate shared by half the corpus) are dropped by a
  * document-frequency cap BEFORE the self-join, which is what bounds bucket
  * fan-out at corpus scale (MOSS does the same: "ignore matches in too many
  * documents").
  */
object Winnow {

  /** Exploded fingerprint table: (idCol, pos, fp) — distinct by
    * construction (the selection index is monotone across windows and the
    * kernel records each selection once).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4): DataFrame = {
    df.select(col(idCol),
        explode(WinnowFingerprints(coalesce(col(textCol), lit("")), k, w)).as("f"))
      .select(col(idCol), col("f.pos").as("pos"), col("f.fp").as("fp"))
  }

  /** Near-dup candidate pairs (a < b) sharing >= minShared fingerprint
    * VALUES, after dropping fingerprints present in > maxDf distinct
    * documents. `n_shared` counts distinct shared hash values (positions
    * may differ between the documents — that is the point of winnowing).
    *
    * Precondition: one row per `idCol` value. Fingerprints are deduped
    * within a row only, so a repeated id inflates its df and `n_shared`.
    */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, w: Int = 4,
                     minShared: Int = 2, maxDf: Int = 50): DataFrame = {
    // r6: per-doc fp dedup happens MAP-SIDE (guide §2.3 — the same
    // array_distinct-before-explode move as Dedup.shingles): the kernel's
    // (pos, fp) selections are distinct, but dropping pos leaves duplicate
    // fp values per doc; deduping inside the row means the exchange
    // carries only unique (id, fp) rows and the post-shuffle distinct
    // aggregate disappears. One fp-keyed exchange then serves the DF-cap
    // groupBy(fp) and the candidate self-equi-join on fp (guide §2.4;
    // plan diff in plans/r06/q116_*)
    val fp = df.select(col(idCol).as("id"),
        explode(array_distinct(transform(
          WinnowFingerprints(coalesce(col(textCol), lit("")), k, w),
          s => s.getField("fp")))).as("fp"))
      .repartition(col("fp"))
    // document-frequency cap: the skew guard for the self-join below
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf && col("df") >= 2) // df=1 can't pair
    val kept = fp.join(rare, "fp")
    kept.as("x").join(kept.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      // count(*), not countDistinct: both join sides are distinct on
      // (id, fp) — array_distinct dedups fps within a row, each id has one
      // input row (the precondition above), and rare is one row per fp —
      // so each shared hash contributes exactly one join row: same value,
      // one aggregate phase instead of countDistinct's two-phase plan with
      // its extra exchange (r6, plan diff in
      // plans/r06/q116_winnow_pairs_*.txt)
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }
}
