package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic, content-independent sampling primitives for corpus
  * assembly — the split/mixing stage of an LLM training-data pipeline.
  *
  * Both operators key every decision off `bucket(id)`: the integer value
  * of the first two hex digits of md5(id as string), 0..255. md5 is the
  * one hash both engines spell identically (lowercase hex), so the
  * assignment is reproducible in any SQL engine, and it is STABLE: a
  * document's split/keep decision never changes when other documents
  * arrive or depart (the property `rand()`-sampling and exact-rank
  * selection both lack — exact top-k per source re-ranks the whole corpus
  * every refresh, and at billions of rows per source would need a
  * single-partition sort besides).
  *
  * Scale shape: [[hashSplit]] is a pure per-row map (zero shuffle — it
  * pipelines into the scan); [[rebalance]] adds one groupBy over the
  * bounded source key and two broadcast-sized joins (source-count dim +
  * 1-row global min).
  */
object Sampling {

  /** 0..255 from the first two md5 hex digits — integer arithmetic end to
    * end so the oracle needs no float discipline. Public: the ONE bucket
    * definition every deterministic-assignment operator shares
    * ([[hashSplit]]/[[rebalance]] here, [[TrainPrep.pack]]'s shard key).
    */
  def bucketCol(idCol: String) =
    expr(s"cast(conv(substr(md5(cast($idCol as string)), 1, 2), 16, 10) as int)")

  /** Deterministic train/val/test assignment by hash bucket:
    * train = bucket < 230, val = bucket < 243, else test (≈ 90/5/5 of
    * 256). Output: all input columns + bucket + split.
    */
  def hashSplit(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("bucket", bucketCol(idCol))
      // a NULL id hashes to a NULL bucket; leave split NULL too (visible,
      // filterable corruption) instead of letting otherwise() silently
      // concentrate undefined docs in the eval split — and then move them
      // when a re-ingest backfills the id, breaking the stability property
      .withColumn("split",
        when(col("bucket") < 230, lit("train"))
          .when(col("bucket") < 243, lit("val"))
          .when(col("bucket").isNotNull, lit("test")))

  /** Source-mixture rebalancing: downsample every source toward the
    * SMALLEST source's count by deterministic hash-rate selection — doc
    * kept iff `bucket * n_source < 256 * min_count` (integer cross-
    * multiplication, no division). Expected kept count per source is
    * min_count ± n_source/256 (rate sampling, not exact-k — exact-k per
    * source would need a full sort of the largest source in one
    * partition). Output: idCol, groupCol, bucket, n_source, min_count,
    * kept.
    */
  def rebalance(df: DataFrame, idCol: String, groupCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_source"))
    val minC = counts.agg(min(col("n_source")).as("min_count"))
    df.select(col(idCol), col(groupCol))
      .withColumn("bucket", bucketCol(idCol))
      .join(broadcast(counts), groupCol)
      .crossJoin(broadcast(minC))
      .withColumn("kept", col("bucket") * col("n_source") < col("min_count") * 256)
      .select(idCol, groupCol, "bucket", "n_source", "min_count", "kept")
  }

  /** Exact-n deterministic sample per stratum: within each `groupCol`
    * value keep the `n` rows ranking lowest by (md5(id), id) — a
    * reproducible uniform-without-replacement draw (the hash is the
    * random tape), unlike `rand()`-based sampling which changes members
    * every run. Unlike [[rebalance]]'s rate selection this is exact-k, so
    * it pays a per-stratum sort: the window buffers each stratum on one
    * partition. Fine when strata are people-scale (sources, languages,
    * shards); for strata too large for one partition, pre-thin with a
    * [[rebalance]]-style hash-rate cut to ~4n first, then exact-rank the
    * survivors — the hash ordering is preserved under any prefix cut, so
    * the two-stage result equals the one-stage result whenever the
    * pre-thin keeps >= n rows. Output: idCol, groupCol, sample_rk.
    */
  def stratified(df: DataFrame, idCol: String, groupCol: String, n: Int): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.select(col(idCol), col(groupCol))
      .withColumn("sample_rk", row_number().over(w))
      .where(col("sample_rk") <= n)
  }
}
