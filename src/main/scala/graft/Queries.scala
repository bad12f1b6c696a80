package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** The driver-checked operator surface: each entry is one operator from
  * SURVEY.md §2 (or a training-data-pipeline extension) as a Spark query
  * over /root/testdata tables, with a DuckDB-equivalent oracle where the
  * semantics are SQL-expressible. Column names/aliases match the oracle
  * exactly (the driver sorts columns by name before hashing).
  *
  * Determinism discipline:
  *  - integer-valued aggregates wherever possible (exact under any
  *    partitioning / engine);
  *  - double aggregates that reorder sums are rounded to 6 decimals on
  *    BOTH sides;
  *  - per-row double arithmetic (no reordering) is left exact — IEEE ops
  *    on identical inputs are engine-independent.
  *
  * This object is the registry: the query type, the table readers and
  * `all`. The queries themselves live in one trait per operator family
  * under [[graft.queries]], with the DuckDB fragments they share in
  * [[graft.queries.OracleSql]].
  */
object Queries extends RelationalQueries with SeriesQueries with CcQueries
    with SignalQueries with DocumentQueries with WinnowQueries
    with EmbeddingQueries with SketchQueries with TrainPrepQueries {

  type QFn = (SparkSession, String) => DataFrame

  final case class Q(name: String, fn: QFn, oracle: Option[String])

  private[graft] def ev(s: SparkSession, dir: String) = s.read.parquet(s"$dir/events.parquet")
  private[graft] def li(s: SparkSession, dir: String) = s.read.parquet(s"$dir/lineitem.parquet")
  private[graft] def ord(s: SparkSession, dir: String) = s.read.parquet(s"$dir/orders.parquet")
  private[graft] def cust(s: SparkSession, dir: String) = s.read.parquet(s"$dir/customer.parquet")
  private[graft] def nat(s: SparkSession, dir: String) = s.read.parquet(s"$dir/nation.parquet")
  private[graft] def reg(s: SparkSession, dir: String) = s.read.parquet(s"$dir/region.parquet")
  private[graft] def docs(s: SparkSession, dir: String) = {
    // the token/shingle queries resolve graft_tokens/graft_words/
    // graft_shingles (codegen kernels, graft.functions)
    graft.functions.GraftExtensions.register(s)
    s.read.parquet(s"$dir/documents.parquet")
  }
  private[graft] def emb(s: SparkSession, dir: String) = {
    // the embedding queries' dot kernels are the registered codegen
    // expressions (graft_dot — see graft.functions.DotProduct)
    graft.functions.GraftExtensions.register(s)
    s.read.parquet(s"$dir/embeddings.parquet")
  }

  /** DuckDB emits naive timestamps; Spark must too (TIMESTAMP_NTZ) so the
    * driver's value compare sees identical types. Session TZ is pinned UTC,
    * so TZ<->NTZ casts are wall-clock identities.
    */
  private[graft] def ntz(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp_ntz")))

  // codegen'd dot kernel, bit-equal to the aggregate(zip_with(...)) fold
  // it replaces (graft.functions.DotProduct; registered in emb())
  private[graft] val dotSpark = "graft_dot(%s, %s)"
  private[graft] def vCast = "transform(embedding, x -> cast(x as double))"

  val all: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08,
    q10, q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26, q27, q28, q29,
    q30, q31, q32, q33, q34, q35, q36, q37, q38, q39,
    q40, q41, q42, q43, q44, q45, q46, q47, q48,
    q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68, q69,
    q70, q71, q72, q73, q74, q75, q76, q77, q78, q79,
    q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92, q93, q94, q95,
    q96, q97, q98, q99, q100, q101, q102, q103, q104, q105, q106, q107,
    q108, q109, q110, q111, q112, q113, q114, q115, q116, q117, q118, q119,
    q120, q121, q122, q123, q124, q125, q126, q127, q128, q129,
    q130, q131, q132, q133, q134, q135, q136, q137, q138, q139, q140,
    q141, q142, q143
  )
}
