package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the engine's codegen expressions.
  *
  * Spark-first registration path (system-level: `SparkSessionExtensions`
  * is how a library exposes Catalyst expressions to plain-SQL users — the
  * reference has no SQL layer at all; its accessors are Python-only,
  * /root/reference/xcorr/core/accessors.py):
  *
  *   - at build time: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  *     or `.withExtensions(new GraftExtensions)`;
  *   - on a session someone else built: `GraftExtensions.register(spark)`
  *     (injects into the live session's FunctionRegistry via the shim —
  *     extensions configured after a session exists are otherwise ignored).
  *
  * The functions stay the SAME case-class Expressions the Column API uses
  * (TokenCount / ChunkDecode / DensifyFloat), so `spark.sql("...")` users
  * get identical semantics AND identical whole-stage-codegen plans — no
  * UDF wrapper, no extra conversion.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  /** `name`'s `injectFunction` triple; its builder rejects a call whose
    * argument count is not the number of `params`.
    */
  private def fn(name: String, params: String*)(build: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, name),
      args => {
        require(args.length == params.length,
          if (params.length == 1) s"$name expects 1 argument, got ${args.length}"
          else s"$name expects ${params.mkString("(", ", ", ")")}, got ${args.length} arguments")
        build(args)
      })

  /** The value of a constant integer argument; `what` names it in the error. */
  private def intArg(what: String, e: Expression): Int =
    if (e.foldable && e.dataType == IntegerType) e.eval().asInstanceOf[Int]
    else throw new IllegalArgumentException(s"$what must be an integer literal, got $e")

  /** (identifier, info, builder) triples in `injectFunction` shape. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("graft_token_count", "text")(a => TokenCount(a(0))),
    fn("graft_chunk_decode", "chunk")(a => ChunkDecode(a(0))),
    fn("graft_densify_float", "points", "npts")(a =>
      DensifyFloat(a(0), intArg("graft_densify_float npts", a(1)))),
    fn("graft_zorder", "a", "b")(a => Zorder.widened(a(0), a(1))),
    fn("graft_dot", "a", "b")(a => DotProduct(a(0), a(1))),
    fn("graft_l2sq", "a", "b", "off", "len")(a => L2Sq(a(0), a(1), a(2), a(3))),
    fn("graft_shingles", "tokens", "n")(a =>
      ShingleArray(a(0), intArg("graft_shingles n", a(1)))),
    fn("graft_tokens", "text")(a => TokenArray(a(0), dropEmpties = false)),
    fn("graft_words", "text")(a => TokenArray(a(0), dropEmpties = true)),
    fn("graft_md5int", "str", "nHex")(a =>
      Md5PrefixInt(a(0), intArg("graft_md5int nHex", a(1)))))

  /** Register into an ALREADY-RUNNING session (current + future queries). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      org.apache.spark.sql.GraftSqlShim.registerFunction(spark, id, info, builder)
    }

  /** `df` after registering the functions on its session: the entry point
    * of an op whose plan calls them by name.
    */
  private[graft] def registered(df: DataFrame): DataFrame = {
    register(df.sparkSession)
    df
  }
}
