package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** Scatter a sparse (idx, value) struct array into a dense float vector of
  * fixed length `npts` (missing indices = 0.0f) — the block densify behind
  * the flagship CC path (graft.ops.Correlate.windows/ccCells).
  *
  * As a native codegen'd Expression (not a Scala UDF) the block stage
  * stays inside whole-stage codegen end-to-end (PlanSpec asserts no
  * ScalaUDF on the windows and CC plans). A NULL input yields the
  * all-zeros vector, so the output is never null.
  */
object DensifyUtil {
  def densify(pts: ArrayData, npts: Int): ArrayData = {
    val arr = new Array[Float](npts)
    if (pts != null) {
      val k = pts.numElements()
      var i = 0
      while (i < k) {
        val r = pts.getStruct(i, 2)
        arr(r.getInt(0)) = r.getFloat(1)
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(arr)
  }
}

case class DensifyFloat(child: Expression, npts: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = false // null input -> zeros, never null out

  override def eval(input: InternalRow): Any =
    DensifyUtil.densify(child.eval(input).asInstanceOf[ArrayData], npts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val in = if (child.nullable) s"${c.isNull} ? null : ${c.value}" else s"${c.value}"
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.DensifyUtil.densify($in, $npts);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DensifyFloat =
    copy(child = newChild)
}

object DensifyFloat {
  import org.apache.spark.sql.GraftSqlShim
  /** Column entry point: `DensifyFloat(sparsePts, npts)`. */
  def apply(c: Column, npts: Int): Column =
    GraftSqlShim.column(new DensifyFloat(GraftSqlShim.expression(c), npts))
}
