package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DotProduct, GraftExtensions, L2Sq}

/** The r6 codegen vector kernels (DotProduct / L2Sq) must be BIT-equal to
  * the higher-order-function spellings they replaced in Similarity and the
  * q40-family queries — including every NULL/length edge the HOF forms
  * produce (zip_with pads the short side with NULLs, which poison the
  * aggregate fold). Checked on real embedding data AND on adversarial
  * literals, in both codegen and interpreted paths (the where-filter runs
  * interpreted eval, the projection codegen).
  */
class VectorKernelSpec extends AnyFunSuite with SparkSuite with BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.register(spark)
  }

  private val hofDot =
    "aggregate(zip_with(%s, %s, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
  private val hofL2 =
    """aggregate(zip_with(slice(%s, %d + 1, %d), slice(%s, %d + 1, %d),
      |  (x, y) -> (x - y) * (x - y)), 0D, (acc, p) -> acc + p)""".stripMargin

  test("graft_dot == aggregate(zip_with(*)) bitwise on real float embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"),
        col("embedding").as("raw"))
    val planes = graft.ops.Similarity.planes(4, 64)
    planes.foreach { p =>
      val lit = p.mkString("array(", "D,", "D)")
      // double-array input, float-array input, and self-dot, vs the HOF
      val bad = e.select(
          expr(s"graft_dot(v, $lit)").as("a"),
          expr(hofDot.format("v", lit)).as("b"),
          expr(s"graft_dot(raw, $lit)").as("c"),
          expr(s"graft_dot(v, v)").as("sa"),
          expr(hofDot.format("v", "v")).as("sb"))
        .where(col("a") =!= col("b") || col("c") =!= col("b") || col("sa") =!= col("sb"))
      assert(bad.count() == 0)
    }
  }

  test("graft_dot NULL edges match the HOF fold (null array, null element, length mismatch)") {
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1D, 2D), array(3D, 4D)),
        |  (CAST(NULL AS ARRAY<DOUBLE>), array(3D, 4D)),
        |  (array(1D, CAST(NULL AS DOUBLE)), array(3D, 4D)),
        |  (array(1D, 2D, 5D), array(3D, 4D)),
        |  (array(), array()),
        |  (array(-0D), array(0D))
        |AS t(a, b)""".stripMargin)
    val got = rows.select(
      expr("graft_dot(a, b)").as("fast"),
      expr(hofDot.format("a", "b")).as("hof"))
    assert(got.where(
      (col("fast") =!= col("hof")) ||
        (col("fast").isNull =!= col("hof").isNull)).count() == 0)
  }

  test("graft_l2sq == sliced HOF fold bitwise, incl. clamped and out-of-range slices") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
    val pairs = e.as("x").crossJoin(e.limit(3).as("y"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
    // PQ-style sub-slices, the full-array form, a clamped tail slice, and
    // an off-the-end slice (both sides empty -> 0.0)
    for ((off, len) <- Seq((0, 8), (56, 8), (0, Int.MaxValue), (60, 8), (64, 8), (100, 8))) {
      val bad = pairs.select(
          expr(s"graft_l2sq(a, b, $off, $len)").as("fast"),
          expr(hofL2.format("a", off, len, "b", off, len)).as("hof"))
        .where((col("fast") =!= col("hof")) ||
          (col("fast").isNull =!= col("hof").isNull))
      assert(bad.count() == 0, s"off=$off len=$len")
    }
    // unequal effective lengths -> NULL on both sides
    val edge = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1D, 2D, 3D), array(1D, 2D)),
        |  (array(1D, CAST(NULL AS DOUBLE)), array(1D, 2D))
        |AS t(a, b)""".stripMargin)
    val got = edge.select(
      expr("graft_l2sq(a, b, 0, 2147483647)").as("fast"),
      expr(hofL2.format("a", 0, 3, "b", 0, 3)).as("hof"))
    assert(got.where(col("fast").isNotNull || col("hof").isNotNull).count() == 0)
  }

  test("Column API entry points resolve to the same expressions") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
    val bad = e.select(
        DotProduct(col("v"), col("v")).as("a"),
        expr("graft_dot(v, v)").as("b"),
        L2Sq(col("v"), col("v"), lit(0), lit(8)).as("c"),
        expr("graft_l2sq(v, v, 0, 8)").as("d"))
      .where(col("a") =!= col("b") || col("c") =!= col("d"))
    assert(bad.count() == 0)
  }
}
