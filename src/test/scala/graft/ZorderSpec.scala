package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftExtensions, Zorder, ZorderUtil}

/** Gates for the Morton/Z-order layout key (q126): bit-loop reference
  * equality, curve locality, SQL registration, null propagation.
  */
class ZorderSpec extends AnyFunSuite with SparkSuite {

  /** Naive bit-loop interleave — the definition the fast spread must match. */
  private def slow(a: Long, b: Long): Long = {
    var z = 0L
    for (i <- 0 until 32)
      z |= (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    z
  }

  test("interleave matches the bit-loop definition, incl. the 32-bit mask and sign bit") {
    val probes = Seq(0L, 1L, 2L, 3L, 5L, 255L, 256L, 65535L, 65536L,
      0x7FFFFFFFL, 0x80000000L, 0xFFFFFFFFL,
      0x123456789AL /* bits above 32 must be ignored */, -1L)
    for (a <- probes; b <- probes)
      assert(ZorderUtil.interleave(a, b) == slow(a & 0xFFFFFFFFL, b & 0xFFFFFFFFL),
        s"mismatch at ($a, $b)")
    // b's bit 31 lands at z bit 63: the sign bit, identically in any
    // two's-complement engine
    assert(ZorderUtil.interleave(0L, 0x80000000L) == Long.MinValue)
  }

  test("locality: fixing one coordinate, z is strictly monotone in the other") {
    for (c <- Seq(0L, 3L, 7L)) {
      val zs = (0L to 200L).map(m => ZorderUtil.interleave(c, m))
      assert(zs == zs.sorted && zs.distinct.length == zs.length)
      val za = (0L to 200L).map(a => ZorderUtil.interleave(a, c))
      assert(za == za.sorted && za.distinct.length == za.length)
    }
  }

  test("column + SQL surfaces agree; codegen'd, null-propagating") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val df = Seq((3L, 5L), (0L, 0L), (123456L, 654321L)).toDF("a", "b")
    val viaCol = df.select(Zorder(col("a"), col("b"))).as[Long].collect()
    df.createOrReplaceTempView("zt")
    val viaSql = spark.sql("SELECT graft_zorder(a, b) FROM zt").as[Long].collect()
    assert(viaCol.toSeq == viaSql.toSeq)
    assert(viaCol(0) == 39L) // hand value: spread(3)=5, spread(5)<<1=34
    // a LocalTableScan constant-folds; range() is a codegen source
    val rp = spark.range(16).select(Zorder(col("id"), col("id") + 1))
    assert(rp.as[Long].collect().toSeq ==
      (0L until 16L).map(i => ZorderUtil.interleave(i, i + 1)))
    // '*(n)' prefix = the Project runs inside whole-stage codegen stage n
    val p = rp.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[zorder".r.findFirstIn(p).isDefined,
      s"zorder fell out of codegen:\n$p")
    val n = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .select(Zorder(col("a"), col("b"))).collect()
    assert(n.head.isNullAt(0))
  }
}
