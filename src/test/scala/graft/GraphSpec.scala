package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Graph

/** Hand-computed gates for the PageRank centrality op (q123): the exact
  * double recursion on a star graph, isolated-node fixpoint, direction/
  * duplicate insensitivity, and guard rails.
  */
class GraphSpec extends AnyFunSuite with SparkSuite {

  private def ranks(edges: Seq[(String, String)], nodes: Seq[String],
                    iters: Int, d: Double = 0.85): Map[String, Double] = {
    import spark.implicits._
    Graph.pageRank(nodes.toDF("id"), "id", edges.toDF("a", "b"), "a", "b",
        iterations = iters, d = d)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  // star: a-b, a-c, a-d; e isolated. deg(a)=3, deg(b/c/d)=1.
  private val starEdges = Seq(("a", "b"), ("a", "c"), ("a", "d"))
  private val starNodes = Seq("a", "b", "c", "d", "e")

  /** The identical IEEE recursion on the driver: (hub rank, leaf rank) —
    * leaf ranks stay equal by symmetry.
    */
  private def starRecursion(iters: Int): (Double, Double) = {
    var ra = 1.0; var rl = 1.0
    for (_ <- 1 to iters) {
      val ra2 = (1.0 - 0.85) + 0.85 * (rl / 1.0 + rl / 1.0 + rl / 1.0)
      val rl2 = (1.0 - 0.85) + 0.85 * (ra / 3.0)
      ra = ra2; rl = rl2
    }
    (ra, rl)
  }

  test("pageRank: star graph matches the hand-run double recursion; isolated node is 1-d") {
    val (ra, rl) = starRecursion(3)
    val got = ranks(starEdges, starNodes, iters = 3)
    assert(got("a") == ra)
    assert(Seq("b", "c", "d").forall(k => got(k) == rl))
    assert(got("e") == (1.0 - 0.85)) // isolated fixpoint, exactly
    assert(got("a") > got("b")) // hub is most central
  }

  test("pageRank: star graph at 10 iterations (pinned per iteration) matches the double recursion") {
    // iterations > 8 takes the eager pin-and-drop path instead of one lazy plan
    val (ra, rl) = starRecursion(10)
    val got = ranks(starEdges, starNodes, iters = 10)
    assert(got("a") == ra)
    assert(Seq("b", "c", "d").forall(k => got(k) == rl))
    assert(got("e") == (1.0 - 0.85))
  }

  test("pageRank: edge direction, duplicates and self-loops don't change the result") {
    val base = ranks(Seq(("a", "b"), ("b", "c")), Seq("a", "b", "c"), iters = 4)
    val messy = ranks(
      Seq(("b", "a"), ("a", "b"), ("c", "b"), ("a", "a")),
      Seq("a", "b", "c"), iters = 4)
    assert(base == messy)
    // path graph: middle node most central, ends equal by symmetry
    assert(base("b") > base("a") && base("a") == base("c"))
  }

  test("triangles: clique vs star, per-corner counts, isolated nodes, direction-insensitive") {
    import spark.implicits._
    // K4 clique on a,b,c,d (4 triangles, 3 per node, coeff 1) + star
    // hub s with leaves l1..l3 (0 triangles, coeff 0 at the hub) + isolated z
    val k4 = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"))
    val star = Seq(("s","l1"),("l2","s"),("s","l3")) // mixed direction
    val nodes = Seq("a","b","c","d","s","l1","l2","l3","z").toDF("id")
    val out = Graph.triangles(nodes, "id",
        (k4 ++ star).toDF("x", "y"), "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("tri_n"),
          Option(r.getAs[java.lang.Double]("coeff_r")).map(_.toDouble)))).toMap
    for (n <- Seq("a","b","c","d"))
      assert(out(n) == ((3L, 3L, Some(1.0))), s"clique node $n")
    assert(out("s") == ((3L, 0L, Some(0.0))))
    for (l <- Seq("l1","l2","l3")) assert(out(l) == ((1L, 0L, None)))
    assert(out("z") == ((0L, 0L, None)))
    // total triangles = sum of corners / 3 = 4
    assert(out.values.map(_._2).sum == 12L)
  }

  test("pageRank weighted: hand-run recursion; all-1 weights bit-equal the unweighted form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // a-b weight 3, a-c weight 1: b receives 3/4 of a's mass, c gets 1/4
    val we = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("x", "y", "w")
    val nodes = Seq("a", "b", "c").toDF("id")
    val got = Graph.pageRank(nodes, "id", we, "x", "y",
        iterations = 2, d = 0.85, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // replay the identical IEEE recursion (wdeg(a)=4, wdeg(b)=3, wdeg(c)=1)
    var (ra, rb, rc) = (1.0, 1.0, 1.0)
    for (_ <- 1 to 2) {
      val ra2 = (1.0 - 0.85) + 0.85 * (3L * rb / 3L + 1L * rc / 1L)
      val rb2 = (1.0 - 0.85) + 0.85 * (3L * ra / 4L)
      val rc2 = (1.0 - 0.85) + 0.85 * (1L * ra / 4L)
      ra = ra2; rb = rb2; rc = rc2
    }
    assert(got("a") == ra && got("b") == rb && got("c") == rc)
    assert(got("b") > got("c")) // the heavier edge pulls harder
    // weight 1 everywhere == the unweighted recursion, bit for bit
    val e1 = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    val u = Graph.pageRank(nodes, "id", e1, "x", "y", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w1 = Graph.pageRank(nodes, "id", e1.withColumn("w", lit(1L)),
        "x", "y", iterations = 3, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(u == w1)
  }

  test("pageRank: guards reject bad damping and iteration counts") {
    import spark.implicits._
    val n = Seq("a").toDF("id"); val e = Seq(("a", "b")).toDF("a", "b")
    assertThrows[IllegalArgumentException](
      Graph.pageRank(n, "id", e, "a", "b", iterations = 0))
    assertThrows[IllegalArgumentException](
      Graph.pageRank(n, "id", e, "a", "b", d = 1.0))
  }
}
