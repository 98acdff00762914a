package graft

import graft.ops.PageRank

import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the exact-integer PageRank fold that the g1
  * hash gate alone can't see: symmetry on symmetric graphs, hub
  * dominance on a star, mass conservation within the documented floor
  * bound, and zero-iteration identity.
  */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Scale = 1000000000000L

  private def ranksOf(edges: Seq[(String, String, Long)],
                      iters: Int): Map[String, Long] =
    PageRank.ranks(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("two-node symmetric cycle keeps equal ranks") {
    val r = ranksOf(Seq(("a", "b", 1L), ("b", "a", 1L)), iters = 3)
    assert(r("a") == r("b"))
    // each node: scale/2 up to per-iteration floor losses
    assert(math.abs(r("a") - Scale / 2) < 10)
  }

  test("star graph ranks the hub above the leaves, leaves equal") {
    val leaves = Seq("l1", "l2", "l3", "l4")
    val edges = leaves.map(l => (l, "hub", 1L)) ++
      leaves.map(l => ("hub", l, 1L))
    val r = ranksOf(edges, iters = 3)
    assert(leaves.map(r).distinct.size == 1) // symmetry
    assert(r("hub") > r("l1"))
  }

  test("mass conservation within the documented floor bound") {
    val edges = Seq(("a", "b", 3L), ("b", "c", 2L), ("c", "a", 5L),
      ("a", "c", 1L), ("c", "b", 7L))
    val iters = 4
    val r = ranksOf(edges, iters)
    val total = r.values.sum
    val v = 3L; val e = 5L
    val bound = v * (iters + 1) + e * iters
    assert(total <= Scale)
    assert(Scale - total <= bound, s"lost ${Scale - total} > $bound")
  }

  test("zero iterations returns the uniform prior") {
    val r = ranksOf(Seq(("a", "b", 1L), ("b", "a", 1L)), iters = 0)
    assert(r("a") == Scale / 2 && r("b") == Scale / 2)
  }

  test("driver path equals the distributed loop bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val nodes = (0 until 12).map(i => s"n$i")
    val edges = Seq.fill(40)((nodes(rnd.nextInt(12)), nodes(rnd.nextInt(12)),
        (rnd.nextInt(9) + 1).toLong))
      .filter { case (a, b, _) => a != b }.distinct
    val dist = PageRank.ranksDistributed(edges.toDF("src", "dst", "w"), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val local = ranksOf(edges, iters = 3)
    assert(local == dist)
  }

  test("weight asymmetry shifts rank toward the heavier target") {
    // a sends 9/10 of its mass to b, 1/10 to c; b and c both return to a
    val r = ranksOf(
      Seq(("a", "b", 9L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L)),
      iters = 3)
    assert(r("b") > r("c"))
  }
}
