package graft

import graft.ops.ShortestPath

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-checkable min-plus relaxation properties the g2 hash gate can't
  * see: relaxation prefers a cheaper 2-hop path over a direct edge,
  * unreachable nodes stay NULL, and iters bounds the explored path
  * length (Bellman–Ford semantics).
  */
class ShortestPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dists(edges: Seq[(String, String, Long)],
                    iters: Int): Map[String, Option[Long]] =
    ShortestPath.sssp(edges.toDF("src", "dst", "cost"), lit("s"), iters)
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("cheaper 2-hop path beats the direct edge") {
    val d = dists(Seq(("s", "t", 10L), ("s", "m", 2L), ("m", "t", 3L)),
      iters = 3)
    assert(d("t").contains(5L))
    assert(d("m").contains(2L))
    assert(d("s").contains(0L))
  }

  test("unreachable node stays NULL; reverse edges don't leak distance") {
    val d = dists(Seq(("s", "a", 1L), ("b", "s", 1L)), iters = 3)
    assert(d("a").contains(1L))
    assert(d("b").isEmpty) // only an edge INTO s — not reachable FROM s
  }

  test("random graphs match a reference Bellman-Ford, bounded and exact") {
    val rnd = new scala.util.Random(11)
    val nodes = "s" +: (0 until 10).map(i => s"n$i")
    val edges = Seq.fill(35)((nodes(rnd.nextInt(11)), nodes(rnd.nextInt(11)),
        (rnd.nextInt(7) + 1).toLong))
      .filter { case (a, b, _) => a != b }.distinct
    // synchronous rounds: round k relaxes from round k-1's distances
    def reference(iters: Int): Map[String, Option[Long]] = {
      val all = edges.flatMap { case (a, b, _) => Seq(a, b) }.distinct
      var d = all.map(n => n -> (if (n == "s") Some(0L) else None)).toMap
      for (_ <- 1 to iters) {
        val prev = d
        d = all.map { v =>
          val via = edges.collect { case (u, `v`, c) if prev(u).isDefined =>
            prev(u).get + c }
          v -> (prev(v).toSeq ++ via).reduceOption(_ min _)
        }.toMap
      }
      d
    }
    assert(reference(4).values.flatten.count(_ > 0) >= 3) // s reaches others
    assert(dists(edges, iters = 4) == reference(4))
    assert(dists(edges, iters = nodes.size) == reference(nodes.size))
  }

  test("iters bounds the path length (Bellman-Ford rounds)") {
    val chain = Seq(("s", "a", 1L), ("a", "b", 1L), ("b", "c", 1L))
    val d1 = dists(chain, iters = 1)
    assert(d1("a").contains(1L) && d1("b").isEmpty && d1("c").isEmpty)
    val d3 = dists(chain, iters = 3)
    assert(d3("c").contains(3L))
  }
}
