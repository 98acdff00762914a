package graft

import graft.ops.Triangles

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the degree-oriented triangle count that the
  * g3 hash gate alone can't see: closed-form counts on K4 / star / path,
  * equivalence with the orientation-free canonical-triple join on a
  * denser graph, and degenerate inputs (empty, single edge).
  */
class TrianglesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def count(edges: Seq[(Long, Long)]): (Long, Long, Double) =
    triple(Triangles.countWithCoefficient(edges.toDF("a", "b")))

  private def countDistributed(edges: Seq[(Long, Long)]): (Long, Long, Double) =
    triple(Triangles.countDistributed(edges.toDF("a", "b")))

  private def triple(df: DataFrame): (Long, Long, Double) = {
    val r = df.collect().head
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  test("K4: 4 triangles, 12 wedges, coefficient 1.0") {
    val k4 = for {
      i <- 0L to 3L; j <- (i + 1) to 3L
    } yield (i, j)
    assert(count(k4) == ((4L, 12L, 1.0)))
  }

  test("path a-b-c: no triangles, one wedge, coefficient 0") {
    assert(count(Seq((1L, 2L), (2L, 3L))) == ((0L, 1L, 0.0)))
  }

  test("star plus one closing edge: hub orientation bounds the wedge work") {
    // hub 0 with leaves 1..4, plus 1-2: degrees 4,2,2,1,1 → wedges
    // 6+1+1 = 8, one triangle, coeff 3/8
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L))
    assert(count(g) == ((1L, 8L, 0.375)))
  }

  test("degenerate: empty and single-edge graphs") {
    assert(count(Seq.empty) == ((0L, 0L, 0.0)))
    assert(count(Seq((7L, 9L))) == ((0L, 0L, 0.0)))
  }

  test("driver path equals the distributed joins bit-for-bit") {
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(60)((rnd.nextLong().abs % 20, rnd.nextLong().abs % 20))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val local = count(edges)
    assert(local == countDistributed(edges))
  }

  test("self-loops and duplicate edges: driver path equals distributed") {
    // r21 regression pin: the merge-walk wedge count must reject v == w
    // pairs exactly like the orientation precheck did (a self-loop edge
    // puts (v, v) in the oriented lists but never closes a wedge), and
    // duplicate edges must multiply wedge instances identically.
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 3L), (1L, 3L), (2L, 3L),
      (4L, 4L), (1L, 2L))
    val local = count(edges)
    val dist = countDistributed(edges)
    assert(local == dist, s"local $local vs distributed $dist")
  }

  test("matches the orientation-free canonical-triple join on a dense graph") {
    // deterministic pseudo-random graph: edge (i, j) iff hash condition
    val edges = (for {
      i <- 0L until 24L; j <- (i + 1) until 24L
      if (i * 31 + j * 17 + i * j) % 3 == 0
    } yield (i, j)).toSeq
    val p: DataFrame = edges.toDF("a", "b")
    val e1 = p.select(col("a"), col("b"))
    val e2 = p.select(col("a").as("a2"), col("b").as("c"))
    val e3 = p.select(col("a").as("b3"), col("b").as("c3"))
    val brute = e1
      .join(e2, col("a2") === col("a") && col("c") > col("b"))
      .join(e3, col("b3") === col("b") && col("c3") === col("c"))
      .count()
    val (t, _, _) = count(edges)
    assert(t == brute && t > 0, s"oriented $t vs brute $brute")
  }
}
