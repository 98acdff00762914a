package graft.ops

import graft.Checkpoint
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-source shortest path by iterative min-plus relaxation
  * (Bellman–Ford rounds) — the third graph primitive beside connected
  * components (Dedup's pointer-jumping) and PageRank. Costs are exact
  * integers, so a fixed-round run is engine-portable and hash-gatable
  * against an unrolled SQL oracle (EventQueries g2); `least()` skips
  * NULLs identically on both engines, which is what lets "unreached"
  * be represented as NULL with no sentinel arithmetic.
  *
  * Scale shape: per round ONE edges⋈dists join (edge frame partitioned
  * by src; broadcast the dist frame for label-sized graphs) and ONE
  * groupBy(dst) min — the same plan skeleton as PageRank.ranks, with
  * the same checkpoint-truncated lineage. `iters` bounds path length:
  * iters ≥ graph diameter ⇒ exact distances; fewer ⇒ best-within-k-hops
  * (the bounded-exploration mode a 100 TB graph actually runs).
  */
object ShortestPath {

  /** @param edges (src, dst, cost) — non-negative long costs.
    * @param source the source node value.
    * @param iters  relaxation rounds (path-length bound).
    */
  def sssp(edges: DataFrame, source: Column, iters: Int): DataFrame = Checkpoint.scope {
    require(iters >= 0, "iters must be non-negative")
    val ed = Checkpoint(edges.toDF("src", "dst", "cost") // reused every round
      .select(col("src"), col("dst"), col("cost").cast("long").as("cost")))
    val nd = Checkpoint(ed.select(col("src").as("node"))
      .union(ed.select(col("dst").as("node"))).distinct())
    var r = nd.select(col("node"),
      when(col("node") === source, 0L).otherwise(lit(null).cast("long"))
        .as("d"))
    for (_ <- 1 to iters) {
      val m = ed
        .join(r.select(col("node").as("src"), col("d")), "src")
        .filter(col("d").isNotNull)
        .groupBy(col("dst"))
        .agg(min(col("d") + col("cost")).as("md"))
      // truncate the iterative lineage
      r = Checkpoint.next(r,
        r.join(m.select(col("dst").as("node"), col("md")), Seq("node"), "left")
          .select(col("node"), least(col("d"), col("md")).as("d")))
    }
    r.select(col("node"), col("d").cast("long").as("min_cost"))
  }
}
