package graft.ops

import graft.Checkpoint
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.collection.mutable

/** Weighted PageRank in EXACT integer arithmetic — the iterative-graph
  * operator family beyond connected components (Dedup's pointer-jumping).
  *
  * Ranks live in integer `scale` units (default pico: 10¹²). Damping is
  * the exact rational 17/20 = 0.85, and every per-edge share is an
  * integral division, so the result is bit-identical on any engine that
  * mirrors the fold — no float convergence tolerance, which is what lets
  * a fixed-iteration run be hash-gated against an unrolled SQL oracle
  * (EventQueries g1). Floor losses are bounded: each node loses < 1 unit
  * per division, so total mass stays within |V|·(iters+1) + |E|·iters of
  * `scale` — at pico scale, a relative error < 1e-6 for any graph under
  * a million elements per iteration.
  *
  * Scale shape: per iteration, ONE join of the edge frame against the
  * |V|-sized rank frame (edges shuffle-partitioned by src — or broadcast
  * the rank frame when |V| is small, as with a label/category graph) and
  * ONE groupBy(dst) aggregation. Rank frames are `localCheckpoint`ed per
  * iteration — the d7 iterative-lineage contract: without truncation the
  * plan doubles per round and the 10th iteration replays the 1st.
  * Dangling nodes (no out-edges) leak their damped mass by design — the
  * classic simplification; redistribute explicitly if the graph has
  * significant sinks.
  */
object PageRank {

  /** @param edges frame with columns (src, dst, w) — positive long weights.
    * @param iters fixed iteration count (unroll depth of the oracle).
    * @param scale rank unit denominator; ranks sum to ~scale.
    */
  def ranks(edges: DataFrame, iters: Int,
            scale: Long = 1000000000000L): DataFrame = Checkpoint.scope {
    val ed = withOutWeights(edges, iters)
    // a label/category graph is a handful of nodes, yet each iteration
    // pays a checkpointed join + aggregate: run the IDENTICAL integer
    // recurrence on the driver (same floor divisions in the same order on
    // the same longs ⇒ bit-identical ranks). Its output stamps src's type
    // on the node column ([[withOutWeights]] holds dst to the same type).
    val nodeType = ed.schema("src").dataType
    val local = DriverSolve(ed, ed.columns.toSeq)(rows =>
      ed.sparkSession.createDataFrame(localRanks(rows, iters, scale),
        StructType(Seq(StructField("node", nodeType),
          StructField("rank_scaled", LongType)))))
    local.getOrElse(loop(ed, iters, scale))
  }

  /** [[ranks]]' distributed loop alone, never the driver path. */
  private[graft] def ranksDistributed(edges: DataFrame, iters: Int,
                                      scale: Long = 1000000000000L): DataFrame =
    Checkpoint.scope(loop(withOutWeights(edges, iters), iters, scale))

  /** (src, dst, w, outw), checkpointed: reused every iteration. */
  private def withOutWeights(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val ed0 = edges.toDF("src", "dst", "w")
    // a type mismatch would otherwise fail inside a task, on the first
    // join or cast between the two endpoint columns
    require(ed0.schema("src").dataType == ed0.schema("dst").dataType,
      s"edge endpoint types differ: ${ed0.schema("src").dataType} vs " +
        s"${ed0.schema("dst").dataType}")
    val ow = ed0.groupBy(col("src"))
      .agg(sum(col("w")).cast("long").as("outw"))
    // LEFT join: an inner join would drop NULL-src rows before the driver
    // solve's guard could see them. The loop is unchanged by it (the
    // contrib join on `src` is null-unsafe either way, and a NULL outw
    // NULL-propagates the contribution exactly as absence did).
    Checkpoint(ed0.join(ow, Seq("src"), "left")
      .select(col("src"), col("dst"), col("w").cast("long").as("w"),
        col("outw")))
  }

  private def localRanks(rows: Array[Row], iters: Int,
                         scale: Long): java.util.List[Row] = {
    val nodeSet = mutable.LinkedHashSet.empty[Any]
    rows.foreach { r => nodeSet += r.get(0); nodeSet += r.get(1) }
    val nn = nodeSet.size.toLong
    var r0 = mutable.AnyRefMap.empty[AnyRef, Long]
    nodeSet.foreach(n => r0(n.asInstanceOf[AnyRef]) = scale / nn)
    for (_ <- 1 to iters) {
      val contrib = mutable.AnyRefMap.empty[AnyRef, Long]
      rows.foreach { e =>
        val src = e.get(0).asInstanceOf[AnyRef]
        val dst = e.get(1).asInstanceOf[AnyRef]
        val c = (((17L * r0(src)) / 20L) * e.getLong(2)) / e.getLong(3)
        contrib(dst) = contrib.getOrElse(dst, 0L) + c
      }
      val base = (3L * scale) / (20L * nn)
      val next = mutable.AnyRefMap.empty[AnyRef, Long]
      nodeSet.foreach { n0 =>
        val n = n0.asInstanceOf[AnyRef]
        next(n) = base + contrib.getOrElse(n, 0L)
      }
      r0 = next
    }
    val out = new java.util.ArrayList[Row](nodeSet.size)
    nodeSet.foreach(n => out.add(Row(n, r0(n.asInstanceOf[AnyRef]))))
    out
  }

  private def loop(ed: DataFrame, iters: Int, scale: Long): DataFrame = {
    val nodes = ed.select(col("src").as("node"))
      .union(ed.select(col("dst").as("node"))).distinct()
    val nn = nodes.agg(count(lit(1)).cast("long").as("nn"))
    val nd = Checkpoint(nodes.crossJoin(broadcast(nn)))
    var r = nd.select(col("node"), col("nn"),
      expr(s"$scale DIV nn").as("r"))
    for (_ <- 1 to iters) {
      val contrib = ed
        .join(r.select(col("node").as("src"), col("r")), "src")
        .select(col("dst"),
          expr("(((17 * r) DIV 20) * w) DIV outw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("insum"))
      // truncate the iterative lineage
      r = Checkpoint.next(r, nd.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), col("nn"),
          (expr(s"(3 * $scale) DIV (20 * nn)") +
            coalesce(col("insum"), lit(0L))).as("r")))
    }
    r.select(col("node"), col("r").cast("long").as("rank_scaled"))
  }
}
