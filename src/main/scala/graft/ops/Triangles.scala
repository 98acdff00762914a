package graft.ops

import graft.Checkpoint
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import scala.collection.mutable

/** Exact triangle counting by degree orientation — the fourth graph
  * primitive beside connected components (Dedup's pointer-jumping),
  * PageRank and ShortestPath. Each undirected edge is oriented from its
  * lower-(degree, id) endpoint; (degree, id) is a total order, so the
  * oriented graph is a DAG and every triangle is enumerated exactly once
  * as a wedge at its minimum vertex closed by the oriented third edge.
  *
  * Scale shape: the wedge join's work is Σ_u d_out(u)², which the
  * orientation bounds by O(m^1.5) independent of hub degree (the classic
  * arboricity argument) — a raw join on either endpoint would be
  * Σ d(u)², quadratic in the hottest hub. Three equi-joins, no window,
  * exact BIGINT arithmetic end to end; the input pair frame and the
  * oriented frame are multi-consumer, so both are materialized once
  * (house idiom: column pruning defeats ReuseExchange otherwise).
  */
object Triangles {

  /** @param pairs undirected edge list, one row per edge, columns
    *              (a, b) with a ≠ b and each {a, b} appearing once
    *              (canonical a < b is typical but not required).
    * @return one row: (n_triangles, n_wedges, clustering_coeff) where
    *         n_wedges counts unordered open+closed wedges Σ d(d-1)/2 and
    *         clustering_coeff = round(3·triangles / wedges, 6) (0.0 for
    *         a wedge-free graph).
    */
  def countWithCoefficient(pairs: DataFrame): DataFrame = Checkpoint.scope {
    val p = Checkpoint(pairs.toDF("a", "b"))
    // three equi-joins + two checkpoints over a pair set the dedup graphs
    // keep in the low thousands is fixed cost: run the IDENTICAL
    // degree-oriented enumeration on the driver (Long ids for the LongMaps)
    val local =
      if (!p.schema.fields.forall(_.dataType == LongType)) None
      else DriverSolve(p, Seq("a", "b"))(rows =>
        pairs.sparkSession.createDataFrame(
          java.util.Arrays.asList(localCount(rows)),
          StructType(Seq(StructField("n_triangles", LongType),
            StructField("n_wedges", LongType),
            StructField("clustering_coeff", DoubleType)))))
    local.getOrElse(loop(p))
  }

  /** [[countWithCoefficient]]'s distributed joins alone, never the driver
    * path. */
  private[graft] def countDistributed(pairs: DataFrame): DataFrame =
    Checkpoint.scope(loop(Checkpoint(pairs.toDF("a", "b"))))

  /** Same (degree, id) orientation, same (dv,v)<(dw,w) wedge order, same
    * oriented-edge closing test, same Σ d(d−1)/2 wedge total, and the
    * coefficient through the same HALF_UP 6-decimal rounding Spark's
    * round() applies.
    */
  private def localCount(rows: Array[Row]): Row = {
    val deg = mutable.LongMap.empty[Long].withDefaultValue(0L)
    rows.foreach { r =>
      deg(r.getLong(0)) += 1L; deg(r.getLong(1)) += 1L
    }
    val out = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    rows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      val aFirst = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
      val (s, d) = if (aFirst) (a, b) else (b, a)
      out.getOrElseUpdate(s, mutable.ArrayBuffer.empty[Long]) += d
    }
    // tri = Σ_s Σ_{v∈out(s), with multiplicity} |out(s) ∩ out(v)|, where
    // the intersect counts out(s)-side multiplicity, out(v) membership as
    // a set, and SKIPS w == v (a self-loop puts (v, v) in the oriented
    // lists; the distributed wedge filter dv<dw||(dv==dw&&v<w) rejects
    // it), via one sorted merge walk per wedge list pair
    val sortedOut = mutable.LongMap.empty[Array[Long]]
    out.foreach { case (s, ds) => sortedOut(s) = ds.toArray.sorted }
    val empty = Array.empty[Long]
    def interCountExcl(a: Array[Long], b: Array[Long], excl: Long): Long = {
      var i = 0; var j = 0; var c = 0L
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else {
          val v = a(i)
          while (i < a.length && a(i) == v) {
            if (v != excl) c += 1L
            i += 1
          }
          while (j < b.length && b(j) == v) j += 1
        }
      }
      c
    }
    var tri = 0L
    sortedOut.foreach { case (_, ds) =>
      var i = 0
      while (i < ds.length) {
        tri += interCountExcl(ds, sortedOut.getOrElse(ds(i), empty), ds(i))
        i += 1
      }
    }
    val wed = deg.valuesIterator.map(d => (d * (d - 1)) / 2).sum
    val coeff =
      if (wed > 0)
        java.math.BigDecimal.valueOf(3.0 * tri / wed)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      else 0.0
    Row(tri, wed, coeff)
  }

  private def loop(p: DataFrame): DataFrame = {
    // consumed by orientation (×2) + wedge total
    val deg = Checkpoint(p.select(col("a").as("v"))
      .unionAll(p.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).cast("long").as("dg")))
    val withDeg = p
      .join(deg.select(col("v").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("dg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // consumed by both wedge sides + closing join
    val o = Checkpoint(withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd")))
    val x = o.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val y = o.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    val wedges = x.join(y, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("v"), col("w"))
    // left_semi keeps per-wedge multiplicity (one row per distinct wedge);
    // it tests "does the closing oriented edge exist", it does not dedup
    val tri = wedges
      .join(o.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val wed = deg.agg(coalesce(sum(expr("(dg*(dg-1)) DIV 2")), lit(0L))
      .cast("long").as("n_wedges"))
    tri.crossJoin(broadcast(wed))
      .select(col("n_triangles"), col("n_wedges"),
        round(when(col("n_wedges") > 0,
            lit(3.0) * col("n_triangles") / col("n_wedges"))
          .otherwise(lit(0.0)), 6).as("clustering_coeff"))
  }
}
