package graft.sim

import graft.Checkpoint
import graft.fns.Fns
import graft.ops.DriverSolve
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * `bruteForceKnn` is the exact baseline: broadcast the query vector, one
  * codegen'd projection computing cosine, then TakeOrderedAndProject for
  * the top-k — a single scan, no shuffle of the corpus. At 100 TB this is
  * still the right *verification* path; the serving path is `lshAnn`,
  * which prunes the scan to LSH buckets (random-hyperplane signs) so each
  * query touches corpus_size / 2^nBits candidates in expectation.
  */
object Similarity {

  /** Exact top-k by cosine against the vector with id `queryVecId`.
    * Ordering is on the 6-decimal-rounded cosine with vec_id tie-break —
    * total and engine-portable (QDef determinism contract).
    */
  def bruteForceKnn(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    // query norm computed once on the broadcast side, not per corpus row;
    // cos = dot/(|v|·|q|) keeps the same double-op order as cosineSim, so
    // results stay bit-identical to the oracle formulation
    val q = emb.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"),
        sqrt(Fns.dot(col("embedding"), col("embedding"))).as("q_norm"))
    emb.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(Fns.dot(col("embedding"), col("qv")) /
          (sqrt(Fns.dot(col("embedding"), col("embedding"))) * col("q_norm")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Metadata-filtered KNN (the vector-store "pre-filter" shape): restrict
    * the corpus to `allowed` ids (one column, `vec_id`) with a semi-join
    * BEFORE ranking, then brute-force cosine top-k as [[bruteForceKnn]].
    * Pre-filtering beats post-filtering top-k when the predicate is
    * selective — k survivors are guaranteed, and the ranking work scales
    * with the allowed subset, not the corpus. AQE broadcasts the semi-join
    * side when the allowed set is small.
    */
  def filteredKnn(emb: DataFrame, allowed: DataFrame, queryVecId: Long,
                  k: Int): DataFrame = {
    val q = emb.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"),
        sqrt(Fns.dot(col("embedding"), col("embedding"))).as("q_norm"))
    emb.join(allowed.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(Fns.dot(col("embedding"), col("qv")) /
          (sqrt(Fns.dot(col("embedding"), col("embedding"))) * col("q_norm")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** BATCH exact KNN — the real serving shape: a query SET (one row per
    * `query_id` with its vector) scored against the corpus, top-k per
    * query. The query frame broadcasts (it is the small side by
    * definition); corpus norms are computed ONCE per corpus row in the
    * scan projection (not once per (query, row) pair), so the pair stage
    * is one codegen'd dot per (query, row); per-query top-k is a single
    * window shuffle on the query key — |corpus|·|queries| rows through
    * one exchange. That linear-in-queries cost IS exact batch retrieval;
    * when the query set stops being broadcastable, route through the
    * [[lshAnn]]/[[ivfAnn]] bucket path instead. Ordering inside each
    * query matches sim1's contract: (rounded cosine desc, vec_id) —
    * total and engine-portable.
    */
  def batchKnn(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qn = queries.select(col("query_id"), col("qv"),
      sqrt(Fns.dot(col("qv"), col("qv"))).as("q_norm"))
    val cn = emb.select(col("vec_id"), col("label"), col("embedding"),
      sqrt(Fns.dot(col("embedding"), col("embedding"))).as("c_norm"))
    val scored = cn.crossJoin(broadcast(qn))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(Fns.dot(col("embedding"), col("qv")) /
          (col("c_norm") * col("q_norm")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Symmetric int8 quantization of the embedding column (vector-store
    * serving prep: 4× smaller vectors, SIMD-friendly integer dots at
    * serve time): per vector, scale = max|x|/127 and
    * code_i = clamp(⌊x_i/scale + 0.5⌋, ±127). One scan-fused projection
    * through the native codegen'd [[graft.expr.QuantizeI8]] (a
    * `transform` HOF here would pay interpreted per-element lambdas —
    * the corpus-scale cliff). Fully deterministic: max/divide/floor on
    * identical doubles are identical on every engine, so the `sim6` gate
    * hash-checks the scale and the code checksums.
    */
  def quantizeEmbeddings(emb: DataFrame): DataFrame = {
    val q = graft.expr.TextStatsExpressions.quantizeI8(col("embedding"))
    emb.select(col("vec_id"), col("label"),
      q.getField("scale").as("scale"),
      q.getField("codes").as("codes"))
  }

  /** Serve-time KNN over the int8-quantized corpus: rank by the cosine of
    * the QUANTIZED vectors — `intdot(a, b) / (√intdot(a,a)·√intdot(b,b))`
    * — where the per-vector scales cancel algebraically, so the score is
    * derived entirely from exact integer dots (engine-portable by
    * construction; the `sim7` gate hash-checks every score against the
    * SQL-requantized mirror). This is the 4×-smaller, integer-SIMD
    * serving path the quantization exists for; SimilaritySpec measures
    * its recall against the exact float ranking. Same plan shape as
    * [[bruteForceKnn]]: quantize fuses into the scan, query broadcast,
    * TakeOrderedAndProject top-k.
    */
  def quantizedKnn(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    import graft.expr.TextStatsExpressions.{dotI8, quantizeI8}
    val qz = emb.select(col("vec_id"), col("label"),
      quantizeI8(col("embedding")).getField("codes").as("codes"))
    val q = qz.where(col("vec_id") === queryVecId)
      .select(col("codes").as("qc"),
        sqrt(dotI8(col("codes"), col("codes")).cast("double")).as("q_norm"))
    qz.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(dotI8(col("codes"), col("qc")).cast("double") /
          (sqrt(dotI8(col("codes"), col("codes")).cast("double")) * col("q_norm")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // Deterministic hyperplane weights from splitmix64 — computed once at
  // plan time and embedded as array literals, so the per-row work is just
  // nBits fused dot products (no per-row-per-dim hashing). private[graft]
  // so the DuckDB oracle (DocQueries sim2) can embed the SAME literals.
  private[graft] def hyperplanes(nBits: Int, dim: Int): Seq[Seq[Double]] = {
    def splitmix(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until nBits).map { i =>
      (0 until dim).map { d =>
        (math.floorMod(splitmix(i.toLong * 1000003L + d), 2001L) - 1000L) / 1000.0
      }
    }
  }

  /** Random-hyperplane LSH bucket id (nBits sign bits). Deterministic, no
    * stored model. Pure expressions; the bucket computation fuses into the
    * scan and the bucket column is what you'd z-order/bucket the parquet
    * layout by at scale.
    */
  def lshBucket(embedding: Column, nBits: Int, dim: Int): Column = {
    // hyperplane weights as float literals + the native codegen'd dot —
    // the aggregate∘zip_with HOF form drops out of whole-stage codegen
    // (~10x slower), and this runs once per corpus row on the scan
    val bits = hyperplanes(nBits, dim).zipWithIndex.map { case (w, i) =>
      val proj = graft.expr.VectorExpressions.dotF(
        typedlit(w.map(_.toFloat)), embedding)
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** IVF-style ANN: a k-means coarse quantizer partitions the corpus into
    * nCentroids inverted lists; a query scans only the nProbe lists whose
    * centroids are nearest. Centroids are tiny (nCentroids × dim floats) so
    * they live on the driver and broadcast — the corpus-side work is one
    * assignment pass (scan + broadcast argmin), and at serving time the
    * bucket column is the partition/bucketing key, so each query reads
    * ~corpus·nProbe/nCentroids rows.
    *
    * Lloyd's iterations run as distributed groupBy-means; deterministic
    * seeding (every ⌈n/k⌉-th vector by id) keeps results reproducible.
    * The mean update sums FLOOR-SCALED INTEGERS (⌊x·10⁹⌋ as long) rather
    * than doubles: integer addition is associative, so the centroid is
    * bit-identical under any partitioning/engine (the ~1e-9 quantization
    * is noise for a coarse quantizer) — that determinism is what lets the
    * `sim3c` gate hash-check a full unrolled Lloyd round in SQL, not just
    * the iters=0 assignment slice (`sim3b`).
    */
  def ivfAnn(emb: DataFrame, queryVecId: Long, k: Int,
             nCentroids: Int = 16, nProbe: Int = 2, iters: Int = 3): DataFrame =
    // iters = 0 trains nothing, so a driver copy would only serve the
    // query lookup — not worth its probe
    ivfAnnWith(emb, queryVecId, k, nCentroids, nProbe, iters,
      if (iters >= 1) localVecs(emb) else None)

  /** [[ivfAnn]] on a given [[localVecs]] result; None is the distributed
    * twin. One driver copy serves the trainer AND the query lookup; the
    * serving scan stays distributed either way.
    */
  private[graft] def ivfAnnWith(emb: DataFrame, queryVecId: Long, k: Int,
                                nCentroids: Int, nProbe: Int, iters: Int,
                                lv: Option[Array[(Long, Array[Float])]])
      : DataFrame = {
    val vecs = emb.select(col("vec_id"), col("label"), col("embedding"))
    val centroids = ivfTrainWith(emb, nCentroids, iters, lv)
    val assigned = vecs.withColumn("cid", ivfAssignExpr(centroids))
    val qMatches = lv.map(_.filter(_._1 == queryVecId)).getOrElse(
      Array.empty[(Long, Array[Float])])
    if (qMatches.length == 1) {
      // probe set: nProbe centroids nearest to the query vector; the
      // single query row rides the plan as a literal of the same floats
      val qVec = qMatches(0)._2
      val probeCids = nearestCids(centroids, qVec, nProbe)
      assigned.where(col("vec_id") =!= queryVecId &&
          col("cid").isin(probeCids: _*))
        .select(col("vec_id"), col("label"),
          round(Fns.cosineSim(col("embedding"), typedlit(qVec.toSeq)), 6)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(k)
    } else {
      // no copy, or a degenerate corpus with duplicate query vec_ids —
      // the original plan, whose cross join multiplies the candidates by
      // every matching query row (kept bit-identical for that case)
      val q = assigned.where(col("vec_id") === queryVecId)
        .select(col("embedding").as("qv"), col("cid").as("q_cid"))
      val qVec = q.collect()(0).getSeq[Float](0).toArray
      val probeCids = nearestCids(centroids, qVec, nProbe)
      assigned.where(col("vec_id") =!= queryVecId &&
          col("cid").isin(probeCids: _*))
        .crossJoin(broadcast(q.select(col("qv"))))
        .select(col("vec_id"), col("label"),
          round(Fns.cosineSim(col("embedding"), col("qv")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** Driver copy of the embedding corpus for the IVF/PQ TRAINING
    * recurrences, through [[DriverSolve]]: the k-means/PQ codebook
    * updates are tiny-state loops, but each distributed round pays a
    * corpus scan + a dim-exploded shuffle + a collect of the reduced sums.
    * Everything SERVED from the trained artifacts (assignment, encode,
    * ADC, top-k) stays the distributed scan. None on a non-(long,
    * array<float>) schema, or wherever [[DriverSolve]] declines (NULL or
    * non-finite values, whose array_min ordering only the distributed
    * arithmetic is trusted with).
    */
  private[graft] def localVecs(emb: DataFrame)
      : Option[Array[(Long, Array[Float])]] = {
    val types = emb.schema.fields.map(f => f.name -> f.dataType).toMap
    (types.get("vec_id"), types.get("embedding")) match {
      case (Some(LongType), Some(ArrayType(FloatType, _))) =>
        DriverSolve(emb, Seq("vec_id", "embedding"))(
          _.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
      case _ => None
    }
  }

  /** Deterministic IVF coarse-quantizer training — factored so
    * [[ivfAnn]] and [[ivfPqKnn]] share one trainer: stride-seeded
    * centroids (every 16th vector by id) refined by `iters` Lloyd
    * rounds. See [[ivfAnn]] for the integer-scaled mean determinism
    * argument. Distributed path: one corpus scan + reduced collect per
    * round (only the nCentroids × dim centroid matrix is ever
    * collected). Local path (on a [[localVecs]] corpus copy, or on a
    * caller-provided `pre` copy): the IDENTICAL recurrence — same
    * every-16th-by-id seeding, same assignment arithmetic (the
    * ‖c‖² − 2·c·x argmin with array_min's strict (dist, cid) order,
    * centroid norms hoisted once per round), same per-(cid, d) ⌊x·10⁹⌋
    * long sums and count in any order (long adds are associative), same
    * sx/(n·10⁹) double mean, empty clusters and missing dimensions
    * behaving exactly as the distributed fold (zero-filled mean for a
    * cid with any surviving dimension row, previous centroid for a cid
    * with none) ⇒ bit-identical centroids. SimilaritySpec and
    * DriverSolveSpec pin the equivalence against `ivfTrainWith(…, None)`.
    */
  private[graft] def ivfTrain(emb: DataFrame, nCentroids: Int,
                              iters: Int): Array[(Int, Array[Double])] =
    ivfTrainWith(emb, nCentroids, iters,
      if (iters >= 1) localVecs(emb) else None)

  /** [[ivfTrain]] on a caller-provided [[localVecs]] result — callers
    * that already probed (ivfAnn, ivfPqKnn) pass it through so a
    * declined corpus is not probed a second time. None is the
    * distributed twin.
    */
  private[graft] def ivfTrainWith(emb: DataFrame, nCentroids: Int,
                                  iters: Int,
                                  lv: Option[Array[(Long, Array[Float])]])
      : Array[(Int, Array[Double])] = {
    // the distributed init's encoder requires an Int label column; the
    // local path must not succeed where the distributed one throws
    // (path-dependent behavior), so any other label shape falls through
    val labelIntOk = emb.schema.fields.exists(f =>
      f.name == "label" &&
        f.dataType == org.apache.spark.sql.types.IntegerType)
    lv match {
      // vectors longer than the seed dimension would throw in the
      // distributed mean fold (mean(d) is seed-dim-sized); keep that
      // degenerate shape on the distributed path rather than mirror it
      case Some(vs) if labelIntOk && vs.nonEmpty &&
          vs.forall(_._2.length <= vs.minBy(_._1)._2.length) =>
        return ivfTrainLocal(vs, nCentroids, iters)
      case _ =>
    }
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col("vec_id"), col("label"), col("embedding"))
    // deterministic init: every stride-th vector by id order
    var centroids: Array[(Int, Array[Double])] = vecs
      .orderBy("vec_id").limit(nCentroids * 16)
      .as[(Long, Int, Array[Float])].collect()
      .zipWithIndex.collect { case ((_, _, v), i) if i % 16 == 0 => v }
      .take(nCentroids)
      .zipWithIndex.map { case (v, cid) => (cid, v.map(_.toDouble)) }
    for (_ <- 0 until iters) {
      val assigned = vecs.withColumn("cid", ivfAssignExpr(centroids))
      val dim = centroids.head._2.length
      val sums = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy(col("cid"), col("d"))
        .agg(sum(floor(col("x").cast("double") * lit(1e9)).cast("long")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val byCid = sums.groupBy(_.getInt(0))
      centroids = centroids.map { case (cid, old) =>
        byCid.get(cid) match {
          case Some(rows) =>
            val mean = new Array[Double](dim)
            rows.foreach(r =>
              mean(r.getInt(1)) = r.getLong(2).toDouble / (r.getLong(3) * 1e9))
            (cid, mean)
          case None => (cid, old) // empty list keeps its centroid
        }
      }
    }
    centroids
  }

  /** The local Lloyd loop behind [[ivfTrain]] — see its scaladoc for the
    * bit-identity argument. Package-private so the equivalence spec can
    * drive it directly.
    */
  private[graft] def ivfTrainLocal(vs: Array[(Long, Array[Float])],
                                   nCentroids: Int, iters: Int)
      : Array[(Int, Array[Double])] = {
    val sorted = vs.sortBy(_._1)
    var centroids: Array[(Int, Array[Double])] = sorted
      .take(nCentroids * 16)
      .zipWithIndex.collect { case ((_, v), i) if i % 16 == 0 => v }
      .take(nCentroids)
      .zipWithIndex.map { case (v, cid) => (cid, v.map(_.toDouble)) }
    for (_ <- 0 until iters) {
      val dim = centroids.head._2.length
      val nC = centroids.length
      // per (cid, d): Σ ⌊x·10⁹⌋ as long + row count, exactly the
      // distributed aggregate's cells (a vector shorter than d+1
      // contributes to neither, like posexplode)
      val sx = Array.fill(nC)(new Array[Long](dim))
      val cnt = Array.fill(nC)(new Array[Long](dim))
      // loop-invariant per round: the float-cast centroids and their
      // norms, exactly what ivfAssignExpr embeds once as literals
      // (centroid index == cid by construction)
      val cf = centroids.map(_._2.map(_.toFloat))
      val cNormSq = cf.map(_.map(x => x.toDouble * x.toDouble).sum)
      vs.foreach { case (_, v) =>
        // the same ‖c‖² − 2·c·x distance and strict-less walk as
        // array_min's (dist, cid) struct order (ties keep the smaller
        // cid; a NaN first distance is kept exactly as array_min
        // sorting NaN last would — localVecs excludes non-finite
        // values anyway)
        var ci = 0
        var bestD = Double.NaN
        var first = true
        var c = 0
        while (c < nC) {
          val d = cNormSq(c) - 2.0 * dotD(cf(c), v)
          if (first || d < bestD) { bestD = d; ci = c; first = false }
          c += 1
        }
        var d = 0
        val n = math.min(v.length, dim)
        while (d < n) {
          sx(ci)(d) += math.floor(v(d).toDouble * 1e9).toLong
          cnt(ci)(d) += 1L
          d += 1
        }
      }
      centroids = centroids.zipWithIndex.map { case ((cid, old), ci) =>
        var any = false
        var d = 0
        while (d < dim && !any) { any = cnt(ci)(d) > 0L; d += 1 }
        if (any) {
          val mean = new Array[Double](dim)
          d = 0
          while (d < dim) {
            if (cnt(ci)(d) > 0L)
              mean(d) = sx(ci)(d).toDouble / (cnt(ci)(d) * 1e9)
            d += 1
          }
          (cid, mean)
        } else (cid, old) // empty cluster keeps its centroid
      }
    }
    centroids
  }

  /** Staged per-batch IVF-assignment row schema (explicit: a
    * footer-less first read must not choke inference — the d9
    * discipline). */
  private def assignStoreSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("cid", IntegerType), StructField("batch_id", LongType)))
  }

  /** One micro-batch of the MAINTAINED IVF assignment store (sim16) —
    * the serving-index upkeep the one-shot [[ivfAnn]] implies but never
    * materializes: arriving vectors are assigned against the FROZEN
    * trained centroids (scan + broadcast argmin, the [[ivfAssignExpr]]
    * plan — no re-train, no re-assign of the existing corpus) and the
    * batch's `(vec_id, cid)` rows land in their own `batch_id`
    * partition via dynamic overwrite, so at-least-once replays are
    * no-ops (the crawl-ingest convention). Re-training the quantizer
    * stays a deliberate act (the c40/c41 decision convention), exactly
    * like d12d's labels vs d12c's recompute. `batch` must carry
    * `(vec_id, embedding)`.
    */
  def ivfAssignBatch(batch: DataFrame, batchId: Long,
                     centroids: Array[(Int, Array[Double])],
                     storePath: String): Unit =
    batch.select(col("vec_id"), ivfAssignExpr(centroids).as("cid"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storePath)

  /** Streaming wrapper: maintain the assignment store per micro-batch
    * ([[ivfAssignBatch]] in `foreachBatch` — the exposed body makes
    * replay idempotence directly spec-testable).
    */
  def ivfIngest(raw: DataFrame, centroids: Array[(Int, Array[Double])],
                storePath: String,
                queryName: String = "graft_ivf_assign")
      : org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream.queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ivfAssignBatch(batch, batchId, centroids, storePath)
      }.start()

  /** The inverted-list membership over an ingested store — each vector
    * assigned in exactly one batch, so the union of staged rows IS the
    * frozen-centroid assignment of the whole ingested corpus (the
    * sim16 gate hash-matches the unrolled Lloyd oracle's `assigned`
    * table). At serving time this is the `cid IN probe-list` read.
    */
  def assignmentsFromStore(spark: org.apache.spark.sql.SparkSession,
                           storePath: String): DataFrame =
    spark.read.schema(assignStoreSchema).parquet(storePath)
      .select(col("vec_id"), col("cid"))

  /** RE-TRAIN trigger over the maintained assignment store (sim17 —
    * the c40/c41 decision convention completing the sim family): per
    * centroid, compare the LATEST batch's assignment SHARE (permille)
    * against the all-batches cumulative share and emit `retrain` when
    * it moved at least `bandPermille` either way — the quantizer is
    * stale when arriving data stops distributing like the data it was
    * trained on. A centroid absent from the latest batch has NULL
    * recent share → NULL delta → `hold` (no evidence is not drift, the
    * c41 rule; a centroid the corpus abandoned will drag every OTHER
    * share up past the band instead). Cost: two map-side-combined
    * reduces over the ≤assignments-row store; totals and the 1-row
    * latest-batch scalar enter as broadcasts. The latest batch is
    * computed INSIDE the plan (the c41 broadcast-latest convention),
    * not collected at build time: cumulative and recent shares always
    * come from the SAME store snapshot — a build-time max could
    * silently compare fresh totals against a stale batch — and a
    * missing store path surfaces lazily like any other read. (The
    * snapshot itself is pinned by the parquet read's file listing, as
    * for any path read: build a fresh panel to see newer batches.)
    */
  def ivfDriftDecision(spark: org.apache.spark.sql.SparkSession,
                       storePath: String, bandPermille: Long): DataFrame = {
    require(bandPermille >= 0, s"band must be >= 0: $bandPermille")
    val st = spark.read.schema(assignStoreSchema).parquet(storePath)
    val all = st.groupBy(col("cid")).agg(count(lit(1)).as("n_all"))
    val ga = all.agg(sum(col("n_all")).as("__tot"))
    val latest = st.agg(max(col("batch_id")).as("__mb"))
    val recent = st.crossJoin(broadcast(latest))
      .filter(col("batch_id") <=> col("__mb"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n_recent"))
    val gr = recent.agg(sum(col("n_recent")).as("__totr"))
    all.crossJoin(broadcast(ga))
      .join(recent, Seq("cid"), "left")
      .crossJoin(broadcast(gr))
      .select(col("cid"), col("n_all"),
        expr("(n_all * 1000) div __tot").as("share_all_permille"),
        expr("(n_recent * 1000) div __totr").as("share_recent_permille"))
      .withColumn("delta_permille",
        col("share_recent_permille") - col("share_all_permille"))
      .withColumn("action",
        when(abs(col("delta_permille")) >= bandPermille, lit("retrain"))
          .otherwise(lit("hold")))
  }

  /** Argmin over centroid distances, unrolled per centroid (few).
    * ‖x−c‖² = ‖x‖² + ‖c‖² − 2·c·x and ‖x‖² is constant across centroids,
    * so rank by ‖c‖² − 2·c·x: the centroid norm folds to a literal and
    * the dot product is the native codegen'd expression — a nested
    * aggregate∘zip_with HOF here falls out of whole-stage codegen
    * (measured ~10x slower; the reason DotProductF exists).
    */
  private[graft] def ivfAssignExpr(
      cs: Array[(Int, Array[Double])]): Column = {
    val dists = cs.map { case (cid, c) =>
      val cf = c.map(_.toFloat)
      val cNormSq = cf.map(v => v.toDouble * v.toDouble).sum
      struct(
        (lit(cNormSq) - lit(2.0) *
          graft.expr.VectorExpressions.dotF(typedlit(cf.toSeq), col("embedding")))
          .as("dist"),
        lit(cid).as("cid"))
    }
    array_min(array(dists.toIndexedSeq: _*)).getField("cid")
  }

  /** The `nProbe` centroid ids nearest to the query (exact double
    * distances over the collected centroid matrix — driver-side, tiny;
    * ties resolve by centroid order, which [[ivfTrain]] keeps ascending).
    */
  private[graft] def nearestCids(cs: Array[(Int, Array[Double])],
                                 qVec: Array[Float], nProbe: Int): Seq[Int] = {
    val qd = qVec.map(_.toDouble)
    cs.map { case (cid, c) =>
      val d = c.zip(qd).map { case (a, b) => (a - b) * (a - b) }.sum
      (d, cid)
    }.sortBy(_._1).take(nProbe).map(_._2).toSeq
  }

  /** BATCH LSH ANN: [[lshAnn]] generalized to a query set — corpus
    * bucketed once in the scan projection, queries (with their buckets)
    * broadcast, Hamming-≤1 multi-probe filter, exact-cosine rank, top-k
    * per query through one window shuffle. The candidate filter drops
    * the pair stage to |corpus|·|queries|·(nBits+1)/2^nBits expected
    * rows BEFORE the shuffle.
    */
  def batchLshAnn(emb: DataFrame, queries: DataFrame, k: Int, nBits: Int,
                  dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = emb.select(col("vec_id"), col("label"), col("embedding"),
      lshBucket(col("embedding"), nBits, dim).as("bucket"),
      sqrt(Fns.dot(col("embedding"), col("embedding"))).as("c_norm"))
    val qn = queries.select(col("query_id"), col("qv"),
      lshBucket(col("qv"), nBits, dim).as("q_bucket"),
      sqrt(Fns.dot(col("qv"), col("qv"))).as("q_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.crossJoin(broadcast(qn))
      .where(col("vec_id") =!= col("query_id") &&
        bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= 1)
      .select(col("query_id"), col("vec_id"), col("label"),
        round(Fns.dot(col("embedding"), col("qv")) /
          (col("c_norm") * col("q_norm")), 6).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** ANN quality evaluation IN-ENGINE — the recall dashboard a serving
    * team runs before flipping traffic to the approximate path: for each
    * query in the set, recall@k of [[batchLshAnn]] against the exact
    * [[batchKnn]] ranking. Pure composition of the two gated operators
    * plus one key-grouped count, so the whole report is hash-gatable.
    * An LSH query whose probe buckets return fewer than k candidates
    * contributes its true (smaller) overlap — exactly what the dashboard
    * should show.
    */
  def annRecallReport(emb: DataFrame, queries: DataFrame, k: Int,
                      nBits: Int, dim: Int = 64): DataFrame = {
    val exact = batchKnn(emb, queries, k).select(col("query_id"), col("vec_id"))
    val approx = batchLshAnn(emb, queries, k, nBits, dim)
      .select(col("query_id"), col("vec_id"))
    exact.join(approx, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      .join(queries.select(col("query_id")), Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
  }

  /** SemDeDup-style semantic dedup: LSH-bucket the corpus (random
    * hyperplane signs — the cluster stand-in; any coarse quantizer drops
    * into the same shape), compute within-bucket pairwise cosine, and drop
    * every vector that has a lower-id neighbor at cosine >= `threshold`
    * (greedy first-seen-wins, the standard "prune all but one embedding
    * per semantic cluster above the similarity knob" action). Candidate
    * generation is bucket-blocked — O(pairs per bucket), never
    * corpus-quadratic; at 100 TB the bucket column is the parquet layout
    * key, making the pair join partition-local. Returns the kept rows of
    * `emb` (lazy — corpus-sized output).
    */
  def semanticDedup(emb: DataFrame, nBits: Int, threshold: Double,
                    dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Fail fast on a dim mismatch: lshBucket projects onto `dim`-length
    // hyperplanes, so a wrong `dim` would silently truncate (or
    // zero-extend) every projection and mis-bucket the whole corpus —
    // wrong dedup groups with no oracle to catch it outside the d10 gate.
    // The check fuses into the scan (one size() compare per row).
    val checked = emb.withColumn("embedding",
      when(size(col("embedding")) === dim, col("embedding"))
        .otherwise(raise_error(concat(
          lit(s"semanticDedup: embedding length "), size(col("embedding")),
          lit(s" != dim=$dim — pass the actual vector length")))))
    val emb0 = checked
    // Exact-duplicate collapse first (the keepOneNearDup defense applied
    // to embeddings): identical vectors are cos=1 cliques, so only the
    // min-id member can survive and the pairwise stage shrinks by the
    // square of dup multiplicity — a replicated corpus stays linear
    // instead of melting the hottest bucket. Equivalent to the
    // uncollapsed greedy for any threshold <= 1 given non-zero vectors
    // (identical ZERO vectors have NaN cosine and would all survive
    // uncollapsed; here they collapse — the saner answer anyway).
    val reps = emb0.withColumn("__ern", row_number().over(
        Window.partitionBy(col("embedding")).orderBy(col("vec_id"))))
      .filter(col("__ern") === 1).drop("__ern")
    val bucketed = reps.withColumn("bucket", lshBucket(col("embedding"), nBits, dim))
    val droppedReps = graft.dedup.Dedup
      .embeddingNearDupPairs(bucketed, "bucket", threshold)
      .select(col("vec_b")).distinct()
    val keptReps = reps
      .join(droppedReps, reps("vec_id") === droppedReps("vec_b"), "left_anti")
    emb.join(keptReps.select(col("vec_id")), Seq("vec_id"), "left_semi")
  }

  /** Approximate top-k: candidates are vectors whose LSH bucket is within
    * Hamming distance 1 of the query's bucket (multi-probe over nBits+1
    * buckets), ranked by exact cosine. Expected candidate set:
    * corpus · (nBits+1) / 2^nBits.
    */
  def lshAnn(emb: DataFrame, queryVecId: Long, k: Int, nBits: Int,
             dim: Int = 64): DataFrame = {
    val withBucket = emb.withColumn("bucket", lshBucket(col("embedding"), nBits, dim))
    val q = withBucket.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"), col("bucket").as("q_bucket"),
        sqrt(Fns.dot(col("embedding"), col("embedding"))).as("q_norm"))
    withBucket.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .where(bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= 1)
      .select(col("vec_id"), col("label"),
        round(Fns.dot(col("embedding"), col("qv")) /
          (sqrt(Fns.dot(col("embedding"), col("embedding"))) * col("q_norm")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // ---------------------------------------------------------------- PQ --

  /** Seed subvector codebooks for product quantization: the ks vectors
    * with `vec_id < ks`, sliced into m contiguous subspaces. A bounded
    * collect (ks rows — the sim3 seed-sample precedent); Lloyd
    * refinement per subspace is the [[ivfAnn]] iteration applied to the
    * sliced frame and plugs into the same encode/serve path.
    * Returns `codebook(j)(c) = centroid c of subspace j`.
    */
  private[graft] def pqSeedCodebooks(emb: DataFrame, m: Int, subDim: Int,
                                     ks: Int): Array[Array[Array[Float]]] = {
    val seeds = emb.where(col("vec_id") < ks)
      .orderBy(col("vec_id"))
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    Array.tabulate(m)(j => seeds.map(_.slice(j * subDim, (j + 1) * subDim)))
  }

  /** [[pqSeedCodebooks]] off an already-collected corpus copy — the
    * identical `vec_id < ks`, id-ascending, Scala-slice construction.
    */
  private[graft] def pqSeedCodebooksLocal(vs: Array[(Long, Array[Float])],
                                          m: Int, subDim: Int,
                                          ks: Int): Array[Array[Array[Float]]] = {
    val seeds = vs.filter(_._1 < ks).sortBy(_._1).map(_._2)
    Array.tabulate(m)(j => seeds.map(_.slice(j * subDim, (j + 1) * subDim)))
  }

  // Strict left-to-right double fold — bit-identical to graft_dot and the
  // oracle's list_sum, so driver-side ADC tables match in-plan distances.
  private def dotD(x: Array[Float], y: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) { s += x(i).toDouble * y(i).toDouble; i += 1 }
    s
  }

  // ((|x|² − 2·x·c) + |c|²) — the shared squared-distance formulation;
  // both engines evaluate exactly this double-op sequence.
  private def sqDist(x: Array[Float], c: Array[Float]): Double =
    (dotD(x, x) - 2.0 * dotD(x, c)) + dotD(c, c)

  // (min-dist, centroid-index) struct for subspace j — the shared
  // ((|x|² − 2·x·c) + |c|²) double-op sequence, ties to the smallest c
  // via struct comparison. Scan-fused: slice + native dots, codegen'd.
  private def pqBest(j: Int, cbj: Array[Array[Float]],
                     subDim: Int): Column = {
    val xj = slice(col("embedding"), j * subDim + 1, subDim)
    val cands = cbj.indices.map { c =>
      val cv = typedlit(cbj(c).toSeq)
      val d = (Fns.dot(xj, xj) - lit(2.0) * Fns.dot(xj, cv)) +
        Fns.dot(cv, cv)
      struct(d.as("d"), lit(c).as("c"))
    }
    array_min(array(cands: _*))
  }

  private def pqEncodeWith(emb: DataFrame, cb: Array[Array[Array[Float]]],
                           m: Int, subDim: Int): DataFrame = {
    val bests = (0 until m).map(j => pqBest(j, cb(j), subDim))
    emb.select(col("vec_id"), col("label"),
      concat_ws(",", bests.map(_.getField("c").cast("string")): _*).as("codes"),
      bests.map(b => floor(b.getField("d") * lit(1000000.0)).cast("long"))
        .reduce(_ + _).as("qerr_micro"))
  }

  /** One Lloyd refinement round per subspace: assign every subvector to
    * its nearest centroid, then replace each centroid with the mean of
    * its assigned subvectors. The mean sums FLOOR-SCALED INTEGERS
    * (⌊x·10⁹⌋ as long — associative, partitioning/engine-independent;
    * the [[ivfAnn]] determinism trick) and the double mean narrows to
    * float exactly as the codebook stores it, so the refined codebook —
    * and everything encoded against it — is hash-checkable in SQL
    * (`sim9b`). An empty cluster keeps its previous centroid. The
    * per-round reduction is m·ks·subDim rows — bounded, driver-safe.
    */
  private[graft] def pqRefine(emb: DataFrame, cb: Array[Array[Array[Float]]],
                              m: Int, subDim: Int): Array[Array[Array[Float]]] = {
    val stacked = emb.select(
      explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          pqBest(j, cb(j), subDim).getField("c").as("c"),
          slice(col("embedding"), j * subDim + 1, subDim).as("xv"))): _*))
        .as("s"))
      .select(col("s.j").as("j"), col("s.c").as("c"),
        posexplode(col("s.xv")).as(Seq("d", "x")))
    val sums = stacked.groupBy(col("j"), col("c"), col("d"))
      .agg(sum(floor(col("x").cast("double") * lit(1e9)).cast("long")).as("sx"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    Array.tabulate(m) { j =>
      Array.tabulate(cb(j).length) { c =>
        Array.tabulate(subDim) { d =>
          sums.get((j, c, d)) match {
            case Some((sx, n)) => (sx.toDouble / (n * 1e9)).toFloat
            case None => cb(j)(c)(d) // empty cluster keeps its centroid
          }
        }
      }
    }
  }

  /** Driver mirror of [[pqRefine]] over a [[localVecs]] corpus copy: the
    * same per-subspace nearest-centroid assignment ([[sqDist]] is the
    * exact double-op sequence [[pqBest]] evaluates, ties to the smallest
    * centroid via strict-less on an ascending walk = array_min's
    * (d, c) struct order), the same per-(j, c, d) ⌊x·10⁹⌋ long sums
    * (order-independent), the same sx/(n·10⁹) double mean narrowed to
    * float, empty cells keeping the previous centroid value ⇒
    * bit-identical codebooks. SimilaritySpec pins the equivalence.
    */
  private[graft] def pqRefineLocal(vs: Array[(Long, Array[Float])],
                                   cb: Array[Array[Array[Float]]],
                                   m: Int, subDim: Int)
      : Array[Array[Array[Float]]] = {
    val sx = Array.tabulate(m)(j =>
      Array.fill(cb(j).length)(new Array[Long](subDim)))
    val cnt = Array.tabulate(m)(j =>
      Array.fill(cb(j).length)(new Array[Long](subDim)))
    vs.foreach { case (_, v) =>
      var j = 0
      while (j < m) {
        val xj = v.slice(j * subDim, j * subDim + subDim)
        var bc = 0
        var bd = Double.NaN
        var first = true
        var c = 0
        while (c < cb(j).length) {
          val d = sqDist(xj, cb(j)(c))
          if (first || d < bd) { bd = d; bc = c; first = false }
          c += 1
        }
        var d2 = 0
        while (d2 < xj.length) {
          sx(j)(bc)(d2) += math.floor(xj(d2).toDouble * 1e9).toLong
          cnt(j)(bc)(d2) += 1L
          d2 += 1
        }
        j += 1
      }
    }
    Array.tabulate(m) { j =>
      Array.tabulate(cb(j).length) { c =>
        Array.tabulate(subDim) { d =>
          if (cnt(j)(c)(d) > 0L)
            (sx(j)(c)(d).toDouble / (cnt(j)(c)(d) * 1e9)).toFloat
          else cb(j)(c)(d) // empty cell keeps its centroid value
        }
      }
    }
  }

  /** Product-quantization encode: split each embedding into m contiguous
    * subDim-length subspaces; per subspace store the index of the nearest
    * seed centroid (squared L2, ties to the smallest index). Output per
    * vector: the m-byte code word (serialized `"c,…,c"`) plus the exact
    * total quantization error in integer micro-units
    * (Σ_j floor(min_dist_j · 10⁶) — floor-scaling on bit-identical
    * doubles, the knife-edge-free gate discipline).
    *
    * Scale shape: the codebook is m·ks·subDim floats embedded as
    * literals, so encoding is ONE scan-fused codegen'd projection — no
    * shuffle, no join, nothing driver-side per row; m·ks native dot
    * products per vector. This is the memory-bound layout prep a 100 TB
    * vector store runs once per corpus.
    */
  def pqEncode(emb: DataFrame, m: Int = 4, subDim: Int = 16,
               ks: Int = 8): DataFrame =
    pqEncodeWith(emb, pqSeedCodebooks(emb, m, subDim, ks), m, subDim)

  /** [[pqEncode]] with `iters` Lloyd refinement rounds on the seed
    * codebooks first (k-means per subspace) — trained PQ. Every round is
    * one corpus scan plus a bounded m·ks·subDim reduction; the encode
    * stays the same scan-fused projection.
    */
  def pqEncodeTrained(emb: DataFrame, m: Int = 4, subDim: Int = 16,
                      ks: Int = 8, iters: Int = 1): DataFrame =
    pqEncodeTrainedWith(emb, m, subDim, ks, iters,
      if (iters >= 1) localVecs(emb) else None)

  /** [[pqEncodeTrained]] on a given [[localVecs]] result; None is the
    * distributed twin. A driver copy seeds and refines the codebooks
    * (bit-identical — see pqRefineLocal); the encode stays the
    * scan-fused distributed projection either way.
    */
  private[graft] def pqEncodeTrainedWith(emb: DataFrame, m: Int, subDim: Int,
      ks: Int, iters: Int, lv: Option[Array[(Long, Array[Float])]])
      : DataFrame =
    lv match {
      case Some(vs) =>
        var cb = pqSeedCodebooksLocal(vs, m, subDim, ks)
        for (_ <- 0 until iters) cb = pqRefineLocal(vs, cb, m, subDim)
        pqEncodeWith(emb, cb, m, subDim)
      case None =>
        var cb = pqSeedCodebooks(emb, m, subDim, ks)
        for (_ <- 0 until iters) cb = pqRefine(emb, cb, m, subDim)
        pqEncodeWith(emb, cb, m, subDim)
    }

  /** Asymmetric-distance (ADC) KNN over the PQ codes: the query stays
    * un-quantized; its squared distance to each centroid of each subspace
    * is precomputed (m·ks doubles, floor-scaled to exact micro ints), and
    * a corpus vector's approximate distance is the integer sum of its m
    * table entries — all knife-edge-free arithmetic. Same serving plan as
    * [[bruteForceKnn]]: encode and lookup fuse into one scan projection,
    * top-k via TakeOrderedAndProject; no shuffle touches the corpus.
    */
  def pqAdcKnn(emb: DataFrame, queryVecId: Long, m: Int = 4, subDim: Int = 16,
               ks: Int = 8, k: Int = 10): DataFrame = {
    val cb = pqSeedCodebooks(emb, m, subDim, ks)
    val qv = emb.where(col("vec_id") === queryVecId)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    emb.where(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label"),
        adcMicroCol(cb, qv, m, subDim).as("adc_micro"))
      .orderBy(col("adc_micro").asc, col("vec_id"))
      .limit(k)
  }

  /** The scan-fused ADC scoring column: encode `embedding` against the
    * codebooks and sum the query's precomputed per-(subspace, centroid)
    * floor-micro distance table — [[pqAdcKnn]]'s kernel, factored so
    * [[ivfPqKnn]] applies the identical arithmetic to a probed subset.
    */
  private[graft] def adcMicroCol(cb: Array[Array[Array[Float]]],
                                 qv: Array[Float], m: Int,
                                 subDim: Int): Column = {
    // adcTable(j)(c) = floor(sqDist(q_j, cb(j)(c)) · 10⁶) — exact ints
    val adcTable: Seq[Seq[Long]] = (0 until m).map { j =>
      val qj = qv.slice(j * subDim, (j + 1) * subDim)
      cb(j).toSeq.map(c => math.floor(sqDist(qj, c) * 1000000.0).toLong)
    }
    val bests = (0 until m).map { j =>
      val xj = slice(col("embedding"), j * subDim + 1, subDim)
      val cands = cb(j).indices.map { c =>
        val cv = typedlit(cb(j)(c).toSeq)
        val d = (Fns.dot(xj, xj) - lit(2.0) * Fns.dot(xj, cv)) +
          Fns.dot(cv, cv)
        struct(d.as("d"), lit(c).as("c"))
      }
      array_min(array(cands: _*)).getField("c")
    }
    (0 until m).map { j =>
      element_at(typedlit(adcTable(j)), bests(j) + 1)
    }.reduce(_ + _)
  }

  /** IVF-PQ composed search (sim13): the IVF coarse quantizer prunes the
    * corpus to the `nProbe` inverted lists nearest the query, then PQ
    * ADC ranks ONLY the probed candidates in the compressed domain —
    * the standard two-level ANN serving stack (here without residual
    * encoding: codes quantize the raw vectors, as in [[pqEncode]], so
    * the probed subset's ADC scores are exactly [[pqAdcKnn]]'s). At
    * scale: the centroid matrix and the m·ks ADC table are driver-side
    * literals; the corpus-side work is one scan projection (assign +
    * encode + table-sum fused), the probe filter prunes
    * 1 − nProbe/nCentroids of it, and top-k is TakeOrderedAndProject —
    * no shuffle ever touches the corpus. `iters = 1` keeps one full
    * hash-gated Lloyd round in the composition (the loop-count surface
    * is sim3/sim3c's).
    */
  def ivfPqKnn(emb: DataFrame, queryVecId: Long, k: Int = 10,
               nCentroids: Int = 16, nProbe: Int = 2, iters: Int = 1,
               m: Int = 4, subDim: Int = 16, ks: Int = 8): DataFrame =
    ivfPqKnnPre(emb, queryVecId, k, nCentroids, nProbe, iters, m, subDim,
      ks, localVecs(emb))

  private[graft] def ivfPqKnnPre(emb: DataFrame, queryVecId: Long, k: Int,
                          nCentroids: Int, nProbe: Int, iters: Int,
                          m: Int, subDim: Int, ks: Int,
                          lv: Option[Array[(Long, Array[Float])]])
      : DataFrame = {
    val vecs = emb.select(col("vec_id"), col("label"), col("embedding"))
    // one driver corpus copy serves the trainer, the query
    // lookup AND the codebook seeds (three fewer jobs); the fused
    // assignment + ADC serving scan below stays distributed either way.
    // The pre-change qv collect took the FIRST matching row in scan
    // order, which is exactly what find() returns over the copy (same
    // collect order), so duplicate query vec_ids behave identically.
    val centroids = ivfTrainWith(emb, nCentroids, iters, lv)
    val qv = lv.flatMap(_.find(_._1 == queryVecId).map(_._2)).getOrElse {
      emb.where(col("vec_id") === queryVecId)
        .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    }
    val probeCids = nearestCids(centroids, qv, nProbe)
    val cb = lv.map(pqSeedCodebooksLocal(_, m, subDim, ks))
      .getOrElse(pqSeedCodebooks(emb, m, subDim, ks))
    vecs.withColumn("cid", ivfAssignExpr(centroids))
      .where(col("vec_id") =!= queryVecId && col("cid").isin(probeCids: _*))
      .select(col("vec_id"), col("label"),
        adcMicroCol(cb, qv, m, subDim).as("adc_micro"))
      .orderBy(col("adc_micro").asc, col("vec_id"))
      .limit(k)
  }

  /** Cluster-stratified DIVERSITY sample (sim15) — the cluster-balanced
    * selection a curation pipeline runs AFTER semantic dedup
    * (SemDedup-style): keep the `perCluster` lowest-id vectors of EVERY
    * IVF cluster, so the sample covers all embedding-space regions
    * instead of over-picking dense modes the way frequency-weighted
    * sampling does. Deterministic by construction (id rank within an
    * exact-arithmetic assignment).
    *
    * Plan shape: assignment is the sim3 scan expression (codegen'd
    * DotProductF, no shuffle), and rank-k per cluster runs through the
    * bounded [[graft.ops.TopK.BoundedTopK]] Aggregator — partial state
    * ≤ `perCluster` rows per cluster per partition, so a mega-cluster
    * ships k rows per map partition instead of funneling its full
    * membership into one window task (the keepOneExact discipline).
    */
  def clusterStratifiedSample(emb: DataFrame, perCluster: Int = 5,
                              nCentroids: Int = 16,
                              iters: Int = 1): DataFrame = {
    require(perCluster >= 1, s"perCluster must be >= 1, got $perCluster")
    val centroids = ivfTrain(emb, nCentroids, iters)
    val topk = udaf(new graft.ops.TopK.BoundedTopK(perCluster))
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("cid", ivfAssignExpr(centroids))
      // the aggregator keeps top-k by value DESC (id tie-break), so the
      // k SMALLEST ids ride value = −id (exact: ids ≪ 2⁵³)
      .groupBy(col("cid"))
      .agg(topk((-col("vec_id")).cast("double"), col("vec_id")).as("tk"))
      .select(col("cid"), explode(col("tk")).as("s"))
      .select(col("cid"), col("s").getField("id").as("vec_id"))
  }

  /** IVF-PQ search with an exact REFINE stage (sim14) — the full
    * three-level ANN serving stack: the IVF probe prunes the corpus to
    * `nProbe` inverted lists, PQ ADC ranks the probed candidates in the
    * compressed domain to a `shortlist`, and exact cosine re-ranks ONLY
    * the shortlist to the final top-k (the standard recall-repair stage:
    * quantization error moves true neighbors a few ADC ranks, the
    * shortlist keeps them reachable, the refine restores exact order).
    * Exact-score convention and double-op order are [[bruteForceKnn]]'s
    * (round-6 cosine), so the refined scores match sim1's for the same
    * ids. At scale the refine touches `shortlist` rows — a broadcast
    * id-join back to the corpus for their raw vectors, never a second
    * corpus scan of any width beyond the scan [[ivfPqKnn]] already pays.
    */
  def ivfPqRefineKnn(emb: DataFrame, queryVecId: Long, k: Int = 5,
                     shortlist: Int = 20, nCentroids: Int = 16,
                     nProbe: Int = 2, iters: Int = 1, m: Int = 4,
                     subDim: Int = 16, ks: Int = 8): DataFrame = {
    require(shortlist >= k, "shortlist must cover the final k")
    // the corpus copy (when localVecs admits it) is shared
    // with the ivfPqKnn stage, and for the ordinary unique-query corpus
    // the query subtree becomes a literal — qv as the same float array,
    // q_norm evaluated by the same sqrt(graft_dot) kernel on the same
    // floats, so every cosine is bit-identical to the broadcast-subtree
    // form. With no copy, or with a degenerate corpus holding duplicate
    // query vec_ids (whose cross join multiplies the refine rows), the
    // original broadcast query subtree is kept verbatim.
    val lv = localVecs(emb)
    val sl = ivfPqKnnPre(emb, queryVecId, shortlist, nCentroids, nProbe,
        iters, m, subDim, ks, lv)
      .select(col("vec_id"), col("adc_micro"))
    val base = emb.join(broadcast(sl), Seq("vec_id"))
    val qMatches = lv.map(_.filter(_._1 == queryVecId)).getOrElse(
      Array.empty[(Long, Array[Float])])
    val (scored, qvCol, qNormCol) =
      if (qMatches.length == 1) {
        val qvLit = typedlit(qMatches(0)._2.toSeq)
        (base, qvLit, sqrt(Fns.dot(qvLit, qvLit)))
      } else {
        val q = emb.where(col("vec_id") === queryVecId)
          .select(col("embedding").as("qv"),
            sqrt(Fns.dot(col("embedding"), col("embedding"))).as("q_norm"))
        (base.crossJoin(broadcast(q)), col("qv"), col("q_norm"))
      }
    scored
      .select(col("vec_id"), col("label"), col("adc_micro"),
        round(Fns.dot(col("embedding"), qvCol) /
            (sqrt(Fns.dot(col("embedding"), col("embedding"))) * qNormCol),
          6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** MMR (maximal marginal relevance) diversification re-rank with
    * λ = 1/2: greedily pick argmax(rel(d) − max_{s∈S} sim(d, s)) — the
    * λ = 1/2 score doubled, so the ranking is identical with zero
    * division. All comparisons run on FLOOR-MICRO integers over
    * bit-identical cosine doubles (the c10 floor-gate discipline), so
    * every greedy argmax is knife-edge-free and the whole k-round
    * trajectory is hash-gatable against an unrolled SQL oracle
    * (DocQueries sim12). First pick is pure relevance (max over the
    * empty set contributes nothing); later penalties are the true max
    * similarity INCLUDING negative values — anti-similar candidates are
    * not clamped to zero.
    *
    * Scale shape: the pool is the top-`poolK` of a single corpus scan
    * (TakeOrderedAndProject — swap in any ANN front-end for the scan at
    * serving scale); the greedy loop then runs k bounded rounds on the
    * checkpointed pool (≤ poolK rows), each one broadcast-join +
    * filter — never a corpus-sized operation. Rerank pools are bounded
    * by construction, so this shape IS the 100 TB shape. Each round's
    * remaining pool replaces the last ([[Checkpoint.next]]).
    */
  def mmrRerank(emb: DataFrame, queryVecId: Long, poolK: Int = 20,
                k: Int = 5): DataFrame = Checkpoint.scope {
    require(k >= 1 && poolK >= k, "need poolK >= k >= 1")
    val q = emb.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"),
        sqrt(Fns.dot(col("embedding"), col("embedding"))).as("qn"))
    // bounded pool; the greedy runs only on this
    val cand = Checkpoint(emb.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(Fns.dot(col("embedding"), col("embedding"))).as("nrm"),
        floor(Fns.dot(col("embedding"), col("qv")) /
            (sqrt(Fns.dot(col("embedding"), col("embedding"))) * col("qn")) *
            lit(1000000)).cast("long").as("rel_u"))
      .orderBy(col("rel_u").desc, col("vec_id")).limit(poolK))
    var rem = cand.withColumn("pen_u", lit(0L))
    var picks = List.empty[DataFrame]
    for (r <- 1 to k) {
      val pick = Checkpoint(rem
        .orderBy((col("rel_u") - col("pen_u")).desc, col("vec_id")).limit(1))
      picks = picks :+ pick.withColumn("rank", lit(r.toLong))
      if (r < k) {
        val pv = pick.select(col("vec_id").as("p_vid"),
          col("embedding").as("pv"), col("nrm").as("pnrm"))
        val sim = floor(Fns.dot(col("embedding"), col("pv")) /
          (col("nrm") * col("pnrm")) * lit(1000000)).cast("long")
        // ≤ poolK rows per round
        rem = Checkpoint.next(rem, rem.crossJoin(broadcast(pv))
          .filter(col("vec_id") =!= col("p_vid"))
          .withColumn("pen_u",
            if (r == 1) sim else greatest(col("pen_u"), sim))
          .drop("p_vid", "pv", "pnrm"))
      }
    }
    picks.map(_.select(col("rank"), col("vec_id"), col("label"),
        col("rel_u").as("rel_micro"), col("pen_u").as("penalty_micro"),
        (col("rel_u") - col("pen_u")).as("mmr_micro")))
      .reduce(_.unionAll(_))
  }
}
