package graft.text

import graft.Checkpoint
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** POCKET-perceptron TRAINING over hashed bag-of-words features — the
  * learn-the-model step upstream of the fixed-weight classifier scorer
  * (`TextAnalysis.classifierScore`, c10), the same widening move as
  * [[BpeTrain]]: the reference pipelines assume a shipped model; a real
  * corpus owner trains one on their own data.
  *
  * Full-batch perceptron (Rosenblatt's rule) with Gallant's POCKET:
  * all-INTEGER arithmetic end to end — features are token counts, the
  * label is ±1, weights live in Z, one iteration adds Σ y·x over the
  * currently-misclassified set (margin ≤ 0 counts as a mistake, the
  * convention both engines share), and the pocket returns the
  * fewest-mistakes weights among the k evaluated candidates (plain batch
  * updates OSCILLATE on non-separable data — hashed-BoW language vs
  * language is not separable — and the pocket makes the output monotone
  * in k). No learning rate, no float, no knife edge anywhere — which is
  * what makes the whole k-iteration trajectory hash-gatable against an
  * unrolled SQL oracle, exactly like t21's merge chain.
  *
  * Spark shape (the 100 TB story):
  *  1. ONE corpus pass builds the sparse feature frame ([[features]]:
  *     word explode → rolling-hash dim → (doc, dim) counts, plus a bias
  *     slot `dim = -1` per document), repartitioned by `doc_id` and
  *     cached. This is the only corpus-scale scan.
  *  2. k iterations over the cached frame. Scoring joins the 65-row
  *     weight map as a LITERAL (map-only), the per-doc margin groupBy
  *     rides the frame's existing doc_id partitioning (no exchange),
  *     the misclassified-set join is co-partitioned, and the update
  *     aggregate returns ≤ dims+1 rows (one bounded collect per
  *     iteration — the t21 argmax discipline). At real scale you train
  *     on a sample; the per-iteration shape is unchanged.
  */
object Perceptron {

  /** Sparse hashed-BoW features: one row per (doc, dim) with an integer
    * count, dims assigned by the portable rolling hash (base 31 mod
    * 1e9+7 — the c2/c9 split-hash family, exactly mirrorable in SQL),
    * plus a `dim = -1` bias row (cnt = 1) for EVERY document — including
    * word-less ones, so the bias keeps them scoreable. `label` must
    * evaluate to ±1. Repartitioned by doc_id and checkpointed: the
    * training loop's groupBys and joins all ride this one partitioning.
    */
  def features(docs: DataFrame, text: Column, id: Column, label: Column,
               dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val feat = docs
      .select(id.as("doc_id"), label.as("y"),
        explode(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)))
          .as("word"))
      .select(col("doc_id"), col("y"),
        pmod(graft.fns.Fns.rollingHash(col("word")), lit(dims.toLong))
          .cast("int").as("dim"))
      .groupBy(col("doc_id"), col("y"), col("dim"))
      .agg(count(lit(1)).as("cnt"))
    val bias = docs.select(id.as("doc_id"), label.as("y"),
      lit(-1).as("dim"), lit(1L).as("cnt"))
    Checkpoint(feat.unionByName(bias).repartition(col("doc_id")))
  }

  /** Run `k` POCKET-perceptron iterations over a [[features]] frame:
    * each iteration evaluates the current weights (mistake = margin ≤ 0),
    * applies the full-batch update Σ y·x over the misclassified set, and
    * the POCKET keeps the weights with the fewest mistakes among the k
    * evaluated candidates (w₀ … w₍k₋₁₎; ties → earliest — the shared
    * deterministic rule). On non-separable data the plain batch rule
    * oscillates; the pocket makes the output monotone in k (more
    * iterations can only match or improve the returned model) — Gallant's
    * pocket algorithm, the standard fix, and still all-integer.
    * Returns the pocket weights (dim → weight, `-1` = bias) and the
    * per-iteration mistake counts. Each iteration's misclassified set
    * is freed at the iteration's end.
    */
  def train(feats: DataFrame, k: Int, dims: Int)
      : (Map[Int, Long], Seq[(Int, Long)]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    var w: Map[Int, Long] = (-1 until dims).map(_ -> 0L).toMap
    var pocket = w
    var pocketNm = Long.MaxValue
    val trace = Seq.newBuilder[(Int, Long)]
    for (it <- 1 to k) Checkpoint.scope {
      val scores = feats
        .withColumn("contrib",
          col("cnt") * coalesce(element_at(typedlit(w), col("dim")), lit(0L)))
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("contrib")).as("s"))
      val miscl = Checkpoint(scores.filter(col("y") * col("s") <= 0)
        .select(col("doc_id")))
      val nm = miscl.count()
      trace += ((it, nm))
      if (nm < pocketNm) { pocket = w; pocketNm = nm }
      // the k-th candidate w_k is never evaluated, returned, or
      // pocket-eligible — skip its update pass entirely (one feature-
      // frame aggregate + collect saved per training run)
      if (it < k) {
        val upd = feats.join(miscl, Seq("doc_id"))
          .groupBy(col("dim")).agg(sum(col("y") * col("cnt")).as("delta"))
          .collect() // ≤ dims + 1 rows
        upd.foreach { r =>
          // getOrElse: a feature frame carrying dims outside [-1, dims)
          // (caller mismatch) must not crash the loop mid-training — the
          // rogue dim just gets its own weight slot
          val d = r.getInt(0)
          w = w.updated(d, w.getOrElse(d, 0L) + r.getLong(1))
        }
      }
    }
    (pocket, trace.result())
  }

  /** Margin-based accuracy report under a weight map: per label value,
    * document count and correctly-classified count (margin > 0 — the
    * mistake convention's complement). One pass over the feature frame.
    */
  def accuracyReport(feats: DataFrame, w: Map[Int, Long]): DataFrame =
    feats
      .withColumn("contrib",
        col("cnt") * coalesce(element_at(typedlit(w), col("dim")), lit(0L)))
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("contrib")).as("s"))
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") * col("s") > 0, 1L).otherwise(0L)).as("n_correct"))

  /** Weight map as a (dim, weight) frame — the c25 gate body. */
  def weightsDf(s: SparkSession, w: Map[Int, Long]): DataFrame = {
    import s.implicits._
    w.toSeq.sortBy(_._1).toDF("dim", "weight")
  }

  /** The shared oracle chain: feature CTEs (same rolling-hash fold the
    * c9 split oracle uses, bias rows straight from `documents`), w0 = 0,
    * k unrolled iterations of score → misclassified → Σ y·x → weight
    * update, then the POCKET pick: the evaluated level (w0 … w₍k₋₁₎)
    * with the fewest mistakes, ties to the earliest — the engine's exact
    * rule. `wp` is the pocket weight table. `labelSql` must yield ±1
    * (engine twin: the gate's `label` column).
    */
  def oracleCtes(k: Int, dims: Int, labelSql: String): String = {
    val levels = (0 until k).map { i =>
      s"""s$i AS (SELECT f.doc_id, f.y, CAST(sum(f.cnt * w.wt) AS BIGINT) AS s
         |  FROM feats f JOIN w$i w ON f.dim = w.dim GROUP BY f.doc_id, f.y),
         |m$i AS (SELECT doc_id FROM s$i WHERE y * s <= 0),
         |u$i AS (SELECT f.dim, CAST(sum(f.y * f.cnt) AS BIGINT) AS delta
         |  FROM feats f JOIN m$i USING (doc_id) GROUP BY f.dim),
         |w${i + 1} AS (SELECT w.dim, CAST(w.wt + coalesce(u.delta, 0) AS BIGINT) AS wt
         |  FROM w$i w LEFT JOIN u$i u ON w.dim = u.dim)""".stripMargin
    }.mkString(",\n")
    val mcs = (0 until k)
      .map(i => s"SELECT $i AS l, CAST((SELECT count(*) FROM m$i) AS BIGINT) AS mk")
      .mkString("\n  UNION ALL ")
    val allw = (0 until k)
      .map(i => s"SELECT $i AS l, dim, wt FROM w$i")
      .mkString("\n  UNION ALL ")
    s"""WITH words AS (SELECT doc_id, $labelSql AS y,
       |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |dimmed AS (SELECT doc_id, y,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      [CAST(ascii(c) AS BIGINT) FOR c IN string_split(word, '')]),
       |      (a, b) -> (a * 31 + b) % 1000000007) % $dims AS INT) AS dim
       |  FROM words),
       |feats AS (SELECT doc_id, y, dim, CAST(count(*) AS BIGINT) AS cnt
       |    FROM dimmed GROUP BY doc_id, y, dim
       |  UNION ALL
       |  SELECT doc_id, $labelSql AS y, -1 AS dim, CAST(1 AS BIGINT) AS cnt
       |    FROM documents),
       |w0 AS (SELECT CAST(range - 1 AS INT) AS dim, CAST(0 AS BIGINT) AS wt
       |  FROM range(${dims + 1})),
       |$levels,
       |mcs AS ($mcs),
       |best AS (SELECT l FROM mcs ORDER BY mk, l LIMIT 1),
       |allw AS ($allw),
       |wp AS (SELECT dim, wt FROM allw JOIN best USING (l))""".stripMargin
  }

  /** c25 oracle: the pocket weight vector. */
  def weightsOracleSql(k: Int, dims: Int, labelSql: String): String =
    s"""${oracleCtes(k, dims, labelSql)}
       |SELECT dim, wt AS weight FROM wp ORDER BY dim""".stripMargin

  /** The scored-docs (`sf`) and exact-integer score-histogram (`h`)
    * oracle CTEs — ONE definition shared by the c26/c32/c36 oracles,
    * mirroring the Scala-side [[scoreHistogram]] so a scoring-semantics
    * change can't leave one gate testing the old rule.
    */
  private def scoreCtes: String =
    """sf AS (SELECT f.doc_id, f.y, CAST(sum(f.cnt * w.wt) AS BIGINT) AS s
      |  FROM feats f JOIN wp w ON f.dim = w.dim GROUP BY f.doc_id, f.y),
      |h AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np
      |  FROM sf GROUP BY s)""".stripMargin

  /** c26 oracle: per-label accuracy under the pocket weights. */
  def accuracyOracleSql(k: Int, dims: Int, labelSql: String): String =
    s"""${oracleCtes(k, dims, labelSql)},
       |$scoreCtes
       |SELECT y, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN y * s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |FROM sf GROUP BY y ORDER BY y""".stripMargin

  /** EXACT ROC-AUC of the trained scorer (c32) — the threshold-free
    * quality number c26's fixed-threshold accuracy can't give (on an
    * imbalanced corpus a majority-class model scores high accuracy and
    * AUC 0.5; THIS report tells them apart). Because scores are exact
    * integers, AUC is computed as an exact RATIONAL via the tie-aware
    * Mann-Whitney rank-sum: with ascending-score ranks (tied scores
    * take the average rank), `AUC = (2·R⁺ − n₊(n₊+1)) / (2·n₊·n₋)` —
    * the output carries the integer numerator/denominator alongside the
    * rounded value, so the gate hash-checks integers, never a float
    * boundary.
    *
    * Plan shape: one scoring pass over the feature frame (doc-key
    * aggregate riding its partitioning), a distributed score HISTOGRAM
    * (`s → (n, n₊)` — the corpus reduces here), then one cumulative
    * window over the histogram for the sub-rank offsets and a scalar
    * combine. The global window runs over the already-reduced histogram
    * (distinct integer scores), the same post-reduction discipline as
    * the w1/sk6 percentile family — the corpus-scale stages are all
    * key-partitioned.
    */
  def rocAuc(feats: DataFrame, w: Map[Int, Long]): DataFrame = {
    val hist = scoreHistogram(feats, w)
    val below = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    hist
      .withColumn("cless", coalesce(sum(col("n")).over(below), lit(0L)))
      // 2 × (sum of average ranks of the positives in this tie group)
      .agg(sum(col("np")).as("n_pos"), sum(col("n") - col("np")).as("n_neg"),
        sum(col("np") * (col("cless") * 2L + col("n") + 1L)).as("r2"))
      .select(col("n_pos"), col("n_neg"),
        (col("r2") - col("n_pos") * (col("n_pos") + 1L)).as("auc_num"),
        (col("n_pos") * col("n_neg") * 2L).as("auc_den"),
        // single-class corpus: AUC is undefined (den = 0) — NULL on both
        // engines, never a NaN knife-edge
        when(col("n_pos") * col("n_neg") === 0L, lit(null).cast("double"))
          .otherwise(
            round((col("r2") - col("n_pos") * (col("n_pos") + 1L)).cast("double")
              / (col("n_pos") * col("n_neg") * 2L), 6)).as("auc"))
  }

  /** One scoring pass: per-document integer score under a weight map —
    * `(doc_id, y, s)`, the doc-key aggregate riding the feature frame's
    * partitioning. Shared by the histogram reports and the calibrated
    * keep filter (c10b).
    */
  private def scoredDocs(feats: DataFrame, w: Map[Int, Long]): DataFrame =
    feats
      .withColumn("contrib",
        col("cnt") * coalesce(element_at(typedlit(w), col("dim")), lit(0L)))
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("contrib")).as("s"))

  /** The exact-integer score HISTOGRAM `s → (n, n₊)` shared by the ROC
    * (c32) and gains-table (c36) reports: one scoring pass over the
    * feature frame (doc-key aggregate riding its partitioning), then
    * the corpus reduces to one row per distinct integer score.
    */
  private def scoreHistogram(feats: DataFrame, w: Map[Int, Long]): DataFrame =
    scoredDocs(feats, w)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"))

  /** Cumulative GAINS / operating-point table of the trained scorer
    * (c36) — the artifact a filter owner reads to SET the c10 keep
    * threshold, which neither c26's fixed-threshold accuracy nor c32's
    * threshold-free AUC gives: one row per distinct integer score
    * cutoff, with the volume kept at that cutoff (`cum_n`, `volume`),
    * the positives captured (`cum_pos`, `recall`), and the precision of
    * the kept set — "keep everything scoring ≥ s" fully costed, so the
    * owner picks the recall/volume trade they can afford at 100 TB.
    *
    * Determinism: every count is an exact integer off the shared
    * [[scoreHistogram]]; the rounded ratios divide identical integers
    * on both engines. Plan shape: the corpus reduces to the histogram,
    * and BOTH cumulative windows run over the already-reduced distinct
    * integer scores (the w1/sk6 post-reduction discipline).
    */
  def gainsTable(feats: DataFrame, w: Map[Int, Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val above = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    scoreHistogram(feats, w)
      .withColumn("cum_n", sum(col("n")).over(above))
      .withColumn("cum_pos", sum(col("np")).over(above))
      .withColumn("tot_pos", sum(col("np")).over(wAll))
      .withColumn("tot_n", sum(col("n")).over(wAll))
      .select(col("s").as("cutoff"), col("n"), col("np").as("n_pos"),
        col("cum_n"), col("cum_pos"),
        round(col("cum_pos").cast("double") / col("cum_n"), 6).as("prec"),
        // a corpus with zero positives has no recall to report — NULL on
        // both engines, never a NaN/inf knife-edge (cum_n/tot_n are ≥ 1
        // on any existing histogram row, so only this ratio needs it)
        when(col("tot_pos") === 0L, lit(null).cast("double"))
          .otherwise(round(col("cum_pos").cast("double") / col("tot_pos"), 6))
          .as("recall"),
        round(col("cum_n").cast("double") / col("tot_n"), 6).as("volume"))
  }

  /** c36 oracle: the identical histogram + top-down cumulative table. */
  def gainsOracleSql(k: Int, dims: Int, labelSql: String): String =
    s"""${oracleCtes(k, dims, labelSql)},
       |$scoreCtes,
       |g AS (SELECT s, n, np,
       |    CAST(sum(n) OVER (ORDER BY s DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
       |    CAST(sum(np) OVER (ORDER BY s DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
       |    CAST(sum(np) OVER () AS BIGINT) AS tot_pos,
       |    CAST(sum(n) OVER () AS BIGINT) AS tot_n FROM h)
       |SELECT s AS cutoff, n, np AS n_pos, cum_n, cum_pos,
       |  round(CAST(cum_pos AS DOUBLE) / cum_n, 6) AS prec,
       |  CASE WHEN tot_pos = 0 THEN NULL
       |       ELSE round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) END AS recall,
       |  round(CAST(cum_n AS DOUBLE) / tot_n, 6) AS volume
       |FROM g ORDER BY cutoff DESC""".stripMargin

  /** The operating point CHOSEN from the gains table (c36's consumer —
    * the c11b move applied to the classifier family): the HIGHEST score
    * cutoff whose kept set still captures at least
    * `targetRecallPermille`/1000 of the positives, i.e. the smallest
    * "keep everything scoring ≥ s" set meeting the recall target. The
    * comparison is exact integer arithmetic
    * (`cum_pos · 1000 ≥ target · tot_pos`) — no float recall boundary
    * to knife-edge. One row: `(cutoff)`. Degenerate corpora: zero
    * positives make every cutoff satisfy the target vacuously (0 ≥ 0),
    * so the max score wins — the conservative "keep almost nothing"
    * answer, matching the oracle bit for bit; an empty corpus yields a
    * NULL cutoff.
    *
    * Plan shape: the corpus reduces to the integer score histogram
    * (doc-key aggregate riding the feature frame's partitioning, then a
    * per-score reduce); the cumulative window and the max run over the
    * already-reduced distinct scores (the w1/sk6 post-reduction
    * discipline) and a 1-row scalar.
    */
  def chooseCutoff(feats: DataFrame, w: Map[Int, Long],
                   targetRecallPermille: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val above = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    scoreHistogram(feats, w)
      .withColumn("cum_pos", sum(col("np")).over(above))
      .withColumn("tot_pos", sum(col("np")).over(wAll))
      .filter(col("cum_pos") * lit(1000L) >=
        lit(targetRecallPermille.toLong) * col("tot_pos"))
      .agg(max(col("s")).as("cutoff"))
  }

  /** CALIBRATED quality filter — the keep decision c36's gains table
    * exists to set, closed as one operator: score every document under
    * the trained weights and keep those at or above the
    * [[chooseCutoff]] operating point for the recall target. Output
    * `(doc_id, y, s, cutoff)` — the cutoff rides along so downstream
    * audits (and the gate hash) pin WHICH operating point filtered the
    * corpus, not just its survivors.
    *
    * Plan shape: two map-side-combined scoring aggregates over the
    * feature frame (histogram branch + kept branch — deterministic, so
    * re-evaluation is safe and nothing corpus-sized is pinned), and the
    * 1-row cutoff enters as a BROADCAST cross join (never a shuffle).
    * At 100 TB the cutoff is chosen once on a sample or the full
    * histogram (tiny either way) and the keep pass is scan-shaped.
    */
  def calibratedKeep(feats: DataFrame, w: Map[Int, Long],
                     targetRecallPermille: Int): DataFrame =
    scoredDocs(feats, w)
      .crossJoin(broadcast(chooseCutoff(feats, w, targetRecallPermille)))
      .filter(col("s") >= col("cutoff"))
      .select(col("doc_id"), col("y"), col("s"), col("cutoff"))

  /** c10b oracle: the identical histogram → integer recall inequality →
    * max-cutoff scalar → keep filter, composed from the SAME shared
    * `wp`/`sf`/`h` fragments as c26/c32/c36 (one scoring definition,
    * four gates — a semantics change can't leave a stale sibling).
    */
  def calibratedKeepOracleSql(k: Int, dims: Int, labelSql: String,
                              targetRecallPermille: Int): String =
    s"""${oracleCtes(k, dims, labelSql)},
       |$scoreCtes,
       |g AS (SELECT s,
       |    CAST(sum(np) OVER (ORDER BY s DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
       |    CAST(sum(np) OVER () AS BIGINT) AS tot_pos FROM h),
       |cut AS (SELECT max(s) AS cutoff FROM g
       |  WHERE cum_pos * 1000 >= $targetRecallPermille * tot_pos)
       |SELECT sf.doc_id, sf.y, sf.s, cut.cutoff
       |FROM sf, cut WHERE sf.s >= cut.cutoff
       |ORDER BY sf.doc_id""".stripMargin

  /** Per-batch accuracy / DRIFT panel of a FIXED trained scorer (c38) —
    * the model-monitoring read a filter owner watches after deploying
    * the c25 weights: one row per batch with doc count, correct count
    * (margin > 0, the c26 convention), exact floor-micro accuracy, and
    * the accuracy DELTA vs the previous batch (NULL on the first — no
    * previous to drift from). A drifting panel is the signal to retrain
    * or re-choose the c10b operating point. `batch` is any expression
    * over `(doc_id, y, s)` — a time bucket, an ingest batch id, a
    * doc_id slice.
    *
    * Plan shape: one scoring pass riding the feature frame's
    * partitioning, a per-batch reduce, then the lag window over the
    * ≤#batches-row panel (post-reduction, the w1/sk6 discipline).
    */
  def driftPanel(feats: DataFrame, w: Map[Int, Long],
                 batch: Column): DataFrame =
    driftTail(scoredDocs(feats, w)
      .groupBy(batch.as("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") * col("s") > 0, 1L).otherwise(0L))
          .as("n_correct")))

  /** The shared panel tail over a `(batch_id, n_docs, n_correct)`
    * counts frame — ONE definition for the batch gate (c38) and the
    * streaming store read ([[driftReport]]), so the two surfaces can't
    * diverge. Exact integers: floor-micro accuracy, integer drift.
    * Empty-batch census rows (`n_docs = 0` — a store ingested while the
    * source was quiet) are dropped BEFORE the lag, so the drift signal
    * spans real batches only: an `(0, NULL)` row would otherwise yield
    * NULL `acc_micro` AND blank the NEXT batch's drift
    * (`acc − lag(NULL)`) — two silently missing panel points per quiet
    * interval. [[driftBatch]] also skips the write, so the filter here
    * is defense against stores written by earlier library versions.
    */
  private def driftTail(counts: DataFrame): DataFrame = {
    val ord = org.apache.spark.sql.expressions.Window.orderBy(col("batch_id"))
    counts
      .filter(col("n_docs") > 0L)
      .withColumn("acc_micro", expr("(n_correct * 1000000) div n_docs"))
      .withColumn("drift_micro",
        col("acc_micro") - lag(col("acc_micro"), 1).over(ord))
      .select(col("batch_id"), col("n_docs"), col("n_correct"),
        col("acc_micro"), col("drift_micro"))
  }

  /** Staged drift-store row schema (explicit: a footer-less first read
    * must not choke inference — the d9 discipline). */
  private def driftSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("n_docs", LongType),
      StructField("n_correct", LongType),
      StructField("batch_id", LongType)))
  }

  /** STREAMING twin of the panel: score each micro-batch under the
    * fixed trained weights inside `foreachBatch` and append its 1-row
    * `(batch_id, n_docs, n_correct)` census to a parquet store — the
    * batch's own partition is dynamically overwritten, so at-least-once
    * replays are no-ops (the crawl-ingest idempotence convention).
    * [[driftReport]] reads the store through the SAME [[driftTail]] as
    * the batch gate. The per-batch cost is one feature pass over the
    * micro-batch; the corpus-scale trajectory lives in the store, never
    * in memory.
    */
  def driftIngest(raw: DataFrame, text: Column, id: Column, label: Column,
                  dims: Int, w: Map[Int, Long], storePath: String,
                  queryName: String = "graft_classifier_drift")
      : org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream.queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        driftBatch(batch, batchId, text, id, label, dims, w, storePath)
      }.start()

  /** One micro-batch of the drift store — [[driftIngest]]'s body,
    * exposed so replay idempotence is testable directly: the batch's
    * own partition is dynamically overwritten, so running the same
    * (batch, batchId) twice leaves the store byte-identical.
    */
  def driftBatch(batch: DataFrame, batchId: Long, text: Column, id: Column,
                 label: Column, dims: Int, w: Map[Int, Long],
                 storePath: String): Unit = Checkpoint.scope {
    scoredDocs(features(batch, text, id, label, dims), w)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") * col("s") > 0, 1L).otherwise(0L))
          .as("n_correct"))
      // an EMPTY micro-batch (streaming sources do go quiet) must not
      // stage an (n_docs=0, n_correct=NULL) census row — its NULL
      // acc_micro would blank the drift signal across the gap (see
      // [[driftTail]]); a zero-row write is a dynamic-overwrite no-op,
      // so replays of the empty batch stay idempotent too
      .filter(col("n_docs") > 0L)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storePath)
  }

  /** The drift panel over an ingested store — [[driftIngest]]'s read. */
  def driftReport(spark: SparkSession, storePath: String): DataFrame =
    driftTail(spark.read.schema(driftSchema).parquet(storePath))

  /** The shared c38/c40 drift-panel CTE chain ending in
    * `dp(batch_id, n_docs, n_correct, acc_micro, drift_micro)` — ONE
    * definition for the monitoring gate and the decision gate that
    * consumes it, so a panel semantics change can't leave a stale
    * sibling oracle (the c37/c39 mixtureCtes discipline).
    */
  private def driftPanelCtes(k: Int, dims: Int, labelSql: String,
                             nBatches: Int): String =
    s"""${oracleCtes(k, dims, labelSql)},
       |$scoreCtes,
       |p AS (SELECT doc_id % $nBatches AS batch_id,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN y * s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |  FROM sf GROUP BY 1),
       |a AS (SELECT batch_id, n_docs, n_correct,
       |    CAST((n_correct * 1000000) // n_docs AS BIGINT) AS acc_micro FROM p),
       |dp AS (SELECT batch_id, n_docs, n_correct, acc_micro,
       |  CAST(acc_micro - lag(acc_micro) OVER (ORDER BY batch_id) AS BIGINT) AS drift_micro
       |  FROM a)""".stripMargin

  /** c38 oracle: score under `wp`, per-batch reduce, floor-micro
    * accuracy, lag drift (NULL first batch on both engines).
    */
  def driftOracleSql(k: Int, dims: Int, labelSql: String,
                     nBatches: Int): String =
    s"""${driftPanelCtes(k, dims, labelSql, nBatches)}
       |SELECT batch_id, n_docs, n_correct, acc_micro, drift_micro
       |FROM dp ORDER BY batch_id""".stripMargin

  /** The RETRAIN decision the drift panel exists to drive (c40 — the
    * c10b/c39 loop-closing move applied to monitoring): per batch,
    * `retrain` when the accuracy moved at least `thresholdMicro`
    * micro-units in EITHER direction vs the previous batch (a drop is
    * degradation; a spike still means the input distribution moved
    * under a fixed scorer), else `hold`. The first batch (and any
    * quiet-gap NULL drift) is `hold` — no drift, no action, pinned by
    * spec. Pure integer comparison on the already-reduced ≤#batches-row
    * panel: zero added corpus work, works identically over
    * [[driftPanel]] (batch) and [[driftReport]] (maintained store).
    */
  def retrainDecision(panel: DataFrame, thresholdMicro: Long): DataFrame = {
    require(thresholdMicro >= 0, s"threshold must be >= 0: $thresholdMicro")
    panel.withColumn("action",
      when(abs(col("drift_micro")) >= thresholdMicro, lit("retrain"))
        .otherwise(lit("hold")))
  }

  /** c40 oracle: the SAME panel chain + the identical CASE (NULL drift
    * falls through to 'hold' on both engines).
    */
  def retrainOracleSql(k: Int, dims: Int, labelSql: String, nBatches: Int,
                       thresholdMicro: Long): String =
    s"""${driftPanelCtes(k, dims, labelSql, nBatches)}
       |SELECT batch_id, n_docs, n_correct, acc_micro, drift_micro,
       |  CASE WHEN abs(drift_micro) >= $thresholdMicro THEN 'retrain'
       |       ELSE 'hold' END AS action
       |FROM dp ORDER BY batch_id""".stripMargin

  /** c32 oracle: score under `wp`, histogram, tie-aware rank sum. */
  def rocAucOracleSql(k: Int, dims: Int, labelSql: String): String =
    s"""${oracleCtes(k, dims, labelSql)},
       |$scoreCtes,
       |r AS (SELECT s, n, np, CAST(coalesce(sum(n) OVER
       |    (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS BIGINT) AS cless FROM h),
       |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(n - np) AS BIGINT) AS n_neg,
       |    CAST(sum(np * (cless * 2 + n + 1)) AS BIGINT) AS r2 FROM r)
       |SELECT n_pos, n_neg,
       |  CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
       |  CAST(n_pos * n_neg * 2 AS BIGINT) AS auc_den,
       |  CASE WHEN n_pos * n_neg = 0 THEN NULL
       |       ELSE round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
       |         / (n_pos * n_neg * 2), 6) END AS auc
       |FROM a""".stripMargin
}
