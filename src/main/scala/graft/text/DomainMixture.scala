package graft.text

import graft.Checkpoint
import graft.ops.DriverSolve
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Domain-mixture weight OPTIMIZATION (DoReMi-lite, after Xie et al.
  * 2023, arXiv:2305.10429): solve for per-domain sampling weights from
  * per-domain EXCESS LOSS, instead of hand-setting them. The published
  * pipeline family already measures per-domain stats (c22), importance
  * weights (c31) and fills budget mixes (c11/c11b); this is the missing
  * member that SOLVES for the mix — the reference repo has no
  * counterpart (LLM-pipeline widening, like `Perceptron`/`BpeTrain`).
  *
  * Algorithm (the DoReMi Group-DRO loop, linearized to exact integer
  * arithmetic so the whole trajectory hash-gates):
  *
  *  1. ONE corpus-scale pass reduces to the |D|-row per-domain frame
  *     `(domain, n_docs, sum_loss_micro)` (map-side combined groupBy —
  *     at 100 TB this is the only scan; D is tens of domains).
  *  2. Excess loss per domain: `max(0, mean_d − global_mean)` in
  *     micro-units with floor division — DoReMi's clipped excess (only
  *     harder-than-reference domains get upweighted), computed once
  *     from the frozen per-domain sums (the "lite": the published loop
  *     retrains the proxy between steps; with a fixed scorer the
  *     excess is a constant of the corpus).
  *  3. `k` exponentiated-gradient steps on the |D|-row frame, with the
  *     exp linearized to keep integers exact:
  *     `u_d = w_d · (10⁶ + η‰·excess_d/10³) / 10⁶` (floor), then
  *     renormalize `w'_d = u_d · 10⁶ / Σu` (floor). Each step is |D|
  *     rows — never a corpus rescan. The floor-renormalization between
  *     steps is what makes k steps differ from one f^k step, and the
  *     oracle unrolls the identical k CTE levels (the c25/t21 trainer
  *     discipline).
  *  4. Final uniform smoothing (the paper's mixing step):
  *     `w = (1−s‰)·w + s‰·(10⁶/D)`, all floored micro-units.
  *
  * Determinism contract: `domain` non-null, `lossMicro` a non-negative
  * BIGINT micro-quantity (the caller picks the loss proxy — a
  * reference-model score, a perplexity proxy, chars-per-token); every
  * division is integer floor on non-negative operands so DuckDB `//`
  * and Spark `div` agree bit for bit.
  */
object DomainMixture {

  /** Per-domain stats + solved mixture weights: one row per domain —
    * `(domain, n_docs, mean_loss_micro, excess_micro, weight_micro)`.
    * Plan shape: corpus reduces in stage 1 (one shuffle on the domain
    * key, partial-aggregated map-side); the global mean and Σu scalars
    * enter as 1-row BROADCAST cross joins; the k-step loop rides a
    * localCheckpoint-materialized |D|-row frame with per-step lineage
    * truncation (the BpeTrain discipline) and the dead step's blocks
    * freed.
    */
  def solve(docs: DataFrame, domain: Column, lossMicro: Column, k: Int,
            etaPermille: Long = 100L,
            smoothPermille: Long = 200L): DataFrame =
    solveFromStats(perDomainStats(docs, domain, lossMicro), k, etaPermille,
      smoothPermille)

  /** Stage 1, the ONE corpus pass: `(domain, n_docs, __sum)`. */
  private def perDomainStats(docs: DataFrame, domain: Column,
                             lossMicro: Column): DataFrame =
    docs
      .select(domain.as("domain"), lossMicro.as("__loss"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__loss")).as("__sum"))

  /** Stages 2–4 over an already-reduced `(domain, n_docs, __sum)` frame
    * — shared by the one-shot [[solve]] and the maintained-store read
    * ([[solveFromStore]]), so the two surfaces can't diverge.
    */
  private def solveFromStats(perDomain0: DataFrame, k: Int,
                             etaPermille: Long,
                             smoothPermille: Long): DataFrame = Checkpoint.scope {
    val perDomain = checkpointed(perDomain0, k, etaPermille, smoothPermille)
    // the k-step loop runs over tens of domains yet pays a checkpoint +
    // 1-row aggregate + broadcast cross join PER STEP: run the identical
    // integer recurrence on the driver (same floor divisions on the same
    // longs in the same order ⇒ bit-identical weights)
    DriverSolve(perDomain, Seq("domain", "n_docs", "__sum"))(rows =>
      perDomain.sparkSession.createDataFrame(
        localWeights(rows, k, etaPermille, smoothPermille),
        StructType(Seq(
          StructField("domain", perDomain.schema("domain").dataType),
          StructField("n_docs", LongType),
          StructField("mean_loss_micro", LongType),
          StructField("excess_micro", LongType),
          StructField("weight_micro", LongType)))))
      .getOrElse(loop(perDomain, k, etaPermille, smoothPermille))
  }

  /** [[solve]]'s distributed k-step loop alone, never the driver path. */
  private[graft] def solveDistributed(docs: DataFrame, domain: Column,
                                      lossMicro: Column, k: Int,
                                      etaPermille: Long = 100L,
                                      smoothPermille: Long = 200L): DataFrame =
    Checkpoint.scope(loop(checkpointed(perDomainStats(docs, domain, lossMicro),
      k, etaPermille, smoothPermille), k, etaPermille, smoothPermille))

  private def checkpointed(perDomain0: DataFrame, k: Int, etaPermille: Long,
                           smoothPermille: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(etaPermille >= 0 && smoothPermille >= 0 &&
      smoothPermille <= 1000, "eta >= 0, 0 <= smooth <= 1000")
    Checkpoint(perDomain0)
  }

  private def localWeights(rows: Array[Row], k: Int, etaPermille: Long,
                           smoothPermille: Long): java.util.List[Row] = {
    val nd = rows.length.toLong
    val gmean = rows.map(_.getLong(2)).sum / rows.map(_.getLong(1)).sum
    val uniform = 1000000L / nd
    val means = rows.map(r => r.getLong(2) / r.getLong(1))
    val excess = means.map(m => math.max(m - gmean, 0L))
    val w = Array.fill(rows.length)(uniform)
    for (_ <- 1 to k) {
      val us = w.indices.map(i =>
        (w(i) * (1000000L + (etaPermille * excess(i)) / 1000L)) / 1000000L)
      val su = us.sum
      w.indices.foreach(i => w(i) = (us(i) * 1000000L) / su)
    }
    val out = new java.util.ArrayList[Row](rows.length)
    rows.indices.foreach { i =>
      out.add(Row(rows(i).get(0), rows(i).getLong(1), means(i), excess(i),
        ((1000L - smoothPermille) * w(i)) / 1000L +
          (smoothPermille * uniform) / 1000L))
    }
    out
  }

  private def loop(perDomain: DataFrame, k: Int, etaPermille: Long,
                   smoothPermille: Long): DataFrame = {
    // global mean over the |D|-row frame (1-row broadcast, never a
    // second corpus pass); nDomains rides the same scalar
    val globals = perDomain
      .agg((sum(col("__sum")) cast "long").as("__gsum"),
        sum(col("n_docs")).as("__gn"), count(lit(1)).as("__nd"))
    val base = perDomain
      .crossJoin(broadcast(globals))
      .select(col("domain"), col("n_docs"),
        expr("__sum div n_docs").as("mean_loss_micro"),
        greatest(expr("__sum div n_docs") - expr("__gsum div __gn"), lit(0L))
          .as("excess_micro"),
        expr("1000000 div __nd").as("__w"),
        expr("1000000 div __nd").as("__uniform"))
    var cur = Checkpoint(base)
    for (_ <- 1 to k) {
      val stepped = cur.withColumn("__u",
        expr(s"(__w * (1000000 + ($etaPermille * excess_micro) div 1000)) " +
          "div 1000000"))
      val norm = stepped.agg(sum(col("__u")).as("__su"))
      cur = Checkpoint.next(cur, stepped
        .crossJoin(broadcast(norm))
        .select(col("domain"), col("n_docs"), col("mean_loss_micro"),
          col("excess_micro"), expr("(__u * 1000000) div __su").as("__w"),
          col("__uniform")))
    }
    Checkpoint(cur.select(col("domain"), col("n_docs"),
      col("mean_loss_micro"), col("excess_micro"),
      (expr(s"((1000 - $smoothPermille) * __w) div 1000") +
        expr(s"($smoothPermille * __uniform) div 1000")).as("weight_micro")))
  }

  /** Staged per-batch domain-stats row schema (explicit: a footer-less
    * first read must not choke inference — the d9 discipline). */
  private def statsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("domain", StringType),
      StructField("n_docs", LongType), StructField("sum_loss", LongType),
      StructField("batch_id", LongType)))
  }

  /** One micro-batch of the MAINTAINED domain-stats store (c37b) — the
    * mixture solver's inputs kept current as the corpus arrives: each
    * batch reduces to its ≤|D|-row `(domain, n_docs, sum_loss)` census
    * and dynamically overwrites its own `batch_id` partition, so
    * at-least-once replays are no-ops (the crawl-ingest convention).
    * Per-batch cost is one batch-sized pass; the store holds
    * batches × |D| tiny rows, never documents.
    */
  def domainStatsBatch(batch: DataFrame, batchId: Long, domain: Column,
                       lossMicro: Column, storePath: String): Unit =
    batch
      .select(domain.as("domain"), lossMicro.as("__loss"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__loss")).as("sum_loss"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storePath)

  /** Solve the mixture FROM the maintained store: re-reduce the staged
    * per-batch censuses to per-domain totals (counts and sums are
    * batch-additive, so this reproduces the one-shot stage-1 frame
    * exactly), then the SAME [[solveFromStats]] stages 2–4. The gate
    * (`c37b`) hash-matches c37's one-shot oracle.
    */
  def solveFromStore(spark: org.apache.spark.sql.SparkSession,
                     storePath: String, k: Int, etaPermille: Long = 100L,
                     smoothPermille: Long = 200L): DataFrame =
    solveFromStats(
      spark.read.schema(statsSchema).parquet(storePath)
        .groupBy(col("domain"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_loss")).as("__sum")),
      k, etaPermille, smoothPermille)

  /** c37 oracle: the identical per-domain reduction, clipped excess,
    * and k unrolled floor-renormalized EG levels. `lossSql` is the
    * per-document loss expression over `documents` (must mirror the
    * gate's `lossMicro` column bit for bit); `domainSql` the domain
    * key. Every division is `//` on non-negative BIGINTs with HUGEINT
    * casts at each aggregate (the SURVEY §6.1 rule).
    */
  def oracleSql(domainSql: String, lossSql: String, k: Int,
                etaPermille: Long = 100L,
                smoothPermille: Long = 200L): String =
    s"""WITH ${mixtureCtes(domainSql, lossSql, k, etaPermille, smoothPermille)}
       |SELECT domain, n_docs, mean_loss_micro, excess_micro, weight_micro
       |FROM mix ORDER BY domain""".stripMargin

  /** The shared mixture CTE chain ending in `mix(domain, n_docs,
    * mean_loss_micro, excess_micro, weight_micro)` — ONE definition for
    * the solver gate (c37) and the application gate (c39), so a solver
    * semantics change can't leave a stale consumer oracle.
    */
  private def mixtureCtes(domainSql: String, lossSql: String, k: Int,
                          etaPermille: Long, smoothPermille: Long): String = {
    val levels = (1 to k).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}n"
      s"""l$i AS (SELECT domain, n_docs, mean_loss_micro, excess_micro, uni,
         |  CAST((w * (1000000 + ($etaPermille * excess_micro) // 1000)) // 1000000 AS BIGINT) AS u
         |  FROM $prev),
         |l${i}n AS (SELECT domain, n_docs, mean_loss_micro, excess_micro, uni,
         |  CAST((u * 1000000) // (SELECT CAST(sum(u) AS BIGINT) FROM l$i) AS BIGINT) AS w
         |  FROM l$i)""".stripMargin
    }.mkString(",\n")
    s"""pd AS (SELECT $domainSql AS domain,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum($lossSql) AS BIGINT) AS sum_loss
       |  FROM documents GROUP BY 1),
       |g AS (SELECT CAST(sum(sum_loss) AS BIGINT) AS gsum,
       |    CAST(sum(n_docs) AS BIGINT) AS gn,
       |    CAST(count(*) AS BIGINT) AS nd FROM pd),
       |l0 AS (SELECT domain, n_docs,
       |    CAST(sum_loss // n_docs AS BIGINT) AS mean_loss_micro,
       |    CAST(greatest(sum_loss // n_docs - (SELECT gsum // gn FROM g), 0) AS BIGINT) AS excess_micro,
       |    CAST(1000000 // (SELECT nd FROM g) AS BIGINT) AS w,
       |    CAST(1000000 // (SELECT nd FROM g) AS BIGINT) AS uni
       |  FROM pd),
       |$levels,
       |mix AS (SELECT domain, n_docs, mean_loss_micro, excess_micro,
       |  CAST(((1000 - $smoothPermille) * w) // 1000
       |    + ($smoothPermille * uni) // 1000 AS BIGINT) AS weight_micro
       |FROM l${k}n)""".stripMargin
  }

  /** APPLY a solved mixture (c39 — the consumer c37's weights exist
    * for, the c10b/c11b loop-closing move): per-domain document QUOTA
    * `(budget · weight_micro) / 10⁶` (floor), filled deterministically
    * by the portable multiplicative id hash (the `stratifiedSample`
    * hash — selection is a function of the row, unbiased by id
    * assignment order, reproducible on any engine with 64-bit integer
    * arithmetic; ties broken by id). A domain whose quota exceeds its
    * document count just keeps everything (under-full domains donate
    * nothing — the budget is a cap, not an exact total; real builds
    * re-solve with epochs, see `Curation.epochMix`).
    *
    * Plan shape: the |D|-row quota table joins BROADCAST; the rank is
    * a per-domain window (one shuffle on the domain key — the
    * quotaPerKey shape).
    */
  def applyMixture(docs: DataFrame, domain: Column, id: Column,
                   weights: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = weights.select(col("domain"),
      expr(s"($budget * weight_micro) div 1000000").as("__quota"))
    // ids reduce mod 2^31−1 BEFORE the multiply: the raw product
    // overflows Long for id ≥ ~3.47e9 (realistic at PB scale), and
    // engines disagree on overflow (Spark wraps, DuckDB raises) — the
    // reduced form keeps every intermediate < 2^63 so the documented
    // any-64-bit-engine portability contract actually holds
    val slot = ((col("doc_id") % lit(2147483647L)) * lit(2654435761L) +
      lit(987654321L)) % lit(2147483647L)
    docs.select(domain.as("domain"), id.as("doc_id"))
      .join(broadcast(q), Seq("domain"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("domain")).orderBy(slot, col("doc_id"))))
      .filter(col("__rn") <= col("__quota"))
      .select(col("doc_id"), col("domain"), col("__quota").as("quota"))
  }

  /** RE-SOLVE trigger over the maintained domain-stats store (c41 —
    * the monitoring loop-closer, the c40 move for the mixture family):
    * per domain, compare the LATEST batch's mean loss against the
    * all-batches cumulative mean and emit `resolve` when it moved at
    * least `bandMicro` micro-units in either direction, else `hold` —
    * re-run [[solveFromStore]] only when some domain says `resolve`,
    * instead of on a blind cadence. A domain absent from the latest
    * batch has NULL recent mean → NULL delta → `hold` (no evidence is
    * not drift; pinned by spec). All work is over the ≤batches×|D|-row
    * store — zero corpus cost; the 1-row latest-batch scalar enters as
    * a broadcast.
    */
  def mixtureDriftDecision(spark: org.apache.spark.sql.SparkSession,
                           storePath: String, bandMicro: Long): DataFrame = {
    require(bandMicro >= 0, s"band must be >= 0: $bandMicro")
    val st = spark.read.schema(statsSchema).parquet(storePath)
    val latest = st.agg(max(col("batch_id")).as("__mb"))
    val all = st.groupBy(col("domain"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_loss")).as("__sum"))
      .select(col("domain"), col("n_docs"),
        expr("__sum div n_docs").as("mean_all_micro"))
    val recent = st.crossJoin(broadcast(latest))
      .filter(col("batch_id") === col("__mb"))
      .select(col("domain"),
        expr("sum_loss div n_docs").as("mean_recent_micro"))
    all.join(recent, Seq("domain"), "left")
      .select(col("domain"), col("n_docs"), col("mean_all_micro"),
        col("mean_recent_micro"),
        (col("mean_recent_micro") - col("mean_all_micro")).as("delta_micro"),
        when(abs(col("mean_recent_micro") - col("mean_all_micro")) >=
          bandMicro, lit("resolve")).otherwise(lit("hold")).as("action"))
  }

  /** c41 oracle: rebuild the drive's per-batch censuses from
    * `documents` (`doc_id % nBatches` is the drive's batching rule;
    * replays are idempotent so the staged store equals one clean pass),
    * then the identical cumulative-vs-latest comparison and CASE (NULL
    * delta falls through to 'hold' on both engines).
    */
  def mixtureDriftOracleSql(domainSql: String, lossSql: String,
                            nBatches: Int, bandMicro: Long): String =
    s"""WITH pb AS (SELECT $domainSql AS domain, doc_id % $nBatches AS batch_id,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum($lossSql) AS BIGINT) AS sum_loss
       |  FROM documents GROUP BY 1, 2),
       |al AS (SELECT domain, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |    CAST(sum(sum_loss) AS BIGINT) AS s FROM pb GROUP BY domain),
       |a2 AS (SELECT domain, n_docs,
       |    CAST(s // n_docs AS BIGINT) AS mean_all_micro FROM al),
       |rc AS (SELECT domain, CAST(sum_loss // n_docs AS BIGINT) AS mean_recent_micro
       |  FROM pb WHERE batch_id = (SELECT max(batch_id) FROM pb))
       |SELECT a2.domain, a2.n_docs, a2.mean_all_micro, rc.mean_recent_micro,
       |  CAST(rc.mean_recent_micro - a2.mean_all_micro AS BIGINT) AS delta_micro,
       |  CASE WHEN abs(rc.mean_recent_micro - a2.mean_all_micro) >= $bandMicro
       |       THEN 'resolve' ELSE 'hold' END AS action
       |FROM a2 LEFT JOIN rc ON a2.domain = rc.domain
       |ORDER BY a2.domain""".stripMargin

  /** [[applyMixture]]'s SCALE twin (c39b) — identical keep set, but
    * skew-proof: the exact form ranks every document of a domain in ONE
    * window task, and real web corpora have a mega-domain holding
    * 30–90% of documents — the whole corpus slice through one executor
    * at 100 TB. This form goes through
    * [[graft.curation.Curation.twoPhaseQuotaFill]]: a map-side-combined
    * `(domain, slot-bucket)` histogram picks a per-domain slot
    * THRESHOLD (broadcast, the c10b cutoff discipline), rows below it
    * keep scan-shaped, and only the boundary bucket — expected 1/B of
    * the domain — is exact-ranked for the residual. Same oracle as c39
    * (the scale-twin convention).
    */
  def applyMixtureScalable(docs: DataFrame, domain: Column, id: Column,
                           weights: DataFrame, budget: Long,
                           nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val q = weights.select(col("domain").as("__k"),
      expr(s"($budget * weight_micro) div 1000000").as("__quota"))
    val slot = ((col("doc_id") % lit(2147483647L)) * lit(2654435761L) +
      lit(987654321L)) % lit(2147483647L)
    // slots are uniform on [0, 2^31-1): fixed-width buckets split the
    // range evenly, so the boundary slice is ~1/nBuckets of the domain
    val width = 2147483647L / nBuckets + 1L
    graft.curation.Curation.twoPhaseQuotaFill(
        docs.select(domain.as("domain"), id.as("doc_id")),
        col("domain"), _ => q, slot, col("doc_id"),
        expr(s"__sa div $width"))
      .select(col("doc_id"), col("domain"), col("__quota").as("quota"))
  }

  /** c39 oracle: the shared mixture chain + quota + the identical
    * portable-hash rank fill.
    */
  def applyOracleSql(domainSql: String, lossSql: String, k: Int,
                     budget: Long, etaPermille: Long = 100L,
                     smoothPermille: Long = 200L): String =
    s"""WITH ${mixtureCtes(domainSql, lossSql, k, etaPermille, smoothPermille)},
       |q AS (SELECT domain,
       |    CAST(($budget * weight_micro) // 1000000 AS BIGINT) AS quota FROM mix),
       |d AS (SELECT doc_id, $domainSql AS domain FROM documents),
       |r AS (SELECT d.doc_id, d.domain, q.quota, row_number() OVER (
       |    PARTITION BY d.domain
       |    ORDER BY ((d.doc_id % 2147483647) * 2654435761 + 987654321) % 2147483647, d.doc_id) AS rn
       |  FROM d JOIN q ON d.domain = q.domain)
       |SELECT doc_id, domain, quota FROM r WHERE rn <= quota
       |ORDER BY doc_id""".stripMargin
}
