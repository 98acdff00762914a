package graft.curation

import graft.Checkpoint
import graft.fns.Fns
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines — the composed
  * "raw crawl → training corpus" path: score, filter, deterministically
  * sample, exact-dedup, and quota-cap documents. Every stage is
  * engine-portable arithmetic (gate-checked end-to-end by
  * `c1_curated_corpus`), and the plan shape survives 100 TB: one scan-fused
  * projection for scoring + filtering + sampling, then exactly two
  * key-shuffles (dedup signature, source quota) — nothing is all-pairs,
  * nothing collects to the driver.
  */
object Curation {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(Curation.getClass)

  /** Deterministic content-hash sample: keep a document iff its portable
    * rolling-hash (base-31 mod 1e9+7 — `Fns.rollingHash`, bit-identical on
    * any engine) lands below `pct` of `mod`. Unlike `rand()`-based
    * sampling, the keep decision is a pure function of the content:
    * resumable shards, reproducible ablations, and identical samples on
    * re-runs over re-partitioned data.
    */
  def hashSampleFilter(keyCol: Column, pct: Int, mod: Int = 100): Column =
    pmod(Fns.rollingHash(keyCol), lit(mod.toLong)) < pct

  /** Deterministic train/val/test assignment from the same portable
    * content hash as [[hashSampleFilter]]: hash mod 100 < trainPct →
    * "train", < trainPct+valPct → "val", else "test". Stable across runs,
    * partitionings, and engines — a document never migrates between
    * splits when the corpus is re-processed.
    */
  def splitColumn(keyCol: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val h = pmod(Fns.rollingHash(keyCol), lit(100L))
    when(h < trainPct, "train")
      .when(h < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Train/val/test LEAKAGE report (c27): group documents by the exact
    * canonical token signature ([[keepOneExact]]'s key), record the SET
    * of splits each signature spans, and aggregate signatures/documents
    * per span class — `train+test` rows are eval contamination by exact
    * duplication, the classic leakage bug a split-by-hash pipeline can
    * still have when dedup runs AFTER splitting (or not at all). The
    * report to read before trusting any eval number. One signature
    * shuffle + a span-class-sized aggregate; the span set is a sorted
    * `collect_set` (bounded at 3 splits per signature).
    */
  private def canonicalSigExpr(text: Column): Column =
    array_join(array_sort(array_distinct(split(text, " "))), " ")

  def splitLeakage(docs: DataFrame, text: Column,
                   trainPct: Int = 80, valPct: Int = 10,
                   splitKey: Option[Column] = None): DataFrame =
    docs
      .select(canonicalSigExpr(text).as("__sig"),
        splitColumn(splitKey.getOrElse(text), trainPct, valPct)
          .as("__split"))
      .groupBy(col("__sig"))
      .agg(sort_array(collect_set(col("__split"))).as("__splits"),
        count(lit(1)).as("__n_docs"))
      .select(array_join(col("__splits"), "+").as("span"), col("__n_docs"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_sigs"), sum(col("__n_docs")).as("n_docs"))

  /** The FIX c27 points at, audited by the same report: key the split by
    * the SIGNATURE instead of the raw text, so exact duplicates land in
    * the same split by construction — every span class is single-split,
    * leakage-by-exact-duplication is structurally impossible, and the
    * per-split proportions still follow the hash percentages (now over
    * signatures rather than documents). This is "dedup-aware splitting"
    * without running dedup first.
    */
  def splitLeakageBySignature(docs: DataFrame, text: Column,
                              trainPct: Int = 80,
                              valPct: Int = 10): DataFrame =
    splitLeakage(docs, text, trainPct, valPct,
      splitKey = Some(canonicalSigExpr(text)))

  /** Keep one document per exact-duplicate group (canonical sorted distinct
    * token set), choosing the lowest NON-NULL id. `hashSig = true` is
    * the PB-scale path (the c4b/c19b convention): the group/probe key
    * becomes `xxhash64(sig)` — an 8-byte shuffle key instead of the
    * full sorted token set (KBs per row on real documents), with the
    * usual 64-bit collision trade (~n²/2⁶⁵ false merges). Default
    * `false` keeps raw-signature bit-parity with
    * `Dedup.exactByCanonicalTokens`.
    *
    * Plan shape (round 13): per-signature argmin AGGREGATE (map-side
    * partial combine) + a `(sig, id)` LEFT SEMI join back — never a
    * signature-partitioned window over full rows. A viral duplicate
    * (10⁶ copies of one text) contributes one row per map partition
    * instead of funneling every full-payload copy into a single window
    * task, and even the non-broadcast join path can't skew (the join
    * key is the near-unique winner pair, not the bare signature).
    * CONTRACT (narrower than the window form it replaced): `df` is
    * evaluated TWICE (winner branch + probe side) — checkpoint first if
    * any input column is non-deterministic — and `id` must be non-null
    * (null-id rows are dropped; ids need not be globally unique — the
    * signature participates in the join, so an id reused across
    * signature groups can't smuggle a loser through) and UNIQUE WITHIN
    * each signature group: rows sharing BOTH signature and id are
    * byte-identical keep decisions the semi join cannot tell apart, so
    * all of them survive (the window form kept an arbitrary one — if
    * "exactly one physical row" matters under id collisions, dedup ids
    * per group first or use [[keepOnePreferred]] with a distinguishing
    * priority). CurationSpec + the TextStatsPropertySpec equivalence
    * test pin window-form semantics.
    */
  def keepOneExact(df: DataFrame, text: Column, id: Column,
                   hashSig: Boolean = false): DataFrame = {
    val sig = keepOneSig(text, hashSig)
    val winners = df
      .select(sig.as("__sig"), id.as("__kid"))
      .groupBy(col("__sig")).agg(min(col("__kid")).as("__kid"))
    df.join(winners,
      sig <=> col("__sig") && id === col("__kid"), "left_semi")
  }

  /** [[keepOneExact]] reduced to the WINNER KEYS (r20): when the caller
    * only needs the kept ids plus per-row columns OF THE WINNER, the
    * min-aggregate IS the answer — `min(struct(id, carries…))` per
    * signature group (ids are globally unique under the composed
    * pipelines' existing contract, so the struct min never consults the
    * carry fields) — ONE scan and ONE shuffle instead of
    * [[keepOneExact]]'s two evaluations plus the probe-side semi join.
    * Null-id rows are dropped (the keepOneExact contract); a NULL
    * signature (NULL text) forms its own group exactly as the
    * null-safe-equal probe did. Output: `doc_id` + the carry columns.
    */
  def keepOneExactIds(df: DataFrame, text: Column, id: Column,
                      hashSig: Boolean = false,
                      carry: Seq[(String, Column)] = Nil): DataFrame = {
    val sig = keepOneSig(text, hashSig)
    df.filter(id.isNotNull)
      .select(sig.as("__sig"),
        struct(id.as("doc_id") +:
          carry.map { case (n, c) => c.as(n) }: _*).as("__r"))
      .groupBy(col("__sig")).agg(min(col("__r")).as("__r"))
      .select(col("__r.doc_id") +:
        carry.map { case (n, _) => col(s"__r.$n") }: _*)
  }

  /** The keep-one group/probe key: canonical sorted distinct token set,
    * optionally collapsed to its xxhash64 (8 bytes on the wire — the
    * only part of the row either keep-one shape ever shuffles).
    */
  private def keepOneSig(text: Column, hashSig: Boolean): Column = {
    val raw = array_join(array_sort(array_distinct(split(text, " "))), " ")
    if (hashSig) xxhash64(raw) else raw
  }

  /** The ONE 100 TB dedup-key switch: composed pipelines
    * ([[trainingManifest]]/[[trainingManifestV2]]/[[curationFunnel]]/
    * [[publishedFunnel]]) whose callers don't choose explicitly
    * (`hashSig = None`) read the session conf
    * `spark.graft.dedup.hashSig` — so a 100 TB deployment flips one
    * config instead of opting in per call. Defaults to `false` (the
    * raw-signature key) for oracle bit-parity; the primitive
    * [[keepOneExact]]/[[keepOnePreferred]] keep their explicit Boolean
    * (a primitive should never read ambient state).
    */
  private def resolveHashSig(df: DataFrame,
                             hashSig: Option[Boolean]): Boolean =
    hashSig.getOrElse(df.sparkSession.conf
      .get("spark.graft.dedup.hashSig", "false").toBoolean)

  /** The ONE skew-safety switch (the `hashSig` pattern generalized):
    * composed pipelines whose callers don't choose explicitly read
    * `spark.graft.scalableWindows` — when true, every per-key corpus
    * window inside a composition swaps to its funnel-free twin
    * (two-phase quota fill, distributed prefix sum) with bit-identical
    * results. Default `false`: the window forms are cheaper at small
    * scale and are the oracle-parity plans.
    */
  private def resolveScalable(df: DataFrame,
                              scalable: Option[Boolean]): Boolean =
    scalable.getOrElse(df.sparkSession.conf
      .get("spark.graft.scalableWindows", "false").toBoolean)

  /** Decompose a window `order` into the scale twins' canonical
    * `(sortAsc, tieId)` pair so the PLAIN entry points can dispatch on
    * [[resolveScalable]] (one convention everywhere — the composed
    * pipelines already have it). Supported: exactly two columns, the
    * tie ascending; a DESCENDING primary maps to its negation (numeric
    * only — anything else fails analysis with Spark's own error).
    * Anything the twins cannot honor fails LOUDLY, never silently
    * reorders: explicit non-default null orders (`asc_nulls_last`,
    * `desc_nulls_first`) are rejected at build — the twins' sentinel
    * machinery is nulls-first-ascending — and a plain `.desc` primary
    * (nulls LAST, where `-x` ASC would put a NULL first) gets a
    * runtime `raise_error` guard that fires only if a NULL sort key
    * actually appears; coalesce upstream or call the twin directly
    * with an explicit NULL policy. Integral `Long.MinValue` under a
    * desc primary raises (ANSI negate overflow, the session default)
    * rather than mis-ranking; do not disable ANSI around a desc
    * dispatch.
    */
  private def twinOrder(order: Seq[Column]): (Column, Column) = {
    import org.apache.spark.sql.graftbridge.Bridge
    require(order.length == 2,
      s"scalable dispatch needs order = Seq(primary, tieId), got ${order.length} columns")
    val sa = Bridge.sortOrder(order.head) match {
      case Some((_, _, false)) => throw new IllegalArgumentException(
        "scalable dispatch cannot honor an explicit non-default null " +
          "ordering (asc_nulls_last / desc_nulls_first) — the twins rank " +
          "ascending nulls-first; coalesce NULLs upstream or call the " +
          "twin directly")
      case Some((child, true, _)) =>
        when(child.isNull, raise_error(lit(
          "NULL sort key under a DESCENDING scalable dispatch: the window " +
            "form ranks it last, the twin would rank it first — coalesce " +
            "upstream or call the twin directly with an explicit NULL " +
            "policy"))).otherwise(negate(child))
      case Some((child, false, _)) => child
      case None => order.head
    }
    val ti = Bridge.sortOrder(order(1)) match {
      case Some((_, true, _)) => throw new IllegalArgumentException(
        "scalable dispatch needs an ASCENDING tieId (the twins' contract)")
      case Some((_, _, false)) => throw new IllegalArgumentException(
        "scalable dispatch needs the default nulls-first tieId ordering")
      case Some((child, _, _)) => child
      case None => order(1)
    }
    (sa, ti)
  }

  /** [[keepOneExact]] with an explicit keep preference: when the same
    * canonical token signature appears in several corpora/sources, keep
    * the copy with the LOWEST `priority` (ties → lowest id) — "prefer
    * the curated copy over the crawl copy of identical content", the
    * cross-corpus merge policy every multi-source build needs. Same
    * skew-proof shape and CONTRACT as [[keepOneExact]]: the combiner-
    * friendly min-STRUCT aggregate (struct comparison is lexicographic,
    * exactly the `(priority, id)` window order it replaces) + a
    * `(sig, priority, id)` semi join. Priority IS part of the join key:
    * the documented use case is two sources reusing one id for
    * identical text with different priorities, and a `(sig, id)`-only
    * probe would keep both copies — with priority in the key only the
    * preferred copy matches the winner. The per-group uniqueness
    * contract therefore narrows to the full `(priority, id)` pair:
    * rows duplicated on signature AND priority AND id are
    * indistinguishable keep decisions and all survive. `hashSig` as in
    * [[keepOneExact]]: true = 8-byte xxhash64 shuffle/probe key, the
    * PB-scale twin (c16b).
    */
  def keepOnePreferred(df: DataFrame, text: Column, id: Column,
                       priority: Column, hashSig: Boolean = false): DataFrame = {
    val sig = keepOneSig(text, hashSig)
    val winners = df
      .select(sig.as("__sig"),
        struct(priority.as("p"), id.as("i")).as("__pi"))
      .groupBy(col("__sig")).agg(min(col("__pi")).as("__pi"))
      .select(col("__sig"), col("__pi").getField("p").as("__kp"),
        col("__pi").getField("i").as("__kid"))
    df.join(winners,
      sig <=> col("__sig") && priority <=> col("__kp") &&
        id === col("__kid"), "left_semi")
  }

  /** Per-source quota: cap each source at `n` documents, preferring longer
    * ones (ties → lowest id) — the "don't let one domain dominate the mix"
    * operator. One shuffle on the source key.
    */
  def quotaPerKey(df: DataFrame, key: Column, n: Int,
                  order: Seq[Column],
                  scalable: Option[Boolean] = None): DataFrame =
    if (resolveScalable(df, scalable)) {
      val (sa, ti) = twinOrder(order)
      quotaPerKeyScalable(df, key, n, sa, ti)
    } else df.withColumn("__qrn",
        row_number().over(Window.partitionBy(key).orderBy(order: _*)))
      .filter(col("__qrn") <= n).drop("__qrn")

  /** TWO-PHASE exact per-key quota fill — the scale-safe twin of the
    * per-key `row_number` window (which funnels EVERY row of a key into
    * one task: a mega-domain holding 30–90% of a web corpus would drag
    * the whole slice through a single executor). Same keep set, bit for
    * bit; the c10b broadcast-cutoff discipline applied to rank-k:
    *
    *  1. HISTOGRAM: one map-side-combined reduce to `(key, bucket,
    *     count)` where `bucket` is a monotone non-decreasing function
    *     of the sort key (≤ |K|·B tiny rows, checkpointed — it IS the
    *     decision model, like a trained vocab).
    *  2. THRESHOLD: per key, the first bucket whose cumulative count
    *     reaches the quota (a window over the REDUCED histogram), and
    *     how many rows fall strictly below it. Broadcast.
    *  3. FILL: rows in buckets below the threshold keep scan-shaped
    *     (pure filter, no shuffle); ONLY the boundary-bucket slice —
    *     expected 1/B of each key — is exact-ranked to fill the
    *     residual. Monotonicity makes the composition exactly the
    *     global per-key `(sort, tie)` rank.
    *
    * `quotas` receives the per-key `(__k, __n)` count frame (derived
    * from the reduced histogram, never a second corpus pass) and must
    * return `(__k, __quota)` (extra columns tolerated); keys it omits —
    * and NULL keys, which the equi-joins drop (coalesce upstream if a
    * null-key group must participate) — are DROPPED (the c39
    * inner-join semantics). `bucket` may reference `__sa` (the staged
    * sort key) and must map a NULL sort key to a NON-NULL sentinel
    * sorting before all real buckets (`coalesce(…, Long.MinValue)`,
    * matching the window form's nulls-first order) — a NULL bucket
    * would silently drop the row at the threshold equi-join.
    * CONTRACT: `df` is evaluated twice (histogram + fill pass — the
    * [[keepOneExact]] double-eval contract); ties on `(key, sortA,
    * tieId)` are indistinguishable keep decisions, so make `tieId`
    * unique per key. Output: `df`'s columns + the key's `__quota`.
    * `boundarySplit` (conf fallback `spark.graft.boundarySplit`, the
    * [[resolveBoundarySplitMode]] convention; unset = evidence-based
    * per-key engagement): route the boundary rank through
    * [[splitBoundaryRank]]'s tie-id second level — bit-identical
    * keeps, two extra slice passes, and no funnel even when one modal
    * sort value holds 90% of a key (equal sort keys MUST share a
    * level-1 bucket, so only the tie-id split can spread them).
    * BROADCAST CONTRACT: the per-key quota/threshold frames are
    * force-broadcast (they are reduced to ≤ |K| rows) — the KEY
    * CARDINALITY must fit a broadcast (sources, domains, languages:
    * thousands to low millions). Lifting this onto a high-cardinality
    * key (e.g. per-document) needs a shuffle-join fallback instead of
    * the `broadcast(...)` hints below.
    */
  private[graft] def twoPhaseQuotaFill(df: DataFrame, key: Column,
      quotas: DataFrame => DataFrame, sortA: Column, tieId: Column,
      bucket: Column, boundarySplit: Option[Boolean] = None): DataFrame = {
    val base = df.withColumn("__k2", key).withColumn("__sa", sortA)
      .withColumn("__ti", tieId).withColumn("__b", bucket)
    val hist = Checkpoint(base.groupBy(col("__k2"), col("__b"))
      .agg(count(lit(1)).as("__c")))
    val q = quotas(hist.groupBy(col("__k2"))
      .agg(sum(col("__c")).as("__n")).select(col("__k2").as("__k"),
        col("__n")))
    val cum = hist.withColumn("__cum", sum(col("__c"))
      .over(Window.partitionBy(col("__k2")).orderBy(col("__b"))))
    val boundary = cum.join(broadcast(q), col("__k2") === col("__k"))
      .filter(col("__cum") >= col("__quota"))
      .groupBy(col("__k2"))
      .agg(min(struct(col("__b").as("b"),
        (col("__cum") - col("__c")).as("below"))).as("__bd"))
      .select(col("__k2").as("__bk"), col("__bd").getField("b").as("__tb"),
        col("__bd").getField("below").as("__below"))
    // a key whose quota exceeds its row count has NO boundary bucket
    // (left join → NULL threshold): it keeps everything, scan-shaped
    val th = q.join(boundary, col("__k") === col("__bk"), "left")
      .select(col("__k"), col("__quota"), col("__tb"), col("__below"))
    val joined = base.join(broadcast(th), col("__k2") === col("__k"))
    val kept = joined.filter(col("__tb").isNull || col("__b") < col("__tb"))
    val slice0 = joined.filter(col("__b") === col("__tb"))
    val tiNumeric = base.schema("__ti").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def plainRank(s: DataFrame): DataFrame = s
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__k2"))
        .orderBy(col("__sa"), col("__ti"))))
      .filter(col("__rn") <= col("__quota") - col("__below"))
      .drop("__rn")
    val filled =
      if (!tiNumeric) plainRank(slice0)
      else resolveBoundarySplitMode(df, boundarySplit) match {
        case Some(true)  => splitBoundaryRank(slice0, th)
        case Some(false) => plainRank(slice0)
        case None =>
          // EVIDENCE-BASED (the default): the level-1 histogram already
          // holds the boundary bucket's row count per key — engage the
          // second level ONLY for keys whose boundary bucket exceeds
          // the single-task bound, off the checkpointed tiny frame (no
          // corpus pass). A modal-key corpus engages itself; everyone
          // else keeps the single-level oracle-parity plan at zero
          // extra cost. Bit-identical either way (the two paths agree
          // per key and route whole keys).
          val heavyKeys = hist
            .join(th.select(col("__k"), col("__tb")),
              col("__k2") === col("__k") && col("__b") === col("__tb"))
            .filter(col("__c") > boundarySplitRows(df))
            .select(col("__k2")).collect().map(_.get(0)).toSeq
          if (heavyKeys.isEmpty) plainRank(slice0)
          else plainRank(slice0.filter(!col("__k2").isin(heavyKeys: _*)))
            .unionByName(
              splitBoundaryRank(slice0.filter(col("__k2").isin(heavyKeys: _*)),
                th))
      }
    kept.unionByName(filled)
      .drop("__k2", "__sa", "__ti", "__b", "__k", "__tb", "__below")
  }

  /** `spark.graft.boundarySplit` — the SECOND-level (degenerate-sort-key)
    * defence for [[twoPhaseQuotaFill]]/[[distributedPrefixSum]]. Equal
    * sort keys must share a level-1 bucket (monotonicity), so a key
    * whose rows concentrate on ONE modal sort value (a mega-domain of
    * same-length snippets — c1b's real shape) funnels into the boundary
    * rank the twin exists to remove. Three-state:
    *   - explicit `Some(true)` / conf `"true"`: split EVERYWHERE;
    *   - explicit `Some(false)` / conf `"false"`: single-level rank
    *     everywhere (the minimal oracle-parity plan);
    *   - UNSET (the default): EVIDENCE-BASED — per key/bucket, the
    *     second level engages only when the (already-checkpointed)
    *     level-1 histogram shows a funnel bucket holding more than
    *     `spark.graft.boundarySplit.rows` rows (default 2^22 — a
    *     single task ranks a few million narrow rows comfortably;
    *     beyond that the funnel dominates). A 100 TB operator should
    *     not need a session flag flipped before the modal-key corpus
    *     arrives; the bit-identical keep set makes auto-routing safe.
    */
  private def resolveBoundarySplitMode(df: DataFrame,
                                       split: Option[Boolean]): Option[Boolean] =
    split.orElse(df.sparkSession.conf
      .getOption("spark.graft.boundarySplit").map(_.toBoolean))

  /** The evidence bound for auto boundary-split engagement (rows in one
    * funnel bucket before the second level pays for itself).
    */
  private def boundarySplitRows(df: DataFrame): Long =
    df.sparkSession.conf
      .get("spark.graft.boundarySplit.rows", "4194304").toLong

  /** SECOND-LEVEL exact fill of the boundary-bucket slice: sub-bucket
    * by `(sortA, tieId-range)` — lexicographically monotone in the
    * `(sortA, tieId)` rank order because equal sort keys order by the
    * (unique) tie id — and exact-rank ONLY the sub-boundary bucket, so
    * the one remaining window sees an expected 1/B₂ of the slice even
    * when every row shares one sort value. Tie-id edges derive
    * equi-width from the slice's per-key min/max in DOUBLE arithmetic:
    * no ANSI overflow on extreme id ranges, and a double conversion is
    * monotone non-decreasing, so precision loss can only MERGE
    * adjacent sub-buckets (a performance matter), never reorder them
    * (the correctness one). The sub-histogram is CORPUS-INDEPENDENT:
    * an integral sort key is range-pinned inside its level-1 bucket
    * (`sa div w = b` ⇒ at most w distinct values), so the per-key
    * reduced frame holds ≤ (level-1 width × 4096) rows no matter how
    * many corpus rows share the bucket — shrink the level-1 width if
    * that product matters. Input/output: [[twoPhaseQuotaFill]]'s
    * staged slice columns; bit-identical keep set to the plain rank.
    */
  /** The SHARED sub-bucket edge derivation both split paths ride
    * ([[splitBoundaryRank]], [[splitPrefixSum]]): per-key equi-width
    * tie-id ranges off the frame's min/max in DOUBLE arithmetic
    * (monotone — precision loss can only MERGE adjacent sub-buckets,
    * never reorder them — and total: no ANSI overflow on extreme id
    * spans), appended as `__b2 = struct(__sa, tie-range)`, which is
    * lexicographically monotone in the `(__sa, __ti)` rank order. The
    * per-key stats frame is checkpointed (tiny) and enters broadcast.
    * ONE definition so the 4096 fan-out, the monotonicity argument and
    * the edge handling cannot drift apart between the two paths.
    */
  private def withTieSubBuckets(df: DataFrame): DataFrame = {
    val b2n = 4096.0
    val stats = Checkpoint(df.groupBy(col("__k2"))
      .agg(min(col("__ti").cast("double")).as("__tmin"),
        max(col("__ti").cast("double")).as("__tmax"))
      .withColumn("__w2",
        greatest((col("__tmax") - col("__tmin") + 1.0) / lit(b2n), lit(1.0)))
      .select(col("__k2").as("__sk"), col("__tmin"), col("__w2")))
    df.join(broadcast(stats), col("__k2") === col("__sk"))
      .withColumn("__b2", struct(col("__sa").as("sa"),
        floor((col("__ti").cast("double") - col("__tmin")) / col("__w2"))
          .as("tb")))
  }

  private def splitBoundaryRank(slice: DataFrame, th: DataFrame): DataFrame = {
    val s2 = withTieSubBuckets(slice)
    val hist2 = Checkpoint(s2.groupBy(col("__k2"), col("__b2"))
      .agg(count(lit(1)).as("__c2")))
    // residual quota per key off the (tiny, per-key) threshold frame —
    // never a second corpus pass
    val resid = th.filter(col("__tb").isNotNull)
      .select(col("__k").as("__rk"),
        (col("__quota") - col("__below")).as("__rq"))
    val boundary2 = hist2
      .withColumn("__cum2", sum(col("__c2")).over(
        Window.partitionBy(col("__k2")).orderBy(col("__b2"))))
      .join(broadcast(resid), col("__k2") === col("__rk"))
      .filter(col("__cum2") >= col("__rq"))
      .groupBy(col("__k2"))
      .agg(min(struct(col("__b2").as("b"),
        (col("__cum2") - col("__c2")).as("below"))).as("__bd2"))
      .select(col("__k2").as("__bk2"), col("__bd2").getField("b").as("__tb2"),
        col("__bd2").getField("below").as("__below2"))
    val j2 = s2.join(broadcast(boundary2), col("__k2") === col("__bk2"))
    val kept2 = j2.filter(col("__b2") < col("__tb2"))
    val ranked2 = j2.filter(col("__b2") === col("__tb2"))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__k2"))
        .orderBy(col("__sa"), col("__ti"))))
      .filter(col("__rn") <=
        col("__quota") - col("__below") - col("__below2"))
      .drop("__rn")
    kept2.unionByName(ranked2)
      .drop("__sk", "__tmin", "__w2", "__b2", "__bk2", "__tb2", "__below2")
  }

  /** [[quotaPerKey]]'s scale twin via [[twoPhaseQuotaFill]]: identical
    * keep set for order `(sortAsc ASC, tieId ASC)` (express "longest
    * first" as `-n_tokens`), but the only corpus-scale window runs over
    * the boundary-bucket slice. `bucketWidth` trades histogram size
    * against slice width (buckets = sort-key range / width; truncating
    * integer division is monotone on negatives too, so descending
    * sort keys bucket correctly).
    */
  def quotaPerKeyScalable(df: DataFrame, key: Column, n: Int,
                          sortAsc: Column, tieId: Column,
                          bucketWidth: Long = 64L,
                          boundarySplit: Option[Boolean] = None): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    twoPhaseQuotaFill(df, key,
        keys => keys.withColumn("__quota", lit(n.toLong)),
        sortAsc, tieId,
        coalesce(expr(s"__sa div $bucketWidth"), lit(Long.MinValue)),
        boundarySplit)
      .drop("__quota")
  }

  /** Deterministic stratified sampling: keep a fixed per-stratum permille
    * by thresholding a portable multiplicative hash of the id — the
    * reproducible "downsample the over-represented sources" step
    * (fixed-rate sibling of [[temperatureSample]]'s adaptive rates).
    * Pure projection + filter: no shuffle, no RNG state, and the keep
    * decision is a function of the row alone — so it is stable under
    * retries/replays and partition re-splits, and any engine with 64-bit
    * integer arithmetic reproduces the exact sample.
    */
  def stratifiedSample(df: DataFrame, key: Column, id: Column,
                       rates: Seq[(String, Int)],
                       defaultPermille: Int = 100): DataFrame = {
    // id reduced mod 2^31−1 BEFORE the multiply: the raw product
    // overflows Long for id ≥ ~3.47e9 and engines disagree on overflow
    // (Spark wraps, DuckDB raises), so the unreduced form would break
    // the documented any-64-bit-engine reproducibility at PB-scale ids
    val slot = ((id % lit(2147483647L)) * lit(2654435761L) +
      lit(987654321L)) % lit(2147483647L) % lit(1000L)
    val rate = rates.foldLeft(lit(defaultPermille)) { case (acc, (k, r)) =>
      when(key === k, lit(r)).otherwise(acc)
    }
    df.filter(slot < rate)
  }

  /** The AUDIT read of [[decontaminate]] (d8b): per EVAL document, how
    * many distinct corpus documents share at least one word n-gram
    * with it, and how many distinct grams leak — "how contaminated is
    * my benchmark", the report an eval owner reads before trusting a
    * score (the dropped-training-docs view answers the opposite
    * question). Eval docs with no leakage appear with zeros. Same plan
    * economics as [[decontaminate]]: eval grams BROADCAST, corpus side
    * map-side joined, one aggregation shuffle keyed on the (small)
    * eval-doc id.
    */
  def contaminationReport(docs: DataFrame, evalDocs: DataFrame,
                          text: Column = col("text"),
                          id: Column = col("doc_id"),
                          ngram: Int = 3): DataFrame = {
    import graft.dedup.Dedup
    val evalGrams = evalDocs.select(id.as("eval_doc_id"),
      explode(array_distinct(Dedup.shingles(text, ngram))).as("g"))
    val corpusGrams = docs.select(id.as("doc_id"),
      explode(array_distinct(Dedup.shingles(text, ngram))).as("g"))
    val hits = corpusGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("eval_doc_id"))
      .agg(countDistinct(col("doc_id")).as("n_contaminating_docs"),
        countDistinct(col("g")).as("n_shared_grams"))
    evalDocs.select(id.as("eval_doc_id"))
      .join(hits, Seq("eval_doc_id"), "left")
      .select(col("eval_doc_id"),
        coalesce(col("n_contaminating_docs"), lit(0L))
          .as("n_contaminating_docs"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
  }

  /** Decontamination: corpus documents sharing ANY word `n`-gram with the
    * evaluation/benchmark set (the pre-training hygiene step — drop
    * training docs that leak eval content). Shingles via
    * [[graft.dedup.Dedup.shingles]] (d6 oracle-parity), eval grams
    * deduplicated then BROADCAST: eval sets are small by construction, so
    * the corpus side is a map-side semi-join — no corpus shuffle at all,
    * just the final distinct on flagged ids.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame,
                    text: Column = col("text"), id: Column = col("doc_id"),
                    ngram: Int = 3): DataFrame = {
    import graft.dedup.Dedup
    val corpusGrams = docs.select(id.as("doc_id"),
      explode(array_distinct(Dedup.shingles(text, ngram))).as("g"))
    val evalGrams = evalDocs
      .select(explode(array_distinct(Dedup.shingles(text, ngram))).as("g"))
      .distinct()
    corpusGrams.join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Graded companion to [[decontaminate]]: the FRACTION of each corpus
    * document's distinct word n-grams that appear in the eval set, with
    * the counts behind it — real decontamination policies threshold on
    * partial overlap ("drop above 70% 8-gram overlap") rather than
    * dropping on any single shared gram, and the fraction is the report
    * that decides the threshold. Same plan shape as decontaminate (eval
    * grams deduplicated then broadcast; ONE corpus scan — the gram count
    * and the hit count come from the same exploded frame via a broadcast
    * flag join, no join-back).
    */
  def contaminationFraction(docs: DataFrame, evalDocs: DataFrame,
                            text: Column = col("text"),
                            id: Column = col("doc_id"),
                            ngram: Int = 3): DataFrame = {
    import graft.dedup.Dedup
    val exploded = docs.select(id.as("doc_id"),
      explode(array_distinct(Dedup.shingles(text, ngram))).as("g"))
    val evalGrams = evalDocs
      .select(explode(array_distinct(Dedup.shingles(text, ngram))).as("g"))
      .distinct()
    exploded
      .join(broadcast(evalGrams.withColumn("__hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 6)
          .as("contamination_frac"))
  }

  /** One micro-batch of INCREMENTAL corpus dedup — the
    * [[graft.pipeline.RedsetPipeline.incrementalBatch]] pattern generalized
    * to document ingestion: staging is partitioned by
    * `(bucket = xxhash64(sig) mod nBuckets, batch_id)`; each batch appends
    * its docs (the 8-byte signature HASH computed once and stored — never
    * the corpus-sized signature string), then the keep-first-seen set is
    * recomputed ONLY for the buckets this batch touched and dynamically
    * overwrites just those partitions of the materialized output.
    *
    * Exactness: the winner per signature hash is `min(doc_id)` over the
    * full staged history, signatures never interact, and a signature's rows
    * all land in one bucket — so a touched-bucket recompute reproduces
    * exactly what a global keep-one would, and untouched buckets are
    * already byte-identical. Idempotent per `batchId` (dynamic overwrite of its own
    * staging partitions), so at-least-once replays are no-ops. Per-batch
    * input is O(touched buckets), not O(corpus life).
    *
    * Wire into `foreachBatch` for streaming ingestion, or call directly
    * for batch backfills (the `d9_incremental_dedup` gate drives it with a
    * replayed batch and hash-checks the final corpus against a global
    * keep-one oracle).
    */
  /** Ensure a store marker dir exists (readers with explicit schemas
    * treat an empty dir as an empty frame, but a MISSING dir throws).
    * The filesystem is resolved from the PATH, not the default FS — a
    * qualified path (s3a://…, file://…) on a cluster whose defaultFS is
    * hdfs:// would otherwise throw Wrong FS after the writes succeeded.
    */
  private def ensureDir(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    ()
  }

  def incrementalDedupBatch(batch: DataFrame, batchId: Long,
                            stagingPath: String, outputPath: String,
                            nBuckets: Int = 64,
                            text: Column = col("text"),
                            id: Column = col("doc_id")): Unit = {
    val spark = batch.sparkSession
    val sig = array_join(array_sort(array_distinct(split(text, " "))), " ")
    // Stage xxhash64(sig), never the signature itself: the raw signature is
    // corpus-sized (≈ the document text), so staging it doubles write I/O;
    // the 8-byte hash keeps staging O(metadata). Keep-one then groups on
    // the hash — same winner (min(doc_id) per group) unless two distinct
    // signatures collide in 64 bits. Expected colliding pairs ≈ n²/2⁶⁵:
    // ~3% odds at 10⁹ docs, but ~27k expected collisions at 10¹² — each
    // merging one pair of near-miss groups and losing one doc. Tolerable
    // for lossy dedup at 10⁹-10¹⁰ scale; beyond that, stage a second
    // independent 64-bit hash (e.g. xxhash64(sig, salt)) and group on both.
    val sigH = xxhash64(sig)
    val staged = batch
      .withColumn("__sig_h", sigH)
      .withColumn("bucket", pmod(col("__sig_h"), lit(nBuckets.toLong)).cast("int"))
      .withColumn("batch_id", lit(batchId))
    staged.repartition(col("bucket")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "batch_id").parquet(stagingPath)
    // bounded collect: ≤ nBuckets values
    val touched = batch
      .select(pmod(sigH, lit(nBuckets.toLong)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0))
    if (touched.nonEmpty) {
      // Explicit schema, two reasons: (a) a cleaning-emptied first batch
      // leaves a footer-less dir that inference chokes on; (b) inference
      // over a staging dir written by an OLDER format (raw `__sig`, no
      // `__sig_h`) would silently read legacy rows with NULL __sig_h,
      // collapsing them into one keep-one group (data loss on upgrade).
      // The raise_error guard turns that silent loss into a fail-fast in
      // the same scan: new-format rows can never carry a NULL __sig_h
      // (xxhash64 is null-tolerant — NULL text still hashes to the seed).
      val slice = spark.read.schema(staged.schema).parquet(stagingPath)
        .filter(col("bucket").isin(touched.toIndexedSeq.map(Integer.valueOf): _*))
        .withColumn("__sig_h", when(col("__sig_h").isNull, raise_error(lit(
          s"legacy staging format at $stagingPath: rows without __sig_h — " +
            "migrate the dir or point stagingPath at a fresh location")))
          .otherwise(col("__sig_h")))
      val kept = slice
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("__sig_h")).orderBy(id)))
        .filter(col("__rn") === 1).drop("__rn", "__sig_h", "batch_id")
      kept.repartition(col("bucket")).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(outputPath)
    }
    ()
  }

  /** Streaming corpus ingestion with incremental dedup: each micro-batch
    * runs [[incrementalDedupBatch]] — the materialized output at
    * `outputPath` is always the keep-first-seen corpus over everything
    * ingested so far. foreachBatch is at-least-once; staging idempotence
    * makes replays no-ops.
    */
  def dedupIngest(raw: DataFrame, stagingPath: String, outputPath: String,
                  nBuckets: Int = 64,
                  queryName: String = "graft_dedup_ingest"): org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream.queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalDedupBatch(batch, batchId, stagingPath, outputPath, nBuckets)
      }.start()

  /** One micro-batch of INCREMENTAL d12b maintenance: keep the LSH
    * spanning-edge graph — and therefore the dedup-audit cluster
    * histogram — current as documents stream in, without ever recomputing
    * signatures for already-ingested docs.
    *
    * Same staging discipline as [[incrementalDedupBatch]]: the batch's
    * PORTABLE md5 band rows ([[graft.dedup.Dedup.minHashBandRowsPortable]])
    * are staged partitioned by `(bucket = xxhash64(band, band_hash) mod
    * nBuckets, batch_id)`; the spanning edges are then recomputed ONLY
    * for the buckets this batch touched, from the full staged history of
    * those buckets, and dynamically overwrite just those partitions of
    * the materialized edge store.
    *
    * Exactness: a (band, band_hash) bucket's rows all land in one
    * bucket-partition, and [[graft.dedup.Dedup.spanningEdgesFromBandRows]]
    * is deterministic in the SET of band rows — so the maintained edge
    * store is byte-identical to the edges a global
    * `minHashLshEdgesPortable` would emit over everything ingested so
    * far (asserted batch-vs-stream in CurationSpec). Idempotent per
    * `batchId` (dynamic overwrite of its own staging partitions):
    * at-least-once replays are no-ops — ASSUMING a replayed batchId
    * carries identical data, which is Spark's foreachBatch replay
    * contract (same offsets ⇒ same batch). A non-Spark driver re-using a
    * batchId for DIFFERENT rows would strand the prior attempt's staged
    * partitions for buckets absent from the retry (phantom docs/edges);
    * point such drivers at a fresh batchId instead. The HISTOGRAM itself is derived on
    * read ([[lshHistogramFromStore]]) because connected components are
    * global by nature; what the incremental layer saves is the signature
    * computation and the untouched buckets' edge derivation — the two
    * corpus-sized costs.
    */
  def incrementalLshHistogramBatch(batch: DataFrame, batchId: Long,
                                   stagingPath: String, edgesPath: String,
                                   numHashes: Int, bands: Int,
                                   nBuckets: Int = 64,
                                   text: Column = col("text"),
                                   id: Column = col("doc_id")): Unit = Checkpoint.scope {
    val spark = batch.sparkSession
    // Materialized once: the band-row derivation (numHashes md5
    // aggregations over the batch) feeds both the staging write and the
    // touched-bucket probe — uncheckpointed, the probe's collect would
    // re-run the signature pipeline, and "signatures computed once per
    // doc" is this operator's contract
    val bandRows = Checkpoint(graft.dedup.Dedup
      .minHashBandRowsPortable(batch, text, id, numHashes, bands)
      .withColumn("bucket",
        pmod(xxhash64(col("band"), col("band_hash")), lit(nBuckets.toLong))
          .cast("int")))
    val staged = bandRows.withColumn("batch_id", lit(batchId))
    staged.repartition(col("bucket")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "batch_id").parquet(stagingPath)
    // bounded collect: ≤ nBuckets values, off the checkpointed block
    val touched = bandRows.select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    if (touched.nonEmpty) {
      // explicit schema: an early batch can stage zero rows for a bucket
      // (footer-less dir) and inference would fail
      val slice = spark.read.schema(staged.schema).parquet(stagingPath)
        .filter(col("bucket").isin(touched.toIndexedSeq.map(Integer.valueOf): _*))
      // bucket rides through the shared edge rule so each edge lands in
      // its own bucket's partition — a (band, band_hash) group never
      // spans buckets, so the per-bucket distinct equals the global one
      // up to cross-band duplicates, which the store reader collapses
      val edges = graft.dedup.Dedup
        .spanningEdgesFromBandRows(slice, carry = Seq("bucket"))
      edges.repartition(col("bucket")).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(edgesPath)
    }
    // an all-empty or all-unshingleable first batch touches no bucket and
    // writes no edges — still ensure the edge store DIR exists so a
    // concurrent/subsequent lshHistogramFromStore read (explicit schema,
    // empty dir ⇒ empty frame) never throws path-not-found
    ensureDir(spark, edgesPath)
    ()
  }

  /** The d12b audit histogram over the [[incrementalLshHistogramBatch]]
    * store: doc universe from the staged band rows (band 0 — every doc
    * has one row per band), edges from the maintained store with
    * cross-band duplicates collapsed, then the shared
    * [[graft.dedup.Dedup.clusterHistogramFromEdges]] tail. Hash-identical
    * to `Dedup.lshClusterHistogram` over everything ingested so far
    * (asserted in CurationSpec).
    *
    * @param idType the staged `doc_id` type (explicit schemas: a young
    *               store can have footer-less partition dirs)
    */
  /* Doc-universe caveat: the staged band rows ARE the universe, so a doc
   * whose text yields no shingles (NULL text — `split` of NULL explodes
   * to zero rows) never reaches the store and is absent from the
   * histogram, while the one-shot `lshClusterHistogram(df, …)` counts it
   * as a singleton. Clean ingestion upstream (the pipeline's F-family
   * filters) makes the two forms identical; feed pre-cleaned docs. */
  def lshHistogramFromStore(spark: org.apache.spark.sql.SparkSession,
                            stagingPath: String, edgesPath: String,
                            idType: org.apache.spark.sql.types.DataType =
                              org.apache.spark.sql.types.LongType): DataFrame = {
    import org.apache.spark.sql.types._
    val stagedSchema = lshStagedSchema(idType)
    val edgeSchema = StructType(Seq(
      StructField("doc_a", idType), StructField("doc_b", idType),
      StructField("bucket", IntegerType)))
    val docs = spark.read.schema(stagedSchema).parquet(stagingPath)
      .filter(col("band") === 0).select(col("doc_id")).distinct()
    val edges = spark.read.schema(edgeSchema).parquet(edgesPath)
      .select(col("doc_a"), col("doc_b")).distinct()
    graft.dedup.Dedup.clusterHistogramFromEdges(docs, edges)
  }

  /** Streaming d12b maintenance: each micro-batch runs
    * [[incrementalLshHistogramBatch]] — the audit histogram over
    * everything ingested so far is always one [[lshHistogramFromStore]]
    * read away. foreachBatch is at-least-once; staging idempotence makes
    * replays no-ops.
    */
  def lshHistogramIngest(raw: DataFrame, stagingPath: String,
                         edgesPath: String, numHashes: Int, bands: Int,
                         nBuckets: Int = 64,
                         queryName: String = "graft_lsh_hist_ingest"): org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream.queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalLshHistogramBatch(batch, batchId, stagingPath, edgesPath,
          numHashes, bands, nBuckets)
      }.start()

  /** Streaming span-dedup ingestion: each micro-batch runs
    * [[incrementalSpanDedupBatch]] — [[spanDedupFromStore]] then always
    * reads the ExactSubstr-clean corpus over everything ingested so far.
    * foreachBatch is at-least-once; staging idempotence makes replays
    * no-ops (same contract as [[dedupIngest]] / [[lshHistogramIngest]]).
    */
  /** [[incrementalLshHistogramBatch]] PLUS batch-wise cluster-label
    * maintenance ([[updateLabelsSnapshot]] — the label phase is its own
    * op so maintenance drivers and probes can call/time it without
    * mirroring its logic): after the staged edge recompute, the label
    * snapshot under `labelsPath` is extended with the batch's docs
    * (identity rows) and updated via
    * [[graft.dedup.Dedup.componentsIncremental]] — the quotient against
    * current labels collapses already-merged history, so the per-batch
    * components cost tracks NEW connectivity, not edge-store life
    * (ScaleProbe: flat per-batch CC at 10× and 100×). The histogram is
    * then ONE groupBy over the snapshot ([[lshHistogramFromLabels]])
    * instead of a full re-cluster of the edge store. Replays are no-ops:
    * the identity anti-join adds nothing and label merges are monotone.
    * The d12d gate hash-checks the maintained snapshot's histogram
    * against the same oracle as d12b/d12c. This is the CANONICAL
    * maintenance op of the LSH store family — [[lshHistogramFromStore]]
    * (full re-cluster) is the recompute/audit form, not the read path.
    */
  def incrementalLshLabelsBatch(batch: DataFrame, batchId: Long,
                                stagingPath: String, edgesPath: String,
                                labelsPath: String,
                                numHashes: Int, bands: Int,
                                nBuckets: Int = 64,
                                text: Column = col("text"),
                                id: Column = col("doc_id"),
                                idType: org.apache.spark.sql.types.DataType =
                                  org.apache.spark.sql.types.LongType): Unit = {
    incrementalLshHistogramBatch(batch, batchId, stagingPath, edgesPath,
      numHashes, bands, nBuckets, text, id)
    updateLabelsSnapshot(batch, batchId, edgesPath, labelsPath, id, idType)
  }

  /** The label phase of [[incrementalLshLabelsBatch]]: read the newest
    * COMMITTED snapshot, add identity rows for the batch's docs, run
    * [[graft.dedup.Dedup.componentsIncremental]] against the maintained
    * edge store, and write the full updated labeling to a NEW versioned
    * snapshot dir `labelsPath/snap=<batchId>`.
    *
    * Snapshots are versioned, never overwritten in place: foreachBatch
    * replays happen precisely after failures, and an in-place overwrite
    * deletes the only copy before the rewrite — a crash mid-overwrite
    * would leave a partial snapshot from which `componentsIncremental`
    * can only auto-heal edge ENDPOINTS, silently and permanently
    * dropping edge-less docs from the labeling. With versioned dirs a
    * crashed write leaves an UNCOMMITTED dir (no `_SUCCESS` marker) that
    * [[readLabelsSnapshot]] skips, and the replay rewrites it. Merges
    * are monotone and batch N's snapshot is computed from the newest
    * committed base, so the max-batchId committed snapshot is always the
    * complete labeling of everything ingested through that batch — even
    * when a replayed older batchId lands after it. Snapshot accumulation
    * is bounded by [[pruneLabelSnapshots]]. Single-writer contract (the
    * foreachBatch serialization Spark already provides).
    *
    * RECOVERY after a checkpoint reset (the lineage guards below fail
    * loud on batchId restarts): do NOT just point the stream at a fresh
    * `labelsPath` while keeping the old staging/edge stores — rebuilding
    * labels from retained edges recovers edge ENDPOINTS only, so docs
    * from the prior lineage that never matched anything (no edges)
    * silently disappear from the new labeling. Recover by starting a
    * fresh store family (staging + edges + labels paths together) and
    * replaying/backfilling the prior corpus through it, so every
    * previously-ingested doc re-contributes its identity row.
    */
  def updateLabelsSnapshot(batch: DataFrame, batchId: Long,
                           edgesPath: String, labelsPath: String,
                           id: Column = col("doc_id"),
                           idType: org.apache.spark.sql.types.DataType =
                             org.apache.spark.sql.types.LongType): Unit = {
    import org.apache.spark.sql.types._
    val spark = batch.sparkSession
    val edgeSchema = StructType(Seq(
      StructField("doc_a", idType), StructField("doc_b", idType),
      StructField("bucket", IntegerType)))
    ensureDir(spark, labelsPath)
    // Replay no-op BEFORE the write, not through it: if this batch's
    // snapshot already committed, rewriting it would delete the committed
    // dir at job start (mode overwrite) — and when pruning has removed
    // the older snapshots, that committed dir can be the ONLY copy, so a
    // crash mid-rewrite recreates exactly the destroy-the-only-copy
    // window versioning exists to close. Skipping is safe by
    // monotonicity: a replayed batch adds no merges its committed
    // snapshot (or any newer one) doesn't already contain — PROVIDED the
    // replay carries the same docs (Spark's foreachBatch contract). A
    // batchId collision carrying NEW docs (a checkpoint reset pointed at
    // the same labelsPath, or a non-Spark driver reusing ids) would make
    // the skip silently drop them from the labeling forever, so that
    // case fails loud instead: the store is bound to one checkpoint
    // lineage, same contract as the staged band-row store. The id filter
    // keeps a (garbage) NULL id from reading as perpetually novel — a
    // NULL never joins, and a throw here would wedge a legitimate replay.
    val snapDir = new org.apache.hadoop.fs.Path(s"$labelsPath/snap=$batchId")
    val fs = snapDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(snapDir, "_SUCCESS"))) {
      val committed = spark.read.schema(labelSchema(idType))
        .parquet(snapDir.toString)
      val novel = batch.select(id.as("node")).filter(col("node").isNotNull)
        .join(committed.select(col("node")), Seq("node"), "left_anti")
        .limit(1).count()
      if (novel > 0)
        throw new IllegalStateException(
          s"labels store $labelsPath already holds a committed snapshot " +
            s"for batch $batchId with DIFFERENT docs — the store is bound " +
            "to one streaming-checkpoint lineage; after a checkpoint " +
            "reset, start a fresh store FAMILY (staging + edges + labels " +
            "paths together) and backfill the prior corpus through it. " +
            "Reusing only a fresh labelsPath against the old edge store " +
            "rebuilds labels for edge ENDPOINTS only — edge-less docs " +
            "from the prior lineage silently vanish from the labeling")
      return // true at-least-once replay: no-op
    }
    // The same lineage violation when pruning already removed the colliding
    // snapshot: in ONE lineage a batchId below the newest committed
    // snapshot always has its own dir (foreachBatch only ever replays the
    // newest uncommitted batch; older batches completed long ago), so a
    // missing dir here means a reset lineage — and the write would land a
    // snapshot readers can never resolve (max-batchId wins), silently
    // dropping this batch's docs. Fail loud instead. One listing serves
    // both the guard and the base-snapshot read (committedSnapshots costs
    // a listStatus + one exists() per snap dir — don't pay it twice per
    // micro-batch).
    val snaps = committedSnapshots(spark, labelsPath)
    snaps.lastOption.foreach { case (newest, _) =>
      if (newest > batchId)
        throw new IllegalStateException(
          s"labels store $labelsPath newest committed snapshot is " +
            s"snap=$newest but batch $batchId has no snapshot dir — " +
            "batchIds have restarted (checkpoint reset?); the store is " +
            "bound to one streaming-checkpoint lineage. Start a fresh " +
            "store FAMILY (staging + edges + labels paths together) and " +
            "backfill the prior corpus through it — a fresh labelsPath " +
            "alone rebuilds labels from edge ENDPOINTS only and silently " +
            "drops edge-less docs from the prior lineage")
    }
    val old = readSnapshot(spark, snaps.lastOption, idType)
    // NULL ids are garbage across the whole dedup family (unique-id input
    // contract) — excluded here exactly as in the replay check above, so
    // a snapshot never carries a (null, null) row for readers to trip on
    val withNew = old.unionByName(
      batch.select(id.as("node")).filter(col("node").isNotNull)
        .join(old.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("comp")))
    Checkpoint.scope {
      graft.dedup.Dedup.componentsIncremental(withNew,
        spark.read.schema(edgeSchema).parquet(edgesPath)
          .select(col("doc_a"), col("doc_b")))
        .write.mode("overwrite").parquet(s"$labelsPath/snap=$batchId")
    }
  }

  /** Compact a duplicate-tolerant `(bucket, batch_id)`-partitioned
    * staging store: rewrite each bucket's accumulated per-batch
    * partitions into ONE snapshot partition `batch_id = compactId`
    * (negative by convention — streaming batchIds are >= 0, so a
    * compacted partition can never collide with a live batch, even
    * after a checkpoint reset restarts batchIds at 0), then delete that
    * bucket's superseded per-batch dirs. This bounds the partition-dir
    * count a long-lived store accumulates: without it, file listings
    * and every touched-bucket recompute walk O(ingested batches) dirs
    * forever.
    *
    * Read equivalence: reads of these stores depend only on the SET of
    * staged rows per bucket
    * ([[graft.dedup.Dedup.spanningEdgesFromBandRows]] is
    * `.distinct()`-terminated; the sig store's keep-one takes
    * `row_number() = 1` per signature), and compaction preserves each
    * bucket's row set (CurationSpec pins compact-then-read ≡ read).
    * The same set semantics makes the crash window harmless: a failure
    * between a bucket's snapshot write and its per-batch deletes leaves
    * DUPLICATE rows, which those reads collapse — re-running compaction
    * converges. Do NOT point this at a count-semantics store (the
    * span-dedup gram store COUNTS staged rows, so duplicates would flag
    * false dups; compacting that store needs a stop-the-world
    * stage-and-swap instead).
    *
    * One bucket at a time: each bucket's slice is materialized before
    * the rewrite (it is read from and written into the same store
    * root), so peak footprint is one bucket's rows — size `nBuckets` so
    * a bucket fits, the same contract as the recompute path. Single
    * writer: run between ingest batches (the foreachBatch serialization
    * the maintenance driver already has).
    *
    * @param stagedSchema the full staged schema including the `bucket`
    *                     and `batch_id` partition columns (explicit for
    *                     the same footer-less-dir reason as the readers)
    */
  def compactStagedStore(spark: org.apache.spark.sql.SparkSession,
                         stagingPath: String,
                         stagedSchema: org.apache.spark.sql.types.StructType,
                         compactId: Long = -1L): Unit = {
    require(compactId < 0,
      s"compactId must be negative (live batchIds are >= 0), got $compactId")
    val p = new org.apache.hadoop.fs.Path(stagingPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val bucketDirs = fs.listStatus(p).toSeq.filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("bucket="))
    bucketDirs.foreach { bst =>
      val bdir = bst.getPath
      val batchDirs = fs.listStatus(bdir).toSeq.filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("batch_id="))
      val stale = batchDirs.filter(_.getPath.getName != s"batch_id=$compactId")
      if (stale.nonEmpty) Checkpoint.scope {
        // basePath keeps bucket/batch_id as partition columns while the
        // read lists ONLY this bucket's dirs — a parent read per bucket
        // would re-walk all nBuckets × batches dirs every iteration
        // break file lineage before the rewrite
        val slice = Checkpoint(spark.read.option("basePath", stagingPath)
          .schema(stagedSchema).parquet(bdir.toString)
          .withColumn("batch_id", lit(compactId)))
        slice.repartition(col("bucket")).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket", "batch_id").parquet(stagingPath)
        stale.foreach(st => fs.delete(st.getPath, true))
      }
    }
    ()
  }

  /** Stop-the-world compaction for COUNT-SEMANTICS staged stores (the
    * span-dedup gram store): same goal as [[compactStagedStore]] —
    * collapse a bucket's accumulated `(bucket, batch_id)` partitions
    * into one `batch_id = compactId` snapshot partition — but these
    * stores count staged rows, so the duplicate-row crash window the
    * set-semantics op tolerates would flag FALSE duplicates here.
    * Each bucket therefore moves through a stage-and-swap (the
    * `redset_freshness_inc` idiom): the compacted bucket is written
    * durably to a side dir first (Spark's `_SUCCESS` marks the stage
    * complete), then swapped in with two fs metadata ops (delete +
    * rename). A crash anywhere is recovered by RE-RUNNING compaction:
    * before the swap's delete the source bucket is intact (a torn
    * stage dir has no `_SUCCESS` and is restaged from it); after it,
    * the committed stage dir IS the bucket's data and the re-run
    * completes the swap (the bucket universe is source ∪ staged dirs,
    * so a swap-pending bucket whose source is already gone is still
    * found).
    *
    * Contract: STOP-THE-WORLD — an ingest batch landing between a
    * bucket's stage and its swap would be lost by the swap's delete;
    * run in the maintenance window the single-writer foreachBatch loop
    * already serializes (same contract as [[compactStagedStore]], which
    * additionally survives concurrent READS; here a reader racing the
    * two-op swap of one bucket can observe that bucket briefly empty —
    * quiesce reads too, or accept one-bucket holes during the window).
    * The window extends ACROSS a crash: a run that died mid-compaction
    * must be re-run to completion before ingest resumes, because a
    * committed staged bucket copy predates any post-crash ingest and the
    * recovery swap would destroy it. That ordering is mechanically
    * fenced, not just documented — [[incrementalSpanDedupBatch]] refuses
    * to write while this op's side root (`<path>.compact_tmp`) exists.
    * The side root carries an `_owner` marker naming `owner` (written
    * before any staging work, re-claimed by a recovery re-run), so
    * automated recovery can distinguish its own crashed run from a
    * foreign — possibly still in-flight — one; see
    * [[compactionOwner]] and [[spanDedupIngest]].
    *
    * Filesystem contract: directory rename and recursive delete are
    * assumed ATOMIC-or-fail (HDFS, local, ABFS). On an S3-class store
    * where rename is copy+delete, a crash mid-rename can shear a staged
    * dir into two partial halves — run this (and the whole
    * `(bucket, batch_id)` dynamic-partition layout, which leans on the
    * same committer semantics) behind a rename-atomic layer there.
    *
    * Replay safety: a batch STAGED here but not yet committed in the
    * stream's checkpoint will be re-delivered by foreachBatch after a
    * restart — if compaction had folded it into the snapshot partition,
    * the replay's re-staged rows would COUNT TWICE (a once-occurring
    * gram reads as a duplicate: silent text loss). Pass
    * `committedThrough` = the highest batchId the streaming checkpoint
    * has committed: only batches ≤ it are folded; newer dirs ride
    * through the swap as their own partitions, which the replay then
    * overwrites idempotently. The `Long.MaxValue` default is for batch
    * backfills and cleanly-stopped streams (every staged batch
    * committed).
    *
    * The span store's `docs` side (batch_id-partitioned raw text) is
    * NOT compacted here: its rows are corpus bytes (a compaction is a
    * full corpus rewrite for an O(batches)-dirs listing win with no
    * bucket fan-out), and its per-batch dirs are exactly what replay
    * idempotence overwrites. Compact it by re-sharding into a fresh
    * store if listing cost ever dominates.
    */
  def compactCountedStore(spark: org.apache.spark.sql.SparkSession,
                          stagingPath: String,
                          stagedSchema: org.apache.spark.sql.types.StructType,
                          compactId: Long = -1L,
                          committedThrough: Long = Long.MaxValue,
                          owner: String = "external"): Unit = {
    require(compactId < 0,
      s"compactId must be negative (live batchIds are >= 0), got $compactId")
    val p = new org.apache.hadoop.fs.Path(stagingPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val tmpRoot = new org.apache.hadoop.fs.Path(stagingPath + ".compact_tmp")
    // Ownership marker: written into the side root before any staging
    // work, so a crash always leaves a fence that NAMES who was
    // compacting. [[spanDedupIngest]]'s auto-recovery resumes only
    // fences carrying its own queryName; anything else (an external
    // maintenance window's run, or an ownerless pre-claim crash) makes
    // it fail loud instead of racing a possibly-in-flight second writer
    // on the shared stage dirs. A recovery re-run re-claims the root
    // with ITS owner — if the re-run crashes too, the fence names the
    // most recent writer, which is who must finish the job.
    var claimed = false
    def claimSideRoot(): Unit = if (!claimed) {
      fs.mkdirs(tmpRoot)
      val out = fs.create(new org.apache.hadoop.fs.Path(tmpRoot, "_owner"), true)
      try out.write(owner.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      claimed = true
    }
    if (fs.exists(tmpRoot)) claimSideRoot()
    def bucketsUnder(root: org.apache.hadoop.fs.Path): Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("bucket="))
    (bucketsUnder(p) ++ bucketsUnder(tmpRoot)).distinct.foreach { bname =>
      val srcB = new org.apache.hadoop.fs.Path(p, bname)
      val tmpB = new org.apache.hadoop.fs.Path(tmpRoot, bname)
      def staged = fs.exists(new org.apache.hadoop.fs.Path(tmpB, "_SUCCESS"))
      val srcBatchIds =
        if (fs.exists(srcB)) fs.listStatus(srcB).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith("batch_id="))
          .flatMap(n => scala.util.Try(
            n.stripPrefix("batch_id=").toLong).toOption)
        else Seq.empty
      // dirs this run may fold: committed batches other than an existing
      // snapshot partition
      val foldable = srcBatchIds
        .filter(id => id != compactId && id <= committedThrough)
      if (!staged && foldable.isEmpty && fs.exists(tmpB)) {
        // torn stage from a crashed run, and this run has nothing to fold
        // for the bucket — remove it here or the side root (and its
        // orphaned partial parquet) would linger forever, keeping the
        // ingest fence up. Fail loud on a refused delete for the same
        // reason: silently leaving it would fence ingest with no error
        // pointing at the cause.
        if (!fs.delete(tmpB, true) && fs.exists(tmpB))
          throw new java.io.IOException(
            s"compaction: cannot remove torn stage dir $tmpB")
      }
      if (!staged && foldable.nonEmpty) {
        // torn stage: restage — and name a refused delete as the cause
        // rather than letting the write's path-exists abort point at the
        // wrong line
        if (fs.exists(tmpB) && !fs.delete(tmpB, true) && fs.exists(tmpB))
          throw new java.io.IOException(
            s"compaction: cannot remove torn stage dir $tmpB")
        claimSideRoot() // fence carries the owner BEFORE any partial stage
        // basePath keeps bucket/batch_id as partition columns while the
        // read lists ONLY this bucket's dirs — a parent read per bucket
        // would re-walk all nBuckets × batches dirs every iteration,
        // exactly the listing growth this op exists to remove
        spark.read.option("basePath", stagingPath).schema(stagedSchema)
          .parquet(srcB.toString)
          .withColumn("batch_id",
            when(col("batch_id") <= committedThrough, lit(compactId))
              .otherwise(col("batch_id")))
          .drop("bucket") // re-becomes a partition column via the dir name
          .write.partitionBy("batch_id").parquet(tmpB.toString)
      }
      if (staged) {
        if (!fs.delete(srcB, true) && fs.exists(srcB))
          throw new java.io.IOException(s"compaction: cannot delete $srcB")
        if (!fs.rename(tmpB, srcB))
          // the staged copy is the bucket's only data now — fail LOUD and
          // leave it in place; a re-run resumes at this swap
          throw new java.io.IOException(
            s"compaction: rename $tmpB -> $srcB failed; staged copy kept")
      }
    }
    // only remove the side root once every staged bucket has swapped —
    // an unconditional delete here would destroy a kept staged copy
    // after a failed swap above (we throw first, but belt-and-braces
    // for future edits). The `_owner` marker alone does not keep the
    // root alive: only bucket= stage dirs count as pending work.
    if (!fs.exists(tmpRoot) ||
        !fs.listStatus(tmpRoot).exists(_.getPath.getName.startsWith("bucket="))) {
      fs.delete(tmpRoot, true)
      ()
    }
  }

  /** Owner token recorded in a counted store's compaction side root
    * (`<countedStorePath>.compact_tmp/_owner`), if the root exists and
    * carries one. `None` with the root present means a run crashed in
    * the instants between creating the root and writing the marker (or
    * the root predates the marker scheme) — treat as foreign.
    */
  def compactionOwner(spark: org.apache.spark.sql.SparkSession,
                      countedStorePath: String): Option[String] = {
    val f = new org.apache.hadoop.fs.Path(
      countedStorePath + ".compact_tmp", "_owner")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](256)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        Some(new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Staged band-row schema of the LSH label/histogram stores — ONE
    * definition shared by every reader AND the maintenance compactor.
    * The explicit schema exists because staged dirs are read
    * footer-schema-free through `basePath` listings; keeping a second
    * copy in the compactor would let a staged-column rename update the
    * read path but leave compaction rewriting the store with the stale
    * schema (parquet read-with-schema silently nulls a missing column —
    * a corrupted snapshot partition, not a compile error).
    */
  private[curation] def lshStagedSchema(
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", idType), StructField("band", IntegerType),
      StructField("band_hash", StringType),
      StructField("bucket", IntegerType),
      StructField("batch_id", LongType)))
  }

  /** Staged gram-row schema of the span-dedup store — shared by
    * [[spanDedupFromStore]] and [[spanStoreMaintenance]] for the same
    * single-definition reason as [[lshStagedSchema]]. */
  private[curation] def spanGramSchema(
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", idType), StructField("s", IntegerType),
      StructField("gram_h", LongType), StructField("bucket", IntegerType),
      StructField("batch_id", LongType)))
  }

  /** The read schema of a label snapshot — one definition shared by the
    * replay-check read and [[readLabelsSnapshot]]. The WRITE side's
    * types come from the batch's `id` expression (input contract:
    * `idType` must match the id column's actual type; a mismatch fails
    * at read time as a parquet type error, never a silent cast).
    */
  private def labelSchema(idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("node", idType), StructField("comp", idType)))
  }

  /** Committed `(batchId, dir)` snapshot list under a versioned label
    * store, ascending by batchId. A snapshot is committed iff its dir
    * carries the `_SUCCESS` marker Spark's file committer writes last —
    * partial dirs from crashed writes are invisible to readers.
    */
  private def committedSnapshots(spark: org.apache.spark.sql.SparkSession,
                                 labelsPath: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(labelsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("snap="))
          scala.util.Try(name.stripPrefix("snap=").toLong).toOption
            .map(_ -> st.getPath)
        else None
      }
      .filter { case (_, dir) =>
        fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")) }
      .sortBy(_._1)
  }

  /** Read the newest committed label snapshot under `labelsPath`
    * (`(node, comp)` schema; empty frame if no snapshot committed yet).
    * The read targets ONE leaf dir — no partition discovery over the
    * snapshot history, so read cost is independent of how many
    * snapshots have accumulated.
    */
  def readLabelsSnapshot(spark: org.apache.spark.sql.SparkSession,
                         labelsPath: String,
                         idType: org.apache.spark.sql.types.DataType =
                           org.apache.spark.sql.types.LongType): DataFrame =
    readSnapshot(spark, committedSnapshots(spark, labelsPath).lastOption,
      idType)

  /** Shared tail of the snapshot readers: the frame for an
    * already-resolved newest-committed dir (empty frame when none).
    */
  private def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                           newest: Option[(Long, org.apache.hadoop.fs.Path)],
                           idType: org.apache.spark.sql.types.DataType): DataFrame =
    newest match {
      case Some((_, dir)) =>
        spark.read.schema(labelSchema(idType)).parquet(dir.toString)
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          labelSchema(idType))
    }

  /** The d12b audit histogram as ONE groupBy over the maintained label
    * snapshot — the at-scale read path of the incremental LSH store
    * family (its cost is label-store sized, independent of edge history;
    * [[lshHistogramFromStore]] is the recompute/audit twin that
    * re-clusters the full edge store to validate this snapshot).
    */
  def lshHistogramFromLabels(spark: org.apache.spark.sql.SparkSession,
                             labelsPath: String,
                             idType: org.apache.spark.sql.types.DataType =
                               org.apache.spark.sql.types.LongType): DataFrame =
    graft.dedup.Dedup.clusterHistogramFromLabels(
      readLabelsSnapshot(spark, labelsPath, idType), "comp")

  /** Prune old label snapshots, keeping the newest `keep` committed ones
    * plus any uncommitted dir NEWER than the newest committed snapshot
    * (a possibly in-flight write). Uncommitted dirs older than the
    * newest committed snapshot are crash leftovers — deleted. Safe to
    * run any time under the store's single-writer contract; readers only
    * ever resolve committed dirs, and the newest committed snapshot is
    * never deleted (`keep >= 1` enforced).
    */
  def pruneLabelSnapshots(spark: org.apache.spark.sql.SparkSession,
                          labelsPath: String, keep: Int = 1): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val p = new org.apache.hadoop.fs.Path(labelsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val committed = committedSnapshots(spark, labelsPath)
    if (committed.isEmpty) return
    val newest = committed.last._1
    val keepIds = committed.takeRight(keep).map(_._1).toSet
    fs.listStatus(p).toSeq.filter(_.isDirectory).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("snap=")) {
        scala.util.Try(name.stripPrefix("snap=").toLong).toOption.foreach {
          bid =>
            val isCommitted = fs.exists(
              new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))
            if (!keepIds.contains(bid) && (isCommitted || bid < newest))
              fs.delete(st.getPath, true)
        }
      }
    }
    ()
  }

  /** One maintenance pass over the LSH label-store family: compact the
    * band-row staging store's accumulated `(bucket, batch_id)` dirs into
    * per-bucket snapshot partitions ([[compactStagedStore]] — the store
    * is SET-semantics, reads collapse duplicate rows, so online
    * compaction between batches is safe) and prune old label snapshots
    * ([[pruneLabelSnapshots]]). Without a cadence for this pair, a
    * long-lived [[lshLabelsIngest]] stream accumulates one staging dir
    * per (touched bucket, batch) and one snapshot dir per batch forever
    * — file listings, the touched-bucket recompute, and the snapshot
    * resolve all walk O(batches) dirs. Single-writer contract: run
    * between ingest batches (the foreachBatch hook below) or from an
    * external maintenance window.
    */
  def lshStoreMaintenance(spark: org.apache.spark.sql.SparkSession,
                          stagingPath: String, labelsPath: String,
                          keepSnapshots: Int = 1,
                          idType: org.apache.spark.sql.types.DataType =
                            org.apache.spark.sql.types.LongType): Unit = {
    compactStagedStore(spark, stagingPath, lshStagedSchema(idType))
    pruneLabelSnapshots(spark, labelsPath, keepSnapshots)
  }

  /** One maintenance pass over the span-dedup gram store: stop-the-world
    * [[compactCountedStore]] of `<stagingPath>/grams` (COUNT semantics —
    * the set-tolerant online op would double-count). `committedThrough`
    * must be the highest batchId the stream's checkpoint has committed;
    * from inside foreachBatch processing batch B that is `B - 1` (B
    * itself commits only after the hook returns — folding it would make
    * its at-least-once replay double-count, i.e. silent text loss).
    * The docs side is deliberately not compacted
    * (see [[compactCountedStore]]'s scaladoc). `owner` is recorded in
    * the compaction side root so [[spanDedupIngest]]'s auto-recovery can
    * tell a crashed compaction it started from a foreign one it must
    * not touch.
    */
  def spanStoreMaintenance(spark: org.apache.spark.sql.SparkSession,
                           stagingPath: String, committedThrough: Long,
                           idType: org.apache.spark.sql.types.DataType =
                             org.apache.spark.sql.types.LongType,
                           owner: String = "external"): Unit =
    compactCountedStore(spark, s"$stagingPath/grams", spanGramSchema(idType),
      committedThrough = committedThrough, owner = owner)

  /** Streaming label maintenance: each micro-batch runs
    * [[incrementalLshLabelsBatch]] — the snapshot at `labelsPath` is
    * always the cluster labeling of everything ingested so far.
    * `maintainEvery = N > 0` additionally runs [[lshStoreMaintenance]]
    * after every Nth batch (batchIds N-1, 2N-1, …), bounding staging-dir
    * and snapshot-dir growth for a long-lived stream; foreachBatch's
    * serialization IS the single-writer window the maintenance ops
    * require. 0 (default) = caller owns maintenance. Reads are
    * unaffected: compaction preserves each bucket's row SET and pruning
    * never touches the newest committed snapshot.
    */
  def lshLabelsIngest(raw: DataFrame, stagingPath: String,
                      edgesPath: String, labelsPath: String,
                      numHashes: Int, bands: Int, nBuckets: Int = 64,
                      maintainEvery: Int = 0, keepSnapshots: Int = 1,
                      queryName: String = "graft_lsh_labels_ingest"): org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream.queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalLshLabelsBatch(batch, batchId, stagingPath, edgesPath,
          labelsPath, numHashes, bands, nBuckets)
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
          lshStoreMaintenance(batch.sparkSession, stagingPath, labelsPath,
            keepSnapshots)
      }.start()

  /** `maintainEvery = N > 0` runs [[spanStoreMaintenance]] after every
    * Nth batch, inside the foreachBatch single-writer window the
    * stop-the-world gram compaction requires (`committedThrough` =
    * current batchId - 1 — the current batch commits only after the
    * hook returns, so it always rides through as its own partition and
    * replays stay idempotent). A compaction that crashed mid-run leaves
    * its side root and [[incrementalSpanDedupBatch]]'s fence would
    * refuse the replayed batch, so the hook re-runs the compaction to
    * completion (recovery is convergent) — but ONLY when the fence's
    * `_owner` marker carries this stream's `queryName`, i.e. the
    * crashed run was this hook's own. A fence owned by anyone else —
    * an external [[compactCountedStore]] the operator started (maybe
    * still in flight: a bare side root cannot tell crashed from
    * running), or an ownerless root — fails LOUD instead of racing a
    * possible second writer on the shared stage dirs. `queryName` is
    * therefore the recovery identity: keep it stable across restarts
    * of the same logical stream. 0 (default) = caller owns
    * maintenance.
    */
  def spanDedupIngest(raw: DataFrame, stagingPath: String, dupsPath: String,
                      window: Int, nBuckets: Int = 64,
                      maintainEvery: Int = 0,
                      queryName: String = "graft_span_dedup_ingest"): org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream.queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (maintainEvery > 0) {
          val fence = new org.apache.hadoop.fs.Path(
            s"$stagingPath/grams.compact_tmp")
          if (fence.getFileSystem(
              batch.sparkSession.sparkContext.hadoopConfiguration)
              .exists(fence)) {
            val fenceOwner =
              compactionOwner(batch.sparkSession, s"$stagingPath/grams")
            if (fenceOwner.contains(queryName))
              spanStoreMaintenance(batch.sparkSession, stagingPath,
                committedThrough = batchId - 1, owner = queryName)
            else
              throw new IllegalStateException(
                s"span gram store $stagingPath/grams is fenced by a " +
                s"compaction this stream does not own (owner=" +
                s"${fenceOwner.getOrElse("<none>")}, this stream=" +
                s"$queryName): an external compactCountedStore is in " +
                "flight or crashed. Stop it / re-run it to completion, " +
                "then restart this stream; auto-recovery resumes only " +
                "compactions started by this stream's own maintenance " +
                "hook.")
          }
        }
        incrementalSpanDedupBatch(batch, batchId, stagingPath, dupsPath,
          window, nBuckets)
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
          spanStoreMaintenance(batch.sparkSession, stagingPath,
            committedThrough = batchId - 1, owner = queryName)
      }.start()

  /** Canonical form of an absolute crawl URL — the normalization a
    * crawl-dedup frontier applies before URL-keyed dedup, each rule a
    * standard crawler convention:
    *
    *   1. drop the fragment (client-side only, never a distinct page);
    *   2. lowercase the scheme and host (case-insensitive per RFC 3986)
    *      — never the path, which is case-sensitive;
    *   3. drop default ports (`http…:80`, `https…:443`);
    *   4. strip trailing slashes from the path;
    *   5. drop tracking params (`utm_*`, `gclid`, `fbclid` — matched on
    *      the LOWERCASED key left of `=`, so `UTM_Source=x`, `GCLID=…`
    *      and value-less bare forms like `fbclid` are all stripped; ad
    *      trackers are not case-consistent across re-crawls) and SORT
    *      the survivors — query order is semantically irrelevant, and
    *      sorting makes the key deterministic across re-crawls that
    *      emit params in different orders.
    *
    * Pure `functions._` composition (one regexp parse + array ops), no
    * UDF — evaluates scan-side, so at 100 TB the canonical key exists
    * before the dedup shuffle and never needs a second pass. Input
    * contract: absolute `scheme://…` URLs (a non-matching string
    * canonicalizes to `"://"` garbage rather than throwing — filter
    * frontier junk upstream).
    */
  def canonicalizeUrl(url: Column): Column = {
    val re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?"
    val scheme = lower(regexp_extract(url, re, 1))
    val hostport = lower(regexp_extract(url, re, 2))
    val host = when(scheme === "http" && hostport.endsWith(":80"),
        regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https" && hostport.endsWith(":443"),
        regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path = regexp_replace(regexp_extract(url, re, 3), "/+$", "")
    val params = filter(split(regexp_extract(url, re, 4), "&"), p => {
      val key = lower(element_at(split(p, "=", 2), 1))
      p =!= "" && !key.startsWith("utm_") &&
        key =!= "gclid" && key =!= "fbclid"
    })
    val q = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** One micro-batch of INCREMENTAL crawl dedup — [[crawlUrlGroups]]'s
    * maintained twin, the [[incrementalDedupBatch]] machinery keyed on
    * the canonical URL: a crawl frontier is the one corpus that truly
    * ARRIVES as a stream, and re-running the full-corpus groupBy per
    * batch would re-scan the whole fetch history every time.
    *
    * Staging is partitioned by `(bucket = xxhash64(canon_url) mod
    * nBuckets, batch_id)` and stores only `(doc_id, canon_url)` — the
    * canonical STRING (URL-sized, not corpus-sized; the serving table
    * needs it, unlike d9's corpus-sized signatures which stage as
    * hashes). Each batch appends its fetches (dynamic overwrite of its
    * own partitions ⇒ at-least-once replays are no-ops), then the URL
    * groups are recomputed ONLY for the buckets this batch touched —
    * a canonical URL's rows all land in one bucket, so a touched-bucket
    * recompute over the staged history reproduces exactly what the
    * one-shot groupBy would, and untouched buckets are already
    * byte-identical. Per-batch cost is O(touched buckets), not O(crawl
    * life). The output table is [[crawlUrlGroups]]'s schema exactly
    * (keep_doc_id, domain, canon_url, dup_count) plus the bucket
    * partition column; [[crawlDomainStats]]-shaped rollups read it
    * directly. The `c21b_crawl_dedup_inc` gate drives 3 batches plus a
    * replayed one and must hash-match c21's one-shot oracle.
    */
  /** Staged fetch-row schema of the crawl-dedup store — shared by the
    * batch op's touched-bucket read and [[crawlStoreMaintenance]], for
    * the same single-definition reason as [[spanGramSchema]]. */
  private[curation] def crawlStagedSchema(
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", idType), StructField("canon_url", StringType),
      StructField("bucket", IntegerType),
      StructField("batch_id", LongType)))
  }

  def incrementalCrawlBatch(batch: DataFrame, batchId: Long,
                            stagingPath: String, outputPath: String,
                            nBuckets: Int = 64,
                            url: Column = col("url"),
                            id: Column = col("doc_id")): Unit = {
    val spark = batch.sparkSession
    // compaction fence (the incrementalSpanDedupBatch contract): a side
    // root means a crawl-store compaction is in flight or crashed —
    // ingesting past it would be destroyed by the recovery swap
    val fence = new org.apache.hadoop.fs.Path(s"$stagingPath.compact_tmp")
    if (fence.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(fence))
      throw new IllegalStateException(
        s"compaction of $stagingPath is in flight or crashed (side root " +
          "exists) — re-run compactCountedStore to completion before " +
          "ingesting")
    val staged = batch
      .select(id.as("doc_id"), canonicalizeUrl(url).as("canon_url"))
      .withColumn("bucket",
        pmod(xxhash64(col("canon_url")), lit(nBuckets.toLong)).cast("int"))
      .withColumn("batch_id", lit(batchId))
    staged.repartition(col("bucket")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "batch_id").parquet(stagingPath)
    // explicit SHARED schema: a cleaning-emptied first batch leaves a
    // footer-less dir that inference chokes on (the d9 discipline),
    // and the maintenance compactor must read the same shape
    val store = spark.read
      .schema(crawlStagedSchema(staged.schema("doc_id").dataType))
      .parquet(stagingPath)
    // touched buckets come from the JUST-WRITTEN batch partitions, not
    // a re-evaluation of the input (a non-deterministic url/id
    // expression could otherwise disagree with what the staging write
    // persisted and leave a stale groups partition — this op makes no
    // double-evaluation demand, unlike keepOneExact's documented one).
    // Partition-pruned on batch_id; bounded collect: ≤ nBuckets values.
    val touched = store.filter(col("batch_id") === lit(batchId))
      .select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    if (touched.nonEmpty) {
      val slice = store
        .filter(col("bucket")
          .isin(touched.toIndexedSeq.map(Integer.valueOf): _*))
      val groups = slice.groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("dup_count"))
        .select(col("keep_doc_id"),
          urlDomain(col("canon_url")).as("domain"),
          col("canon_url"), col("dup_count"),
          pmod(xxhash64(col("canon_url")), lit(nBuckets.toLong)).cast("int")
            .as("bucket"))
      groups.repartition(col("bucket")).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(outputPath)
    }
    ()
  }

  /** One maintenance pass over the crawl-dedup staging store:
    * stop-the-world [[compactCountedStore]] (COUNT semantics —
    * `dup_count` counts staged rows, so the set-tolerant online op
    * would double-count). `committedThrough` follows the
    * [[spanStoreMaintenance]] rule: from inside foreachBatch processing
    * batch B pass `B - 1` (B commits only after the hook returns —
    * folding it would make its at-least-once replay double-count
    * fetches). The groups OUTPUT table is bucket-partitioned with one
    * dir per bucket (no batch_id fan-out) and needs no compaction.
    */
  def crawlStoreMaintenance(spark: org.apache.spark.sql.SparkSession,
                            stagingPath: String, committedThrough: Long,
                            idType: org.apache.spark.sql.types.DataType =
                              org.apache.spark.sql.types.LongType,
                            owner: String = "external"): Unit =
    compactCountedStore(spark, stagingPath, crawlStagedSchema(idType),
      committedThrough = committedThrough, owner = owner)

  /** Streaming crawl-frontier ingestion: each micro-batch runs
    * [[incrementalCrawlBatch]] — the groups table at `groupsPath` is
    * always the canonical-URL dedup of every fetch ingested so far.
    * `maintainEvery = N > 0` additionally runs [[crawlStoreMaintenance]]
    * after every Nth batch (foreachBatch's serialization IS the
    * single-writer window the stop-the-world compaction requires), with
    * the same crash-recovery ownership rule as [[spanDedupIngest]]: a
    * leftover compaction fence is auto-recovered ONLY when its `_owner`
    * marker carries this stream's `queryName`; a foreign or ownerless
    * fence fails loud instead of racing a possibly-in-flight second
    * writer. Keep `queryName` stable across restarts of the same
    * logical stream — it is the recovery identity. 0 (default) = caller
    * owns maintenance.
    */
  def crawlIngest(raw: DataFrame, stagingPath: String, groupsPath: String,
                  nBuckets: Int = 64, maintainEvery: Int = 0,
                  queryName: String = "graft_crawl_ingest",
                  url: Column = col("url"),
                  id: Column = col("doc_id")): org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream.queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the ACTUAL id column type, threaded into maintenance — the
        // compactor's LongType default stages a non-Long id stream fine
        // and then dies at the first compaction with a parquet
        // schema-conversion error (analysis-only: no job runs here)
        val idType = batch.select(id.as("doc_id")).schema("doc_id").dataType
        if (maintainEvery > 0) {
          val fence = new org.apache.hadoop.fs.Path(
            s"$stagingPath.compact_tmp")
          if (fence.getFileSystem(
              batch.sparkSession.sparkContext.hadoopConfiguration)
              .exists(fence)) {
            val fenceOwner = compactionOwner(batch.sparkSession, stagingPath)
            if (fenceOwner.contains(queryName))
              crawlStoreMaintenance(batch.sparkSession, stagingPath,
                committedThrough = batchId - 1, idType = idType,
                owner = queryName)
            else
              throw new IllegalStateException(
                s"crawl store $stagingPath is fenced by a compaction " +
                s"this stream does not own (owner=" +
                s"${fenceOwner.getOrElse("<none>")}, this stream=" +
                s"$queryName): an external compactCountedStore is in " +
                "flight or crashed. Stop it / re-run it to completion, " +
                "then restart this stream; auto-recovery resumes only " +
                "compactions started by this stream's own maintenance " +
                "hook.")
          }
        }
        incrementalCrawlBatch(batch, batchId, stagingPath, groupsPath,
          nBuckets, url, id)
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
          crawlStoreMaintenance(batch.sparkSession, stagingPath,
            committedThrough = batchId - 1, idType = idType,
            owner = queryName)
      }.start()

  /** The registrable-host key of a canonical URL (everything between
    * `://` and the first `/`, `?`, `:` or end) — the per-domain grain of
    * crawl audits (pages per site, politeness budgets, domain-level
    * block lists). Feed it [[canonicalizeUrl]] output so case/port noise
    * is already gone.
    */
  def urlDomain(canonUrl: Column): Column =
    regexp_extract(canonUrl, "^[^:]*://([^/?:]*)", 1)

  /** URL-keyed crawl dedup groups: one row per canonical URL with the
    * kept doc (min id — the d-family convention), its domain, and the
    * duplicate count. A pure groupBy on the scan-side canonical key:
    * map-side combine absorbs re-crawl dup mass (a page fetched 10^6
    * times contributes one row per map partition, never a hot reduce
    * task with 10^6 rows), so the plan is skew-proof by construction.
    * Semi-join `df` against `(canon_url, keep_doc_id)` to materialize
    * kept full rows.
    */
  def crawlUrlGroups(df: DataFrame, url: Column, id: Column): DataFrame = {
    val canon = canonicalizeUrl(url)
    df.select(id.as("doc_id"), canon.as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("dup_count"))
      .select(col("keep_doc_id"), urlDomain(col("canon_url")).as("domain"),
        col("canon_url"), col("dup_count"))
  }

  /** Per-domain crawl politeness/health stats over [[crawlUrlGroups]] —
    * the report a frontier owner reads before re-budgeting a crawl:
    * distinct pages per site, total fetches, duplicate fetch mass
    * (re-crawls that URL dedup collapsed), the dup ratio, and the
    * hottest page's fetch count (the "are we hammering one URL" probe).
    * Scale shape: the domain aggregate runs over the URL-GROUPS frame,
    * which is already dup-collapsed — a page fetched 10^6 times reaches
    * this groupBy as ONE row with `dup_count = 10^6`, so viral re-crawl
    * mass never inflates the domain shuffle; and a domain with millions
    * of pages still partial-aggregates map-side (one row per map
    * partition per domain reaches the reduce).
    */
  def crawlDomainStats(df: DataFrame, url: Column, id: Column): DataFrame =
    crawlUrlGroups(df, url, id)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_pages"), sum(col("dup_count")).as("n_fetches"),
        max(col("dup_count")).as("max_page_fetches"))
      .select(col("domain"), col("n_pages"), col("n_fetches"),
        (col("n_fetches") - col("n_pages")).as("dup_mass"),
        round(lit(1.0) - col("n_pages").cast("double") / col("n_fetches"), 6)
          .as("dup_ratio"),
        col("max_page_fetches"))

  /** Sequence packing (training-batch prep): documents are concatenated
    * per `key` in `order` and SPLIT into fixed `budget`-token training
    * sequences — each row gets the sequence id and in-sequence offset of
    * its FIRST token (a document crossing a boundary continues into the
    * next sequence, the standard concat-and-split packing). Pure window
    * arithmetic: one shuffle on the packing key, running sums stay O(1)
    * per row. Packing per shard/source (not globally) is what a real
    * pipeline does anyway — a global pack would serialize the corpus
    * through one task for no training benefit.
    */
  def packSequences(df: DataFrame, text: Column, id: Column, key: Column,
                    budget: Int,
                    scalable: Option[Boolean] = None): DataFrame =
    if (resolveScalable(df, scalable))
      packSequencesScalable(df, text, id, key, budget)
    else {
      val n = TextAnalysis.nTokensCol(text)
      val cum = sum(n).over(
        Window.partitionBy(key).orderBy(id)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      df.select(id.as("doc_id"), key.as("pack_key"), n.as("n_tokens"),
          (cum - n).as("start_tok"))
        .select(col("doc_id"), col("pack_key"), col("n_tokens"),
          floor(col("start_tok") / budget).cast("long").as("seq_id"),
          pmod(col("start_tok"), lit(budget.toLong)).as("seq_offset"))
    }

  /** [[packSequences]]'s SCALE twin (c3b): identical packing — same
    * seq_id/seq_offset for every document — but the per-key token
    * prefix sum runs through [[distributedPrefixSum]] (id-bucketed base
    * offsets, `(key, bucket)` windows) instead of one window task per
    * pack key, so a mega shard/source no longer serializes through a
    * single executor. `bucketWidth` buckets the id range.
    */
  def packSequencesScalable(df: DataFrame, text: Column, id: Column,
                            key: Column, budget: Int,
                            bucketWidth: Long = 1L << 20): DataFrame =
    distributedPrefixSum(
        df.select(id.as("doc_id"), key.as("pack_key"),
          TextAnalysis.nTokensCol(text).as("n_tokens")),
        col("n_tokens"), col("pack_key"), col("doc_id"), col("doc_id"),
        bucketWidth)
      .withColumn("start_tok", col("__cum_value") - col("n_tokens"))
      .select(col("doc_id"), col("pack_key"), col("n_tokens"),
        floor(col("start_tok") / budget).cast("long").as("seq_id"),
        pmod(col("start_tok"), lit(budget.toLong)).as("seq_offset"))

  /** CCNet-style line-level boilerplate removal: a line appearing in at
    * least `minDocs` DISTINCT documents is boilerplate (nav bars, cookie
    * banners, licence footers — the dominant web-crawl noise) and is
    * stripped from every document, preserving per-document line order.
    * Returns `(doc_id, clean_text, n_lines_kept, n_lines_dropped)`; a
    * document whose every line is boilerplate survives with empty text
    * (dropping it is a downstream length-filter decision).
    *
    * Scale shape: the boilerplate set is bounded by corpus_lines/minDocs —
    * small for real thresholds, but NOT a constant (tiny minDocs at PB
    * scale could exceed broadcast limits), so the flag join carries no
    * forced broadcast hint: AQE broadcasts when the measured size allows
    * and falls back to a shuffle join when it doesn't, instead of failing.
    * The corpus side is one explode + flag join + per-document regroup;
    * the line-frequency pass is a two-level
    * aggregate (distinct (line, doc) then count). The per-doc
    * collect_list is bounded by lines-per-document, never corpus-sized.
    * `hashKeys = true` is the PB-scale path: the frequency count and the
    * broadcast flag set key on `xxhash64(line)` instead of the raw line
    * (8-byte shuffle/broadcast keys, and the broadcast no longer carries
    * line text). Identical output unless a boilerplate and a
    * non-boilerplate line collide in 64 bits; the `c4b` gate checks the
    * hashed path against the SAME oracle as c4. Documents with NULL text
    * have no lines and are absent from the output.
    */
  def stripBoilerplateLines(df: DataFrame, text: Column, id: Column,
                            minDocs: Int, hashKeys: Boolean = false): DataFrame = {
    val e0 = df.select(id.as("doc_id"),
      posexplode(split(text, "\n")).as(Seq("pos", "line")))
    val e = if (hashKeys) e0.withColumn("__k", xxhash64(col("line")))
            else e0.withColumn("__k", col("line"))
    val bp = e.select(col("__k"), col("doc_id")).distinct()
      .groupBy(col("__k")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__k"), lit(true).as("__bp"))
    e.join(bp, Seq("__k"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__bp").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"),
        sum(when(col("__bp").isNull, 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(col("__bp").isNotNull, 1L).otherwise(0L)).as("n_lines_dropped"))
  }

  /** Paragraph/line FIRST-OCCURRENCE dedup (the other line-granular
    * dedup): every repeated line keeps only its globally-first instance
    * (ordered by doc_id, then position) and later instances are removed
    * from their documents — the occurrence-order policy (RefinedWeb
    * style), complementary to [[stripBoilerplateLines]]'s frequency
    * threshold (which removes ALL instances of frequent lines, including
    * the first).
    *
    * Deliberately NOT a row_number window over the line: a viral line
    * (10^6 instances) would pin one un-splittable task. The global first
    * instance is a `min(struct(doc_id, pos))` AGGREGATE — map-side
    * combiners absorb the hot key — and the equality flag join back is
    * AQE-splittable (one build row per line). Hash the line key at PB
    * scale, as in [[stripBoilerplateLines]].
    */
  def dedupLinesFirstOccurrence(df: DataFrame, text: Column,
                                id: Column): DataFrame = {
    // r20 optimization: the kept set IS the min-aggregate itself — each
    // line's single surviving (doc_id, pos) — so the output rebuilds
    // FROM the aggregate instead of joining the flag back onto the full
    // line stream. The former shape evaluated the explode subtree twice
    // and shuffled the whole corpus a second time KEYED ON THE LINE
    // TEXT; this one explodes once, and every later shuffle carries
    // kept lines or per-doc scalars only. Dropped-count comes from the
    // per-doc line total (a scan-side scalar), docs whose every line
    // lost rejoin via the left join (empty clean_text, 0 kept).
    val e = df.select(id.as("doc_id"),
      posexplode(split(text, "\n")).as(Seq("pos", "line")))
    val kept = e.groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("__first"))
      .groupBy(col("__first.doc_id").as("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__first.pos").as("pos"),
            col("line")))),
          s => s.getField("line")), "\n").as("__clean"),
        count(lit(1)).as("__kept"))
    df.filter(text.isNotNull)
      .select(id.as("doc_id"), size(split(text, "\n")).cast("long").as("__n"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__clean"), lit("")).as("clean_text"),
        coalesce(col("__kept"), lit(0L)).as("n_lines_kept"),
        (col("__n") - coalesce(col("__kept"), lit(0L))).as("n_lines_dropped"))
  }

  /** WITHIN-document line dedup: keep only the first occurrence of each
    * line inside its own document (repeated boilerplate paragraphs,
    * scraped nav menus duplicated by the extractor). Complements the two
    * cross-document variants: [[stripBoilerplateLines]] (corpus frequency
    * threshold) and [[dedupLinesFirstOccurrence]] (global first instance)
    * — here the unit of dedup is one document, so the whole operator is a
    * single fused projection with ZERO shuffles and no state: the only
    * corpus-wide op that stays embarrassingly parallel at 100 TB. The
    * first-occurrence test is `array_position(lines, x) == i + 1` inside
    * a higher-order `filter` — O(L²) per document worst case, but L is
    * lines-per-doc (bounded, small), not corpus size. NULL text yields
    * NULL output columns (same contract as the content-hash samplers).
    */
  /** ExactSubstr-style duplicated-SPAN removal (the token-window form of
    * the "deduplicate any long substring that appears twice in the
    * corpus" recipe): every `window`-token sliding gram is counted
    * corpus-wide; a doc position covered by ANY gram occurring more than
    * once (in any doc, including its own) is removed, and the kept
    * tokens are re-joined. Complements the line-granular ops — [[
    * stripBoilerplateLines]] (frequency-thresholded lines) and
    * [[dedupLinesWithinDoc]] (intra-doc lines) — with the
    * boundary-agnostic span form that catches templated runs crossing
    * line breaks.
    *
    * Plan shape: one explode to the window stream (corpus tokens × 1
    * rows), one gram-keyed count (the only corpus shuffle — key it on
    * xxhash64(gram) at PB scale; kept as the raw gram here for oracle
    * parity), one broadcast-size join back of the duplicated grams, one
    * per-doc aggregation of flagged starts, then a doc-LOCAL coverage
    * filter (the codegen'd [[graft.expr.CoverageKeptIndices]] linear
    * merge sweep — O(tokens + flagged starts) per doc, never cross-doc).
    * Returns `(doc_id, clean_text, n_tokens, n_tokens_removed)`.
    */
  def dedupSpansAcrossDocs(df: DataFrame, text: Column, id: Column,
                           window: Int, hashKeys: Boolean = false): DataFrame =
    Checkpoint.scope {
      val (base, winStream) = spanWindowStream(df, text, id, window, hashKeys)
      // the window stream feeds BOTH the gram count and the flagged-starts
      // join-back — materialize it once (house idiom; uncheckpointed, the
      // tokenize+explode pipeline would run twice). `flagged` (doc-count
      // sized) is materialized in turn so the window stream's block is
      // freed when the lazy result frame is handed back — the caller
      // retains only the small flagged block plus the cheap base recompute.
      val wins = Checkpoint(winStream)
      val dup = wins.groupBy(col("gram")).agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1).select(col("gram"))
      val flagged = Checkpoint(wins.join(dup, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(col("s"))).as("__fs")))
      assembleSpanCleaned(base, flagged, window)
    }

  /** THE one sliding-window gram derivation, shared by the one-shot
    * [[dedupSpansAcrossDocs]] and the incremental
    * [[incrementalSpanDedupBatch]] (the c19c store ≡ one-shot
    * equivalence depends on both sides deriving bit-identical grams —
    * same tokenizer, same short-doc guard, same gram construction).
    * Returns `(base = (doc_id, __toks, __n), wins = (doc_id, s, gram))`,
    * both LAZY. `hashKeys` (the c4b convention): gram as xxhash64 —
    * 8-byte shuffle keys instead of W-token strings, same result up to
    * negligible 64-bit collisions (a collision only over-flags one
    * window); the raw-gram form is the oracle-parity default.
    */
  private def spanWindowStream(df: DataFrame, text: Column, id: Column,
                               window: Int,
                               hashKeys: Boolean): (DataFrame, DataFrame) = {
    val toks = split(text, " ")
    val base = df.select(id.as("doc_id"), toks.as("__toks"),
      size(toks).as("__n"))
    val starts = when(col("__n") >= window,
      sequence(lit(1), col("__n") - (window - 1)))
      .otherwise(array().cast("array<int>"))
    val gramStr = array_join(slice(col("__toks"), col("s"), lit(window)), " ")
    val gramKey = if (hashKeys) xxhash64(gramStr) else gramStr
    val wins = base
      .select(col("doc_id"), col("__toks"), explode(starts).as("s"))
      .select(col("doc_id"), col("s"), gramKey.as("gram"))
    (base, wins)
  }

  /** Shared tail of span dedup: join the flagged-starts frame
    * `(doc_id, __fs sorted array<int>)` back onto the tokenized corpus
    * `(doc_id, __toks, __n)` and rebuild each document from its uncovered
    * positions (the [[graft.expr.CoverageKeptIndices]] linear merge
    * sweep — O(n+f) per doc; the HOF exists-per-position form was
    * O(n·f), quadratic on a fully-duplicated long doc). Used by the
    * one-shot [[dedupSpansAcrossDocs]] and the incremental store reader
    * [[spanDedupFromStore]].
    */
  private def assembleSpanCleaned(base: DataFrame, flagged: DataFrame,
                                  window: Int): DataFrame = {
    // containsNull=false element type: CoverageKeptIndices rejects
    // nullable elements at analysis (a null start would read as 0)
    val fs = coalesce(col("__fs"), array().cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)))
    val keptIdx = graft.expr.SetExpressions
      .coverageKeptIndices(fs, col("__n"), window)
    base.join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(transform(keptIdx, t => element_at(col("__toks"), t)), " ")
          .as("clean_text"),
        col("__n").cast("long").as("n_tokens"),
        (col("__n") - size(keptIdx)).cast("long").as("n_tokens_removed"))
  }

  /** One micro-batch of INCREMENTAL span-dedup maintenance
    * ([[dedupSpansAcrossDocs]]'s streaming twin, the
    * [[incrementalLshHistogramBatch]] staging discipline): the batch's
    * sliding-window gram stream is hashed (xxhash64 — the c19b scale-twin
    * convention, 8-byte keys) and staged partitioned by
    * `(bucket = gram_h mod nBuckets, batch_id)`, the batch's raw docs are
    * staged by `batch_id`, and the DUPLICATED-gram store is recomputed
    * ONLY for the buckets this batch touched, from the full staged gram
    * history of those buckets, dynamically overwriting just those bucket
    * partitions.
    *
    * Exactness: a gram's instances all land in one bucket, so a bucket's
    * count>1 set equals the global one restricted to that bucket; and
    * dup-ness is MONOTONE (counts only grow), so per-bucket dynamic
    * overwrite suffices — no stage-then-swap needed (the
    * `redset_workload_inc` precedent). What the incremental form saves at
    * scale: the window stream (corpus tokens × 1 rows) is derived once
    * per doc EVER, and only touched buckets re-aggregate counts; the
    * doc-local coverage rebuild happens on read
    * ([[spanDedupFromStore]]) because one new duplicated gram can flag
    * positions in OLD documents — span cleanliness is a global property,
    * like the component step of the LSH histogram.
    *
    * Idempotent per `batchId` (dynamic overwrite of its own staging
    * partitions): at-least-once replays are no-ops. As with
    * [[incrementalLshHistogramBatch]], idempotence assumes a replayed
    * batchId carries identical data — Spark's foreachBatch replay
    * contract (same offsets ⇒ same batch); a non-Spark driver re-using a
    * batchId for different rows would strand stale staged partitions.
    */
  def incrementalSpanDedupBatch(batch: DataFrame, batchId: Long,
                                stagingPath: String, dupsPath: String,
                                window: Int, nBuckets: Int = 64,
                                text: Column = col("text"),
                                id: Column = col("doc_id")): Unit = Checkpoint.scope {
    val spark = batch.sparkSession
    // Compaction fence: [[compactCountedStore]]'s side root exists only
    // while a compaction is in flight OR crashed mid-run. Ingesting past
    // it would be destroyed by the recovery swap (a staged copy from
    // before this batch replaces the bucket), so refuse loudly — the
    // operator re-runs compaction to completion first. One fs.exists per
    // micro-batch.
    val fence = new org.apache.hadoop.fs.Path(
      s"$stagingPath/grams.compact_tmp")
    if (fence.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(fence))
      throw new IllegalStateException(
        s"compaction of $stagingPath/grams is in flight or crashed " +
          "(side root exists) — re-run compactCountedStore to completion " +
          "before ingesting")
    // the SAME gram derivation as the one-shot path (shared helper — the
    // store ≡ one-shot equivalence depends on it), hashed keys (c19b
    // convention: 8-byte staging rows). Materialized once: feeds the
    // staging write AND the touched-bucket probe ("window stream derived
    // once per doc ever" is the contract).
    val winRows = Checkpoint(spanWindowStream(batch, text, id, window, hashKeys = true)
      ._2
      .withColumnRenamed("gram", "gram_h")
      .withColumn("bucket",
        pmod(col("gram_h"), lit(nBuckets.toLong)).cast("int")))
    val staged = winRows.withColumn("batch_id", lit(batchId))
    staged.repartition(col("bucket")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "batch_id").parquet(s"$stagingPath/grams")
    // no coalesce: the docs write stays as parallel as the batch (a
    // single-task funnel would cap ingest at one writer at scale); gate-
    // scale small files are a local-mode artifact, not a design cost
    batch.select(id.as("doc_id"), text.as("text"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$stagingPath/docs")
    // bounded collect: ≤ nBuckets values, off the checkpointed block
    val touched = winRows.select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    if (touched.nonEmpty) {
      // explicit schema: an early batch can stage zero rows for a bucket
      // (footer-less dir) and inference would fail
      val slice = spark.read.schema(staged.schema)
        .parquet(s"$stagingPath/grams")
        .filter(col("bucket").isin(touched.toIndexedSeq.map(Integer.valueOf): _*))
      val dups = slice.groupBy(col("bucket"), col("gram_h"))
        .agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1).select(col("gram_h"), col("bucket"))
      dups.repartition(col("bucket")).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(dupsPath)
    }
    // ensure the dup-store dir exists even if no bucket has a duplicate
    // yet, so a concurrent/subsequent read never throws path-not-found
    ensureDir(spark, dupsPath)
    ()
  }

  /** Span-dedup state of the world from the maintained store: re-derive
    * each staged document's cleaned text against the CURRENT duplicated-
    * gram store (bucket-partitioned on both sides, so the flag join
    * prunes and co-partitions on `(bucket, gram_h)`). Must equal the
    * one-shot [[dedupSpansAcrossDocs]] over everything ingested so far —
    * the `c19c` gate hash-checks exactly that against the same oracle as
    * `c19`/`c19b`.
    */
  def spanDedupFromStore(spark: org.apache.spark.sql.SparkSession,
                         stagingPath: String, dupsPath: String,
                         window: Int,
                         idType: org.apache.spark.sql.types.DataType =
                           org.apache.spark.sql.types.LongType): DataFrame = {
    import org.apache.spark.sql.types._
    // idType mirrors lshHistogramFromStore: the batch writer accepts any
    // id column, so a store staged with string/int ids must be readable
    // (a hardcoded LongType would make such a store unreadable forever)
    val gramSchema = spanGramSchema(idType)
    val dupSchema = StructType(Seq(
      StructField("gram_h", LongType), StructField("bucket", IntegerType)))
    val docSchema = StructType(Seq(
      StructField("doc_id", idType), StructField("text", StringType),
      StructField("batch_id", LongType)))
    val grams = spark.read.schema(gramSchema).parquet(s"$stagingPath/grams")
    val dups = spark.read.schema(dupSchema).parquet(dupsPath)
    val flagged = grams.join(dups, Seq("bucket", "gram_h"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("s"))).as("__fs"))
    val toks = split(col("text"), " ")
    // explicit schema (d12c convention): an all-empty first batch leaves a
    // footer-less docs dir that inference would choke on
    val base = spark.read.schema(docSchema).parquet(s"$stagingPath/docs")
      .select(col("doc_id"), toks.as("__toks"), size(toks).as("__n"))
    assembleSpanCleaned(base, flagged, window)
  }

  def dedupLinesWithinDoc(df: DataFrame, text: Column, id: Column): DataFrame = {
    val ls = split(text, "\n")
    val kept = filter(ls, (x, i) => array_position(ls, x) === i + 1)
    df.select(id.as("doc_id"),
      array_join(kept, "\n").as("clean_text"),
      size(ls).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_lines_kept"))
  }

  /** Per-key temperature-sampling thresholds: flatten the source
    * distribution p_s ∝ n_s to p'_s ∝ n_s^alpha (the standard
    * multi-source mixing knob) by accepting each key's documents with
    * probability (n_min / n_s)^(1-alpha) — the smallest source keeps
    * everything; at alpha = 0.5 a source 100x larger keeps 10%.
    * Deterministic and engine-portable: the keep decision compares the
    * portable content hash against floor(keep_prob · mod), and the
    * alpha = 0.5 default computes keep_prob via IEEE-exact sqrt
    * (division, sqrt, multiply, floor are all correctly rounded; pow is
    * not, so other alphas are Spark-reproducible but not bit-guaranteed
    * across engines). Returns one row per key:
    * `(key, n_s, keep_threshold)`.
    */
  def temperatureThresholds(df: DataFrame, key: Column, alpha: Double = 0.5,
                            mod: Long = 1000000L): DataFrame = {
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("n_s"))
    val ratio = col("n_min").cast("double") / col("n_s")
    val prob = if (alpha == 0.5) sqrt(ratio) else pow(ratio, 1 - alpha)
    counts.crossJoin(broadcast(counts.agg(min(col("n_s")).as("n_min"))))
      .select(col("key"), col("n_s"),
        floor(prob * mod).cast("long").as("keep_threshold"))
  }

  /** Apply [[temperatureThresholds]]: keep a document iff its content
    * hash mod `mod` lands under its key's threshold. The thresholds frame
    * is one row per key — broadcast join, filter fuses into the scan;
    * same deterministic-sampling contract as [[hashSampleFilter]]
    * (re-runs, re-partitionings, and other engines keep the same docs).
    * NULL-text documents hash to NULL and are dropped — same semantics
    * as every content-hash sampler here; coalesce upstream to keep them.
    * NULL keys are a real group, not a silent drop: the threshold join is
    * null-safe (`<=>`), so a null-source crawl slice is sampled at its own
    * group's threshold rather than vanishing while still deflating every
    * other source's threshold through `n_min` (SQL mirror:
    * `IS NOT DISTINCT FROM`).
    */
  def temperatureSample(df: DataFrame, key: Column, text: Column,
                        alpha: Double = 0.5, mod: Long = 1000000L): DataFrame = {
    val thr = temperatureThresholds(df, key, alpha, mod)
      .select(col("key").as("__tkey"), col("keep_threshold").as("__thr"))
    df.join(broadcast(thr), key <=> col("__tkey"))
      .filter(pmod(Fns.rollingHash(text), lit(mod)) < col("__thr"))
      .drop("__tkey", "__thr")
  }

  /** Token-budgeted mix building: per `key` (source/domain/language),
    * rank documents by `order` (typically a quality score, best first)
    * and keep the prefix whose cumulative token count stays within
    * `budget` — "fill a 15T-token training mix with the best documents
    * per source" as one window cumsum (a single shuffle on the mix key;
    * the running sum is O(1) state per row). A document whose inclusion
    * would cross the budget is dropped, as is everything ranked after it
    * inside that key. Cumulative counts are exact BIGINT sums — the kept
    * set is deterministic on any engine given a total `order`. Returns
    * the input columns plus `cum_tokens` (the budget audit trail).
    */
  def tokenBudgetMix(df: DataFrame, nTokens: Column, key: Column,
                     order: Seq[Column], budget: Long,
                     scalable: Option[Boolean] = None): DataFrame =
    if (resolveScalable(df, scalable)) {
      val (sa, ti) = twinOrder(order)
      tokenBudgetMixScalable(df, nTokens, key, sa, ti, budget)
    } else {
      val w = Window.partitionBy(key).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("cum_tokens", sum(nTokens).over(w))
        .filter(col("cum_tokens") <= budget)
    }

  /** [[tokenBudgetMix]]'s SCALE twin (c11c) — the same kept rows and
    * the same exact `cum_tokens` values, but no per-key corpus window:
    * the plain form's prefix sum funnels every document of a source
    * into ONE task (the c39 mega-domain shape, in disguise — a budget
    * mix over a web corpus ranks the mega source's whole slice). Here
    * the per-key PREFIX SUM itself is distributed:
    *
    *  1. a map-side-combined `(key, sort-bucket)` token-mass histogram
    *     (tiny, checkpointed);
    *  2. per bucket, the exact token mass of all strictly-earlier
    *     buckets (`__base`, a window over the REDUCED histogram);
    *     buckets whose base already exceeds the budget are PRUNED
    *     before touching the corpus — the windowed slice is
    *     budget-bounded, not corpus-bounded;
    *  3. the running sum re-partitions by `(key, bucket)` — a mega
    *     source spreads across its B bucket-tasks — and each row's
    *     global `cum_tokens` is `__base` + its within-bucket prefix
    *     (exact: bucketing is monotone in the sort key, so bucket
    *     order composes with in-bucket order to the global order).
    *
    * Order is `(sortAsc ASC, tieId ASC)` — express "best quality
    * first" as `-quality`. Same double-eval contract as
    * [[twoPhaseQuotaFill]] (histogram pass + fill pass).
    */
  def tokenBudgetMixScalable(df: DataFrame, nTokens: Column, key: Column,
                             sortAsc: Column, tieId: Column, budget: Long,
                             bucketWidth: Long = 65536L,
                             boundarySplit: Option[Boolean] = None): DataFrame =
    distributedPrefixSum(df, nTokens, key, sortAsc, tieId, bucketWidth,
        pruneAbove = Some(budget), boundarySplit = boundarySplit)
      .withColumnRenamed("__cum_value", "cum_tokens")
      .filter(col("cum_tokens") <= budget)

  /** The DISTRIBUTED per-key prefix sum both scale twins above ride
    * (c11c/c11d, and [[packSequencesScalable]]): appends `__cum_value`
    * — each row's running sum of `valueCol` in `(sortAsc, tieId)`
    * order within `key` — WITHOUT a per-key corpus window. A
    * `(key, sort-bucket)` histogram (map-side combined, checkpointed)
    * yields each bucket's exact base offset (broadcast); the running
    * sum re-partitions by `(key, bucket)` so a mega key spreads across
    * its B bucket-tasks; `__cum_value` = base + within-bucket prefix,
    * bit-identical to the window form because bucketing is monotone in
    * the sort key (NULL sort keys land in a `Long.MinValue` sentinel
    * bucket, matching the window form's nulls-first order — parity
    * holds on NULL inputs too). `pruneAbove`: drop whole buckets whose
    * base already exceeds the bound BEFORE the corpus join (rows there
    * can never satisfy `cum ≤ bound`) — the windowed slice becomes
    * bound-bounded. The offsets frame enters BROADCAST only on that
    * pruned path (where it is bound-bounded per key); unpruned, it is
    * one row per non-empty (key, bucket) — corpus-bounded, not
    * key-bounded — so the join stays a plain unhinted equi-join whose
    * keys equal the running-sum window's partition keys (one reused
    * corpus-side exchange; AQE may still elect a broadcast when stats
    * say the frame is genuinely small). Same double-eval contract as
    * [[twoPhaseQuotaFill]].
    */
  private[graft] def distributedPrefixSum(df: DataFrame, valueCol: Column,
                                          key: Column, sortAsc: Column,
                                          tieId: Column, bucketWidth: Long,
                                          pruneAbove: Option[Long] = None,
                                          boundarySplit: Option[Boolean] = None)
      : DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val base = df.withColumn("__k2", key).withColumn("__sa", sortAsc)
      .withColumn("__ti", tieId).withColumn("__tok", valueCol)
      .withColumn("__b", coalesce(expr(s"__sa div $bucketWidth"),
        lit(Long.MinValue)))
    val hist = Checkpoint(base.groupBy(col("__k2"), col("__b"))
      .agg(sum(col("__tok")).as("__tc"), count(lit(1)).as("__rc")))
    val offs0 = hist
      .withColumn("__cum", sum(col("__tc")).over(
        Window.partitionBy(col("__k2")).orderBy(col("__b"))))
      .select(col("__k2").as("__ok"), col("__b").as("__ob"),
        (col("__cum") - col("__tc")).as("__base"))
    val offs = pruneAbove.fold(offs0)(b => offs0.filter(col("__base") <= b))
    val offsJ = if (pruneAbove.isDefined) broadcast(offs) else offs
    val joined = base.join(offsJ,
      col("__k2") === col("__ok") && col("__b") === col("__ob"))
    val tiNumeric = base.schema("__ti").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def plainWindow(s: DataFrame): DataFrame = s
      .withColumn("__cum_value", col("__base") + sum(col("__tok")).over(
        Window.partitionBy(col("__k2"), col("__b"))
          .orderBy(col("__sa"), col("__ti"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val summed =
      if (!tiNumeric) plainWindow(joined)
      else resolveBoundarySplitMode(df, boundarySplit) match {
        case Some(true)  => splitPrefixSum(joined, pruneAbove)
        case Some(false) => plainWindow(joined)
        case None =>
          // EVIDENCE-BASED (the default): the level-1 histogram already
          // carries each bucket's ROW count — sub-divide only the
          // buckets a single window task could not absorb, off the
          // checkpointed tiny frame. Routing is whole (key, bucket)
          // groups, so the composed running sum stays bit-identical.
          // Route via a BROADCAST semi/anti join against the heavy
          // (key, bucket) frame, never a collected literal predicate —
          // at 100 TB the default threshold admits tens of thousands of
          // heavy pairs, and an OR-chain that size is a driver collect
          // plus a Catalyst tree that blows up analysis/codegen. NULL
          // keys never survive the offsets equi-join, so neither branch
          // can lose them to three-value logic.
          val heavy = hist.filter(col("__rc") > boundarySplitRows(df)
              && col("__k2").isNotNull)
            .select(col("__k2"), col("__b"))
          if (heavy.isEmpty) plainWindow(joined)
          else {
            val route = broadcast(heavy)
            plainWindow(joined.join(route, Seq("__k2", "__b"), "left_anti"))
              .unionByName(splitPrefixSum(
                joined.join(route, Seq("__k2", "__b"), "left_semi"),
                pruneAbove))
          }
      }
    summed
      .drop("__k2", "__sa", "__ti", "__tok", "__b", "__ok", "__ob", "__base")
  }

  /** SECOND-LEVEL distribution of [[distributedPrefixSum]]'s in-bucket
    * running sum (`spark.graft.boundarySplit`): equal sort keys must
    * share a level-1 bucket, so a key whose token mass concentrates on
    * ONE modal sort value still funnels that bucket's window — here the
    * bucket itself sub-divides by `(sortA, tieId-range)` (the
    * [[withTieSubBuckets]] edges: per-key equi-width tie-id ranges in
    * monotone DOUBLE arithmetic), each sub-bucket's base mass comes off
    * a reduced `(key, bucket, sub)` histogram, and the remaining window
    * sees an expected 1/B₂ of any bucket. With `pruneAbove`, whole
    * sub-buckets whose combined base already exceeds the bound drop
    * before the final window. Same values bit for bit: level-1 base +
    * level-2 base + in-sub-bucket prefix composes to the exact per-key
    * running sum because both bucket functions are monotone in the
    * `(sortA, tieId)` order. The reduced sub-histogram stays bounded
    * by (level-1 width × 4096) rows per (key, bucket) — the integral
    * sort key is range-pinned inside its level-1 bucket — so its
    * offset window never sees corpus-scale input.
    */
  private def splitPrefixSum(joined: DataFrame,
                             pruneAbove: Option[Long]): DataFrame = {
    val s2 = withTieSubBuckets(joined)
    // __base is constant per (key, bucket), so carrying it in the group
    // keys leaves the histogram's grain unchanged — it's there so the
    // combined-base prune drops whole sub-buckets BEFORE the corpus join
    val hist2 = Checkpoint(s2.groupBy(col("__k2"), col("__b"),
        col("__base").as("__bse"), col("__b2"))
      .agg(sum(col("__tok")).as("__tc2")))
    val offs2a = hist2
      .withColumn("__cum2", sum(col("__tc2")).over(
        Window.partitionBy(col("__k2"), col("__b")).orderBy(col("__b2"))))
      .select(col("__k2").as("__ok2"), col("__b").as("__ob2"),
        col("__b2").as("__obb"),
        (col("__bse") + col("__cum2") - col("__tc2")).as("__base12"))
    val offs2 = pruneAbove.fold(offs2a)(b =>
      offs2a.filter(col("__base12") <= b))
    // corpus-bounded frame: plain equi-join, co-partitioned with the
    // final window's (key, bucket, sub-bucket) keys — never broadcast
    val j2 = s2.join(offs2,
      col("__k2") === col("__ok2") && col("__b") === col("__ob2") &&
        col("__b2") === col("__obb"))
    j2.withColumn("__cum_value",
        col("__base12") + sum(col("__tok")).over(
          Window.partitionBy(col("__k2"), col("__b"), col("__b2"))
            .orderBy(col("__sa"), col("__ti"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__sk", "__tmin", "__w2", "__b2", "__ok2", "__ob2", "__obb",
        "__base12")
  }

  /** [[tokenBudgetMixCalibrated]]'s SCALE twin (c11d): the identical
    * broadcast calibration join + `est_bpe_micro` projection, then the
    * micro-token budget runs through [[tokenBudgetMixScalable]]'s
    * distributed prefix sum instead of the per-key corpus window. Same
    * rows, same exact `cum_bpe_micro` values.
    */
  def tokenBudgetMixCalibratedScalable(df: DataFrame, nTokens: Column,
                                       lang: Column, key: Column,
                                       sortAsc: Column, tieId: Column,
                                       budget: Long, calibration: DataFrame,
                                       bucketWidth: Long = 65536L): DataFrame = {
    // Materialize the #langs-row calibration artifact ONCE before it
    // enters broadcast (r20 optimization, guide §3.1 "compute the small
    // side first"): left live, the corpus-scanning aggregate under it is
    // re-executed by every consumer of this frame — and the scale twin
    // consumes it in BOTH prefix-sum passes. At 100 TB the t20 artifact
    // is computed once per snapshot anyway; this is that contract in
    // plan form (measured 3.3 s → 1.6 s on c11d at sf0.1).
    val cal = Checkpoint(calibration.select(col("lang").as("__clang"),
        round(col("bpe_per_ws") * 1000000.0, 0).cast("long").as("__ratio")))
    val est = df.join(broadcast(cal), lang <=> col("__clang"), "left")
      .withColumn("est_bpe_micro",
        nTokens * coalesce(col("__ratio"), lit(1000000L)))
      .drop("__clang", "__ratio")
    tokenBudgetMixScalable(est, col("est_bpe_micro"), key, sortAsc, tieId,
        budget * 1000000L, bucketWidth)
      .withColumnRenamed("cum_tokens", "cum_bpe_micro")
  }

  /** [[tokenBudgetMix]] with the budget denominated in TOKENIZER tokens
    * while documents carry WHITESPACE counts — the shape a real mix
    * build has (corpora are profiled in cheap whitespace counts; the
    * budget contract is "N subword tokens"). `calibration` is the t20
    * artifact ([[graft.text.TextAnalysis.tokenCalibration]]): per-lang
    * `bpe_per_ws`, #langs rows, joined in as a BROADCAST (null-safe on
    * `lang` — a null-lang slice calibrates at its own row rather than
    * silently dropping). Each document's estimated subword count is
    * `nTokens × ratio`, kept EXACT-INTEGER end to end: the 6-decimal
    * ratio becomes micro-units (`round(bpe_per_ws · 10⁶)` — integral by
    * construction, one IEEE multiply both engines agree on), the window
    * cumsum runs in micro-tokens (BIGINT — no float running sum to
    * knife-edge a hash gate), and the budget compares as
    * `budget · 10⁶`. A lang absent from the calibration falls back to
    * ratio 1.0 (identity — whitespace counts pass through). Same single
    * shuffle on the mix key as the plain form; the calibration join is
    * scan-side. Returns the input columns plus `est_bpe_micro` and
    * `cum_bpe_micro` (the audit trail; divide by 10⁶ for tokens).
    */
  def tokenBudgetMixCalibrated(df: DataFrame, nTokens: Column, lang: Column,
                               key: Column, order: Seq[Column], budget: Long,
                               calibration: DataFrame,
                               scalable: Option[Boolean] = None): DataFrame =
    if (resolveScalable(df, scalable)) {
      val (sa, ti) = twinOrder(order)
      tokenBudgetMixCalibratedScalable(df, nTokens, lang, key, sa, ti,
        budget, calibration)
    } else {
      // Materialized before broadcast for the same reason as the scale
      // twin (r20 optimization): a live corpus-scanning subtree under a
      // broadcast exchange re-executes per consumer; the #langs-row
      // artifact is computed once and shipped (measured 1.7 s → 0.7 s
      // on c11b at sf0.1).
      val cal = Checkpoint(calibration.select(col("lang").as("__clang"),
          round(col("bpe_per_ws") * 1000000.0, 0).cast("long").as("__ratio")))
      val w = Window.partitionBy(key).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.join(broadcast(cal), lang <=> col("__clang"), "left")
        .withColumn("est_bpe_micro",
          nTokens * coalesce(col("__ratio"), lit(1000000L)))
        .drop("__clang", "__ratio")
        .withColumn("cum_bpe_micro", sum(col("est_bpe_micro")).over(w))
        .filter(col("cum_bpe_micro") <= budget * 1000000L)
    }

  /** Gopher-style composite quality filter with a per-rule audit trail:
    * every document gets a 0/1 flag per violated rule (length band,
    * stopword ratio, duplicated-token ratio, top-bigram share) plus the
    * combined `keep` — the auditable form real pipelines need (a bare
    * boolean can't answer "why did we drop 40% of source X?"; per-rule
    * flags aggregate into exactly that report). One corpus scan, ZERO
    * shuffles: every metric — including the top-bigram share, via
    * [[TextAnalysis.repetitionMetrics]]'s sorted-run fold — is per-doc
    * arithmetic in a single fused projection (the scan-fused scalars ride
    * along through the `carry` hook). Thresholds compare the
    * 6-decimal-rounded ratios (determinism contract).
    */
  def qualityFilter(df: DataFrame, text: Column, id: Column,
                    minTokens: Long = 20, maxTokens: Long = 80,
                    maxStopwordRatio: Double = 0.1,
                    maxDupTokenRatio: Double = 0.6,
                    maxTopBigramFrac: Double = 0.06,
                    carry: Seq[(String, Column)] = Nil): DataFrame = {
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    // `carry` columns ride the SAME fused scan (the repetitionMetrics
    // hook) — callers needing another per-doc scalar next to the flags
    // (e.g. trainingManifestV2's classifier logit) must not re-scan the
    // corpus and self-join on doc_id to attach it.
    TextAnalysis.repetitionMetrics(df, text, id,
        carry = ("stopword_ratio" -> TextAnalysis.stopwordRatioCol(text))
          +: carry)
      .select(col("doc_id") +: col("n_tokens") +:
        flag(col("n_tokens") < minTokens || col("n_tokens") > maxTokens)
          .as("f_len") +:
        flag(col("stopword_ratio") > maxStopwordRatio).as("f_stop") +:
        flag(col("dup_token_ratio") > maxDupTokenRatio).as("f_rep") +:
        flag(col("top_bigram_frac") > maxTopBigramFrac).as("f_bigram") +:
        carry.map { case (n, _) => col(n) }: _*)
      .withColumn("keep",
        flag(col("f_len") + col("f_stop") + col("f_rep") + col("f_bigram") === 0))
  }

  /** Per-key curation report over [[qualityFilter]]'s audit flags: for
    * each source (or language, or shard), the document count, keep rate,
    * and per-rule violation rates — the aggregate that answers "why did
    * we drop 40% of source X" and decides whether a threshold or the
    * source is the problem. One extra shuffle on the key after the
    * filter's own two. Thresholds pass straight through to
    * [[qualityFilter]] (defaults preserve the `c7` gate fixture).
    */
  def sourceQualityReport(df: DataFrame, text: Column, id: Column,
                          key: Column,
                          minTokens: Long = 20, maxTokens: Long = 80,
                          maxStopwordRatio: Double = 0.1,
                          maxDupTokenRatio: Double = 0.6,
                          maxTopBigramFrac: Double = 0.06): DataFrame = {
    val flags = qualityFilter(df, text, id, minTokens, maxTokens,
      maxStopwordRatio, maxDupTokenRatio, maxTopBigramFrac)
    df.select(id.as("doc_id"), key.as("key"))
      .join(flags, Seq("doc_id"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("keep")).cast("double") / count(lit(1)), 6).as("keep_rate"),
        round(sum(col("f_len")).cast("double") / count(lit(1)), 6).as("r_len"),
        round(sum(col("f_stop")).cast("double") / count(lit(1)), 6).as("r_stop"),
        round(sum(col("f_rep")).cast("double") / count(lit(1)), 6).as("r_rep"),
        round(sum(col("f_bigram")).cast("double") / count(lit(1)), 6).as("r_bigram"))
  }

  /** The curation FUNNEL — per-stage attrition attribution over the
    * [[trainingManifest]] pipeline: every corpus document is labeled with
    * the FIRST stage that removed it (`1_quality` rule violation →
    * `2_contaminated` eval overlap → `3_duplicate` signature loser →
    * `4_kept`), and the report is one row per stage with the exit count,
    * the count that ENTERED the stage, and the exit rate. This is the
    * "where did my corpus go?" breakdown a pipeline owner reads before
    * touching any threshold — c9 hash-gates the survivors, this gate
    * hash-gates the attrition itself (a silent upstream regression that
    * drops 10% more at quality but backfills at dedup leaves c9's row
    * count similar and this report loudly different).
    *
    * Stage semantics match [[trainingManifest]] exactly — the funnel
    * RUNS the same operators ([[qualityFilter]], [[decontaminate]] over
    * quality survivors only, [[keepOneExact]] over clean docs only), so
    * attribution is sequential by construction: a duplicated AND
    * low-quality doc exits at quality, like it does in the pipeline.
    *
    * Plan shape: the three id-only outcome frames (quality keepers,
    * contaminated, dedup survivors) are checkpointed (the
    * [[trainingManifest]] discipline — multi-consumer, O(ids)), then ONE
    * projection of `docs` left-joins the three marker sets (doc_id-keyed;
    * AQE co-partitions) into the stage label, and the report is a
    * 4-row aggregate + a 4-row window for the entering counts. At 100 TB
    * nothing here is new corpus work — the funnel rides the pipeline's
    * own stage outputs.
    */
  def curationFunnel(docs: DataFrame, evalDocs: DataFrame,
                     minTokens: Long = 20, maxTokens: Long = 80,
                     maxStopwordRatio: Double = 0.1,
                     maxDupTokenRatio: Double = 0.6,
                     maxTopBigramFrac: Double = 0.06,
                     hashSig: Option[Boolean] = None): DataFrame = Checkpoint.scope {
    val hs = resolveHashSig(docs, hashSig)
    val qKeep = Checkpoint(qualityFilter(docs, col("text"), col("doc_id"),
        minTokens, maxTokens, maxStopwordRatio, maxDupTokenRatio,
        maxTopBigramFrac)
      .filter(col("keep") === 1).select(col("doc_id")))
    val q = docs.join(qKeep, Seq("doc_id"))
    val contaminated = Checkpoint(decontaminate(q, evalDocs))
    val clean = q.join(contaminated, Seq("doc_id"), "left_anti")
    // r20: ids-only keep-one — the min aggregate is the survivor set,
    // no probe-side re-eval/semi-join (keepOneExactIds)
    val survivors = keepOneExactIds(clean, col("text"), col("doc_id"), hs)
    val stage = docs.select(col("doc_id"))
      .join(qKeep.withColumn("__q", lit(1)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("__c", lit(1)), Seq("doc_id"), "left")
      .join(survivors.withColumn("__s", lit(1)), Seq("doc_id"), "left")
      .select(when(col("__q").isNull, lit("1_quality"))
        .when(col("__c").isNotNull, lit("2_contaminated"))
        .when(col("__s").isNull, lit("3_duplicate"))
        .otherwise(lit("4_kept")).as("stage"))
    // Force the ≤4-row census NOW: the rows come back as a LocalRelation
    // (cheaper than checkpointing: no BlockManager round-trip for a
    // ≤4-row result), so the returned frame is self-contained and the
    // scope frees the internal marker frames — callers can't reference
    // qKeep / contaminated.
    localizeReport(funnelReport(stage))
  }

  /** Force a ≤handful-row report and return the rows as a
    * LocalRelation-backed frame — the shared census tail of both funnels
    * (reads no checkpoint, without paying one for a few rows).
    */
  private def localizeReport(report: DataFrame): DataFrame = {
    val rows = report.collect()
    report.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), report.schema)
  }

  /** The funnel census tail shared by [[curationFunnel]] and
    * [[publishedFunnel]]: per first-exit stage, the exit count, the
    * count that ENTERED the stage, and the exit rate — plus, when a
    * `tokens` column is supplied, the whitespace-token mass exiting at
    * each stage (budgets are denominated in tokens, and a stage that
    * drops 5% of docs can drop 40% of tokens). Entering count =
    * corpus total minus everything that exited earlier; total = sum
    * over stages (each doc exits exactly once), so both columns come
    * from two stage-count-row windows — no second corpus count.
    */
  private def funnelReport(stage: DataFrame,
                           tokens: Option[Column] = None): DataFrame = {
    val extra = tokens.toSeq.map(t => sum(t).as("tokens_exit"))
    val agg = stage.groupBy(col("stage"))
      .agg(count(lit(1)).as("n_exit"), extra: _*)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wPrev = Window.orderBy(col("stage"))
      .rowsBetween(Window.unboundedPreceding, -1)
    agg
      .withColumn("n_in",
        sum(col("n_exit")).over(wAll) -
          coalesce(sum(col("n_exit")).over(wPrev), lit(0L)))
      .select(col("stage") +: col("n_exit") +: col("n_in") +:
        round(col("n_exit").cast("double") / col("n_in"), 6).as("exit_rate") +:
        tokens.toSeq.map(_ => col("tokens_exit")): _*)
  }

  /** The PUBLISHED-pipeline funnel (c35) — the FineWeb-order stage
    * chain, each stage one of this engine's already-gated published
    * filters, with the same first-exit attribution as
    * [[curationFunnel]]:
    *
    *  1. `1_gopher_rules` — fails the c29 Gopher rule panel
    *     ([[graft.text.TextAnalysis.gopherAllRulesCol]]);
    *  2. `2_repetition` — fails the t25 full repetition suite
    *     ([[graft.text.TextAnalysis.gopherRepetitionMetrics]]);
    *  3. `3_ccnet_tail` — lands in the per-language perplexity tail
    *     tercile, with the LM fit on the SURVIVING corpus (the order a
    *     real build runs: quality first, then distribution cuts —
    *     [[graft.text.TextAnalysis.ccnetKeepIds]]);
    *  4. `4_duplicate` — exact keep-one loser ([[keepOneExact]]);
    *  5. `5_kept`.
    *
    * Plan shape (the [[curationFunnel]] discipline): stages 1+2 are
    * both per-doc functions of the text, so their flags come from ONE
    * fused scan pass checkpointed as an O(ids) id+flags frame (pinned —
    * it feeds both the stage-3 input and the label join); ccnet adds
    * the LM token aggregate over stage-2 survivors only; dedup one
    * signature argmin+semi-join pass over stage-3 survivors (the
    * skew-proof [[keepOneExact]] shape); the label rides the
    * checkpointed flags frame itself (no corpus re-scan) left-joining
    * the two marker sets; the census is the shared 5-row window tail.
    */
  def publishedFunnel(docs: DataFrame, minWords: Long = 20L,
                      maxWords: Long = 100000L,
                      hashSig: Option[Boolean] = None,
                      scalable: Option[Boolean] = None): DataFrame = Checkpoint.scope {
    val hs = resolveHashSig(docs, hashSig)
    val sw = resolveScalable(docs, scalable)
    import graft.text.TextAnalysis
    // Stages 1+2 are both per-doc functions of the text, so their flags
    // come from ONE fused scan pass (sequential attribution is just
    // flag precedence); the checkpoint is O(ids): id, two booleans,
    // and the whitespace token count the census tail sums.
    val flags = Checkpoint(docs.select(col("doc_id"),
        TextAnalysis.gopherAllRulesCol(col("text"), minWords, maxWords)
          .as("__gk"),
        TextAnalysis.gopherRepKeepCol(col("text")).as("__rk"),
        TextAnalysis.nTokensCol(col("text")).as("__nt")))
    val s2 = flags.filter(col("__gk") && col("__rk")).select(col("doc_id"))
    // scalableWindows swaps the tail cut to the quota reformulation —
    // the per-lang ntile is the funnel stage at a mega language
    val cKeep = Checkpoint((if (sw)
        TextAnalysis.ccnetKeepIdsScalable(docs.join(s2, Seq("doc_id")),
          col("text"), col("doc_id"), col("lang"))
      else TextAnalysis.ccnetKeepIds(docs.join(s2, Seq("doc_id")),
        col("text"), col("doc_id"), col("lang"))))
    val survivors = keepOneExactIds(docs.join(cKeep, Seq("doc_id")),
      col("text"), col("doc_id"), hs)
    // flags already has exactly one row per doc, so the label chain
    // starts FROM the checkpointed flags frame — no corpus re-scan.
    // NULL-text docs carry NULL flags and exit at the rules stage.
    val stage = flags
      .join(cKeep.withColumn("__c", lit(1)), Seq("doc_id"), "left")
      .join(survivors.withColumn("__s", lit(1)), Seq("doc_id"), "left")
      .select(when(!coalesce(col("__gk"), lit(false)), lit("1_gopher_rules"))
        .when(!coalesce(col("__rk"), lit(false)), lit("2_repetition"))
        .when(col("__c").isNull, lit("3_ccnet_tail"))
        .when(col("__s").isNull, lit("4_duplicate"))
        .otherwise(lit("5_kept")).as("stage"), col("__nt"))
    // Materialize the ≤5-row census (the curationFunnel rule): the
    // returned frame is a self-contained LocalRelation, nothing stays
    // pinned past this call.
    localizeReport(funnelReport(stage, tokens = Some(col("__nt"))))
  }

  /** The END-TO-END training-data manifest — the full modern pipeline
    * composed from this module's operators, in the order a real corpus
    * build runs them:
    *
    *  1. [[qualityFilter]]: drop rule-violating documents;
    *  2. [[decontaminate]]: drop documents sharing any word 3-gram with
    *     the eval set;
    *  3. [[keepOneExact]]: one survivor per canonical token signature;
    *  4. [[splitColumn]]: deterministic train/val/test assignment;
    *  5. [[packSequences]] per (source, split): budget-token training
    *     sequences that never cross a split boundary.
    *
    * Every stage is engine-portable, so the whole composition is
    * hash-gated end to end (`c9_training_manifest`) — the c1 discipline
    * extended over the round-6 operators. Returns one row per surviving
    * document: `(doc_id, pack_key, split, n_tokens, seq_id, seq_offset)`.
    *
    * Plan shape: the multi-consumer frames are eagerly materialized as
    * ID-ONLY projections (the `TextAnalysis.vocabTopK` idiom — column
    * pruning defeats ReuseExchange, so an un-materialized subtree
    * re-executes per consumer): the quality-keep id set feeds both
    * decontamination and the anti-join; the deduped `(doc_id, split)`
    * projection feeds both the packing rehydration and the final
    * join-back. With both checkpointed, the
    * filter → decontaminate → dedup chain (two keyed shuffles, a gram
    * explode, a signature window) executes exactly ONCE; consumers pay
    * only a re-scan of the `docs` relation joined against the tiny id
    * set — never the text (corpus-sized payloads are not checkpointed).
    * The quality-rule thresholds pass through to [[qualityFilter]]
    * (defaults preserve the `c6`/`c7`/`c9` gate fixtures — real corpora
    * want e.g. `maxTokens = Long.MaxValue`).
    */
  def trainingManifest(docs: DataFrame, evalDocs: DataFrame,
                       budget: Int = 512,
                       minTokens: Long = 20, maxTokens: Long = 80,
                       maxStopwordRatio: Double = 0.1,
                       maxDupTokenRatio: Double = 0.6,
                       maxTopBigramFrac: Double = 0.06,
                       hashSig: Option[Boolean] = None,
                       scalable: Option[Boolean] = None): DataFrame = Checkpoint.scope {
    val hs = resolveHashSig(docs, hashSig)
    val sw = resolveScalable(docs, scalable)
    // O(ids): one long column, safe to pin in executor memory.
    val keepIds = Checkpoint(qualityFilter(docs, col("text"), col("doc_id"),
        minTokens, maxTokens, maxStopwordRatio, maxDupTokenRatio,
        maxTopBigramFrac)
      .filter(col("keep") === 1).select(col("doc_id")))
    val q = docs.join(keepIds, Seq("doc_id"))
    val contaminated = decontaminate(q, evalDocs)
    val clean = q.join(contaminated, Seq("doc_id"), "left_anti")
    // O(ids) again: survivors of the signature window, plus their split.
    // dedupedIds subsumes keepIds, which the scope frees
    val dedupedIds = Checkpoint(keepOneExactIds(clean, col("text"),
      col("doc_id"), hs, carry = Seq("split" -> splitColumn(col("text")))))
    // Rehydrate text/source for packing with one more scan of `docs`
    // (cheap columnar read) instead of re-running the dedup window.
    val deduped = docs.join(dedupedIds, Seq("doc_id"))
    val packed0 = packSequences(deduped, col("text"), col("doc_id"),
      concat(col("source"), lit("|"), col("split")), budget,
      scalable = Some(sw))
    packed0
      .join(dedupedIds, Seq("doc_id"))
      .select(col("doc_id"), col("pack_key"), col("split"),
        col("n_tokens"), col("seq_id"), col("seq_offset"))
  }

  /** [[trainingManifest]] extended with the model-based stages — the
    * complete modern pipeline:
    *
    *  1. [[qualityFilter]]: rule-based drops (length/stopword/repetition);
    *  2. [[graft.text.TextAnalysis.classifierScore]]: drop documents
    *     below `minLogitMicro` (the fastText-style model filter);
    *  3. [[decontaminate]]: drop eval-overlapping documents;
    *  4. [[keepOneExact]] + [[splitColumn]];
    *  5. [[tokenBudgetMix]]: per-source token budget, best quality first;
    *  6. [[packSequences]] per (source, split).
    *
    * Same materialization discipline as [[trainingManifest]]: every
    * multi-consumer frame is checkpointed as an ID-plus-small-columns
    * projection (never text), so each stage executes once and consumers
    * pay only a docs re-scan against a tiny id set. Fully hash-gated end
    * to end (`c13_training_manifest_v2`). The quality-rule thresholds pass
    * through to [[qualityFilter]] exactly as in [[trainingManifest]]
    * (defaults preserve the gate fixtures; real corpora want e.g.
    * `maxTokens = Long.MaxValue`). Returns one row per surviving
    * document: `(doc_id, pack_key, split, n_tokens, quality, cum_tokens,
    * seq_id, seq_offset)`.
    */
  def trainingManifestV2(docs: DataFrame, evalDocs: DataFrame,
                         classifierWeights: Seq[Double],
                         classifierBias: Double = 0.0,
                         minLogitMicro: Long = Long.MinValue,
                         tokensPerSource: Long = Long.MaxValue,
                         budget: Int = 512,
                         minTokens: Long = 20, maxTokens: Long = 80,
                         maxStopwordRatio: Double = 0.1,
                         maxDupTokenRatio: Double = 0.6,
                         maxTopBigramFrac: Double = 0.06,
                         hashSig: Option[Boolean] = None,
                       scalable: Option[Boolean] = None): DataFrame = Checkpoint.scope {
    val hs = resolveHashSig(docs, hashSig)
    val sw = resolveScalable(docs, scalable)
    // Rules AND classifier logit from ONE fused scan (r20 optimization):
    // the former keepRules ⋈ scored join was two corpus scans plus a
    // corpus-keyed shuffle to AND two per-doc predicates the scan can
    // evaluate side by side (doc_id.isNotNull preserved from the old
    // inner join's null-key drop).
    // O(ids + one long): the rule- and model-kept set with its quality
    val keep2 = Checkpoint(qualityFilter(docs.filter(col("doc_id").isNotNull),
        col("text"), col("doc_id"),
        minTokens, maxTokens, maxStopwordRatio, maxDupTokenRatio,
        maxTopBigramFrac,
        carry = Seq("quality" -> graft.text.TextAnalysis.logitMicroCol(
          col("text"), classifierWeights, classifierBias)))
      .filter(col("keep") === 1 && col("quality") >= minLogitMicro)
      .select(col("doc_id"), col("quality")))
    val q = docs.join(keep2.select(col("doc_id")), Seq("doc_id"))
    val contaminated = decontaminate(q, evalDocs)
    val clean = q.join(contaminated, Seq("doc_id"), "left_anti")
    val dedupedIds = Checkpoint(keepOneExactIds(clean, col("text"),
      col("doc_id"), hs, carry = Seq("split" -> splitColumn(col("text")))))
    val hydrated = docs.join(dedupedIds, Seq("doc_id"))
      .join(keep2, Seq("doc_id"))
      .withColumn("n_tokens", TextAnalysis.nTokensCol(col("text")))
    // O(ids + 4 small cols): the budget-mixed survivors
    val mixedIds = Checkpoint(tokenBudgetMix(hydrated, col("n_tokens"),
        col("source"), Seq(col("quality").desc, col("doc_id")),
        tokensPerSource, scalable = Some(sw))
      .select(col("doc_id"), col("split"), col("quality"), col("cum_tokens")))
    val packed = packSequences(
      docs.join(mixedIds, Seq("doc_id")), col("text"), col("doc_id"),
      concat(col("source"), lit("|"), col("split")), budget,
      scalable = Some(sw))
    packed.join(mixedIds, Seq("doc_id"))
      .select(col("doc_id"), col("pack_key"), col("split"), col("n_tokens"),
        col("quality"), col("cum_tokens"), col("seq_id"), col("seq_offset"))
  }

  /** The composed curation pipeline over a `documents`-shaped frame:
    *
    *  1. score: token count, stopword ratio, language-ID (single fused
    *     projection — scan-bound);
    *  2. filter: length / stopword / language-confidence thresholds;
    *  3. sample: deterministic content-hash keep (`hashSampleFilter`);
    *  4. dedup: exact keep-one on the canonical token signature;
    *  5. quota: at most `quotaPerSource` docs per source, longest first.
    *
    * Thresholds compare the ROUNDED ratio (the 6-decimal determinism
    * contract) so the keep set is identical on every engine.
    */
  def curate(docs: DataFrame,
             text: Column = col("text"),
             id: Column = col("doc_id"),
             source: Column = col("source"),
             minTokens: Long = 5,
             maxStopwordRatio: Double = 0.6,
             minLangScore: Long = 1,
             samplePct: Int = 80,
             quotaPerSource: Int = 60,
             scalableQuota: Option[Boolean] = None): DataFrame = {
    val sq = resolveScalable(docs, scalableQuota)
    val best = TextAnalysis.langBestCol(text)
    val scored = docs.select(
      id.as("doc_id"), source.as("source"), text.as("text"),
      TextAnalysis.nTokensCol(text).as("n_tokens"),
      TextAnalysis.stopwordRatioCol(text).as("stopword_ratio"),
      best.getField("lang").as("lang_pred"),
      best.getField("score").cast("long").as("lang_score"))
    val kept = scored.filter(
      col("n_tokens") >= minTokens &&
        col("stopword_ratio") <= maxStopwordRatio &&
        col("lang_score") >= minLangScore &&
        hashSampleFilter(col("text"), samplePct))
    // r20: ids+carries keep-one — text is dropped right here anyway, so
    // the min-struct aggregate delivers the 5 output columns in ONE
    // scan/shuffle (keepOneExactIds), no probe-side re-eval of the
    // scoring chain and no semi-join back.
    val deduped = keepOneExactIds(kept, col("text"), col("doc_id"),
      carry = Seq("source" -> col("source"), "lang_pred" -> col("lang_pred"),
        "n_tokens" -> col("n_tokens"),
        "stopword_ratio" -> col("stopword_ratio")))
    // scalableQuota = the skew-proof two-phase fill (identical keep
    // set): "longest first" becomes the ascending -n_tokens sort key.
    // The fill's histogram+fill DOUBLE-EVAL would re-run the whole
    // scoring/dedup chain, so the scalable path first pins the 5
    // narrow output columns as an O(ids) checkpoint (the
    // curationFunnel/ccnetKeepIdsScalable precedent — scoring
    // dominates this pipeline's cost, the fill itself is scan-shaped)
    val qin = if (sq) Checkpoint(deduped) else deduped
    val quotad = quotaPerKey(qin, col("source"), quotaPerSource,
      Seq(col("n_tokens").desc, col("doc_id")), scalable = Some(sq))
    quotad.select(col("doc_id"), col("source"), col("lang_pred"),
      col("n_tokens"), col("stopword_ratio"))
  }

  /** Epoch plan for a weighted multi-source mix: given target mix weights
    * (per-mille, the published-recipe shape: "web 60%, code 25%, …") and
    * a total token budget, compute per source how many epochs (full
    * repeats) its corpus contributes and the resulting effective tokens —
    * the standard upsample-small-sources knob, capped at `maxEpochs`
    * repeats so a tiny source can't loop hundreds of times. A source
    * missing from `weightsPermille` gets weight 0 (reported, not
    * silently dropped — the audit row shows its tokens going unused).
    *
    * All-integer arithmetic: `target = floor(budget·w/1000)`,
    * `epochs = min(maxEpochs, ceil(target/n))`,
    * `effective = min(target, epochs·n)` — engine-exact, no rounding
    * knife-edges. One aggregation shuffle on the key; the weight map is
    * a broadcast literal.
    */
  def epochMix(df: DataFrame, key: Column, nTokens: Column,
               weightsPermille: Seq[(String, Long)], budget: Long,
               maxEpochs: Long = 4L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = weightsPermille.toDF("key", "weight_permille")
    df.groupBy(key.as("key")).agg(sum(nTokens).as("n_tokens"))
      .join(broadcast(w), Seq("key"), "left")
      .select(col("key"), col("n_tokens"),
        coalesce(col("weight_permille"), lit(0L)).as("weight_permille"))
      .withColumn("target_tokens",
        expr(s"(${budget}L * weight_permille) div 1000"))
      .withColumn("epochs",
        // n_tokens = 0 (a source of empty docs) would make the integer
        // ceil divide by zero — Spark nulls, DuckDB errors; pin epochs 0
        when(col("n_tokens") > 0,
          least(lit(maxEpochs),
            expr("(target_tokens + n_tokens - 1) div n_tokens")))
          .otherwise(lit(0L)))
      .withColumn("effective_tokens",
        least(col("target_tokens"), col("epochs") * col("n_tokens")))
      .withColumn("shortfall_tokens",
        col("target_tokens") - col("effective_tokens"))
  }

  /** Deterministic per-EPOCH shuffle keys (c48) — the training-order
    * assignment: epoch e orders the corpus by
    * `md5(e ':' id)` (portable — any engine, any partitioning, any
    * re-run derives the SAME order), so multi-epoch training reads a
    * genuinely different, reproducible permutation each epoch without
    * ever materializing a global sort: the writer shards by the key's
    * first hex char and sorts WITHIN each shard (shard boundaries are
    * key ranges, so shard-local order concatenates to the global
    * order). Pure projection × a bounded `epochs`-way explode — zero
    * shuffles until the writer's own per-shard sort.
    */
  def epochShuffle(df: DataFrame, id: Column, epochs: Int): DataFrame = {
    require(epochs > 0, s"epochs must be positive, got $epochs")
    df.select(id.as("doc_id"))
      .withColumn("epoch",
        explode(array((0 until epochs).map(e => lit(e.toLong)): _*)))
      .withColumn("shuffle_key",
        md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
      .select(col("epoch"), col("doc_id"), col("shuffle_key"))
  }

  /** The c48 audit read: per (epoch, shard = first hex char) doc count
    * and key range — proves the ~16-way shard split stays balanced and
    * the assignment is deterministic (the manifest hash-matches any
    * other engine's). One (epoch, shard) groupBy over the projection.
    */
  def epochShuffleManifest(df: DataFrame, id: Column,
                           epochs: Int): DataFrame =
    epochShuffle(df, id, epochs)
      .groupBy(col("epoch"), substring(col("shuffle_key"), 1, 1).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("shuffle_key")).as("min_key"),
        max(col("shuffle_key")).as("max_key"))

  /** Deterministic shard manifest — the "write the training data" audit:
    * every document lands in `shard = rollingHash(text) mod nShards`
    * (portable content hash, so re-runs, re-partitionings, and other
    * engines produce the SAME shard membership), and the manifest reports
    * per shard the document count, token count, and an order-independent
    * content checksum (sum of per-doc hashes mod 1e9+7, bounded so the
    * BIGINT sum can't overflow at any corpus size). Equal-width hash
    * sharding is what makes the 100 TB writer embarrassingly parallel
    * AND resumable: a failed shard re-derives exactly its own documents.
    * One aggregation shuffle on the shard key.
    *
    * NULL-text documents hash to NULL and surface as a `shard = NULL`
    * audit row (counted, never silently dropped — a manifest that loses
    * rows is worse than no manifest); coalesce upstream to assign them.
    */
  def shardManifest(df: DataFrame, text: Column, id: Column,
                    nShards: Int): DataFrame = {
    val h = graft.fns.Fns.rollingHash(text)
    df.select(id.as("doc_id"),
        pmod(h, lit(nShards.toLong)).as("shard"),
        TextAnalysis.nTokensCol(text).as("n_tokens"),
        pmod(h, lit(1000000007L)).as("__hm"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("__hm")).as("checksum"))
  }

  /** Corpus snapshot DIFF (c42) — the version-management read every
    * managed corpus needs: classify every document id across two
    * snapshots as `added` / `removed` / `changed` / `unchanged`. "What
    * did this crawl refresh actually change?" is the question a
    * manifest owner asks before re-triggering the downstream curation;
    * the per-id frame groups into the one-line census and joins back
    * to either snapshot for the changed slice.
    *
    * Plan: both sides project scan-side to `(id, content-signature)`
    * and meet in ONE full-outer equi-join on the id — no broadcast
    * (both sides are corpus-scale by definition). `hashContent = true`
    * is the PB-scale twin (the [[keepOneExact]] `hashSig` convention):
    * the signature becomes 8-byte `xxhash64` so the shuffle carries
    * 16 bytes/row instead of the document text; default compares the
    * raw text (exact — no collision caveat, the oracle-parity form).
    * NULL texts compare null-safely: NULL vs NULL is `unchanged`,
    * NULL vs text is `changed`. CONTRACT: `id` unique per snapshot (a
    * duplicated id fans the join out).
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
                 id: Column = col("doc_id"), text: Column = col("text"),
                 hashContent: Boolean = false): DataFrame = {
    def sig(c: Column) = if (hashContent) xxhash64(c) else c
    val o = oldDf.select(id.as("__oid"), sig(text).as("__osig"))
    val n = newDf.select(id.as("__nid"), sig(text).as("__nsig"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__oid"), col("__nid")).as("doc_id"),
        when(col("__oid").isNull, lit("added"))
          .when(col("__nid").isNull, lit("removed"))
          .when(!(col("__osig") <=> col("__nsig")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Changelog APPLY (c43) — the inverse of [[corpusDiff]], closing the
    * corpus version-management round trip: reconstruct snapshot B from
    * snapshot A plus a changelog of `(id, status, payload)` rows where
    * `added`/`changed` rows carry the NEW text. This is how a managed
    * corpus ships a crawl refresh to every downstream site: the
    * changelog (usually ≪ the corpus) travels, the receiver folds it
    * into its local snapshot, and `apply(A, diff(A, B)) == B` holds
    * bit-exactly (gated by `c43_diff_apply`'s round-trip oracle).
    *
    * B = (A anti⋈ touched-ids) ∪ payload(added ∪ changed). `removed`
    * and `changed` ids drop A's row; `added` ids are anti-joined away
    * too, defensively — an id marked `added` that nonetheless exists in
    * A would otherwise duplicate (last-writer-wins, matching the diff's
    * full-outer semantics). `unchanged`/`removed` payloads are ignored
    * (may be NULL); a NULL `added`/`changed` payload is a legitimate
    * NULL-text document and rides through.
    *
    * Plan: ONE left-anti equi-join on the id (the changelog projects
    * scan-side to its touched-id set) plus a union — deliberately NO
    * broadcast hint: a refresh changelog is corpus-bounded, not
    * small-by-construction, so AQE broadcasts it only when runtime
    * stats say it fits. CONTRACT: one changelog row per id, `status`
    * non-NULL in the four [[corpusDiff]] values (a NULL status keeps
    * A's row and contributes no payload — the `unchanged` reading).
    */
  def applyCorpusDiff(oldDf: DataFrame, changelog: DataFrame,
                      id: Column = col("doc_id"),
                      text: Column = col("text"),
                      status: Column = col("status")): DataFrame = {
    val cl = changelog.select(id.as("doc_id"), status.as("__st"),
      text.as("text"))
    val touched = cl.filter(col("__st").isin("added", "removed", "changed"))
      .select(col("doc_id"))
    oldDf.select(id.as("doc_id"), text.as("text"))
      .join(touched, Seq("doc_id"), "left_anti")
      .unionByName(cl.filter(col("__st").isin("added", "changed"))
        .select(col("doc_id"), col("text")))
  }

  /** Changelog COMPACTION (c44) — compose two consecutive changelogs
    * (A→B, then B→C) into ONE A→C changelog, so a receiver N versions
    * behind folds one compacted log instead of replaying N (the Kafka
    * log-compaction / Delta-checkpoint move, re-expressed over the
    * [[corpusDiff]]/[[applyCorpusDiff]] contract). The CONTRACT is
    * apply-equivalence, not label-equivalence:
    * `apply(A, compact(cl1, cl2)) == apply(apply(A, cl1), cl2)`
    * bit-exactly for every A consistent with the logs — gated by
    * `c44_changelog_compact`'s round trip onto the direct snapshot C.
    *
    * Status algebra (full-outer join on id; `one-sided` = carry that
    * side through):
    *   - added→removed nets to NO row (the id never existed in A or C);
    *   - added→(changed|unchanged) stays `added` with the NEW payload;
    *   - (changed|unchanged)→removed is `removed`;
    *   - removed→added compacts to `changed` — without A's content the
    *     compactor can't prove the re-added text equals the original,
    *     and `changed` (drop + re-add on apply) is correct either way
    *     (a fresh `diff(A, C)` may label such an id `unchanged`; the
    *     APPLIED result is identical — spec-pinned);
    *   - otherwise the second log's status and payload win.
    * Payload: the second log's text wherever it still describes the id
    * (`s2` non-removed), else the first's.
    *
    * `keepUnchanged = false` (default) also drops `unchanged` rows —
    * [[applyCorpusDiff]] ignores them, so the compacted log shrinks to
    * the touched set (the whole point at 100 TB: the log a receiver
    * pulls is O(churn), not O(corpus)); `true` keeps the full per-id
    * census for audit parity with [[corpusDiff]]. Plan: ONE full-outer
    * equi-join on the id, scan-side projections, no broadcast hint
    * (changelogs are corpus-bounded; AQE decides).
    */
  def compactChangelog(cl1: DataFrame, cl2: DataFrame,
                       id: Column = col("doc_id"),
                       text: Column = col("text"),
                       status: Column = col("status"),
                       keepUnchanged: Boolean = false): DataFrame = {
    val a = cl1.select(id.as("__id1"), status.as("__s1"), text.as("__t1"))
    val b = cl2.select(id.as("__id2"), status.as("__s2"), text.as("__t2"))
    val s1 = col("__s1"); val s2 = col("__s2")
    val joined = a.join(b, col("__id1") === col("__id2"), "full_outer")
      .select(coalesce(col("__id1"), col("__id2")).as("doc_id"),
        when(s1.isNull, s2)
          .when(s2.isNull, s1)
          .when(s1 === "added" && s2 === "removed", lit(null: String))
          .when(s1 === "added", lit("added"))
          .when(s2 === "removed", lit("removed"))
          .when(s1 === "removed", lit("changed"))
          .when(s2 === "unchanged", s1)
          .otherwise(s2).as("status"),
        // `unchanged` rows may legally carry a NULL payload (apply
        // ignores them), so an unchanged second log must not erase the
        // first log's payload — fall back to __t1 when __t2 is NULL.
        when(s2 === "unchanged", coalesce(col("__t2"), col("__t1")))
          .when(s2.isNotNull && s2 =!= "removed", col("__t2"))
          .otherwise(col("__t1")).as("text"))
      .filter(col("status").isNotNull)
      // removed rows ship NO payload — apply ignores it, the log is
      // smaller, and full-census and pre-compacted inputs compose to
      // the same bytes (a kept B-side payload would differ between them)
      .withColumn("text",
        when(col("status") === "removed", lit(null).cast("string"))
          .otherwise(col("text")))
    if (keepUnchanged) joined else joined.filter(col("status") =!= "unchanged")
  }

  /** Fold two CONSECUTIVE full CDC logs (A→B then B→C) into the single
    * full A→C log — [[compactChangelog]]'s status algebra lifted to the
    * before/after shape: the net old image is the EARLIEST one (f1's if
    * it covers the doc), the net new image the LATEST (f2's if it
    * covers it), added-then-removed vanishes, removed-then-re-added
    * composes to `changed` — NORMALIZED to `unchanged` when the images
    * agree (a doc removed and later re-added with identical content
    * never changed between the endpoints, which is exactly what a
    * direct [[corpusDiffFull]] of the endpoint snapshots would say).
    * One full-outer equi-join; `keepUnchanged = false` (the default)
    * drops net-unchanged rows so an N-log fold stays O(net churn) —
    * dropping them is lossless here because an unchanged hop's images
    * equal the surrounding hops' adjacent images.
    */
  def compactFullChangelog(f1: DataFrame, f2: DataFrame,
                           keepUnchanged: Boolean = false): DataFrame = {
    val a = f1.select(col("doc_id").as("__id1"), col("status").as("__s1"),
      col("old_text").as("__o1"), col("new_text").as("__n1"))
    val b = f2.select(col("doc_id").as("__id2"), col("status").as("__s2"),
      col("old_text").as("__o2"), col("new_text").as("__n2"))
    val s1 = col("__s1"); val s2 = col("__s2")
    val joined = a.join(b, col("__id1") === col("__id2"), "full_outer")
      .select(coalesce(col("__id1"), col("__id2")).as("doc_id"),
        when(s1.isNull, s2)
          .when(s2.isNull, s1)
          .when(s1 === "added" && s2 === "removed", lit(null: String))
          .when(s1 === "added", lit("added"))
          .when(s2 === "removed", lit("removed"))
          .when(s1 === "removed", lit("changed")) // removed → re-added
          .when(s2 === "unchanged", s1)
          .otherwise(s2).as("status"),
        when(s1.isNotNull, col("__o1")).otherwise(col("__o2"))
          .as("old_text"),
        when(s2.isNotNull, col("__n2")).otherwise(col("__n1"))
          .as("new_text"))
      .filter(col("status").isNotNull)
      .withColumn("status",
        when(col("status") === "changed" &&
          (col("old_text") <=> col("new_text")), lit("unchanged"))
          .otherwise(col("status")))
      // statuses constrain their images (apply/invert rely on it):
      // added carries no old image, removed no new image — keep the
      // composed log on the same contract corpusDiffFull emits
      .withColumn("old_text",
        when(col("status") === "added", lit(null).cast("string"))
          .otherwise(col("old_text")))
      .withColumn("new_text",
        when(col("status") === "removed", lit(null).cast("string"))
          .otherwise(col("new_text")))
    if (keepUnchanged) joined
    else joined.filter(col("status") =!= "unchanged")
  }

  /** [[corpusDiff]] with BOTH payload images (c46) — the CDC
    * before/after shape: `(doc_id, status, old_text, new_text)`. The
    * thin diff + a payload join serves forward replication; carrying
    * the OLD image too is what makes a changelog REVERSIBLE
    * ([[invertChangelog]]) — the rollback story a managed corpus needs
    * when a bad refresh ships. Same ONE full-outer equi-join as the
    * thin diff (the payloads ride the same shuffle rows the signatures
    * did — no extra join), raw-text compare (no hashed twin: rollback
    * needs the images, so there is nothing to shrink).
    */
  def corpusDiffFull(oldDf: DataFrame, newDf: DataFrame,
                     id: Column = col("doc_id"),
                     text: Column = col("text")): DataFrame = {
    val o = oldDf.select(id.as("__oid"), text.as("__ot"),
      lit(true).as("__inOld"))
    val n = newDf.select(id.as("__nid"), text.as("__nt"),
      lit(true).as("__inNew"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__oid"), col("__nid")).as("doc_id"),
        when(col("__inOld").isNull, lit("added"))
          .when(col("__inNew").isNull, lit("removed"))
          .when(!(col("__ot") <=> col("__nt")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("__ot").as("old_text"), col("__nt").as("new_text"))
  }

  /** Invert a FULL changelog (c46): the A→B log becomes the B→A log —
    * `added`↔`removed`, `changed` keeps its status with the images
    * swapped — in [[applyCorpusDiff]]'s thin `(doc_id, status, text)`
    * shape, so `apply(B, invert(diffFull(A, B))) == A` bit-exactly
    * (the rollback round trip `c46_rollback` gates). Pure projection:
    * no join, no shuffle. NULL-image flags are NOT trusted to infer
    * presence ([[corpusDiffFull]] emits explicit statuses precisely
    * because a NULL text is a legitimate document).
    */
  def invertChangelog(full: DataFrame,
                      status: Column = col("status"),
                      oldText: Column = col("old_text"),
                      newText: Column = col("new_text"),
                      id: Column = col("doc_id")): DataFrame =
    full.select(id.as("doc_id"),
      when(status === "added", lit("removed"))
        .when(status === "removed", lit("added"))
        .otherwise(status).as("status"),
      when(status === "added", lit(null).cast("string"))
        .otherwise(oldText).as("text"))

  /** REFRESH AUDIT (c49) — the composed publish report a corpus owner
    * reads before [[applyCorpusDiff]]-ing a candidate refresh: the
    * diff census (added/removed/changed/unchanged counts), how many
    * ADDED docs are exact duplicates of content already in the corpus
    * (the [[graft.dedup.Dedup]] canonical-token signature — a crawl
    * that "adds" what you already have should not pass silently), and
    * how many incoming (added ∪ changed) payloads violate a length
    * expectation (the `ops.Expectations` NULL-is-violation convention).
    * One `(audit, n)` row per line.
    *
    * Plan: ONE full-outer diff join feeds all three panels; the dup
    * check is a semi join of the added docs' signatures against the
    * old corpus' distinct signatures (both sides scan-side
    * projections, no broadcast hint — both are corpus-bounded); the
    * violation count is a 1-row aggregate over the incoming slice. At
    * 100 TB every panel is a projection + one equi-shuffle — nothing
    * quadratic, nothing driver-side.
    *
    * `censusRules`: CENSUS-LEVEL expectations — predicates over the
    * one-row diff census `(n_added, n_changed, n_removed, n_unchanged,
    * n_old, n_new)` — the classic bad-refresh killer the row rules
    * cannot see (a refresh that deletes half the corpus passes every
    * per-row check on the survivors). Each rule lands as an
    * `(audit = name, n = 0|1)` violation-flag row; NULL predicates
    * count as violations (the `ops.Expectations` convention). Stays
    * in-plan (a 1-row aggregate + unpivot), so the audit remains one
    * oracle-checkable frame.
    */
  def refreshAudit(oldDf: DataFrame, newDf: DataFrame,
                   id: Column = col("doc_id"), text: Column = col("text"),
                   maxChars: Int = 256,
                   censusRules: Seq[(String, Column)] = Nil): DataFrame = {
    val full = corpusDiffFull(oldDf, newDf, id, text)
    def sig(c: Column) =
      array_join(array_sort(array_distinct(split(c, " "))), " ")
    val counts = full.groupBy(col("status").as("audit"))
      .agg(count(lit(1)).as("n"))
    val dup = full.filter(col("status") === "added")
      .select(sig(col("new_text")).as("__sig"))
      .join(oldDf.select(sig(text).as("__sig")).distinct(),
        Seq("__sig"), "left_semi")
      .agg(count(lit(1)).as("n"))
      .select(lit("added_dup_of_existing").as("audit"), col("n"))
    val viol = full.filter(col("status").isin("added", "changed"))
      .agg(coalesce(sum(
        when(coalesce(length(col("new_text")) <= maxChars, lit(false)),
          lit(0L)).otherwise(lit(1L))), lit(0L)).as("n"))
      .select(lit("incoming_rule_violations").as("audit"), col("n"))
    val base = counts.unionByName(dup).unionByName(viol)
    val all = if (censusRules.isEmpty) base else {
      def cnt(s: String) = coalesce(sum(
        when(col("status") === s, lit(1L)).otherwise(lit(0L))), lit(0L))
      val census = full.agg(cnt("added").as("n_added"),
          cnt("changed").as("n_changed"), cnt("removed").as("n_removed"),
          cnt("unchanged").as("n_unchanged"))
        // the diff is a full census, so both corpus sizes derive from it
        .withColumn("n_old",
          col("n_removed") + col("n_changed") + col("n_unchanged"))
        .withColumn("n_new",
          col("n_added") + col("n_changed") + col("n_unchanged"))
      val perRule = censusRules.map { case (name, p) =>
        struct(lit(name).as("audit"),
          when(coalesce(p, lit(false)), lit(0L)).otherwise(lit(1L)).as("n"))
      }
      base.unionByName(census.select(inline(array(perRule: _*))))
    }
    all.orderBy(col("audit"))
  }

  /** Schema of the maintained SIGNATURE store's data + partition
    * columns (explicit on every read — an empty store has no footers;
    * public because [[compactCountedStore]] takes it as the staged
    * schema when squashing the store's per-batch dirs).
    */
  val sigStoreStagedSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("delta",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType)))

  /** The canonical-token signature the dedup/audit family keys on
    * (sorted distinct whitespace tokens — word-order/duplication
    * insensitive). ONE definition so the maintained store and the
    * direct audit cannot drift.
    */
  private def tokenSig(c: Column): Column =
    array_join(array_sort(array_distinct(split(c, " "))), " ")

  /** One batch of MAINTAINED signature upkeep (the c49 100 TB note
    * closed): the corpus' distinct canonical-token signatures with
    * REFERENCE COUNTS, folded incrementally from FULL (CDC) changelogs
    * ([[corpusDiffFull]]'s shape — the old image is what makes a
    * removal decrementable). With the store maintained, the refresh
    * audit's "added duplicates existing content" panel is O(refresh +
    * store) — never a per-audit corpus-wide text scan + distinct.
    *
    * Layout: `(bucket = xxhash64(sig) mod nBuckets, batch_id)` staged
    * parquet of `(sig, delta)` rows, each batch dynamic-overwriting its
    * OWN partitions — at-least-once replays are no-ops (the d9 staging
    * idempotence convention), and [[compactCountedStore]] squashes the
    * per-batch dirs when listing growth matters (same layout contract).
    * Read = `groupBy(sig).sum(delta) > 0`. A changed row whose old and
    * new signatures coincide nets to zero and is never written; NULL
    * texts carry no signature (a NULL sig could never semi-join a dup
    * check anyway).
    */
  def sigStoreApplyBatch(fullChangelog: DataFrame, sigStorePath: String,
                         batchId: Long, nBuckets: Int = 64,
                         id: Column = col("doc_id"),
                         status: Column = col("status"),
                         oldText: Column = col("old_text"),
                         newText: Column = col("new_text")): Unit = {
    sigDeltas(fullChangelog, "sigStoreApplyBatch", id, status, oldText,
        newText)
      .withColumn("bucket",
        pmod(xxhash64(col("sig")), lit(nBuckets.toLong)).cast("int"))
      .withColumn("batch_id", lit(batchId))
      .repartition(col("bucket")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "batch_id").parquet(sigStorePath)
    ()
  }

  /** The net `(sig, delta)` rows of one CDC batch — ONE derivation
    * shared by the in-place ([[sigStoreApplyBatch]]) and
    * manifest-committed ([[sigStoreApplyBatchCommitted]]) signature
    * stores, so their censuses cannot drift.
    *
    * Fail-fast on a lying log, like the snapshot store: a duplicated
    * changelog id would DOUBLE-COUNT its signature deltas — silent
    * census drift the refcounts could never recover from. The per-id
    * count rides the batch frame, and the raise lives INSIDE the
    * consumed delta column (a guard in a pruned column would be
    * optimized away), so it fires in the same materialization that
    * feeds the store write and nothing lands.
    */
  private def sigDeltas(fullChangelog: DataFrame, who: String,
                        id: Column = col("doc_id"),
                        status: Column = col("status"),
                        oldText: Column = col("old_text"),
                        newText: Column = col("new_text")): DataFrame = {
    val base = fullChangelog
      .filter(status.isin("added", "removed", "changed"))
      .select(id.as("__sid"), status.as("__st"), oldText.as("__ot"),
        newText.as("__nt"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("__sid"))))
    def guardedDelta(d: Long) = when(col("__n") > 1, raise_error(concat(
        lit(s"$who: changelog carries duplicate rows for " +
          "doc_id "), col("__sid").cast("string"),
        lit(" — duplicate deltas would silently corrupt the signature " +
          "census; compact the log (compactChangelog) or dedup upstream"))))
      .otherwise(lit(d))
    val gains = base.filter(col("__st").isin("added", "changed"))
      .select(tokenSig(col("__nt")).as("sig"), guardedDelta(1L).as("delta"))
    val losses = base.filter(col("__st").isin("removed", "changed"))
      .select(tokenSig(col("__ot")).as("sig"), guardedDelta(-1L).as("delta"))
    gains.unionByName(losses)
      .filter(col("sig").isNotNull)
      .groupBy(col("sig")).agg(sum(col("delta")).as("delta"))
      .filter(col("delta") =!= 0L)
  }

  /** The maintained signature census: `(sig, cnt)` for every signature
    * currently carried by ≥1 corpus document (one pre-reduced groupBy
    * over the staged deltas — store rows ≤ distinct sigs × batches,
    * compacted by [[compactCountedStore]]).
    *
    * READER CONTRACT (writer-side store): the `(bucket, batch_id)`
    * layout is listed at plan-build time and its dirs are REWRITTEN in
    * place by [[compactCountedStore]]'s stage-and-swap — a read that
    * spans a compaction can hit deleted files (or the documented
    * one-bucket hole mid-swap). Reads are safe from the single writer
    * that owns the compaction cadence (the foreachBatch loop), or
    * quiesced around maintenance windows. For multi-reader isolation
    * use the manifest-committed family ([[sigStoreApplyBatchCommitted]]
    * / [[readSigStoreCommitted]]), whose compaction never touches a
    * committed file.
    */
  def readSigStore(spark: org.apache.spark.sql.SparkSession,
                   sigStorePath: String): DataFrame =
    spark.read.schema(sigStoreStagedSchema).parquet(sigStorePath)
      .groupBy(col("sig")).agg(sum(col("delta")).as("cnt"))
      .filter(col("cnt") > 0L)

  /** [[refreshAudit]] with the dup panel served by the MAINTAINED
    * signature store instead of a per-audit corpus scan: the candidate
    * refresh arrives as a FULL (CDC) changelog (it IS the diff, so no
    * full-outer join either), and every panel is O(refresh) except the
    * one pre-reduced store read. Output is IDENTICAL to [[refreshAudit]]
    * on the corresponding snapshots — gated against the same oracle.
    * The store must reflect the corpus BEFORE this refresh applies
    * (audit first, then [[sigStoreApplyBatch]] the log if it ships).
    */
  def refreshAuditMaintained(fullChangelog: DataFrame,
                             sigStorePath: String,
                             maxChars: Int = 256,
                             censusRules: Seq[(String, Column)] = Nil)
      : DataFrame =
    refreshAuditFromSigs(fullChangelog,
      readSigStore(fullChangelog.sparkSession, sigStorePath), maxChars,
      censusRules)

  /** [[refreshAuditMaintained]] over the manifest-COMMITTED signature
    * store ([[sigStoreApplyBatchCommitted]]'s layout): same panels,
    * same oracle, but the store read resolves a committed manifest —
    * safe to run concurrently with folds and compactions.
    */
  def refreshAuditMaintainedCommitted(fullChangelog: DataFrame,
                                      sigStorePath: String,
                                      maxChars: Int = 256,
                                      censusRules: Seq[(String, Column)] = Nil)
      : DataFrame =
    refreshAuditFromSigs(fullChangelog,
      readSigStoreCommitted(fullChangelog.sparkSession, sigStorePath),
      maxChars, censusRules)

  private def refreshAuditFromSigs(fullChangelog: DataFrame,
                                   sigs: DataFrame, maxChars: Int,
                                   censusRules: Seq[(String, Column)])
      : DataFrame = {
    val counts = fullChangelog.groupBy(col("status").as("audit"))
      .agg(count(lit(1)).as("n"))
    val dup = fullChangelog.filter(col("status") === "added")
      .select(tokenSig(col("new_text")).as("sig"))
      .join(sigs.select(col("sig")),
        Seq("sig"), "left_semi")
      .agg(count(lit(1)).as("n"))
      .select(lit("added_dup_of_existing").as("audit"), col("n"))
    val viol = fullChangelog.filter(col("status").isin("added", "changed"))
      .agg(coalesce(sum(
        when(coalesce(length(col("new_text")) <= maxChars, lit(false)),
          lit(0L)).otherwise(lit(1L))), lit(0L)).as("n"))
      .select(lit("incoming_rule_violations").as("audit"), col("n"))
    val base = counts.unionByName(dup).unionByName(viol)
    val all = if (censusRules.isEmpty) base else {
      def cnt(s: String) = coalesce(sum(
        when(col("status") === s, lit(1L)).otherwise(lit(0L))), lit(0L))
      val census = fullChangelog.agg(cnt("added").as("n_added"),
          cnt("changed").as("n_changed"), cnt("removed").as("n_removed"),
          cnt("unchanged").as("n_unchanged"))
        .withColumn("n_old",
          col("n_removed") + col("n_changed") + col("n_unchanged"))
        .withColumn("n_new",
          col("n_added") + col("n_changed") + col("n_unchanged"))
      val perRule = censusRules.map { case (name, p) =>
        struct(lit(name).as("audit"),
          when(coalesce(p, lit(false)), lit(0L)).otherwise(lit(1L)).as("n"))
      }
      base.unionByName(census.select(inline(array(perRule: _*))))
    }
    all.orderBy(col("audit"))
  }

  // ──────────────────────────────────────────────────────────────────
  // Manifest-COMMITTED signature store: the counted store's additive
  // semantics realized as an LSM-style SEGMENT store — each batch
  // writes ONLY its own immutable `seg=<id>` dir of net (sig, delta)
  // rows, and a tiny manifest (`_graft_sigmanifest_<id>`, tmp-then-
  // rename: one atomic commit point) lists the live segments. Readers
  // resolve one manifest and read exactly its segments; folds AND
  // compactions commit new segments + a new manifest, never touching a
  // committed file — the same reader isolation the generation store
  // gives the snapshot ([[snapshotApplyBatchIsolated]]), completing
  // the managed-ISOLATED composite's consistency matrix (previously
  // its corpus reads were isolated but its sig census was writer-side
  // only). The in-place `(bucket, batch_id)` store stays as the
  // single-writer/owned-reader path ([[readSigStore]]'s contract).
  // ──────────────────────────────────────────────────────────────────

  private val sigManifestPrefix = "_graft_sigmanifest_"

  /** Segment-file schema of the committed signature store (`bucket` is
    * a partition column inside each `seg=<id>` dir — explicit on every
    * read; an empty segment has no footers).
    */
  private val sigSegSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("delta",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))

  private def listSigManifestIds(fs: org.apache.hadoop.fs.FileSystem,
                                 root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isFile &&
        s.getPath.getName.startsWith(sigManifestPrefix) &&
        !s.getPath.getName.endsWith(".tmp"))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix(sigManifestPrefix).toLong).toOption)
      .sorted.reverse

  /** Parse one sig manifest:
    * `(nBuckets, kind, applied, Seq(segId → segBatch))` — `applied` is
    * the highest CDC batch folded into the store (the replay guard),
    * `segBatch` the highest batch a segment's content reaches (what
    * compaction may fold under a `committedThrough` fence).
    */
  private def readSigManifestById(fs: org.apache.hadoop.fs.FileSystem,
                                  root: org.apache.hadoop.fs.Path, id: Long)
      : (Int, String, Long, Seq[(Long, Long)]) = {
    val in = fs.open(
      new org.apache.hadoop.fs.Path(root, s"$sigManifestPrefix$id"))
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
    val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
    val nBuckets = lines.head.stripPrefix("nbuckets ").toInt
    val kind = lines(1).stripPrefix("kind ")
    val applied = lines(2).stripPrefix("applied ").toLong
    val segs = lines.drop(3).map { l =>
      val Array(_, s, b) = l.split(" ", 3)
      s.toLong -> b.toLong
    }.toSeq
    (nBuckets, kind, applied, segs)
  }

  private def writeSigManifest(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path, id: Long,
                               nBuckets: Int, kind: String, applied: Long,
                               segs: Seq[(Long, Long)]): Unit = {
    val fin = new org.apache.hadoop.fs.Path(root, s"$sigManifestPrefix$id")
    // replay re-commit: identical content by construction — skip rather
    // than delete-then-rename (the writeManifest argument)
    if (fs.exists(fin)) return
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"$sigManifestPrefix$id.tmp")
    val body = (Seq(s"nbuckets $nBuckets", s"kind $kind",
      s"applied $applied") ++
      segs.sortBy(_._1).map { case (s, b) => s"seg $s $b" }).mkString("\n")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, fin)) throw new java.io.IOException(
      s"committed sig store: manifest rename $tmp -> $fin refused")
  }

  /** One batch of manifest-COMMITTED signature upkeep —
    * [[sigStoreApplyBatch]]'s fold (same [[sigDeltas]] derivation, same
    * census) with committed-read semantics: the batch's net deltas land
    * in their own immutable `seg=<id>` dir and the new manifest (old
    * segments + this one) commits with one atomic rename.
    *
    * Crash/replay: a crash before the manifest leaves an orphan seg dir
    * the replay overwrites (the manifest id re-derives to the same
    * value); a batch whose effects are already `applied` is a no-op; a
    * batch BELOW `applied` is a checkpoint reset — fail loud. Batch
    * ids may skip (a managed composite folds only SHIPPED batches).
    * Per-batch cost: O(batch) — one delta aggregation, one bucket
    * shuffle, one tiny manifest; never reads the store. Single writer
    * (foreachBatch serializes).
    */
  def sigStoreApplyBatchCommitted(fullChangelog: DataFrame,
                                  sigStorePath: String, batchId: Long,
                                  nBuckets: Int = 64,
                                  id: Column = col("doc_id"),
                                  status: Column = col("status"),
                                  oldText: Column = col("old_text"),
                                  newText: Column = col("new_text")): Unit = {
    val spark = fullChangelog.sparkSession
    ensureDir(spark, sigStorePath)
    val root = new org.apache.hadoop.fs.Path(sigStorePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = listSigManifestIds(fs, root)
    val newest = ids.headOption.map(i => i -> readSigManifestById(fs, root, i))
    newest.foreach { case (_, (storeN, _, applied, _)) =>
      if (batchId < applied) throw new IllegalStateException(
        s"committed sig store $sigStorePath already applied batch " +
          s"$applied but this fold carries batchId=$batchId — batchIds " +
          "must be increasing (checkpoint reset? start a fresh store)")
      if (batchId == applied) return // at-least-once replay: no-op
      if (storeN != nBuckets) throw new IllegalStateException(
        s"committed sig store $sigStorePath was written with " +
          s"nBuckets=$storeN but this call uses nBuckets=$nBuckets — " +
          "pass the store's bucket count")
    }
    val mid = newest.map(_._1 + 1L).getOrElse(0L)
    sigDeltas(fullChangelog, "sigStoreApplyBatchCommitted", id, status,
        oldText, newText)
      .withColumn("bucket",
        pmod(xxhash64(col("sig")), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("bucket")).write.mode("overwrite")
      .partitionBy("bucket").parquet(s"$sigStorePath/seg=$mid")
    val prevSegs = newest.map(_._2._4).getOrElse(Seq.empty)
    writeSigManifest(fs, root, mid, nBuckets, "fold", batchId,
      prevSegs :+ (mid -> batchId))
  }

  /** COMMITTED read of the manifest-committed signature store — the
    * [[readSigStore]] census (`(sig, cnt)`, cnt > 0) served from
    * exactly the newest manifest's segments: one partition-listed read
    * per live segment (compaction bounds the count), one pre-reduced
    * aggregation. Snapshot semantics: the frame keeps serving its
    * manifest's segments through concurrent folds AND compactions —
    * size [[pruneSigStoreSegs]]' retention to your slowest reader. A
    * virgin store is an empty census.
    */
  def readSigStoreCommitted(spark: org.apache.spark.sql.SparkSession,
                            sigStorePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(sigStorePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = listSigManifestIds(fs, root)
    val segs = ids.headOption
      .map(i => readSigManifestById(fs, root, i)._4).getOrElse(Seq.empty)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sigSegSchema)
    val union =
      if (segs.isEmpty) empty
      else segs.map { case (sid, _) =>
        spark.read.option("basePath", s"$sigStorePath/seg=$sid")
          .schema(sigSegSchema).parquet(s"$sigStorePath/seg=$sid")
      }.reduce(_ unionByName _)
    union.groupBy(col("sig")).agg(sum(col("delta")).as("cnt"))
      .filter(col("cnt") > 0L)
  }

  /** Squash the committed sig store's segment list — compaction as an
    * ordinary COMMIT, never a rewrite: the foldable segments' nets
    * merge into one new `seg=<id>` dir and the new manifest (merged
    * segment + the segments held out by the fence) lands with the same
    * atomic rename as any fold. Readers are never fenced and never see
    * a hole — the [[compactCountedStore]] stop-the-world contract
    * dissolved by the manifest idiom.
    *
    * `committedThrough` is the replay fence ([[compactCountedStore]]'s
    * contract): only segments whose content is at or below it fold —
    * a stream batch not yet in the checkpoint stays its own segment,
    * which its at-least-once replay overwrites idempotently. Merged
    * segments carry their content's max batch, so they re-fold freely.
    * A crash before the manifest leaves an orphan seg dir the re-run
    * overwrites (same id re-derived); a re-run after the commit no-ops
    * (≤ 1 foldable segment). Single writer.
    */
  def compactSigStoreCommitted(spark: org.apache.spark.sql.SparkSession,
                               sigStorePath: String,
                               committedThrough: Long = Long.MaxValue): Unit = {
    val root = new org.apache.hadoop.fs.Path(sigStorePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = listSigManifestIds(fs, root)
    if (ids.isEmpty) return
    val (nBuckets, _, applied, segs) = readSigManifestById(fs, root, ids.head)
    val (foldable, heldOut) = segs.partition(_._2 <= committedThrough)
    if (foldable.sizeIs <= 1) return
    val mid = ids.head + 1L
    foldable.map { case (sid, _) =>
        spark.read.option("basePath", s"$sigStorePath/seg=$sid")
          .schema(sigSegSchema).parquet(s"$sigStorePath/seg=$sid")
      }.reduce(_ unionByName _)
      .groupBy(col("sig")).agg(sum(col("delta")).as("delta"))
      .filter(col("delta") =!= 0L)
      .withColumn("bucket",
        pmod(xxhash64(col("sig")), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("bucket")).write.mode("overwrite")
      .partitionBy("bucket").parquet(s"$sigStorePath/seg=$mid")
    writeSigManifest(fs, root, mid, nBuckets, "compact", applied,
      (mid -> foldable.map(_._2).max) +: heldOut)
  }

  /** GC for the committed sig store: keep the newest `retainManifests`
    * FOLD manifests — compact manifests serve the SAME census as their
    * predecessor, so (like the generation store's rebucket manifests,
    * [[pruneSnapshotGens]]) they ride along with rather than consume
    * the retention budget — plus every segment any kept manifest
    * references; delete the rest. `retainManifests >= 2` leaves the
    * reader grace window. Single writer.
    *
    * Reclamation LAG (the generation store's post-rebucket shape): the
    * newest fold manifest right after a compaction is the
    * PRE-compaction one, whose references pin the pre-compaction
    * segments — a compaction's space reclaims only once the NEXT
    * `retainManifests` folds commit and prune runs. Steady-state
    * segment count under an ingest cadence is therefore bounded by
    * ~(folds between compactions + retained tail), never by stream
    * length.
    */
  def pruneSigStoreSegs(spark: org.apache.spark.sql.SparkSession,
                        sigStorePath: String,
                        retainManifests: Int = 2): Unit = {
    require(retainManifests >= 1,
      s"retainManifests must be >= 1, got $retainManifests")
    val root = new org.apache.hadoop.fs.Path(sigStorePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val ids = listSigManifestIds(fs, root)
    if (ids.isEmpty) return
    val parsed = ids.map(id => id -> readSigManifestById(fs, root, id))
    val foldIds = parsed.collect { case (id, (_, kind, _, _))
      if kind == "fold" => id }
    val keepFloor =
      if (foldIds.sizeIs <= retainManifests) ids.min
      else foldIds(retainManifests - 1)
    val keep = ids.filter(_ >= keepFloor).toSet
    val referenced = parsed.collect { case (id, (_, _, _, segs))
      if keep(id) => segs.map(_._1).toSet }.flatten.toSet
    val newest = ids.head
    ids.filterNot(keep).foreach(mid =>
      fs.delete(new org.apache.hadoop.fs.Path(root,
        s"$sigManifestPrefix$mid"), false))
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("seg=").toLong).toOption
        .map(g => (s.getPath, g)))
      // never touch a seg NEWER than the newest manifest: an in-flight
      // fold's dir, committed a moment from now
      .filter { case (_, g) => g <= newest && !referenced(g) }
      .foreach { case (p, _) => fs.delete(p, true) }
  }

  /** Schema of the maintained snapshot store's data + partition columns
    * (explicit on every read: a just-ensured empty store dir has no
    * footers to infer from).
    */
  private val snapshotSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))

  /** One micro-batch of MAINTAINED snapshot upkeep (c45) — the at-scale
    * serving shape of [[applyCorpusDiff]]: the corpus snapshot lives as
    * a `bucket = xxhash64(id) mod nBuckets`-partitioned parquet store,
    * and each changelog batch rewrites ONLY the buckets it touches
    * (partition-pruned read → [[applyCorpusDiff]] → dynamic overwrite).
    * Per-batch cost is O(batch + touched-bucket rows), never O(corpus):
    * at 100 TB the receiver folds a crawl refresh by rewriting the
    * churned slice of the store, not re-materializing the snapshot —
    * and, unlike the staged-history stores, keeps NO changelog history
    * at all (apply is last-writer-complete), so there is nothing to
    * compact and the dir count is a constant `nBuckets`.
    *
    * Idempotence is SEMANTIC, not staging-based: applying the same
    * changelog twice is a no-op by [[applyCorpusDiff]]'s construction
    * (removed ids are already gone; added/changed ids re-land on the
    * identical payload), so foreachBatch's at-least-once replays — and
    * crash-torn dynamic overwrites, which leave some touched buckets
    * new and some old — converge on replay. Buckets whose every row is
    * removed are fs-deleted BEFORE the write (dynamic overwrite only
    * replaces partitions present in the written frame, so an all-removed
    * bucket would otherwise keep its stale rows forever); deletion-first
    * is crash-safe because deletion IS those buckets' final state. The
    * touched slice is localCheckpoint-materialized before the rewrite
    * (it reads from the store root it overwrites — the
    * [[compactStagedStore]] lineage-break idiom), so size `nBuckets`
    * such that a bucket's rows fit an executor. Single writer
    * (foreachBatch already serializes). Store contract: `doc_id` LONG
    * unique per snapshot, `text` STRING; `unchanged` changelog rows are
    * dropped unread, so pre-compacted O(churn) logs are the natural
    * input ([[compactChangelog]] squashes a catch-up backlog into one).
    */
  /** The store's persisted bucket count (`_graft_nbuckets`, leading
    * underscore so parquet readers ignore it like `_SUCCESS`): the
    * bucket is a pure function of `(id, nBuckets)`, so applying a batch
    * with a DIFFERENT nBuckets than the store was written with would
    * compute the wrong touched set and write an id's new row into one
    * bucket while its old row survives in another — silent duplication.
    * The marker turns that into a fail-fast.
    */
  private def bucketMarkerPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_graft_nbuckets")

  private def readBucketMarker(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path): Option[Int] = {
    val p = bucketMarkerPath(root)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        // InputStream.read may legally return fewer bytes than
        // available — loop to EOF so the digits are never truncated.
        val buf = new Array[Byte](32)
        var off = 0
        var n = in.read(buf, off, buf.length - off)
        while (n > 0 && off + n < buf.length) {
          off += n
          n = in.read(buf, off, buf.length - off)
        }
        if (n > 0) off += n
        Some(new String(buf, 0, off, "UTF-8").trim.toInt)
      } finally in.close()
    }
  }

  private def writeBucketMarker(fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path,
                                n: Int): Unit = {
    val out = fs.create(bucketMarkerPath(root), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Fence the store's bucket count: initialize the marker on a store
    * with no data yet, verify it afterwards, and refuse BOTH a
    * mismatched `nBuckets` and a data-bearing store with no marker at
    * all (the signature of a [[rebucketSnapshot]] that crashed between
    * its rewrite and its marker commit — re-run it to completion).
    */
  private def fenceBucketCount(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path,
                               nBuckets: Int): Unit =
    readBucketMarker(fs, root) match {
      case Some(m) if m != nBuckets => throw new IllegalStateException(
        s"snapshot store $root was written with nBuckets=$m but this " +
          s"call uses nBuckets=$nBuckets — a mismatched bucket fn would " +
          "silently duplicate ids across buckets; pass the store's " +
          "bucket count, or rebucketSnapshot to migrate it")
      case Some(_) => ()
      case None =>
        val hasData = fs.exists(root) && fs.listStatus(root)
          .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        if (hasData) throw new IllegalStateException(
          s"snapshot store $root has bucket data but no _graft_nbuckets " +
            "marker — a rebucketSnapshot crashed between its rewrite and " +
            "its marker commit (or the store predates the marker); re-run " +
            "rebucketSnapshot to completion before ingesting")
        writeBucketMarker(fs, root, nBuckets)
    }

  /** STOP-THE-WORLD bucket-count migration for the maintained snapshot
    * store: as the corpus grows, nBuckets must grow with it (the store
    * contract sizes a bucket to fit an executor) — this rewrites the
    * whole store under the new bucket function and commits the new
    * marker. Crash-safe by the no-marker fence: the marker is deleted
    * FIRST, so a crash anywhere mid-rewrite leaves a store that
    * [[snapshotApplyBatch]] refuses to touch until a re-run completes
    * (the rewrite itself is an idempotent full recompute). Single
    * writer, no concurrent ingest — same contract as
    * [[compactCountedStore]].
    */
  def rebucketSnapshot(spark: org.apache.spark.sql.SparkSession,
                       snapshotPath: String, newNBuckets: Int): Unit = Checkpoint.scope {
    val root = new org.apache.hadoop.fs.Path(snapshotPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the rewrite replaces its own source dir
    val cur = Checkpoint(readSnapshot(spark, snapshotPath))
    fs.delete(bucketMarkerPath(root), false)
    cur.withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(newNBuckets.toLong)).cast("int"))
      .repartition(col("bucket")).write.mode("overwrite")
      .option("partitionOverwriteMode", "static") // FULL dir replace
      .partitionBy("bucket").parquet(snapshotPath)
    writeBucketMarker(fs, root, newNBuckets)
  }

  /** CATCH-UP fold for the snapshot store's HIGH-CHURN regime (the
    * honest cliff c45 documents): uniform random churn touching
    * ≥ nBuckets buckets per batch degrades per-batch folding to a
    * full-store rewrite PER BATCH — a receiver N batches behind must
    * not replay N rewrites. This compacts the backlog into ONE
    * changelog first ([[compactChangelog]] left-fold: N−1 equi-joins
    * over O(churn) frames, never the corpus; the accumulator is
    * checkpointed every 8 folds so plan depth stays bounded), then
    * folds once — ONE store rewrite regardless of backlog depth.
    * Same final snapshot bit for bit, by compactChangelog's
    * apply-equivalence (spec-pinned, closed under composition).
    */
  def snapshotCatchUp(changelogs: Seq[DataFrame], snapshotPath: String,
                      nBuckets: Int = 64): Unit = Checkpoint.scope {
    require(changelogs.nonEmpty, "snapshotCatchUp needs >= 1 changelog")
    // each lineage checkpoint feeds only the folds up to the next one —
    // Checkpoint.next keeps at most ONE alive, and the scope frees the
    // survivor once the apply below has materialized past it (the §6.1
    // storage-litter lesson: persistent blocks must not outlive the op)
    var last = changelogs.head
    val compacted = changelogs.zipWithIndex.tail
      .foldLeft(changelogs.head) { case (acc, (l, i)) =>
        val c = compactChangelog(acc, l)
        if (i % 8 == 0) { last = Checkpoint.next(last, c); last } else c
      }
    snapshotApplyBatch(compacted, snapshotPath, nBuckets)
  }

  /** GROWTH trigger for the maintained store's bucket count: the store
    * contract sizes a bucket to fit an executor, so as the corpus grows
    * past `targetRowsPerBucket × nBuckets` the count must grow with it.
    * Doubles the bucket count (via the crash-safe [[rebucketSnapshot]])
    * until the target holds again; returns the store's (possibly new)
    * bucket count — pass it to subsequent [[snapshotApplyBatch]] calls.
    * The size read is a real Spark `count()` JOB over the store — but
    * the aggregate prunes the read schema to zero columns, so each task
    * decodes NO pages: it reads footers and sums row-group counts
    * (metadata IO per file, not a data scan). Budget it as one
    * store-wide footer pass every `rebucketEvery` batches; call between
    * batches (single writer, same contract as rebucket).
    */
  def maybeRebucketSnapshot(spark: org.apache.spark.sql.SparkSession,
                            snapshotPath: String,
                            targetRowsPerBucket: Long): Int = {
    require(targetRowsPerBucket >= 1,
      s"targetRowsPerBucket must be >= 1, got $targetRowsPerBucket")
    val root = new org.apache.hadoop.fs.Path(snapshotPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readBucketMarker(fs, root) match {
      case None => throw new IllegalStateException(
        s"snapshot store $snapshotPath has no _graft_nbuckets marker — " +
          "initialize it with a first snapshotApplyBatch (or complete a " +
          "crashed rebucketSnapshot) before asking for a growth check")
      case Some(cur) =>
        val n = readSnapshot(spark, snapshotPath).count()
        var next = cur
        while (next < (1 << 29) && n > targetRowsPerBucket * next) next *= 2
        if (next != cur) rebucketSnapshot(spark, snapshotPath, next)
        next
    }
  }

  def snapshotApplyBatch(changelog: DataFrame, snapshotPath: String,
                         nBuckets: Int = 64,
                         id: Column = col("doc_id"),
                         text: Column = col("text"),
                         status: Column = col("status")): Unit = Checkpoint.scope {
    val spark = changelog.sparkSession
    ensureDir(spark, snapshotPath)
    // duplicate-id raise fires HERE, before the fence
    val cl = Checkpoint(changelog
      .select(id.as("doc_id"), status.as("__st"), text.as("text"))
      .filter(col("__st").isin("added", "removed", "changed"))
      // fail-fast on a lying log: a duplicated changelog id would fan
      // the apply join out and write DUPLICATE snapshot rows — silent,
      // durable corruption. The per-id count rides the batch frame
      // (one batch-sized shuffle), and the raise fires in the same
      // materialization that feeds the rewrite, so nothing is written.
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("doc_id"))))
      .withColumn("doc_id", when(col("__n") > 1, raise_error(concat(
          lit("snapshotApplyBatch: changelog carries duplicate rows for " +
            "doc_id "), col("doc_id").cast("string"),
          lit(" — one row per id is the applyCorpusDiff contract; " +
            "compact the log (compactChangelog) or dedup upstream"))))
        .otherwise(col("doc_id")))
      .drop("__n")
      .withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)).cast("int")))
    // Fence AFTER the changelog materializes cleanly: a rejected first
    // batch (lying log) on a virgin store must not pin the store's
    // bucket count — a later legitimate first ingest with a different
    // nBuckets would otherwise be refused on an empty store.
    val fenceRoot = new org.apache.hadoop.fs.Path(snapshotPath)
    fenceBucketCount(
      fenceRoot.getFileSystem(spark.sparkContext.hadoopConfiguration),
      fenceRoot, nBuckets)
    val touched = cl.select("bucket").distinct().collect().map(_.getInt(0))
    if (touched.nonEmpty) {
      // break lineage: the rewrite overwrites its own source
      val slice = Checkpoint(spark.read.schema(snapshotSchema)
        .parquet(snapshotPath)
        .filter(col("bucket")
          .isin(touched.toIndexedSeq.map(Integer.valueOf): _*)))
      // ONE eval feeds the emptied-set probe and the write
      val next = Checkpoint(applyCorpusDiff(slice, cl, status = col("__st"))
        .withColumn("bucket",
          pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)).cast("int")))
      val keptBuckets = next.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSet
      val root = new org.apache.hadoop.fs.Path(snapshotPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.filterNot(keptBuckets).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"bucket=$b"), true)
      }
      next.repartition(col("bucket")).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(snapshotPath)
    }
  }

  /** Read the maintained snapshot store as a `(doc_id, text)` frame
    * (explicit schema: an empty store is an empty frame, not an error).
    */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   snapshotPath: String): DataFrame =
    spark.read.schema(snapshotSchema).parquet(snapshotPath)
      .select(col("doc_id"), col("text"))

  /** Streaming snapshot maintenance: each micro-batch of changelog rows
    * folds into the bucket-partitioned store via [[snapshotApplyBatch]] —
    * the store at `snapshotPath` is always the snapshot after every
    * changelog ingested so far. foreachBatch is at-least-once; apply's
    * semantic idempotence makes replays no-ops.
    */
  def snapshotIngest(changelogs: DataFrame, snapshotPath: String,
                     nBuckets: Int = 64,
                     queryName: String = "graft_snapshot_ingest"): org.apache.spark.sql.streaming.StreamingQuery =
    changelogs.writeStream.queryName(queryName)
      .foreachBatch { (b: DataFrame, _: Long) =>
        snapshotApplyBatch(b, snapshotPath, nBuckets)
      }.start()

  /** The store's committed bucket count, if it has one — the public
    * read of the `_graft_nbuckets` fence, for callers that must follow
    * a store across [[rebucketSnapshot]] migrations.
    */
  def storeBucketCount(spark: org.apache.spark.sql.SparkSession,
                       snapshotPath: String): Option[Int] = {
    val root = new org.apache.hadoop.fs.Path(snapshotPath)
    readBucketMarker(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** [[snapshotIngest]] with the GROWTH maintenance loop built in:
    * every `rebucketEvery` batches, [[maybeRebucketSnapshot]] checks
    * the store/bucket ratio and doubles the bucket count when a bucket
    * outgrows `targetRowsPerBucket` (stop-the-world is safe here —
    * foreachBatch serializes, so the rebucket runs between folds).
    * Each fold reads the CURRENT count off the store's own marker, so
    * a restarted stream follows a store that was migrated while it was
    * down instead of tripping the fence; `nBuckets` only seeds a
    * virgin store.
    */
  def snapshotIngestMaintained(changelogs: DataFrame, snapshotPath: String,
                               targetRowsPerBucket: Long,
                               nBuckets: Int = 64,
                               rebucketEvery: Int = 8,
                               queryName: String = "graft_snapshot_ingest_maintained"): org.apache.spark.sql.streaming.StreamingQuery = {
    require(rebucketEvery >= 1,
      s"rebucketEvery must be >= 1, got $rebucketEvery")
    changelogs.writeStream.queryName(queryName)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        val spark = b.sparkSession
        val cur = storeBucketCount(spark, snapshotPath).getOrElse(nBuckets)
        snapshotApplyBatch(b, snapshotPath, cur)
        if ((bid + 1) % rebucketEvery == 0)
          maybeRebucketSnapshot(spark, snapshotPath, targetRowsPerBucket)
        ()
      }.start()
  }

  /** QUALITY-GATED snapshot upkeep — the publish gate realized in the
    * ingestion path: the batch's INCOMING payloads (added ∪ changed
    * rows) are validated against the expectation rules first, the
    * report lands in the `(batch_id → rules)` store either way (the
    * audit trail of what was refused and why), and the batch folds into
    * the snapshot ONLY if every rule passes — a poisoned refresh is
    * quarantined instead of corrupting the serving corpus. Returns
    * whether the batch was applied.
    *
    * Replay-safe end to end: the report write is idempotent (its own
    * partition), a replay REUSES the committed report's verdict instead
    * of recomputing it (census rules read the live store's `n_old`,
    * which the first attempt may already have mutated — see
    * [[readBatchVerdict]]), and apply is semantically idempotent — so
    * an at-least-once replay of either outcome converges. The decision
    * read is ≤ |rules| rows (bounded collect). Removed-only batches
    * validate an empty incoming frame (all-pass) and apply.
    *
    * OPERATOR CONTRACT — verdicts are sticky per batchId: because the
    * replay path reuses the committed verdict verbatim, a REFUSED
    * verdict is permanent for its id — an operator who fixes a
    * quarantined batch's content must resubmit it under a FRESH
    * batchId (and a batchId reused after a checkpoint reset silently
    * adopts the old verdict for different content — reset stores and
    * report paths together). The reuse is logged
    * (`verdict … REUSED from the committed report`) so a silently
    * refused resubmission is diagnosable.
    */
  /** `censusRules` (census-level guards, the mass-delete defence):
    * predicates over a ONE-ROW census of the batch against the CURRENT
    * store — columns `n_added, n_changed, n_removed, n_unchanged,
    * n_batch` (changelog rows by status), `n_old` (current corpus
    * size, a parquet metadata count) and `n_new`
    * (= n_old + n_added − n_removed). A refresh that deletes half the
    * corpus quarantines on `n_removed * 2 <= n_old` even when every
    * surviving row passes the row rules. Census lines ride the SAME
    * per-batch report write (`n_rows = 1`, violation flag) and count
    * toward the verdict; rule names must not collide with row rules.
    */
  /** `guardUniqueIds = true` additionally checks the changelog itself
    * for duplicate ids (over the rows apply consumes — added, removed,
    * changed) and QUARANTINES a lying log with a
    * `changelog_id_unique` report line instead of letting the fold's
    * in-plan `raise_error` kill the stream AFTER the report said pass —
    * the fence stays as the last resort for ungated applies.
    */
  def guardedSnapshotApplyBatch(changelog: DataFrame, batchId: Long,
                                snapshotPath: String, reportPath: String,
                                rules: Seq[(String, Column)],
                                nBuckets: Int = 64,
                                id: Column = col("doc_id"),
                                text: Column = col("text"),
                                status: Column = col("status"),
                                censusRules: Seq[(String, Column)] = Nil,
                                guardUniqueIds: Boolean = false)
      : Boolean = {
    val ok = validateSnapshotBatch(changelog, batchId, snapshotPath,
      reportPath, rules, id, text, status, censusRules, guardUniqueIds)
    if (ok) snapshotApplyBatch(changelog, snapshotPath, nBuckets,
      id, text, status)
    ok
  }

  /** The publish-gate VERDICT alone — [[guardedSnapshotApplyBatch]]
    * without the fold, for composites that must order their own writes
    * between the verdict and the apply (archive-first time travel).
    * Writes the batch's report and returns pass/fail.
    *
    * REPLAY-STABLE: if the batch's report partition already committed,
    * its recorded verdict is reused verbatim ([[readBatchVerdict]]) —
    * census rules read `n_old` from the LIVE store, so recomputing the
    * verdict on an at-least-once replay of a batch whose first attempt
    * already folded would judge it against the store it itself mutated
    * (a shipped 19%-removal batch under a 20% cap re-judges as ~23% of
    * the smaller store and flips to refused). The first attempt's
    * report is written BEFORE any fold, so it is always the pre-apply
    * verdict.
    *
    * The flip side is the sticky-verdict OPERATOR CONTRACT documented
    * on [[guardedSnapshotApplyBatch]]: a refused batch's corrected
    * content must re-enter under a fresh batchId — a resubmission
    * under the old id returns the recorded verdict without
    * re-validating (logged as `verdict … REUSED`).
    */
  def validateSnapshotBatch(changelog: DataFrame, batchId: Long,
                            snapshotPath: String, reportPath: String,
                            rules: Seq[(String, Column)],
                            id: Column = col("doc_id"),
                            text: Column = col("text"),
                            status: Column = col("status"),
                            censusRules: Seq[(String, Column)] = Nil,
                            guardUniqueIds: Boolean = false): Boolean =
    validateBatchImpl(changelog, batchId, reportPath, rules, id, text,
      status, censusRules, guardUniqueIds,
      nOldReader = () => {
        ensureDir(changelog.sparkSession, snapshotPath)
        readSnapshot(changelog.sparkSession, snapshotPath).count()
      })

  /** The gate body behind [[validateSnapshotBatch]], with the census'
    * current-corpus-size read abstracted — the ISOLATED composite
    * judges `n_old` against the COMMITTED manifest, the in-place one
    * against the store dir. Only invoked when `censusRules` is
    * non-empty and no recorded verdict exists.
    */
  private def validateBatchImpl(changelog: DataFrame, batchId: Long,
                                reportPath: String,
                                rules: Seq[(String, Column)],
                                id: Column, text: Column, status: Column,
                                censusRules: Seq[(String, Column)],
                                guardUniqueIds: Boolean,
                                nOldReader: () => Long): Boolean = {
    val spark = changelog.sparkSession
    readBatchVerdict(spark, reportPath, batchId) match {
      case Some(recorded) =>
        // surfaced so a silently-refused RESUBMISSION is diagnosable:
        // the reuse is invisible in the report store (the committed
        // report is byte-identical), and an operator who "fixed and
        // re-ran" a quarantined batch under its old id would otherwise
        // see the old verdict with no hint that nothing re-validated
        log.info("batch {} at {}: verdict {} REUSED from the committed " +
          "report (no re-validation, no apply on a refused batch) — " +
          "corrected content must re-enter under a fresh batchId",
          Long.box(batchId), reportPath,
          if (recorded) "PASS" else "REFUSED")
        return recorded
      case None => ()
    }
    val incoming = changelog
      .select(id.as("doc_id"), status.as("status"), text.as("text"))
      .filter(col("status").isin("added", "changed"))
    val censusLines: Seq[(String, Long, Long)] =
      if (censusRules.isEmpty) Nil
      else {
        val nOld = nOldReader()
        def cnt(s: String) = coalesce(sum(
          when(col("__st") === s, lit(1L)).otherwise(lit(0L))), lit(0L))
        val census = changelog.select(status.as("__st"))
          .agg(cnt("added").as("n_added"), cnt("changed").as("n_changed"),
            cnt("removed").as("n_removed"),
            cnt("unchanged").as("n_unchanged"),
            count(lit(1)).as("n_batch"))
          .withColumn("n_old", lit(nOld))
          .withColumn("n_new", lit(nOld) + col("n_added") - col("n_removed"))
        val flags = census.select(censusRules.zipWithIndex.map {
          case ((_, p), i) =>
            when(coalesce(p, lit(false)), lit(0L)).otherwise(lit(1L))
              .as(s"__cv_$i")
        }: _*).collect()(0)
        censusRules.zipWithIndex.map { case ((n, _), i) =>
          (n, 1L, flags.getLong(i))
        }
      }
    val uniqLines: Seq[(String, Long, Long)] =
      if (!guardUniqueIds) Nil
      else {
        val r = graft.ops.Expectations.uniqueViolations(
          changelog.select(id.as("doc_id"), status.as("__st"))
            .filter(col("__st").isin("added", "removed", "changed")),
          "changelog_id_unique", Seq(col("doc_id"))).collect()(0)
        Seq(("changelog_id_unique", r.getLong(1), r.getLong(2)))
      }
    // validateBatch hands back the verdict it just computed (≤ |rules|
    // rows) — the per-batch decision is O(1), never a listing of the
    // whole (growing) report store.
    graft.ops.Expectations.validateBatch(
      incoming, batchId, reportPath, rules,
      extraReport = censusLines ++ uniqLines)
  }

  /** Schema of the versioned store's archived CDC logs (data +
    * `version` partition column — explicit on every read).
    */
  private val versionedLogSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("status",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("old_text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("new_text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.LongType)))

  private def versionFloorPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_graft_version_floor")

  /** The versioned store's FOLDED-version marker (`_graft_snap_version`
    * in the log dir): the highest version whose log has been applied to
    * `<base>/snap`. Written AFTER each fold, it is what lets the archive
    * lead the fold (archive-first ordering) without a torn window
    * corrupting as-of reads — [[readSnapshotAsOf]] never inverts an
    * archived log above the marker, because the snapshot does not
    * contain its changes yet.
    */
  private def snapVersionPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_graft_snap_version")

  private def readLongMarker(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        // InputStream.read may legally return fewer bytes than available
        // — loop to EOF so the digits are never truncated.
        val buf = new Array[Byte](32)
        var off = 0
        var n = in.read(buf, off, buf.length - off)
        while (n > 0 && off + n < buf.length) {
          off += n; n = in.read(buf, off, buf.length - off)
        }
        if (n > 0) off += n
        Some(new String(buf, 0, off, "UTF-8").trim.toLong)
      } finally in.close()
    }

  /** tmp-then-atomic-rename, the manifest idiom: a bare create+write
    * crashed mid-write would leave an empty/truncated marker that
    * [[readLongMarker]] can only refuse (`''.trim.toLong` throws) —
    * permanently wedging every as-of read, the fold-commit of every
    * replay, and the prune path, i.e. exactly the self-healing the
    * markers exist to provide. The rename uses `FileContext` OVERWRITE
    * semantics (atomic for files on HDFS/local) so a marker UPDATE
    * never opens a no-marker window either — a reader between a
    * delete and a rename of `_graft_snap_version` would fall back to
    * the pre-marker invert-everything walk-back mid archive-first
    * window.
    */
  private def writeLongMarker(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path, v: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The recorded verdict of a batch whose report partition already
    * COMMITTED — the publish gate's replay-stability read. The census
    * verdict is a function of the store state the FIRST attempt saw
    * (`n_old`); a replay after a crash mid-fold would re-derive it from
    * the store that attempt already mutated, so a shipped batch sitting
    * near a census threshold (19% removal vs a 20% cap) could be
    * REFUSED on replay — permanently desyncing the maintained artifacts
    * and overwriting the batch's report with a failing verdict for a
    * batch that actually applied. The committed report partition IS the
    * durable pre-fold verdict, so the gate reuses it verbatim.
    *
    * Committed = the `batch_id=<id>` dir holds a data file: the report
    * write is a single-task job into one partition, so its one file is
    * either absent (job never committed — validate fresh) or complete.
    * `batchId` therefore identifies a batch's CONTENT across replays,
    * the same contract every staged store in this file already carries.
    */
  def readBatchVerdict(spark: org.apache.spark.sql.SparkSession,
                       reportPath: String, batchId: Long): Option[Boolean] = {
    val dir = new org.apache.hadoop.fs.Path(s"$reportPath/batch_id=$batchId")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir) || !fs.listStatus(dir).exists(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))) None
    else {
      val pass = spark.read
        .schema(graft.ops.Expectations.reportSchema).parquet(dir.toString)
        .select(col("pass")).collect()
      if (pass.isEmpty) None else Some(pass.forall(_.getLong(0) == 1L))
    }
  }

  /** One batch of VERSIONED snapshot upkeep — time travel from the
    * existing CDC primitives: the current snapshot stays maintained in
    * `<base>/snap` (the bucket-fenced store), and the batch's FULL
    * changelog is archived under `<base>/log/version=<v>` (dynamic
    * overwrite of its OWN partition — replay-idempotent). Because every
    * archived log is REVERSIBLE ([[invertChangelog]]), any historical
    * version is reconstructable from the CURRENT snapshot plus the
    * inverted logs above it — no per-version snapshot copies, storage
    * is O(total churn), and serving reads stay on the plain maintained
    * store. Versions must be applied in increasing order (single
    * writer, the foreachBatch contract).
    *
    * Write order and crash safety: the log is VALIDATED first (a
    * duplicate-id lying log throws before anything lands — were it
    * archived first, the fold's in-plan raise would reject it on every
    * replay while the archive durably held a log the snapshot never
    * applied, and as-of reads below it would invert a phantom),
    * then archived, then folded, then the `_graft_snap_version` marker
    * commits the fold. [[readSnapshotAsOf]] never inverts an archived
    * log above the marker, so a crash between the archive and the fold
    * leaves every as-of read CORRECT (the not-yet-folded log is simply
    * invisible until the replay folds it and moves the marker); the
    * only torn residue is the benign one — a crash between the fold and
    * the one-file marker write serves version v's corpus labeled v−1
    * until the replay completes. Mid-fold crashes are the store's usual
    * torn-bucket window, healed by the same replay.
    */
  def versionedSnapshotApplyBatch(fullChangelog: DataFrame,
                                  basePath: String, version: Long,
                                  nBuckets: Int = 64): Unit = Checkpoint.scope {
    // feeds the archive AND the fold
    val f = Checkpoint(fullChangelog
      .select(col("doc_id"), col("status"), col("old_text"),
        col("new_text")))
    requireUniqueLogIds(f, "versionedSnapshotApplyBatch")
    // no coalesce: a 100 TB refresh's churn log is itself large — the
    // archive keeps the frame's parallelism (tiny logs cost a few
    // small files per version; compaction is pruneSnapshotVersions'
    // floor, not a file merge)
    f.withColumn("version", lit(version))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("version").parquet(s"$basePath/log")
    snapshotApplyBatch(
      f.select(col("doc_id"), col("status"),
        col("new_text").as("text")),
      s"$basePath/snap", nBuckets)
    commitSnapVersion(f.sparkSession, basePath, version)
  }

  /** Fail-fast validation of a CDC log BEFORE it is archived: a
    * duplicate id among the apply-consumed rows (added/removed/changed)
    * is the lying-log shape the fold's in-plan `raise_error` rejects —
    * catching it pre-archive keeps the refused log out of the durable
    * version history. One O(batch) agg job over the (already
    * checkpointed) frame.
    */
  private def requireUniqueLogIds(f: DataFrame, who: String): Unit = {
    val dup = f.filter(col("status").isin("added", "removed", "changed"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalStateException(
      s"$who: changelog carries duplicate rows for doc_id " +
        s"${dup(0).get(0)} — archiving a lying log would durably " +
        "corrupt the version history (the fold refuses it on every " +
        "replay while as-of reads invert a log the snapshot never " +
        "applied); compact the log (compactChangelog) or dedup upstream")
  }

  /** Commit a fold to the versioned store's `_graft_snap_version`
    * marker (monotone: never moves backwards, so a replayed older
    * version cannot roll the marker under logs already folded).
    */
  private def commitSnapVersion(spark: org.apache.spark.sql.SparkSession,
                                basePath: String, version: Long): Unit = {
    val logRoot = new org.apache.hadoop.fs.Path(s"$basePath/log")
    val fs = logRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logRoot)) fs.mkdirs(logRoot)
    val cur = readLongMarker(fs, snapVersionPath(logRoot))
    if (cur.forall(_ < version))
      writeLongMarker(fs, snapVersionPath(logRoot), version)
  }

  /** TIME-TRAVEL read: the snapshot AS OF `version` (i.e. after that
    * version's log applied, before any later one) — reconstructed as
    * current snapshot + the COMPACTED fold of the inverted logs above
    * `version`. The inverted logs run newest→oldest, which makes them
    * consecutive (C→B, B→A, …), so [[compactChangelog]] squashes the
    * whole walk-back into ONE O(churn-above-version) log and the read
    * costs one corpus pass regardless of how far back it reaches —
    * the [[snapshotCatchUp]] argument run in reverse. `asOf` below the
    * prune floor ([[pruneSnapshotVersions]]) is refused: the logs that
    * would reach it are gone, and a silent partial walk-back would
    * serve a corpus that never existed.
    *
    * The walk-back is CAPPED at the `_graft_snap_version` marker: a log
    * archived but not yet folded (the archive-first crash window, or a
    * writer mid-batch) is invisible — inverting it would undo changes
    * the snapshot does not contain. An as-of at or above the marker is
    * the current snapshot (for a version number that never shipped —
    * a quarantined batch — that IS the state the corpus had then).
    * Stores written before the marker existed fall back to inverting
    * every archived log (the pre-marker semantics).
    *
    * Storage hygiene: each every-8th-fold lineage checkpoint frees the
    * previous one ([[Checkpoint.next]] — a checkpoint only feeds the
    * folds up to the next), so a deep
    * walk-back leaves at most ONE persistent RDD behind: the final
    * accumulator the returned lazy plan still reads.
    */
  def readSnapshotAsOf(spark: org.apache.spark.sql.SparkSession,
                       basePath: String, version: Long): DataFrame = {
    val logRoot = new org.apache.hadoop.fs.Path(s"$basePath/log")
    val fs = logRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireAboveFloor(fs, logRoot, basePath, version)
    val foldedThrough = readLongMarker(fs, snapVersionPath(logRoot))
    val versionsAbove = archivedVersionsAbove(fs, logRoot, version,
      v => foldedThrough.forall(v <= _))
    walkBackAsOf(spark, basePath, readSnapshot(spark, s"$basePath/snap"),
      versionsAbove)
  }

  private def requireAboveFloor(fs: org.apache.hadoop.fs.FileSystem,
                                logRoot: org.apache.hadoop.fs.Path,
                                basePath: String, version: Long): Unit = {
    val floor = readLongMarker(fs, versionFloorPath(logRoot)).getOrElse(-1L)
    if (version < floor) throw new IllegalStateException(
      s"time-travel read asOf=$version is below the prune floor $floor " +
        s"of $basePath — the logs that reach it were pruned " +
        "(pruneSnapshotVersions); retained history starts at the floor")
  }

  /** Archived log versions strictly above `version` that also satisfy
    * `capped` (the folded-through cap), newest first.
    */
  private def archivedVersionsAbove(fs: org.apache.hadoop.fs.FileSystem,
                                    logRoot: org.apache.hadoop.fs.Path,
                                    version: Long,
                                    capped: Long => Boolean): Seq[Long] =
    if (!fs.exists(logRoot)) Seq.empty[Long]
    else fs.listStatus(logRoot).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("version="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("version=").toLong).toOption)
      .filter(_ > version)
      .filter(capped)
      .sorted.reverse

  /** The shared inverted-log walk-back behind both as-of readers: fold
    * `versionsAbove` (newest first — consecutive, so the compaction
    * squashes them into ONE O(churn-above-version) log) and apply it to
    * `current` in one corpus pass. Lineage checkpoints on deep
    * walk-backs replace each other ([[Checkpoint.next]]) — at most one
    * persistent RDD outlives the call: the final accumulator the
    * returned lazy plan still reads.
    */
  private def walkBackAsOf(spark: org.apache.spark.sql.SparkSession,
                           basePath: String, current: DataFrame,
                           versionsAbove: Seq[Long]): DataFrame =
    if (versionsAbove.isEmpty) current
    else Checkpoint.scope {
      def invertedLog(v: Long) = invertChangelog(
        spark.read.option("basePath", s"$basePath/log")
          .schema(versionedLogSchema)
          .parquet(s"$basePath/log/version=$v"))
      val inverted = versionsAbove.map(invertedLog)
      var last = inverted.head
      val walkBack = inverted.tail.zipWithIndex
        .foldLeft(inverted.head) { case (acc, (l, i)) =>
          val c = compactChangelog(acc, l)
          // bound plan depth on deep walk-backs (the catch-up idiom);
          // the PREVIOUS checkpoint fed only the folds between the two
          if (i % 8 == 7) { last = Checkpoint.next(last, c); last } else c
        }
      applyCorpusDiff(current, walkBack)
    }

  /** Move the time-travel floor up: drop archived logs at or below
    * `floor` (their history is no longer reachable) and persist the
    * floor so [[readSnapshotAsOf]] refuses reads the remaining logs
    * cannot serve. Floor-marker-first is crash-safe: a crash between
    * the marker and the deletes leaves extra logs behind (harmless),
    * never a floor that promises history the store lost. MONOTONE: a
    * floor below the current one is a no-op — the logs under the old
    * floor are already gone, so lowering the marker would promise
    * history the store cannot serve (a retention knob shrinking after
    * a restart must not corrupt as-of reads).
    */
  def pruneSnapshotVersions(spark: org.apache.spark.sql.SparkSession,
                            basePath: String, floor: Long): Unit = {
    val logRoot = new org.apache.hadoop.fs.Path(s"$basePath/log")
    val fs = logRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logRoot)) fs.mkdirs(logRoot)
    // equal floor re-runs the deletes (recovery of a crash between the
    // marker write and the deletes is a re-run at the same floor)
    if (readLongMarker(fs, versionFloorPath(logRoot)).exists(_ > floor))
      return
    writeLongMarker(fs, versionFloorPath(logRoot), floor)
    fs.listStatus(logRoot).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("version="))
      .filter(s => scala.util.Try(
        s.getPath.getName.stripPrefix("version=").toLong).toOption
        .exists(_ <= floor))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** One micro-batch of a fully MANAGED corpus — the round's families
    * composed into the serving story: the refresh arrives as a FULL
    * CDC changelog ([[corpusDiffFull]]'s shape), row rules validate the
    * incoming payloads and census rules the refresh's shape (report
    * rides the per-batch store either way, the audit trail of what was
    * refused and why), and ONLY a passing batch folds — into BOTH
    * maintained artifacts: the thin log into the bucket-fenced snapshot
    * store, the CDC log into the signature store (so the next
    * [[refreshAuditMaintained]] stays O(refresh)). Returns whether the
    * batch shipped.
    *
    * Crash/replay: the report write and the sig-store write overwrite
    * their own batch partitions, the snapshot fold is semantically
    * idempotent, and the replay REUSES the committed report's verdict
    * ([[readBatchVerdict]]) rather than re-judging census rules against
    * the store the first attempt already mutated — so a crash between
    * the folds is healed by the at-least-once replay re-running both
    * under the original verdict. The CDC frame is
    * checkpointed once here: it feeds the census, the row rules, and
    * both folds, and a computed diff re-evaluating per consumer would
    * re-run the corpus join four times.
    */
  def managedCorpusApplyBatch(fullChangelog: DataFrame, batchId: Long,
                              snapshotPath: String, sigStorePath: String,
                              reportPath: String,
                              rules: Seq[(String, Column)],
                              censusRules: Seq[(String, Column)] = Nil,
                              nBuckets: Int = 64,
                              guardUniqueIds: Boolean = false)
      : Boolean = Checkpoint.scope {
    val f = Checkpoint(fullChangelog
      .select(col("doc_id"), col("status"), col("old_text"),
        col("new_text")))
    val thin = f.select(col("doc_id"), col("status"),
      col("new_text").as("text"))
    val ok = guardedSnapshotApplyBatch(thin, batchId, snapshotPath,
      reportPath, rules, nBuckets, censusRules = censusRules,
      guardUniqueIds = guardUniqueIds)
    if (ok) sigStoreApplyBatch(f, sigStorePath, batchId, nBuckets)
    ok
  }

  /** [[managedCorpusApplyBatch]] with TIME TRAVEL: a passing batch
    * additionally archives its CDC log under `<basePath>/log/version=
    * <batchId>` (the [[versionedSnapshotApplyBatch]] layout, snapshot
    * at `<basePath>/snap`), so [[readSnapshotAsOf]] serves the managed
    * corpus' full retained history. A QUARANTINED batch archives
    * nothing — its version number simply never exists, and an as-of
    * read at it returns the state the corpus actually had then (the
    * previous applied version).
    *
    * Write order matches the primitive: VERDICT first (validate only,
    * no fold — the report is the durable pre-apply decision a replay
    * reuses), then archive the log, then fold snapshot + sig store,
    * then commit the `_graft_snap_version` marker. A crash anywhere
    * heals on the at-least-once replay: the reused verdict cannot flip
    * (census `n_old` is never re-derived from a store the first attempt
    * mutated), the archive/fold/marker are each idempotent, and as-of
    * reads during the window stay correct because the marker caps the
    * walk-back below the not-yet-folded log.
    */
  def managedVersionedApplyBatch(fullChangelog: DataFrame, batchId: Long,
                                 basePath: String, sigStorePath: String,
                                 reportPath: String,
                                 rules: Seq[(String, Column)],
                                 censusRules: Seq[(String, Column)] = Nil,
                                 nBuckets: Int = 64,
                                 guardUniqueIds: Boolean = false)
      : Boolean = Checkpoint.scope {
    val f = Checkpoint(fullChangelog
      .select(col("doc_id"), col("status"), col("old_text"),
        col("new_text")))
    val thin = f.select(col("doc_id"), col("status"),
      col("new_text").as("text"))
    val ok = validateSnapshotBatch(thin, batchId, s"$basePath/snap",
      reportPath, rules, censusRules = censusRules,
      guardUniqueIds = guardUniqueIds)
    if (ok) {
      // ungated lying logs (guardUniqueIds = false) must still fail
      // BEFORE the archive — never durably archive a log the fold
      // will refuse on every replay
      if (!guardUniqueIds)
        requireUniqueLogIds(f, "managedVersionedApplyBatch")
      f.withColumn("version", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("version").parquet(s"$basePath/log")
      snapshotApplyBatch(thin, s"$basePath/snap", nBuckets)
      sigStoreApplyBatch(f, sigStorePath, batchId, nBuckets)
      commitSnapVersion(f.sparkSession, basePath, batchId)
    }
    ok
  }

  /** Streaming managed-VERSIONED maintenance: every micro-batch of CDC
    * changelog rows through [[managedVersionedApplyBatch]] — the batch
    * id is the version, so the stream's history is the store's.
    *
    * `guardUniqueIds` quarantines a duplicate-id lying log with a
    * `changelog_id_unique` report line instead of killing the stream.
    * `retainVersions = Some(k)`: every `pruneEvery` batches the stream
    * bounds its own history via [[pruneSnapshotVersions]] (floor =
    * batchId − k, monotone) — a production stream never accumulates an
    * unbounded archive. `compactEvery > 0`: every that-many batches the
    * sig store's per-batch dirs squash through [[compactCountedStore]]
    * (committedThrough = the PREVIOUS batch — the current one is not in
    * the stream's checkpoint yet, and folding it would double-count on
    * replay); the store's own readers must tolerate the documented
    * stop-the-world window (foreachBatch serializes the writer side).
    */
  def managedVersionedIngest(changelogs: DataFrame, basePath: String,
                             sigStorePath: String, reportPath: String,
                             rules: Seq[(String, Column)],
                             censusRules: Seq[(String, Column)] = Nil,
                             nBuckets: Int = 64,
                             queryName: String = "graft_managed_versioned_ingest",
                             guardUniqueIds: Boolean = false,
                             retainVersions: Option[Long] = None,
                             pruneEvery: Int = 8,
                             compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    require(pruneEvery >= 1, s"pruneEvery must be >= 1, got $pruneEvery")
    require(compactEvery >= 0,
      s"compactEvery must be >= 0 (0 = never), got $compactEvery")
    changelogs.writeStream.queryName(queryName)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        managedVersionedApplyBatch(b, bid, basePath, sigStorePath,
          reportPath, rules, censusRules, nBuckets,
          guardUniqueIds = guardUniqueIds)
        retainVersions.foreach { k =>
          if ((bid + 1) % pruneEvery == 0 && bid - k >= 0)
            pruneSnapshotVersions(b.sparkSession, basePath, bid - k)
        }
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          compactCountedStore(b.sparkSession, sigStorePath,
            sigStoreStagedSchema, committedThrough = bid - 1,
            owner = queryName)
        ()
      }.start()
  }

  /** Streaming managed-corpus maintenance: every micro-batch of CDC
    * changelog rows through [[managedCorpusApplyBatch]].
    * `guardUniqueIds` / `compactEvery` as on [[managedVersionedIngest]].
    */
  def managedCorpusIngest(changelogs: DataFrame, snapshotPath: String,
                          sigStorePath: String, reportPath: String,
                          rules: Seq[(String, Column)],
                          censusRules: Seq[(String, Column)] = Nil,
                          nBuckets: Int = 64,
                          queryName: String = "graft_managed_corpus_ingest",
                          guardUniqueIds: Boolean = false,
                          compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 0,
      s"compactEvery must be >= 0 (0 = never), got $compactEvery")
    changelogs.writeStream.queryName(queryName)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        managedCorpusApplyBatch(b, bid, snapshotPath, sigStorePath,
          reportPath, rules, censusRules, nBuckets,
          guardUniqueIds = guardUniqueIds)
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          compactCountedStore(b.sparkSession, sigStorePath,
            sigStoreStagedSchema, committedThrough = bid - 1,
            owner = queryName)
        ()
      }.start()
  }

  /** Streaming quality-gated snapshot maintenance: [[snapshotIngest]]
    * with the [[guardedSnapshotApplyBatch]] publish gate in front of
    * every fold.
    */
  def guardedSnapshotIngest(changelogs: DataFrame, snapshotPath: String,
                            reportPath: String,
                            rules: Seq[(String, Column)],
                            nBuckets: Int = 64,
                            queryName: String = "graft_guarded_snapshot_ingest",
                            censusRules: Seq[(String, Column)] = Nil,
                            guardUniqueIds: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    changelogs.writeStream.queryName(queryName)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        guardedSnapshotApplyBatch(b, bid, snapshotPath, reportPath, rules,
          nBuckets, censusRules = censusRules,
          guardUniqueIds = guardUniqueIds)
        ()
      }.start()

  // ──────────────────────────────────────────────────────────────────
  // READER-ISOLATED snapshot store: the in-place store
  // ([[snapshotApplyBatch]]) dynamic-overwrites buckets at the serving
  // path, so a reader concurrent with a fold can see a mix of old and
  // new buckets (single-reader contract). This variant gives
  // MULTI-READER isolation with the same O(touched buckets) fold cost,
  // via the manifest idiom every table format uses (and the repo's own
  // _SUCCESS-gated label snapshots): each batch writes ONLY its own
  // generation dir `gen=<batchId>/bucket=<b>/…`, never a committed one,
  // and a tiny bucket→generation MANIFEST (`_graft_manifest_<batchId>`,
  // written tmp-then-rename: one atomic commit point) defines what
  // readers see. [[readSnapshotCommitted]] resolves the newest manifest
  // and reads exactly its files — a fold racing the read changes
  // nothing the manifest references. Storage is bounded by
  // [[pruneSnapshotGens]] (delete generations no manifest in the
  // retained tail references).
  // ──────────────────────────────────────────────────────────────────

  private val manifestPrefix = "_graft_manifest_"

  /** Newest committed manifest:
    * `(batchId, nBuckets, bucket → gen, kind)` — `kind` is "fold" for
    * an ordinary batch commit, "rebucket" for a migration commit (the
    * distinction keeps a stream batch whose id collides with a manual
    * migration's from silently skipping as a replay no-op).
    */
  /** Committed manifest ids under `root`, newest first (`.tmp` staging
    * files excluded).
    */
  private def listManifestIds(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(manifestPrefix)
        && !s.getPath.getName.endsWith(".tmp"))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix(manifestPrefix).toLong).toOption)
      .sorted.reverse

  /** Parse one manifest file: `(nBuckets, bucket → gen, kind)`. */
  private def readManifestById(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path, id: Long)
      : (Int, Map[Int, Long], String) = {
    val in = fs.open(new org.apache.hadoop.fs.Path(root, s"$manifestPrefix$id"))
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
    val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
    val nBuckets = lines.head.stripPrefix("nbuckets ").toInt
    val kind = lines.lift(1).filter(_.startsWith("kind "))
      .map(_.stripPrefix("kind ")).getOrElse("fold")
    val m = lines.tail.filterNot(_.startsWith("kind ")).map { l =>
      val Array(b, g) = l.split(" ", 2)
      b.toInt -> g.toLong
    }.toMap
    (nBuckets, m, kind)
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path)
      : Option[(Long, Int, Map[Int, Long], String)] =
    listManifestIds(fs, root).headOption.map { id =>
      val (nBuckets, m, kind) = readManifestById(fs, root, id)
      (id, nBuckets, m, kind)
    }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path, batchId: Long,
                            nBuckets: Int, m: Map[Int, Long],
                            kind: String = "fold"): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"$manifestPrefix$batchId.tmp")
    val fin = new org.apache.hadoop.fs.Path(root, s"$manifestPrefix$batchId")
    // replay re-commit: a manifest already AT this id can only be the
    // identical committed content (batchId identifies content, and the
    // body is a deterministic function of batch + committed state), so
    // skip rather than delete-then-rename — the two-op swap would let a
    // reader between them resolve the PREVIOUS manifest, or on a
    // single-manifest store see no manifest at all and read an empty
    // corpus. The path is nearly dead (a committed fold replays no-op
    // before reaching here), but nothing structurally prevents it.
    if (fs.exists(fin)) return
    val body = (Seq(s"nbuckets $nBuckets", s"kind $kind") ++
      m.toSeq.sortBy(_._1).map { case (b, g) => s"$b $g" }).mkString("\n")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, fin)) throw new java.io.IOException(
      s"isolated snapshot store: manifest rename $tmp -> $fin refused")
  }

  /** One micro-batch of reader-ISOLATED snapshot upkeep — the
    * [[snapshotApplyBatch]] fold with committed-read semantics: the
    * touched buckets' CURRENT rows come off the newest manifest, the
    * updated buckets land under this batch's OWN `gen=<batchId>` dir
    * (never touching a committed file), and the new manifest (old
    * entries, touched buckets re-pointed here, emptied buckets dropped)
    * commits with one atomic rename. Readers concurrent with the fold
    * see the previous committed state until that rename, the new one
    * after — never a mix.
    *
    * Crash/replay: a batch whose manifest already committed is a no-op
    * (batchId identifies content, the staging convention); a crash
    * before the manifest commit leaves an orphan gen dir the replay
    * overwrites (mode Overwrite of its own dir). Same per-batch cost
    * shape as the in-place store: O(batch + touched-bucket rows), one
    * bounded ≤ nBuckets collect per batch, plus one tiny manifest.
    * Single writer (foreachBatch serializes); batchIds must be
    * increasing (the manifest max defines "newest").
    */
  def snapshotApplyBatchIsolated(changelog: DataFrame, storePath: String,
                                 batchId: Long, nBuckets: Int = 64,
                                 id: Column = col("doc_id"),
                                 text: Column = col("text"),
                                 status: Column = col("status")): Unit = {
    val spark = changelog.sparkSession
    ensureDir(spark, storePath)
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = readManifest(fs, root)
    manifest.foreach { case (newest, storeN, _, kind) =>
      if (newest == batchId) {
        // a FOLD manifest at this id means the batch committed — the
        // replay is a true no-op. A REBUCKET manifest at this id means
        // a manual migration took the id this stream batch now needs:
        // treating it as a replay would SILENTLY DROP the batch's
        // changelog, so fail loud instead.
        if (kind == "rebucket") throw new IllegalStateException(
          s"isolated snapshot store $storePath manifest $batchId was " +
            "committed by a REBUCKET migration, not a batch fold — this " +
            "batch's id collides with the migration's; re-run the batch " +
            "under a fresh id above it (a migration between stream " +
            "batches must use an id the stream will never produce)")
        return
      }
      if (newest > batchId) throw new IllegalStateException(
        s"isolated snapshot store $storePath newest manifest is $newest " +
          s"but this fold carries batchId=$batchId — batchIds must be " +
          "increasing (checkpoint reset? start a fresh store)")
      if (storeN != nBuckets) throw new IllegalStateException(
        s"isolated snapshot store $storePath was written with " +
          s"nBuckets=$storeN but this call uses nBuckets=$nBuckets — " +
          "pass the store's bucket count")
    }
    Checkpoint.scope {
      val cl = Checkpoint(changelog
        .select(id.as("doc_id"), status.as("__st"), text.as("text"))
        .filter(col("__st").isin("added", "removed", "changed"))
        // same lying-log fence as the in-place store: a duplicated id
        // would fan the apply join out into duplicate snapshot rows
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy(col("doc_id"))))
        .withColumn("doc_id", when(col("__n") > 1, raise_error(concat(
            lit("snapshotApplyBatchIsolated: changelog carries duplicate " +
              "rows for doc_id "), col("doc_id").cast("string"),
            lit(" — one row per id is the applyCorpusDiff contract; " +
              "compact the log (compactChangelog) or dedup upstream"))))
          .otherwise(col("doc_id")))
        .drop("__n")
        .withColumn("bucket",
          pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)).cast("int")))
      val touched = cl.select("bucket").distinct().collect()
        .map(_.getInt(0)).toSet
      val entries = manifest.fold(Map.empty[Int, Long])(_._3)
      val slice = readCommittedBuckets(spark, storePath,
        entries.filter { case (b, _) => touched(b) })
      // ONE eval feeds the kept-set probe and the write
      val next = Checkpoint(applyCorpusDiff(slice, cl, status = col("__st"))
        .withColumn("bucket",
          pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)).cast("int")))
      val kept = next.select("bucket").distinct().collect()
        .map(_.getInt(0)).toSet
      if (kept.nonEmpty)
        next.repartition(col("bucket")).write.mode("overwrite")
          .partitionBy("bucket").parquet(s"$storePath/gen=$batchId")
      val updated = (entries -- touched) ++
        kept.map(b => b -> batchId).toMap
      writeManifest(fs, root, batchId, nBuckets, updated)
    }
  }

  /** The union read behind a manifest: group the wanted buckets by the
    * generation that owns them — one partition-pruned parquet read per
    * DISTINCT generation (≤ nBuckets reads, typically far fewer once
    * churn concentrates), each with an explicit schema.
    */
  private def readCommittedBuckets(spark: org.apache.spark.sql.SparkSession,
                                   storePath: String,
                                   owned: Map[Int, Long]): DataFrame = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snapshotSchema)
    if (owned.isEmpty) empty
    else owned.groupBy(_._2).toSeq.map { case (gen, bs) =>
      spark.read.option("basePath", s"$storePath/gen=$gen")
        .schema(snapshotSchema).parquet(s"$storePath/gen=$gen")
        .filter(col("bucket")
          .isin(bs.keys.toIndexedSeq.map(Integer.valueOf): _*))
    }.reduce(_ unionByName _)
  }

  /** COMMITTED read of the isolated store: exactly the newest
    * manifest's files, regardless of concurrent folds (`(doc_id,
    * text)`; an empty or virgin store is an empty frame). Snapshot
    * semantics: the frame keeps serving that manifest's state even if
    * newer batches commit while it is consumed — re-call for fresher
    * data. Run [[pruneSnapshotGens]] with a retention tail long enough
    * to cover your slowest reader.
    */
  def readSnapshotCommitted(spark: org.apache.spark.sql.SparkSession,
                            storePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, root) match {
      case None => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          snapshotSchema)
        .select(col("doc_id"), col("text"))
      case Some((_, _, m, _)) =>
        readCommittedBuckets(spark, storePath, m)
          .select(col("doc_id"), col("text"))
    }
  }

  /** GC for the isolated store: keep the newest `retainManifests`
    * FOLD manifests — plus every rebucket-migration manifest at least
    * as new as the oldest retained fold — and every generation dir any
    * kept manifest references; delete the rest. `retainManifests >= 2`
    * leaves a grace window for readers that resolved the previous
    * COMMITTED CORPUS just before a commit.
    *
    * Counting only `kind=fold` manifests is what makes the grace hold
    * on the maintained-isolated path ([[snapshotIngestMaintainedIsolated]]),
    * where a batch owns TWO manifest ids (migration `2·bid`, fold
    * `2·bid+1`): counting raw manifests, a post-rebucket prune at the
    * default `retainManifests = 2` would retain only that single
    * batch's pair and delete the PREVIOUS fold's manifest with its
    * unshared generations — pulling files out from under a reader that
    * resolved it moments earlier. A rebucket manifest is not a
    * distinct reader-visible corpus (it rewrites the same rows), so it
    * rides along with, rather than consumes, the retention budget.
    * Single writer (run from the ingest loop or a maintenance window).
    */
  def pruneSnapshotGens(spark: org.apache.spark.sql.SparkSession,
                        storePath: String, retainManifests: Int = 2): Unit = {
    require(retainManifests >= 1,
      s"retainManifests must be >= 1, got $retainManifests")
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val manifests = listManifestIds(fs, root)
    if (manifests.isEmpty) return
    // bounded metadata reads: the manifest count is itself bounded by
    // this op's cadence (≈ pruneEvery + retained tail), each file tiny
    val parsed = manifests.map(id => id -> readManifestById(fs, root, id))
    val foldIds = parsed.collect { case (id, (_, _, kind))
      if kind != "rebucket" => id }
    val keepFloor =
      if (foldIds.sizeIs <= retainManifests) manifests.min
      else foldIds(retainManifests - 1) // ids sorted desc: N-th newest fold
    val keep = manifests.filter(_ >= keepFloor).toSet
    val referenced = parsed.collect { case (id, (_, m, _)) if keep(id) =>
      m.values.toSet
    }.flatten.toSet
    val newest = manifests.head
    manifests.filterNot(keep).foreach(mid =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"$manifestPrefix$mid"),
        false))
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("gen=").toLong).toOption
        .map(g => (s.getPath, g)))
      // never touch a gen NEWER than the newest manifest: that's an
      // in-flight batch's dir, committed a moment from now
      .filter { case (_, g) => g < newest && !referenced(g) }
      .foreach { case (p, _) => fs.delete(p, true) }
  }

  /** Bucket-count migration for the ISOLATED store — where the
    * manifest turns the in-place store's stop-the-world rewrite
    * ([[rebucketSnapshot]]'s delete-marker fence) into an ordinary
    * commit: the whole committed corpus rewrites under the new bucket
    * function into `gen=<batchId>`, and the new manifest (every kept
    * bucket → this generation, the new `nbuckets` header) lands with
    * the same atomic rename as any fold. Readers are NEVER fenced out:
    * they serve the old manifest until the rename and the new one
    * after; a crash mid-rewrite leaves an orphan gen dir and the old
    * manifest intact (re-run to complete — no refused-store window at
    * all). Single writer; `batchId` must exceed the newest manifest's.
    */
  def rebucketSnapshotIsolated(spark: org.apache.spark.sql.SparkSession,
                               storePath: String, batchId: Long,
                               newNBuckets: Int): Unit = Checkpoint.scope {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = readManifest(fs, root).getOrElse(throw
      new IllegalStateException(
        s"isolated snapshot store $storePath has no committed manifest — " +
          "nothing to rebucket; bootstrap it with a first " +
          "snapshotApplyBatchIsolated"))
    if (manifest._1 >= batchId) throw new IllegalStateException(
      s"isolated snapshot store $storePath newest manifest is " +
        s"${manifest._1} but this rebucket carries batchId=$batchId — " +
        "batchIds must be increasing")
    // ONE eval feeds the kept-set probe and the write
    val cur = Checkpoint(readCommittedBuckets(spark, storePath, manifest._3)
      .select(col("doc_id"), col("text"))
      .withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(newNBuckets.toLong)).cast("int")))
    val kept = cur.select("bucket").distinct().collect()
      .map(_.getInt(0)).toSet
    if (kept.nonEmpty)
      cur.repartition(col("bucket")).write.mode("overwrite")
        .partitionBy("bucket").parquet(s"$storePath/gen=$batchId")
    writeManifest(fs, root, batchId, newNBuckets,
      kept.map(b => b -> batchId).toMap, kind = "rebucket")
  }

  /** Streaming isolated-snapshot maintenance: [[snapshotIngest]]'s
    * shape over [[snapshotApplyBatchIsolated]], with the GC cadence
    * built in (every `pruneEvery` batches, retaining
    * `retainManifests`).
    */
  def snapshotIngestIsolated(changelogs: DataFrame, storePath: String,
                             nBuckets: Int = 64,
                             retainManifests: Int = 2,
                             pruneEvery: Int = 8,
                             queryName: String = "graft_snapshot_ingest_isolated"): org.apache.spark.sql.streaming.StreamingQuery = {
    require(pruneEvery >= 1, s"pruneEvery must be >= 1, got $pruneEvery")
    changelogs.writeStream.queryName(queryName)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        snapshotApplyBatchIsolated(b, storePath, bid, nBuckets)
        if ((bid + 1) % pruneEvery == 0)
          pruneSnapshotGens(b.sparkSession, storePath, retainManifests)
        ()
      }.start()
  }

  /** The isolated store's committed `(manifestId, nBuckets)`, if it has
    * a manifest — the public read callers use to follow a store across
    * [[rebucketSnapshotIsolated]] migrations (the [[storeBucketCount]]
    * analogue).
    */
  def committedManifestInfo(spark: org.apache.spark.sql.SparkSession,
                            storePath: String): Option[(Long, Int)] = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    readManifest(root.getFileSystem(spark.sparkContext.hadoopConfiguration),
      root).map { case (id, n, _, _) => (id, n) }
  }

  /** GROWTH trigger for the isolated store ([[maybeRebucketSnapshot]]'s
    * analogue): doubles the committed bucket count via
    * [[rebucketSnapshotIsolated]] (under `migrationId`) while the
    * committed corpus exceeds `targetRowsPerBucket × nBuckets`; returns
    * the (possibly new) bucket count. No-op — and no manifest — when
    * the target holds, or when the newest manifest already reached
    * `migrationId` (a replay whose migration slot is spent must not
    * regress the id sequence). The size read is a Spark count() job
    * whose pruned empty read schema decodes no pages (footer row
    * counts). Single writer.
    */
  def maybeRebucketSnapshotIsolated(spark: org.apache.spark.sql.SparkSession,
                                    storePath: String, migrationId: Long,
                                    targetRowsPerBucket: Long): Int = {
    require(targetRowsPerBucket >= 1,
      s"targetRowsPerBucket must be >= 1, got $targetRowsPerBucket")
    committedManifestInfo(spark, storePath) match {
      case None => throw new IllegalStateException(
        s"isolated snapshot store $storePath has no committed manifest — " +
          "bootstrap it with a first snapshotApplyBatchIsolated before " +
          "asking for a growth check")
      case Some((newest, cur)) if newest >= migrationId => cur
      case Some((_, cur)) =>
        val n = readSnapshotCommitted(spark, storePath).count()
        var next = cur
        while (next < (1 << 29) && n > targetRowsPerBucket * next) next *= 2
        if (next != cur)
          rebucketSnapshotIsolated(spark, storePath, migrationId, next)
        next
    }
  }

  /** [[snapshotIngestIsolated]] with the GROWTH loop built in — the
    * isolated analogue of [[snapshotIngestMaintained]]. Each stream
    * batch owns TWO manifest ids (`2·bid` for a possible migration,
    * `2·bid + 1` for the fold), so a migration always has a free id
    * below its batch's fold and the sequence stays strictly increasing
    * across crashes: a replay whose migration already committed skips
    * it (the newest-manifest guard in [[maybeRebucketSnapshotIsolated]]),
    * a replay whose fold already committed no-ops on the fold, and a
    * crash between the two re-runs the fold under the migrated count
    * (each fold re-reads the committed manifest's bucket count, so a
    * restarted stream follows a store migrated while it was down).
    * `nBuckets` only seeds a virgin store.
    */
  def snapshotIngestMaintainedIsolated(changelogs: DataFrame,
                                       storePath: String,
                                       targetRowsPerBucket: Long,
                                       nBuckets: Int = 64,
                                       rebucketEvery: Int = 8,
                                       retainManifests: Int = 2,
                                       pruneEvery: Int = 8,
                                       queryName: String = "graft_snapshot_ingest_maintained_isolated"): org.apache.spark.sql.streaming.StreamingQuery = {
    require(rebucketEvery >= 1,
      s"rebucketEvery must be >= 1, got $rebucketEvery")
    require(pruneEvery >= 1, s"pruneEvery must be >= 1, got $pruneEvery")
    changelogs.writeStream.queryName(queryName)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        val spark = b.sparkSession
        val info = committedManifestInfo(spark, storePath)
        if (info.isDefined && bid > 0 && bid % rebucketEvery == 0)
          maybeRebucketSnapshotIsolated(spark, storePath, 2L * bid,
            targetRowsPerBucket)
        val cur = committedManifestInfo(spark, storePath)
          .map(_._2).getOrElse(nBuckets)
        snapshotApplyBatchIsolated(b, storePath, 2L * bid + 1L, cur)
        if ((bid + 1) % pruneEvery == 0)
          pruneSnapshotGens(spark, storePath, retainManifests)
        ()
      }.start()
  }

  /** [[managedCorpusApplyBatch]] over the reader-ISOLATED stores — the
    * full managed serving story without any single-reader contract:
    * row + census gates (verdict replay-stable via the committed
    * report; `n_old` judged against the COMMITTED manifest, never a
    * half-folded dir), then the dual fold — the thin log into the
    * manifest-committed snapshot store, the CDC log into the
    * manifest-COMMITTED signature store
    * ([[sigStoreApplyBatchCommitted]]: as of round 19 BOTH maintained
    * artifacts are manifest-committed, so corpus reads AND sig-census
    * reads are isolated from concurrent folds/compactions — the
    * previously-asymmetric composite completed). Readers concurrent
    * with the whole batch see the previous committed state until each
    * store's manifest rename. A quarantined batch commits NO manifest
    * in either store — its generation never exists.
    */
  def managedCorpusApplyBatchIsolated(fullChangelog: DataFrame,
                                      batchId: Long, storePath: String,
                                      sigStorePath: String,
                                      reportPath: String,
                                      rules: Seq[(String, Column)],
                                      censusRules: Seq[(String, Column)] = Nil,
                                      nBuckets: Int = 64,
                                      guardUniqueIds: Boolean = false)
      : Boolean = Checkpoint.scope {
    val f = Checkpoint(fullChangelog
      .select(col("doc_id"), col("status"), col("old_text"),
        col("new_text")))
    val thin = f.select(col("doc_id"), col("status"),
      col("new_text").as("text"))
    val ok = validateBatchImpl(thin, batchId, reportPath, rules,
      col("doc_id"), col("text"), col("status"), censusRules,
      guardUniqueIds,
      nOldReader = () =>
        readSnapshotCommitted(f.sparkSession, storePath).count())
    if (ok) {
      snapshotApplyBatchIsolated(thin, storePath, batchId, nBuckets)
      sigStoreApplyBatchCommitted(f, sigStorePath, batchId, nBuckets)
    }
    ok
  }

  /** Streaming managed-ISOLATED maintenance: every micro-batch of CDC
    * changelog rows through [[managedCorpusApplyBatchIsolated]], with
    * BOTH stores' GC on the `pruneEvery`/`retainManifests` cadence
    * (stale snapshot generations via [[pruneSnapshotGens]], stale sig
    * segments via [[pruneSigStoreSegs]]) and the sig store's
    * segment-squash ([[compactSigStoreCommitted]], `compactEvery`,
    * committedThrough = the previous batch — the replay-safe fence)
    * built in — the multi-reader twin of [[managedCorpusIngest]].
    */
  def managedCorpusIngestIsolated(changelogs: DataFrame, storePath: String,
                                  sigStorePath: String, reportPath: String,
                                  rules: Seq[(String, Column)],
                                  censusRules: Seq[(String, Column)] = Nil,
                                  nBuckets: Int = 64,
                                  queryName: String = "graft_managed_isolated_ingest",
                                  guardUniqueIds: Boolean = false,
                                  retainManifests: Int = 2,
                                  pruneEvery: Int = 8,
                                  compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    require(pruneEvery >= 1, s"pruneEvery must be >= 1, got $pruneEvery")
    require(compactEvery >= 0,
      s"compactEvery must be >= 0 (0 = never), got $compactEvery")
    changelogs.writeStream.queryName(queryName)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        managedCorpusApplyBatchIsolated(b, bid, storePath, sigStorePath,
          reportPath, rules, censusRules, nBuckets,
          guardUniqueIds = guardUniqueIds)
        if ((bid + 1) % pruneEvery == 0) {
          pruneSnapshotGens(b.sparkSession, storePath, retainManifests)
          pruneSigStoreSegs(b.sparkSession, sigStorePath, retainManifests)
        }
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          compactSigStoreCommitted(b.sparkSession, sigStorePath,
            committedThrough = bid - 1)
        ()
      }.start()
  }

  // ──────────────────────────────────────────────────────────────────
  // VERSIONED + ISOLATED: time travel over the reader-isolated store —
  // the two serving guarantees composed. The in-place versioned store
  // ([[managedVersionedApplyBatch]]) keeps history but inherits the
  // single-reader contract and needs a separate `_graft_snap_version`
  // marker (with its documented benign fold-to-marker torn window).
  // Here the fold's MANIFEST commit IS the version commit — one atomic
  // rename both publishes the new corpus to readers and moves the
  // walk-back cap — so there is no marker on this path and NO torn
  // window at all: after any crash prefix, every as-of read serves the
  // corpus that actually existed, labeled with the version it actually
  // had.
  // ──────────────────────────────────────────────────────────────────

  /** TIME-TRAVEL read over the ISOLATED store (`<basePath>/snap` a
    * manifest-committed generation store, `<basePath>/log` the archived
    * CDC versions): the corpus as of `version`, reconstructed as the
    * COMMITTED corpus plus the compacted fold of the inverted logs
    * above it ([[readSnapshotAsOf]]'s walk-back shape — one
    * O(churn-above-version) pass however deep the read).
    *
    * The manifest is resolved ONCE, feeding BOTH the current corpus
    * and the walk-back cap — two separate resolutions racing a
    * concurrent fold could pair version v+1's corpus with a cap of v
    * and fail to invert v+1's log. The cap is the newest FOLD-kind
    * manifest id (fold commits are version commits on this path; a
    * rebucket manifest rewrites the SAME corpus under a higher id, so
    * capping at it would invert archived logs the snapshot does not
    * contain). An archived-but-unfolded log (the archive-first crash
    * window, or a writer mid-batch) is therefore invisible, and —
    * unlike the in-place store's one-marker residue — a log whose fold
    * committed is capped IN the same atomic rename that published its
    * corpus: no read anywhere in a torn window is ever mislabeled.
    *
    * Isolation: the returned frame keeps serving its manifest's
    * generations and the retained logs even while newer batches fold —
    * size `retainManifests` / the log retention to cover your slowest
    * reader. `asOf` below [[pruneSnapshotVersions]]' floor is refused.
    */
  def readSnapshotAsOfCommitted(spark: org.apache.spark.sql.SparkSession,
                                basePath: String, version: Long): DataFrame = {
    val logRoot = new org.apache.hadoop.fs.Path(s"$basePath/log")
    val fs = logRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireAboveFloor(fs, logRoot, basePath, version)
    val snapRoot = new org.apache.hadoop.fs.Path(s"$basePath/snap")
    val sfs = snapRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = listManifestIds(sfs, snapRoot)
    if (ids.isEmpty)
      // virgin store: nothing folded — archived logs (if any) are
      // invisible below their fold, so the corpus at EVERY version so
      // far is empty
      return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          snapshotSchema)
        .select(col("doc_id"), col("text"))
    val (_, m, newestKind) = readManifestById(sfs, snapRoot, ids.head)
    val cap = committedFoldCap(sfs, snapRoot, basePath, ids, newestKind)
    val current = readCommittedBuckets(spark, s"$basePath/snap", m)
      .select(col("doc_id"), col("text"))
    walkBackAsOf(spark, basePath, current,
      archivedVersionsAbove(fs, logRoot, version, _ <= cap))
  }

  /** The isolated-versioned store's folded-through version: the newest
    * FOLD-kind manifest id (a rebucket rewrites the same corpus under a
    * higher id, so capping at it would claim versions the snapshot
    * never folded).
    */
  private def committedFoldCap(sfs: org.apache.hadoop.fs.FileSystem,
                               snapRoot: org.apache.hadoop.fs.Path,
                               basePath: String, ids: Seq[Long],
                               newestKind: String): Long =
    if (newestKind != "rebucket") ids.head
    else ids.drop(1)
      .find(id => readManifestById(sfs, snapRoot, id)._3 != "rebucket")
      .getOrElse(throw new IllegalStateException(
        s"isolated versioned store $basePath retains only rebucket " +
          "manifests — cannot locate the folded-through version; " +
          "raise retainManifests (the prune tail must keep at least " +
          "one fold manifest, which pruneSnapshotGens guarantees)"))

  /** The COMPACTED full CDC log describing `fromVersion → toVersion`
    * over a versioned store's retained archive — the catch-up feed for
    * a downstream consumer that was offline: instead of rebuilding two
    * corpus states and diffing them (O(corpus)), the archived logs in
    * `(fromVersion, toVersion]` fold through [[compactFullChangelog]]
    * into ONE net log, O(churn between the versions), with
    * removed-then-re-added-identical docs normalized away exactly as a
    * direct [[corpusDiffFull]] of the endpoint snapshots would report.
    * A quarantined version archived nothing and contributes nothing.
    * Versions above the store's folded-through cap (the
    * `_graft_snap_version` marker — archived-but-unfolded crash
    * residue, or a writer mid-batch) are invisible, the
    * [[readSnapshotAsOf]] convention: the log describes
    * `fromVersion → min(toVersion, foldedThrough)`. `fromVersion`
    * below the prune floor is refused — the logs that reach it are
    * gone. Lineage checkpoints replace each other on deep folds.
    */
  def changesBetweenVersions(spark: org.apache.spark.sql.SparkSession,
                             basePath: String, fromVersion: Long,
                             toVersion: Long): DataFrame = {
    val logRoot = new org.apache.hadoop.fs.Path(s"$basePath/log")
    val fs = logRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    changesBetweenImpl(spark, basePath, fromVersion, toVersion,
      readLongMarker(fs, snapVersionPath(logRoot)).map(c => (v: Long) => v <= c)
        .getOrElse((_: Long) => true)) // pre-marker store: all archived
  }

  /** [[changesBetweenVersions]] over the ISOLATED versioned store
    * ([[managedVersionedApplyBatchIsolated]]'s layout): the
    * folded-through cap is the newest FOLD manifest id — resolved from
    * the same committed-manifest discipline as
    * [[readSnapshotAsOfCommitted]], so an archived-but-unfolded log is
    * invisible here too. A virgin store (no committed fold) serves an
    * empty log.
    */
  def changesBetweenVersionsCommitted(spark: org.apache.spark.sql.SparkSession,
                                      basePath: String, fromVersion: Long,
                                      toVersion: Long): DataFrame = {
    val snapRoot = new org.apache.hadoop.fs.Path(s"$basePath/snap")
    val sfs = snapRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = listManifestIds(sfs, snapRoot)
    val cap: Long => Boolean = ids.headOption match {
      case None => _ => false // virgin: nothing folded, nothing visible
      case Some(newest) =>
        val c = committedFoldCap(sfs, snapRoot, basePath, ids,
          readManifestById(sfs, snapRoot, newest)._3)
        v => v <= c
    }
    changesBetweenImpl(spark, basePath, fromVersion, toVersion, cap)
  }

  private val fullLogSchema = org.apache.spark.sql.types.StructType(
    versionedLogSchema.fields.filterNot(_.name == "version"))

  private def changesBetweenImpl(spark: org.apache.spark.sql.SparkSession,
                                 basePath: String, fromVersion: Long,
                                 toVersion: Long,
                                 capped: Long => Boolean): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetweenVersions: fromVersion=$fromVersion must be <= " +
        s"toVersion=$toVersion (invert the endpoints, then " +
        "invertChangelog the result, for the reverse feed)")
    val logRoot = new org.apache.hadoop.fs.Path(s"$basePath/log")
    val fs = logRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireAboveFloor(fs, logRoot, basePath, fromVersion)
    val versions = archivedVersionsAbove(fs, logRoot, fromVersion,
      v => v <= toVersion && capped(v)).sorted // ascending: forward fold
    if (versions.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        fullLogSchema)
    def logAt(v: Long) = spark.read
      .option("basePath", s"$basePath/log")
      .schema(versionedLogSchema)
      .parquet(s"$basePath/log/version=$v")
      .select(col("doc_id"), col("status"), col("old_text"),
        col("new_text"))
    Checkpoint.scope {
      var last = logAt(versions.head)
      val folded = versions.tail.map(logAt).zipWithIndex
        .foldLeft(last) { case (acc, (l, i)) =>
          val c = compactFullChangelog(acc, l)
          if (i % 8 == 7) { last = Checkpoint.next(last, c); last } else c
        }
      // single-log reads still drop the archived log's unchanged rows —
      // the net feed carries churn only, whatever the depth
      folded.filter(col("status") =!= "unchanged")
    }
  }

  /** [[managedVersionedApplyBatch]] over the reader-ISOLATED store —
    * the full consistency matrix in one composite: row + census publish
    * gates (verdict replay-stable via the committed report, `n_old`
    * judged against the COMMITTED manifest), TIME TRAVEL (the CDC log
    * archived under `<basePath>/log/version=<batchId>`), and
    * multi-reader isolation (the snapshot folds into the
    * manifest-committed generation store at `<basePath>/snap`, and the
    * sig census folds into the manifest-COMMITTED segment store
    * ([[sigStoreApplyBatchCommitted]]) beside it for isolated
    * O(refresh) audits). A quarantined batch archives nothing and
    * commits no manifest in any store — its version never exists, and
    * an as-of read at it serves the state the corpus actually had.
    *
    * Write order: verdict → archive → snapshot fold (whose manifest
    * rename ATOMICALLY publishes the corpus AND caps the as-of
    * walk-back — no `_graft_snap_version` marker on this path) → sig
    * fold. Crash anywhere heals on the at-least-once replay (reused
    * verdict, idempotent archive, manifest-gated fold no-op, sig
    * partition overwrite), and — unlike the in-place composite's
    * documented benign fold-to-marker residue — NO torn prefix serves
    * a mislabeled corpus: before the rename the archived log is
    * invisible, after it the corpus and the cap moved together.
    *
    * The store's bucket count follows the committed manifest
    * (`nBuckets` seeds a virgin store), so a store migrated by
    * [[rebucketSnapshotIsolated]] between batches keeps folding
    * correctly — give the migration an id the version sequence will
    * never produce, above the newest manifest.
    */
  def managedVersionedApplyBatchIsolated(fullChangelog: DataFrame,
                                         batchId: Long, basePath: String,
                                         sigStorePath: String,
                                         reportPath: String,
                                         rules: Seq[(String, Column)],
                                         censusRules: Seq[(String, Column)] = Nil,
                                         nBuckets: Int = 64,
                                         guardUniqueIds: Boolean = false)
      : Boolean = Checkpoint.scope {
    val f = Checkpoint(fullChangelog
      .select(col("doc_id"), col("status"), col("old_text"),
        col("new_text")))
    val thin = f.select(col("doc_id"), col("status"),
      col("new_text").as("text"))
    val ok = validateBatchImpl(thin, batchId, reportPath, rules,
      col("doc_id"), col("text"), col("status"), censusRules,
      guardUniqueIds,
      nOldReader = () =>
        readSnapshotCommitted(f.sparkSession, s"$basePath/snap").count())
    if (ok) {
      // ungated lying logs must still fail BEFORE the archive — never
      // durably archive a log the fold will refuse on every replay
      if (!guardUniqueIds)
        requireUniqueLogIds(f, "managedVersionedApplyBatchIsolated")
      f.withColumn("version", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("version").parquet(s"$basePath/log")
      val cur = committedManifestInfo(f.sparkSession, s"$basePath/snap")
        .map(_._2).getOrElse(nBuckets)
      snapshotApplyBatchIsolated(thin, s"$basePath/snap", batchId, cur)
      sigStoreApplyBatchCommitted(f, sigStorePath, batchId, nBuckets)
    }
    ok
  }

  /** Streaming managed-VERSIONED-ISOLATED maintenance: every
    * micro-batch of CDC changelog rows through
    * [[managedVersionedApplyBatchIsolated]] (batch id = version), with
    * all three retention cadences of the composite's stores built in —
    * every `pruneEvery` batches the archived-log floor advances
    * (`retainVersions`, bounding history via [[pruneSnapshotVersions]])
    * and stale generations GC ([[pruneSnapshotGens]] keeping
    * `retainManifests` committed corpora for slow readers; gen pruning
    * never breaks as-of reads — the walk-back touches only the NEWEST
    * manifest's generations plus archived logs), and every
    * `compactEvery` batches the sig store's per-batch dirs squash
    * (committedThrough = the previous batch, the replay-safe cadence).
    */
  def managedVersionedIngestIsolated(changelogs: DataFrame, basePath: String,
                                     sigStorePath: String, reportPath: String,
                                     rules: Seq[(String, Column)],
                                     censusRules: Seq[(String, Column)] = Nil,
                                     nBuckets: Int = 64,
                                     queryName: String = "graft_managed_versioned_isolated_ingest",
                                     guardUniqueIds: Boolean = false,
                                     retainVersions: Option[Long] = None,
                                     retainManifests: Int = 2,
                                     pruneEvery: Int = 8,
                                     compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    require(pruneEvery >= 1, s"pruneEvery must be >= 1, got $pruneEvery")
    require(compactEvery >= 0,
      s"compactEvery must be >= 0 (0 = never), got $compactEvery")
    changelogs.writeStream.queryName(queryName)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        managedVersionedApplyBatchIsolated(b, bid, basePath, sigStorePath,
          reportPath, rules, censusRules, nBuckets,
          guardUniqueIds = guardUniqueIds)
        if ((bid + 1) % pruneEvery == 0) {
          retainVersions.foreach { k =>
            if (bid - k >= 0)
              pruneSnapshotVersions(b.sparkSession, basePath, bid - k)
          }
          pruneSnapshotGens(b.sparkSession, s"$basePath/snap",
            retainManifests)
          pruneSigStoreSegs(b.sparkSession, sigStorePath, retainManifests)
        }
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          compactSigStoreCommitted(b.sparkSession, sigStorePath,
            committedThrough = bid - 1)
        ()
      }.start()
  }
}
