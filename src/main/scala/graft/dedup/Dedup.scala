package graft.dedup

import graft.Checkpoint
import graft.fns.Fns
import graft.ops.DriverSolve
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.collection.mutable

/** Deduplication operators for large-scale training-data pipelines
  * (BASELINE.json north-star; first-class alongside the SURVEY §2 ops).
  *
  * All candidate generation is *blocked* (LSH bands / explicit block keys)
  * so no stage is O(n²) over the corpus — the only shuffles are
  * groupBy(signature) and the band-bucket self-join, both on bounded keys.
  * Everything is codegen'd Catalyst expressions: no UDFs anywhere.
  */
object Dedup {

  private def tokens(text: Column): Column = array_distinct(split(text, " "))

  /** Distinct word n-gram shingles (n=1 degenerates to the token set).
    * Shorter-than-n docs yield one truncated shingle, matching the DuckDB
    * twin `list_transform(range(1, greatest(len-n+1,1)+1), i ->
    * array_to_string(toks[i:i+n-1], ' '))`. Built by the native
    * [[graft.expr.NGrams]] expression (single codegen'd pass,
    * first-occurrence order — bit-identical to the
    * `array_distinct(transform(...))` HOF form it replaces, which paid
    * interpreted per-element lambdas and an O(L·n) slice per gram).
    */
  def shingles(text: Column, n: Int): Column =
    if (n <= 1) tokens(text)
    else graft.expr.TextStatsExpressions.ngrams(split(text, " "), n)

  /** The canonical exact-dup signature: sorted distinct shingles joined
    * on the 0x01 separator (shingles are space-joined words, so a plain
    * space join would make {"a b"} and {"a","b"} collide for ngram > 1).
    * THE one signature definition for every rep-collapse consumer.
    */
  private[graft] def exactSignature(text: Column, ngram: Int): Column =
    array_join(array_sort(shingles(text, ngram)), "\u0001")

  /** The map-side-combining rep collapse shared by [[keepOneNearDup]],
    * [[nearDupClusterHistogram]] and the Prof stage-attribution tool:
    * one row per exact signature carrying the min-id representative's
    * full row plus the group multiplicity `__dups` and the constant
    * block `__all`. groupBy + min_by, NOT a row_number window: the
    * aggregate partially combines map-side, so the shuffle moves one rep
    * row per (map partition, signature) instead of every corpus row — on
    * a dup-heavy 100 TB crawl that is the difference between shuffling
    * the corpus and shuffling its distinct-signature skeleton. Returned
    * frame is a checkpoint (it is always multi-consumer).
    */
  private[graft] def repCollapse(df: DataFrame, text: Column, id: Column,
                                 ngram: Int): DataFrame =
    Checkpoint(df.groupBy(exactSignature(text, ngram).as("__sig"))
      .agg(min_by(struct(df.columns.toIndexedSeq.map(col): _*), id).as("__rep"),
        count(lit(1)).as("__dups"))
      .select(col("__rep.*"), col("__dups"))
      .withColumn("__all", lit(0)))

  /** Exact dedup on a canonicalized signature: the sorted distinct token
    * set. One hash-shuffle on the signature; emits one row per duplicate
    * group `(keep_doc_id = min id, dup_count)`.
    *
    * Scale path (100 TB): group on `xxhash64(sig)` instead of the raw
    * string so the shuffle key is 8 bytes — kept as the raw signature here
    * for bit-exact oracle parity.
    */
  def exactByCanonicalTokens(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(id.as("doc_id"),
        array_join(array_sort(tokens(text)), " ").as("sig"))
      .groupBy(col("sig"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_doc_id"), col("dup_count"))

  /** The composed EXACT near-dup dedup action at corpus scale: collapse
    * exact-signature groups to their min-id representative first (one
    * d1-style shuffle), then run the complete prefix-filtered Jaccard
    * join + connected components + keep-one over REPRESENTATIVES only.
    *
    * Lossless: Jaccard depends only on the shingle set, so an exact-dup
    * group is a jac=1.0 clique — every member lands in its rep's
    * component, the component minimum IS a rep (reps are group minima),
    * and non-rep docs are never kept. Hence kept(reps) == kept(all docs),
    * while the pair stage shrinks by the square of dup multiplicity (the
    * sf0.1 corpus: 965k doc pairs → 29k rep pairs, 33×) — exact-dup
    * cliques are exactly what makes a naive global PPJoin blow up on a
    * dup-heavy crawl. Returns the kept rows of `df` (hash-gated end to
    * end by `d7_dedup_keep_one`; rep-collapse equivalence pinned in
    * DedupSpec).
    */
  def keepOneNearDup(df: DataFrame, text: Column, id: Column,
                     threshold: Double, ngram: Int = 1): DataFrame = {
    // Shared [[repCollapse]] (min_by aggregate, 0x01-separated
    // signature): reps is consumed TWICE (edge generation scans it, the
    // keep-one anti-join scans it again) — materialized once inside the
    // helper (the rep collapse is exactly the materialization a staged
    // dedup pipeline wants on disk anyway).
    val reps = repCollapse(df, text, id, ngram)
    val edges = jaccardPairsPrefix(reps, text, id, "__all", threshold, ngram)
    keepOnePerComponent(reps, id, edges).drop("__all", "__dups")
  }

  /** The dedup AUDIT report: near-dup cluster-size histogram —
    * `(cluster_size, n_clusters)` where a cluster is a connected
    * component of the ≥-threshold Jaccard graph and its size counts ALL
    * member documents (exact-dup multiplicities included). The report
    * every dedup run ships: it answers "how much of the corpus is
    * duplicated, in how big clumps" before anything is dropped, and its
    * total Σ size·count must equal the corpus row count (a built-in
    * sanity invariant the gate inherits).
    *
    * Same plan skeleton as [[keepOneNearDup]] (rep collapse → global
    * PPJoin → components), with the exact-dup multiplicity carried on
    * the rep (one extra aggregate on the SAME signature shuffle) and
    * summed per component at the end. Reps without edges are singleton
    * components via the left-join coalesce.
    */
  def nearDupClusterHistogram(df: DataFrame, text: Column, id: Column,
                              threshold: Double, ngram: Int = 1): DataFrame =
    Checkpoint.scope {
      // Shared [[repCollapse]]: the exact-dup multiplicity rides the SAME
      // shuffle; reps feeds edge generation AND the histogram join.
      val reps = repCollapse(df, text, id, ngram)
      val edges = jaccardPairsPrefix(reps, text, id, "__all", threshold, ngram)
      val labels = components(edges)
      // histogram-sized; lets the larger blocks go
      Checkpoint(reps
        .join(labels, id === labels("node"), "left")
        .select(coalesce(col("comp"), id).as("__comp"), col("__dups"))
        .groupBy(col("__comp")).agg(sum(col("__dups")).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters")))
    }

  /** The SCALE-PATH dedup audit report: cluster-size histogram over the
    * MinHash-LSH candidate graph instead of the exact Jaccard graph —
    * [[nearDupClusterHistogram]]'s 100 TB twin. The exact form pays a
    * global PPJoin whose verify constant grows with corpus similarity
    * density; this one never computes a pairwise similarity at all:
    * clusters are connected components of the banded-LSH spanning-edge
    * graph (O(docs × bands) edges), so the whole report is two keyed
    * aggregations, one bounded window, and the component loop. The
    * S-curve (1-(1-j^r)^b) plays the role of the exact threshold; cluster
    * semantics are single-linkage over band collisions, the same
    * transitive-closure reading as the exact report. Uses the PORTABLE
    * md5 family of [[minHashLshEdgesPortable]], so the entire candidate
    * structure — and hence the histogram — is reproducible in engine-
    * neutral SQL and the `d12b` gate hash-checks it end to end.
    * Docs with no collisions are singleton clusters via the left join.
    */
  def lshClusterHistogram(df: DataFrame, text: Column, id: Column,
                          numHashes: Int, bands: Int,
                          ngram: Int = 1): DataFrame =
    clusterHistogramFromEdges(df.select(id.as("doc_id")),
      minHashLshEdgesPortable(df, text, id, numHashes, bands, ngram))

  /** The histogram tail of [[lshClusterHistogram]] over an ALREADY-built
    * edge set: components → per-component size over `docIds` (one
    * `doc_id` row per document; docs without edges are singletons via the
    * left-join coalesce) → size histogram. Shared by the one-shot form
    * and the incremental store reader
    * ([[graft.curation.Curation.lshHistogramFromStore]]).
    */
  def clusterHistogramFromEdges(docIds: DataFrame, edges: DataFrame): DataFrame =
    Checkpoint.scope {
      // materialize the edge set once: components() consumes it on both
      // sides of its symmetrizing union, and an unmaterialized plan would
      // re-run the edge derivation per branch
      val labels = components(Checkpoint(edges))
      // histogram-sized; lets the label block go
      Checkpoint(docIds
        .join(labels, col("doc_id") === labels("node"), "left")
        .select(coalesce(col("comp"), col("doc_id")).as("__comp"))
        .groupBy(col("__comp")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters")))
    }

  /** The dedup-audit AGREEMENT report: how faithfully would the LSH
    * spanning-edge clustering ([[lshClusterHistogram]]'s structure)
    * reproduce the exact ≥-threshold Jaccard clustering
    * ([[nearDupClusterHistogram]]'s structure) on this corpus? Answered
    * at DOC-PAIR granularity without ever enumerating pairs: label every
    * doc with its exact component and its LSH component, build the
    * cluster contingency table (one row per (exact_comp, lsh_comp),
    * cluster-count sized), and read the pair counts off it —
    * `pairs_both = Σ C(n_ij, 2)`, with the margins giving
    * `pairs_exact` / `pairs_lsh`. `pair_precision = both/lsh` (LSH
    * merges that are real), `pair_recall = both/exact` (real merges LSH
    * finds). The report a pipeline owner reads before switching the
    * keep-one stage from the exact PPJoin to the O(docs × bands) LSH
    * path at 100 TB — and every stage here is itself scale-shaped (rep
    * collapse, prefix join, banded edges, components; the contingency
    * table is the only new aggregation and it is cluster-count sized).
    *
    * Exact side labels ALL docs via their exact-signature rep (Jaccard
    * sees only the token set, so a doc inherits its rep's component);
    * LSH side labels docs directly (band rows are per doc). Portable md5
    * family → the whole report is oracle-expressible (`d14` gate).
    */
  def lshDedupAgreement(df: DataFrame, text: Column, id: Column,
                        threshold: Double, numHashes: Int, bands: Int,
                        ngram: Int = 1): DataFrame =
    Checkpoint.scope {
      agreementFromLabels(dualClusterLabels(df, text, id, threshold, numHashes,
        bands, ngram))
    }

  /** BOTH clusterings as one per-doc label frame `(doc_id, ec, lc)` —
    * `ec` = the doc's exact ≥-threshold Jaccard component (via its
    * exact-signature rep; Jaccard sees only the token set, so a doc
    * inherits its rep's component), `lc` = its LSH spanning-edge
    * component. This is the MATERIALIZATION POINT of the whole dedup
    * audit family: keep-one (docs whose `ec` is their own id), the exact
    * and LSH cluster-size histograms (one groupBy each), and the
    * agreement report ([[agreementFromLabels]]) are all single
    * aggregations over this frame — at 100 TB you persist it once per
    * corpus snapshot and every audit panel reads it, instead of
    * re-running two clusterings per report (the d7/d12/d12b/d14 gates
    * share one persisted store this way). Returned frame is a checkpoint
    * (corpus-row sized, 3 longs wide).
    *
    * Input contract: `id` unique per row (every dedup op here assumes
    * it) — a duplicated id would multiply through the ec ⋈ lc join and
    * silently inflate the agreement pair counts.
    */
  def dualClusterLabels(df: DataFrame, text: Column, id: Column,
                        threshold: Double, numHashes: Int, bands: Int,
                        ngram: Int = 1): DataFrame =
    Checkpoint.scope {
      val ec = exactDocLabels(df, text, id, threshold, ngram)
      val lc = docLabelsFromEdges(df.select(id.as("doc_id")),
        minHashLshEdgesPortable(df, text, id, numHashes, bands, ngram), "lc")
      Checkpoint(ec.join(lc, Seq("doc_id")))
    }

  /** ALL THREE clusterings as one per-doc label frame
    * `(doc_id, ec, lc, sc)` — [[dualClusterLabels]] plus the
    * SimHash-banded Hamming component `sc`. The materialization point of
    * the FULL audit family ([[dedupAuditReport]]): persist once per
    * corpus snapshot; keep-one, all three cluster-size histograms and
    * both agreement reports are then single aggregations over it (the
    * d7/d12/d12b/d14/d15/d16 gates share one persisted store this way).
    * Returned frame is a checkpoint (corpus-row sized, 4 longs wide).
    * Same unique-`id` input contract as [[dualClusterLabels]].
    */
  def tripleClusterLabels(df: DataFrame, text: Column, id: Column,
                          threshold: Double, numHashes: Int, bands: Int,
                          nBits: Int, maxDist: Int,
                          ngram: Int = 1): DataFrame =
    Checkpoint.scope {
      val ec = exactDocLabels(df, text, id, threshold, ngram)
      val lc = docLabelsFromEdges(df.select(id.as("doc_id")),
        minHashLshEdgesPortable(df, text, id, numHashes, bands, ngram), "lc")
      val sc = simHashDocLabels(df, text, id, nBits, maxDist, "sc")
      Checkpoint(ec.join(lc, Seq("doc_id")).join(sc, Seq("doc_id")))
    }

  /** Per-doc EXACT ≥-threshold Jaccard component labels `(doc_id, ec)`:
    * rep collapse (the doc→rep MAP this time, not just reps — hence a
    * window, which must carry text for the rep side of the prefix join),
    * global PPJoin over reps, components, every doc inheriting its rep's
    * component (singleton reps label themselves). The exact side of every
    * agreement audit ([[dualClusterLabels]], [[simHashDedupAgreement]]).
    * Returned frame is a checkpoint.
    */
  private[graft] def exactDocLabels(df: DataFrame, text: Column, id: Column,
                                    threshold: Double,
                                    ngram: Int): DataFrame = Checkpoint.scope {
    // the doc→rep map via the argmin AGGREGATE + signature join (the
    // keepOneExact skew discipline, round 15): the min is absorbed
    // map-side and the join back gets AQE skew splitting — the window
    // form this replaces funneled every row of a mega-signature
    // (all-identical corpora do happen) into ONE task, with the full
    // text riding the shuffle
    val base = df.select(id.as("doc_id"), text.as("__text"),
      exactSignature(text, ngram).as("__sig"))
    val winners = base.groupBy(col("__sig"))
      .agg(min(col("doc_id")).as("__rep"))
    val withRep = Checkpoint(base.join(winners, Seq("__sig"))
      .select(col("doc_id"), col("__text"), col("__sig"), col("__rep")))
    val reps = withRep.filter(col("doc_id") === col("__rep"))
      .select(col("doc_id"), col("__text").as("text"))
      .withColumn("__all", lit(0))
    val exactLabels = components(jaccardPairsPrefix(reps, col("text"),
      col("doc_id"), "__all", threshold, ngram))
    Checkpoint(withRep
      .join(exactLabels, col("__rep") === exactLabels("node"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("__rep")).as("ec")))
  }

  /** Per-doc component labels over an ARBITRARY near-dup edge frame
    * `(doc_a, doc_b)`: components, then every doc in `docIds` labeled
    * (edge-less docs are singletons via the left-join coalesce). The
    * label-level sibling of [[clusterHistogramFromEdges]]; shared by the
    * LSH and SimHash sides of the agreement audits. Output
    * `(doc_id, <outCol>)`, checkpointed.
    */
  private[graft] def docLabelsFromEdges(docIds: DataFrame, edges: DataFrame,
                                        outCol: String): DataFrame =
    Checkpoint.scope {
      val labels = components(Checkpoint(edges))
      Checkpoint(docIds
        .join(labels, col("doc_id") === labels("node"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as(outCol)))
    }

  /** SimHash-vs-exact agreement audit — [[lshDedupAgreement]]'s report
    * with the PORTABLE SimHash banded Hamming graph as the approximate
    * clustering: clusters are single-linkage components over verified
    * Hamming ≤ `maxDist` pairs ([[simHashNearPairsPortable]] — pigeonhole
    * banding, so candidate generation is bucketed, never corpus²). Report
    * columns keep the [[agreementFromLabels]] names (`*_lsh_*` = the
    * approximate side). The third leg of the audit family: exact PPJoin
    * vs MinHash-LSH (d14) vs SimHash (this) on one corpus tells a
    * pipeline owner WHICH approximate dedup family preserves their exact
    * clustering best before they commit the 100 TB run.
    */
  def simHashDedupAgreement(df: DataFrame, text: Column, id: Column,
                            threshold: Double, nBits: Int,
                            maxDist: Int, ngram: Int = 1): DataFrame =
    Checkpoint.scope {
      val ec = exactDocLabels(df, text, id, threshold, ngram)
      val sc = simHashDocLabels(df, text, id, nBits, maxDist, "lc")
      agreementFromLabels(Checkpoint(ec.join(sc, Seq("doc_id"))))
    }

  /** Per-doc SimHash single-linkage component labels `(doc_id, <outCol>)`
    * — clusters of the verified Hamming ≤ `maxDist` graph over the
    * portable fingerprint family, with the DUP-MASS-SAFE plan: Hamming
    * distance depends only on the fingerprint, so docs collapse to one
    * row per DISTINCT fingerprint (min-id rep) BEFORE the banded
    * self-join, and labels expand back through the fingerprint. Lossless
    * (identical fingerprints are distance-0 ⇒ one cluster; every doc
    * pair edge maps to its fingerprint pair edge — the d7 rep-collapse
    * argument), and the bucketed self-join now sees distinct
    * fingerprints only: a viral page with 10^5 copies contributes ONE
    * row instead of a 10^10-pair bucket. Labels are cluster-min doc ids
    * (rep minima are doc minima), matching the oracle's min-label
    * propagation over all docs.
    */
  private[graft] def simHashDocLabels(df: DataFrame, text: Column,
                                      id: Column, nBits: Int, maxDist: Int,
                                      outCol: String): DataFrame =
    Checkpoint.scope {
      val fp = Checkpoint(simHashPortable(df, text, id, nBits))
      // feeds the pair join AND the label expansion
      val frep = Checkpoint(
        fp.groupBy(col("simhash")).agg(min(col("doc_id")).as("doc_id")))
      val pairs = hammingNearPairs(frep, nBits, maxDist)
        .select(col("doc_a"), col("doc_b"))
      val repLabels = docLabelsFromEdges(frep.select(col("doc_id")), pairs,
        outCol)
      Checkpoint(fp
        .join(frep.withColumnRenamed("doc_id", "__rep"), Seq("simhash"))
        .join(repLabels.withColumnRenamed("doc_id", "__rep"), Seq("__rep"))
        .select(col("doc_id"), col(outCol)))
    }

  /** Keep-one off a persisted per-doc label frame: the kept documents
    * are exactly those labeled with their own id (component labels are
    * cluster-min doc ids). The serving-side sibling of
    * [[keepOneNearDup]] — at scale the clustering runs once per corpus
    * snapshot ([[dualClusterLabels]] persisted) and the kept-set filter
    * is a label-store scan + broadcast semi-join, which is what the
    * `d7` gate runs.
    */
  def keepOneFromLabels(df: DataFrame, id: Column, labels: DataFrame,
                        labelCol: String = "ec"): DataFrame = {
    // Anti-join on the LOSER set (docs labeled with a different, smaller
    // id), not semi-join on winners: a df row absent from the label frame
    // then survives as a singleton — same contract as
    // [[keepOnePerComponent]]. With a semi-join on winners, a stale label
    // snapshot would silently DROP newly-ingested docs from the kept
    // corpus with no failure signal (the serving-time workflow this op
    // exists for is exactly "labels persisted once per snapshot, filter
    // at read time", where snapshot lag is routine).
    // Renamed key column so the join condition can't capture df's own
    // doc_id when `id` is itself named doc_id.
    val losers = labels.filter(col(labelCol) =!= col("doc_id"))
      .select(col("doc_id").as("__drop_id"))
    df.join(losers, id === col("__drop_id"), "left_anti")
  }

  /** Cluster-size histogram off a persisted per-doc label frame: one
    * groupBy per report — the store-derived form of
    * [[nearDupClusterHistogram]] / [[lshClusterHistogram]] (the d12,
    * d12b and d16 gates are exactly this over their label columns).
    */
  def clusterHistogramFromLabels(labels: DataFrame,
                                 labelCol: String): DataFrame =
    labels.groupBy(col(labelCol)).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  /** The agreement report off an ALREADY-built `(doc_id, ec, lc)` label
    * frame ([[dualClusterLabels]] or its persisted form): cluster
    * contingency table, then pair precision/recall read from its cells
    * and margins — never a pair enumeration, so the report scales with
    * cluster counts.
    */
  def agreementFromLabels(labeled: DataFrame): DataFrame =
    agreementFromCt(labeled.groupBy(col("ec"), col("lc"))
      .agg(count(lit(1)).as("n")))

  /** The agreement report off a pre-built contingency table
    * `(ec, lc, n)` — ONE row per (ec, lc) cell with its exact doc count
    * (the report's pair arithmetic reads c2(n) per cell, so a split cell
    * would under-count pairs_both). Shared by [[agreementFromLabels]]
    * and the [[DedupAuditReport]] margins.
    */
  private[graft] def agreementFromCt(ctIn: DataFrame): DataFrame = Checkpoint.scope {
    val ct = Checkpoint(ctIn) // contingency table: consumed by 3 aggregates
    def c2(c: Column): Column = (c * (c - 1)) / 2
    val both = ct.agg(sum(c2(col("n"))).as("pairs_both"),
      sum(col("n")).as("n_docs"),
      count_distinct(col("ec")).as("n_exact_clusters"),
      count_distinct(col("lc")).as("n_lsh_clusters"))
    val ex = ct.groupBy(col("ec")).agg(sum(col("n")).as("m"))
      .agg(sum(c2(col("m"))).as("pairs_exact"))
    val ls = ct.groupBy(col("lc")).agg(sum(col("n")).as("m"))
      .agg(sum(c2(col("m"))).as("pairs_lsh"))
    // one row; frees the contingency block
    Checkpoint(both.crossJoin(broadcast(ex)).crossJoin(broadcast(ls))
      .select(col("n_docs").cast("long").as("n_docs"),
        col("n_exact_clusters").cast("long").as("n_exact_clusters"),
        col("n_lsh_clusters").cast("long").as("n_lsh_clusters"),
        col("pairs_exact").cast("long").as("pairs_exact"),
        col("pairs_lsh").cast("long").as("pairs_lsh"),
        col("pairs_both").cast("long").as("pairs_both"),
        round(when(col("pairs_lsh") > 0,
            col("pairs_both").cast("double") / col("pairs_lsh"))
          .otherwise(lit(0.0)), 6).as("pair_precision"),
        round(when(col("pairs_exact") > 0,
            col("pairs_both").cast("double") / col("pairs_exact"))
          .otherwise(lit(0.0)), 6).as("pair_recall")))
  }

  /** The WHOLE dedup-audit panel off one persisted `(doc_id, ec, lc, sc)`
    * label frame ([[tripleClusterLabels]]): a single corpus-sized
    * contingency groupBy — the (ec, lc, sc) cube, cluster-combination
    * sized — feeds all five reports. Fields are lazy: each panel pays
    * one CUBE-sized aggregation, the corpus is scanned exactly once at
    * construction. This is the call a pipeline owner makes per corpus
    * snapshot (the d12/d12b/d14/d15/d16 gates each read one field).
    * The cube's checkpoint belongs to the [[Checkpoint.scope]] the report
    * was made in, and a report is not a frame its scope can see: use it
    * inside that scope. Accessed fields are self-contained checkpoints
    * owned by the scope open at first access.
    */
  final class DedupAuditReport private[dedup] (cube: DataFrame) {
    // Histogram fields are checkpointed at first access (they are
    // cluster-size histograms — a handful of rows), so like the
    // agreement fields they are SELF-CONTAINED: a field touched before
    // the cube is freed stays a valid frame, never a lazy view over a
    // freed checkpoint (ADVICE r12).
    private def hist(label: String): DataFrame =
      Checkpoint(cube.groupBy(col(label)).agg(sum(col("n")).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters")))
    /** d12: exact ≥-threshold Jaccard cluster-size histogram. */
    lazy val histExact: DataFrame = hist("ec")
    /** d12b: MinHash-LSH cluster-size histogram. */
    lazy val histLsh: DataFrame = hist("lc")
    /** d16: SimHash cluster-size histogram. */
    lazy val histSimHash: DataFrame = hist("sc")
    /** d14: MinHash-LSH vs exact pair precision/recall. */
    lazy val agreementLsh: DataFrame = agreementFromCt(
      cube.groupBy(col("ec"), col("lc")).agg(sum(col("n")).as("n")))
    /** d15: SimHash vs exact pair precision/recall (the report's
      * `*_lsh_*` columns are the approximate side, as in
      * [[simHashDedupAgreement]]). */
    lazy val agreementSimHash: DataFrame = agreementFromCt(
      cube.groupBy(col("ec"), col("sc").as("lc")).agg(sum(col("n")).as("n")))
  }

  def dedupAuditReport(labels: DataFrame): DedupAuditReport =
    new DedupAuditReport(Checkpoint(labels.groupBy(col("ec"), col("lc"),
      col("sc")).agg(count(lit(1)).as("n"))))

  /** The report over an ALREADY-materialized `(ec, lc, sc, n)` cube —
    * the serving shape: persist the cube (cluster-combination sized,
    * trivially small next to the labels) alongside the label store, and
    * every audit panel on every dashboard refresh is a cube-sized
    * aggregation with NO corpus scan and no cube checkpoint (the
    * d12/d12b/d14/d15/d16 gates read one memoized cube this way).
    */
  def dedupAuditReportFromCube(cube: DataFrame): DedupAuditReport =
    new DedupAuditReport(cube)

  /** Token-set Jaccard near-dup pairs within a blocking key (the classic
    * n-gram Jaccard dedup, blocked so candidates are O(pairs-per-block)).
    * Threshold is applied to the *unrounded* similarity; output is rounded
    * to 6 decimals (QDef determinism contract).
    */
  def jaccardPairs(df: DataFrame, text: Column, id: Column,
                   blockCol: String, threshold: Double,
                   ngram: Int = 1): DataFrame = {
    val sh = shingles(text, ngram)
    val d = df.select(col(blockCol).as("blk"), id.as("doc_id"),
      sh.as("toks"), size(sh).as("n"))
    val a = d.select(col("blk"), col("doc_id").as("doc_a"),
      col("toks").as("toks_a"), col("n").as("n_a"))
    val b = d.select(col("blk"), col("doc_id").as("doc_b"),
      col("toks").as("toks_b"), col("n").as("n_b"))
    val inter = size(array_intersect(col("toks_a"), col("toks_b"))).cast("double")
    val jac = inter / (col("n_a") + col("n_b") - inter)
    // size prefilter (implied by the threshold: jac >= t needs
    // min(|A|,|B|) >= t * max(|A|,|B|)) short-circuits the expensive
    // array_intersect for most candidate pairs
    val sizeOk = least(col("n_a"), col("n_b")).cast("double") >=
      greatest(col("n_a"), col("n_b")) * threshold
    a.join(b, Seq("blk")).where(col("doc_a") < col("doc_b") && sizeOk)
      .withColumn("jac", jac)
      .where(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** Candidate stage of [[jaccardPairsPrefix]], on a shingled frame
    * `(blk, doc_id, toks, n)`: distinct (doc_a, doc_b) pairs sharing a
    * prefix shingle within a block, pruned by the PPJoin size and
    * positional filters BEFORE the distinct. Package-private so SkewSpec
    * can pin the candidate count directly (the quantity that decides
    * whether a hot block blows up).
    *
    * Positional filter correctness: a pair with jac ≥ t has overlap
    * o ≥ ⌈t/(1+t)·(n_a+n_b)⌉; taking w = the FIRST common shingle in the
    * canonical (df-ascending) order (which the prefix lemma places inside
    * both prefixes, at 1-based positions i, j), every common shingle sorts
    * at or after w in both docs, so o ≤ 1 + min(n_a−i, n_b−j). Keeping
    * every (w,i,j) instance passing that bound therefore keeps each true
    * pair via its first-common-shingle instance; later-instance prunes only
    * drop duplicates the distinct would collapse anyway. The lemma holds
    * for ANY global total order over shingles, so the df-based order below
    * is free to optimize candidate counts without affecting completeness.
    */
  /** The shingled-and-hashed scan frame `(blk, doc_id, toks, n)` under
    * [[jaccardPairsPrefix]] — exposed (package-private) so Prof's
    * substage attribution runs the REAL projection, not a mirror.
    */
  private[graft] def hashedShingleFrame(df: DataFrame, text: Column,
                                        id: Column, blockCol: String,
                                        ngram: Int): DataFrame = {
    val sh = shingles(text, ngram)
    df.select(col(blockCol).as("blk"), id.as("doc_id"),
      array_sort(transform(sh, t => xxhash64(t))).as("toks"), size(sh).as("n"))
  }

  private[graft] def prefixCandidates(d: DataFrame, threshold: Double): DataFrame = {
    // Canonical order = ASCENDING document frequency (rarest shingle first,
    // ties by hash then value — a deterministic global total order, which is
    // all the prefix lemma requires). This is the textbook PPJoin ordering,
    // and it is load-bearing at scale: a plain global-hash order puts any
    // corpus-common shingle that happens to hash low into EVERY doc's
    // prefix, so the (blk, p) self-join fans out quadratically in that
    // shingle's document frequency — measured 1.8M candidate pairs over
    // 3.9k reps at sf0.1 (38 s verify stage). With df-ascending prefixes a
    // pair is a candidate only when it shares a RARE shingle, so hot-token
    // join keys can't form. Costs one vocabulary-sized aggregation plus a
    // per-doc window over the exploded shingles — both keyed shuffles that
    // scale linearly with corpus tokens.
    prefixCandidateInstances(d, threshold).distinct()
  }

  /** [[prefixCandidates]] WITHOUT the pair distinct: one row per surviving
    * (prefix-shingle, doc_a, doc_b) instance. The verify stage dedups after
    * thresholding instead — a distinct over the (tiny) edge set is far
    * cheaper than one over the (large) candidate multiset (measured 2.5 s
    * of a 4.6 s d12 pair stage at sf0.1 spent distinct-ing 1.96M instances
    * down to 1.73M pairs that then produced 29k edges). Kept separate so
    * SkewSpec can keep asserting the distinct-pair candidate bound.
    */
  /** Exploded shingle stream `(blk, doc_id, n, p)` over a
    * [[hashedShingleFrame]] — package-private so Prof times the real
    * substage, not a mirror.
    */
  private[graft] def explodedShingles(d: DataFrame): DataFrame =
    d.select(col("blk"), col("doc_id"), col("n"), explode(col("toks")).as("p"))

  /** Document frequency per shingle over [[explodedShingles]] output —
    * the vocabulary aggregation that orders PPJoin prefixes (df-ascending).
    */
  private[graft] def shingleDocFrequency(tok: DataFrame): DataFrame =
    tok.groupBy(col("p")).agg(count(lit(1)).as("__df"))

  private[graft] def prefixCandidateInstances(d: DataFrame,
                                              threshold: Double): DataFrame =
    prefixCandidateInstancesBuild(d, threshold, materialize = false)

  /** [[prefixCandidateInstances]] over a checkpointed prefix stream, owned
    * by the caller's scope ([[jaccardPairsPrefix]] frees it once the pair
    * set is materialized). The lazy wrapper above keeps the dev/test
    * surface (Prof, SkewSpec, PlanShapeSpec) side-effect-free: an eager
    * checkpoint there would run a full shuffle job during plan inspection.
    *
    * Why a checkpoint (r21): the candidate stage is a SELF-join of the
    * prefix stream, and Spark executes a twice-referenced subtree twice —
    * the measured d4/d6/g3 plans ran the shingle explode FOUR times (tok
    * + df sides × both join inputs), the df aggregate twice, and the
    * per-doc prefix window (sort + corpus-wide exchange) twice, because
    * the two references canonicalize differently (one feeds the probe
    * side, one a BroadcastExchange) and neither ReuseExchange nor AQE
    * stage reuse collapsed them. Materializing the prefix stream once
    * (guide §2.4 — remove shuffles outright) makes both join inputs a
    * cheap checkpoint scan. The frame is O(corpus prefixes): five narrow
    * columns (block, 8-byte shingle hash, id, two ints), ~(1−t) of the
    * token stream at threshold t — ids and hashes only, never text, the
    * same discipline as the funnels' id checkpoints. At 100 TB this is
    * the standard materialized prefix index of a set-similarity join;
    * recomputing the corpus-wide window twice is strictly worse.
    */
  private[graft] def prefixCandidateInstancesCk(
      d: DataFrame, threshold: Double): DataFrame =
    prefixCandidateInstancesBuild(d, threshold, materialize = true)

  private def prefixCandidateInstancesBuild(
      d: DataFrame, threshold: Double,
      materialize: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prefixLen = (col("n") - ceil(col("n") * threshold) + 1).cast("int")
    val tok = explodedShingles(d)
    val freq = shingleDocFrequency(tok)
    val pre0 = tok.join(freq, Seq("p"))
      .withColumn("i", row_number().over(
        Window.partitionBy(col("blk"), col("doc_id"))
          .orderBy(col("__df"), col("p"))))
      .filter(col("i") <= prefixLen)
      .select(col("blk"), col("p"), col("doc_id"), col("i"), col("n"))
    val pre = if (materialize) Checkpoint(pre0) else pre0
    val a = pre.select(col("blk"), col("p"), col("doc_id").as("doc_a"),
      col("i").as("i_a"), col("n").as("pn_a"))
    val b = pre.select(col("blk"), col("p"), col("doc_id").as("doc_b"),
      col("i").as("i_b"), col("n").as("pn_b"))
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("pn_a") + col("pn_b")))
    val sizeOk = least(col("pn_a"), col("pn_b")).cast("double") >=
      greatest(col("pn_a"), col("pn_b")) * threshold
    a.join(b, Seq("blk", "p"))
      .where(col("doc_a") < col("doc_b") && sizeOk &&
        (lit(1) + least(col("pn_a") - col("i_a"), col("pn_b") - col("i_b"))) >= alpha)
      .select(col("doc_a"), col("doc_b"))
  }

  /** PPJoin-style prefix-filtered exact Jaccard (same results as
    * [[jaccardPairs]], different plan): two sets with jac ≥ t must share at
    * least one element among the first |S| - ⌈t·|S|⌉ + 1 elements of a
    * canonical (hash) ordering, so candidate generation is an equi-join on
    * (block, prefix-shingle) instead of the full per-block cross product —
    * the standard set-similarity-join at scale. The exact jaccard then runs
    * once per distinct candidate pair.
    *
    * Checkpoint lifecycle: the shingled corpus is materialized (it feeds
    * candidate generation AND both verify sides), the final pair set is
    * materialized too (it is tiny relative to the corpus at any sane
    * threshold), then the corpus-sized intermediates are freed — the
    * returned frame holds exactly one small storage block (asserted in
    * DedupSpec).
    */
  def jaccardPairsPrefix(df: DataFrame, text: Column, id: Column,
                         blockCol: String, threshold: Double,
                         ngram: Int = 1): DataFrame = Checkpoint.scope {
    // Shingles are fingerprinted to xxhash64 longs at the scan: every
    // downstream stage (prefix explode, df aggregation, candidate join
    // keys, verify-side array_intersect) then moves and compares 8-byte
    // longs instead of full shingle strings — the shuffle volume drops by
    // the mean shingle width and the 1.7M-candidate verify stage stops
    // hashing strings (measured 34 s → see Prof). Set semantics are
    // preserved: distinct shingles → distinct hashes up to xxhash64
    // collisions (~|pair union|²·2⁻⁶⁴ per verified pair — negligible at
    // any realistic corpus scale, and a collision only perturbs one
    // pair's intersection count by 1).
    // reused by candidates and both verify sides
    val d = Checkpoint(hashedShingleFrame(df, text, id, blockCol, ngram))
    // Verify per candidate INSTANCE, distinct only the final edge set.
    // History: round 7 measured the instance-stream shape 4x WORSE and put
    // the distinct BEFORE verify — but that was with per-row hash-set
    // array_intersect as the verify kernel, where the 13% duplicate
    // instances and the sort-merge join shape both hurt. With the
    // allocation-free merge-walk kernel (SortedIntersectCount) the verify
    // is cheaper than the 1.7M-pair distinct it used to justify: skipping
    // the pair distinct and collapsing the (tiny) post-threshold edge set
    // instead re-measured 2.4 s vs 3.1 s at sf0.1, identical edges. The
    // corpus side under the verify joins is the checkpointed `d` (exact
    // stats), so AQE still picks the broadcast side correctly; duplicate
    // instances only re-run a merge walk each, never re-shuffle the corpus.
    val cand = prefixCandidateInstancesCk(d, threshold)
    val a = d.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
      col("n").as("n_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
      col("n").as("n_b"))
    // toks is array_sort'ed distinct hashes, so the verify kernel is the
    // allocation-free sorted merge walk, not array_intersect (2.4x on the
    // 1.7M-pair sf0.1 verify stage; see SortedIntersectCount)
    val inter = graft.expr.SetExpressions
      .sortedIntersectCount(col("toks_a"), col("toks_b")).cast("double")
    val jac = inter / (col("n_a") + col("n_b") - inter)
    Checkpoint(cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("jac", jac)
      .where(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
      .distinct())
  }

  /** Embedding-cosine near-dup pairs within a blocking key. Double-precision
    * strict-fold dot products (Fns.cosineSim) so results are deterministic
    * and engine-portable.
    */
  def embeddingNearDupPairs(emb: DataFrame, blockCol: String,
                            threshold: Double): DataFrame = {
    // precompute each vector's norm once (2n norms) instead of inside every
    // pair (would be 2·pairs) — the pair-side work drops to one dot product
    val n = emb.select(col(blockCol).as("blk"), col("vec_id"), col("embedding"),
      sqrt(Fns.dot(col("embedding"), col("embedding"))).as("norm"))
    val a = n.select(col("blk"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = n.select(col("blk"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    val cos = Fns.dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b"))
    a.join(b, Seq("blk")).where(col("vec_a") < col("vec_b"))
      .withColumn("cos", cos)
      .where(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
  }

  // Deterministic affine MinHash family: h_i(x) = (a_i·xxhash64(x) + b_i) mod P.
  // Constants from a fixed LCG seed — reproducible across runs and engines.
  private val MinHashP = 2038074743L // prime < 2^31
  private def affineConsts(n: Int): Seq[(Long, Long)] = {
    var s = 0x5DEECE66DL
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; math.abs(s % MinHashP) }
    Seq.fill(n)((next() | 1L, next()))
  }

  /** MinHash + banded LSH near-duplicate *candidate* pairs.
    *
    * shingle(=token-set) → numHashes-wide minhash signature → split into
    * `bands` bands → hash each band → self-join on (band, bandHash).
    * Two docs collide in a band iff that band of their signatures is
    * identical, giving the standard S-curve candidate probability
    * 1-(1-j^r)^b. Candidate generation cost is O(docs·bands) rows plus a
    * hash-shuffle on the band buckets — never O(n²) over the corpus.
    *
    * The signature is computed with nested HOF expressions (no shuffle,
    * no UDF): one `array_min(transform(tokens, affine∘xxhash64))` per hash.
    */
  /** One row per (doc, band): the banded minhash bucket assignment shared
    * by [[minHashLshCandidates]] and [[minHashLshEdges]].
    *
    * Signature: explode tokens once, evaluate all hash families in one
    * codegen'd projection, then min-aggregate per doc. The nested-HOF
    * alternative (array_min∘transform per family) avoids the shuffle but
    * drops out of whole-stage codegen — measured 10x slower. The
    * groupBy(min) shape map-side combines, so the shuffle moves one row
    * per (doc, numHashes longs) regardless of document length. Band rows
    * come from a single explode so the signature is evaluated once per doc
    * (a per-band union would recompute it once per band).
    * Hash: reduce the token hash mod P *before* the affine multiply:
    * a,h < 2^31 keeps a·h < 2^62 — no ANSI long overflow.
    */
  private def minHashBandRows(df: DataFrame, text: Column, id: Column,
                              numHashes: Int, bands: Int, ngram: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val consts = affineConsts(numHashes)
    val tok = df.select(id.as("doc_id"), explode(shingles(text, ngram)).as("t"))
      .withColumn("th", pmod(xxhash64(col("t")), lit(MinHashP)))
    val hashCols = consts.zipWithIndex.map { case ((a, b), i) =>
      pmod(lit(a) * col("th") + lit(b), lit(MinHashP)).as(s"th$i")
    }
    val sig = tok.select(col("doc_id") +: hashCols: _*)
      .groupBy(col("doc_id"))
      .agg(min(col("th0")).as("h0"),
        (1 until numHashes).map(i => min(col(s"th$i")).as(s"h$i")): _*)
    val bandStructs = (0 until bands).map { j =>
      val parts = (0 until rows).map(r => col(s"h${j * rows + r}"))
      struct(lit(j).as("band"), xxhash64(parts :+ lit(j): _*).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.band_hash").as("band_hash"))
  }

  def minHashLshCandidates(df: DataFrame, text: Column, id: Column,
                           numHashes: Int, bands: Int,
                           ngram: Int = 1): DataFrame = {
    val bandRows = minHashBandRows(df, text, id, numHashes, bands, ngram)
    val l = bandRows.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
    val r = bandRows.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
    l.join(r, Seq("band", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Scale variant of [[minHashLshCandidates]]: per band bucket, emit only
    * (bucket-min, member) spanning edges instead of all pairs — O(docs ×
    * bands) output instead of quadratic in bucket size. On dup-heavy
    * corpora (the norm in web-scale dedup: one viral page -> 10^5 copies)
    * all-pairs is O(cluster²) and melts down exactly where dedup matters
    * most; spanning edges preserve the connectivity the downstream
    * keep-one-per-component step needs, losing only the redundant edges.
    */
  def minHashLshEdges(df: DataFrame, text: Column, id: Column,
                      numHashes: Int, bands: Int,
                      ngram: Int = 1): DataFrame = {
    val bandRows = minHashBandRows(df, text, id, numHashes, bands, ngram)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    bandRows.withColumn("rep", min(col("doc_id")).over(w))
      .where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Engine-portable MinHash + banded LSH spanning edges: the same S-curve
    * banding as [[minHashLshEdges]], but the hash family is
    * `h_i(tok) = md5(i ':' tok)` compared lexicographically (the minhash
    * is the smallest hex digest per family) and the band key is
    * `md5(h_jr '|' ... '|' h_jr+r-1 '|' j)`. md5 and byte-wise string
    * order are defined identically in every engine, so — unlike the
    * xxhash64 family, which only Spark implements — the full candidate
    * structure is reproducible in portable SQL and the `d2b` gate
    * hash-checks it end to end. Costs ~2x the xxhash64 signature (16-byte
    * digests + string mins vs 8-byte longs); same plan shape, same
    * O(docs·bands) edge output. Prefer [[minHashLshEdges]] when
    * cross-engine reproducibility isn't needed.
    */
  def minHashLshEdgesPortable(df: DataFrame, text: Column, id: Column,
                              numHashes: Int, bands: Int,
                              ngram: Int = 1): DataFrame =
    spanningEdgesFromBandRows(
      minHashBandRowsPortable(df, text, id, numHashes, bands, ngram))

  /** The band-row stage of [[minHashLshEdgesPortable]]: one
    * `(doc_id, band, band_hash)` row per (doc, band) under the portable
    * md5 family. Exposed so incremental/streaming maintenance
    * ([[graft.curation.Curation.incrementalLshHistogramBatch]]) can STAGE
    * exactly the rows the batch form derives its buckets from — the
    * candidate structure is then reproducible from the staged history
    * alone, in any engine.
    */
  def minHashBandRowsPortable(df: DataFrame, text: Column, id: Column,
                              numHashes: Int, bands: Int,
                              ngram: Int = 1): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val tok = df.select(id.as("doc_id"), explode(shingles(text, ngram)).as("t"))
    val hashCols = (0 until numHashes).map(i =>
      md5(concat(lit(s"$i:"), col("t"))).as(s"th$i"))
    val sig = tok.select(col("doc_id") +: hashCols: _*)
      .groupBy(col("doc_id"))
      .agg(min(col("th0")).as("h0"),
        (1 until numHashes).map(i => min(col(s"th$i")).as(s"h$i")): _*)
    val bandStructs = (0 until bands).map { j =>
      val parts = (0 until rows).map(r => col(s"h${j * rows + r}"))
      struct(lit(j).as("band"),
        md5(concat_ws("|", parts :+ lit(j.toString): _*)).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.band_hash").as("band_hash"))
  }

  /** Spanning edges (bucket-min → member) over a band-row frame —
    * deterministic in the SET of band rows, so a touched-bucket recompute
    * from staged history reproduces exactly the global edge set. `carry`
    * columns (e.g. the incremental store's partition bucket — constant
    * within a (band, band_hash) group by construction) ride through to
    * the output and participate in the distinct; the ONE edge-derivation
    * rule lives here for both the one-shot and the incremental path.
    */
  def spanningEdgesFromBandRows(bandRows: DataFrame,
                                carry: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    bandRows.withColumn("rep", min(col("doc_id")).over(w))
      .where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a") +: col("doc_id").as("doc_b") +:
        carry.map(col): _*)
      .distinct()
  }

  /** CORPUS-level resemblance between key groups (sources, snapshots,
    * crawls): one k-MinHash signature per key over the UNION of its
    * documents' shingles, then the estimated Jaccard between every key
    * pair = the fraction of agreeing signature components — the standard
    * sketch answer to "how much does crawl B overlap crawl A" without
    * ever joining their contents. Uses the portable md5 hash family of
    * [[minHashLshEdgesPortable]], so the whole sketch is reproducible in
    * SQL and the `c12` gate hash-checks every component agreement.
    *
    * Scale shape: one corpus scan + one `min`-combiner aggregation to
    * #keys rows (map-side combine absorbs the explode), then a pair join
    * on the TINY signature frame (#keys² pairs of k-string arrays — for
    * thousands of sources this is still driver-trivial). The estimator's
    * standard error is 1/√k; raise `numHashes` for tighter audits.
    */
  def corpusResemblance(df: DataFrame, text: Column, key: Column,
                        numHashes: Int = 16, ngram: Int = 1): DataFrame = {
    val tok = df.select(key.as("key"), explode(shingles(text, ngram)).as("t"))
    val hashCols = (0 until numHashes).map(i =>
      md5(concat(lit(s"$i:"), col("t"))).as(s"th$i"))
    val sig = tok.select(col("key") +: hashCols: _*)
      .groupBy(col("key"))
      .agg(min(col("th0")).as("h0"),
        (1 until numHashes).map(i => min(col(s"th$i")).as(s"h$i")): _*)
    val a = sig.select(col("key").as("key_a") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"a$i")): _*)
    val b = sig.select(col("key").as("key_b") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"b$i")): _*)
    val agree = (0 until numHashes).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    a.join(b, col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"), agree.as("n_agree"),
        round(agree.cast("double") / numHashes, 6).as("est_jaccard"))
  }

  /** LSH-then-verify: exact Jaccard computed only on candidate pairs
    * (O(candidates), not O(n²)) — the standard second stage after
    * [[minHashLshCandidates]]/[[minHashLshEdges]], dropping the
    * false positives the banding S-curve lets through.
    */
  def verifyJaccard(df: DataFrame, text: Column, id: Column,
                    edges: DataFrame, threshold: Double,
                    ngram: Int = 1): DataFrame = {
    val d = df.select(id.as("vid"), shingles(text, ngram).as("vtoks"))
    val a = d.select(col("vid").as("doc_a"), col("vtoks").as("toks_a"))
    val b = d.select(col("vid").as("doc_b"), col("vtoks").as("toks_b"))
    val inter = size(array_intersect(col("toks_a"), col("toks_b"))).cast("double")
    val jac = inter /
      (size(col("toks_a")) + size(col("toks_b")) - inter)
    edges.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("jac", jac)
      .where(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** Connected components over near-dup candidate edges by iterative
    * min-label propagation *with pointer jumping*: each round every node
    * adopts the smallest label among itself and its neighbors, then
    * shortcuts to its label's label (comp := comp(comp)). Plain propagation
    * alone needs O(diameter) rounds (a maxIter-hop chain would silently
    * split); the shortcut halves chain depth every round, giving true
    * O(log diameter) convergence — star-shaped [[minHashLshEdges]] graphs
    * converge in 2. Returns (node, comp). The driver-side loop runs fully
    * distributed joins; the convergence probe is a count, not a collect.
    * Throws if maxIter rounds don't reach the fixpoint — a silently
    * unconverged result would hand duplicates to keep-one downstream.
    *
    * Checkpoint lifecycle: each round's labels are freed as soon as the
    * next round is materialized ([[Checkpoint.next]]), and the symmetrized
    * edge set on exit — blocks in flight stay O(1), not O(rounds). The
    * RETURNED frame is a projection of the last round's block, which the
    * caller's scope owns.
    *
    * Rejected alternative (round 10): min-neighbor CONTRACTION (merge each
    * node into min(self, neighbors), rewrite edges, compose mappings). It
    * measured ~25% faster on the clique-heavy sf0.1 rep graph (4 rounds,
    * shrinking edge set) but is O(chain length) — not O(log) — on a path
    * whose ids ascend along the path: every node hooks exactly one step
    * down, the path shrinks by ONE node per round (DedupSpec's 20-group
    * overlap chain hit maxIter, and Catalyst's size-estimation BigInts go
    * exponential in round count on the way there). Propagation + jumping
    * has no such degenerate family. A provably-logarithmic contraction
    * needs large-star/small-star alternation — more joins per round than
    * it saves here.
    *
    * Also rejected (round 10): fusing TWO propagation rounds per
    * materialization to halve checkpoint/probe actions. Measured ~20%
    * WORSE across every components consumer at sf0.1: the second round's
    * prop join then runs against an unmaterialized, stats-less label
    * frame, so AQE loses the broadcast decision the per-round
    * materialization feeds it — the extra action is cheaper than the
    * degraded join strategy. Likewise pre-repartitioning sym/labels on
    * the join keys before each checkpoint (hoping to drop exchanges from
    * the round): measured a wash — the explicit repartition pays its own
    * exchange and the round's remaining exchanges are tiny-data
    * scheduling cost either way.
    */
  def components(edges: DataFrame, maxIter: Int = 20): DataFrame = Checkpoint.scope {
    val sym = symmetrized(edges)
    // a small edge list is solved on the driver with union-find instead
    // of paying the loop's fixed costs — every propagation round is 2 jobs
    // (checkpoint + convergence probe) over a graph that here often holds
    // a few thousand edges. This is the standard production-CC shape
    // (GraphFrames' own CC collapses the quotient graph locally once it
    // fits), and componentsIncremental's label-graph input is O(new
    // connectivity), exactly the frame it is meant for. Same output: min
    // node id per component. Long ids only (the LongMap below).
    val local =
      if (!sym.schema.fields.forall(_.dataType == LongType)) None
      else DriverSolve(sym, Seq("u", "v"))(rows =>
        edges.sparkSession.createDataFrame(localComponents(rows),
          StructType(Seq(StructField("node", LongType),
            StructField("comp", LongType)))))
    local.getOrElse(componentsLoop(sym, maxIter, null))
  }

  /** [[components]]' distributed loop alone, never the driver path.
    * `onRound`, when non-null, receives `(round, seconds, converged)` after
    * every propagation+jump round — the instrumentation hook Prof uses for
    * per-round attribution of the REAL loop (a mirrored copy silently
    * measured a stale plan once; round-10 advice).
    */
  private[graft] def componentsDistributed(edges: DataFrame, maxIter: Int = 20,
      onRound: (Int, Double, Boolean) => Unit = null): DataFrame =
    Checkpoint.scope(componentsLoop(symmetrized(edges), maxIter, onRound))

  // eager localCheckpoint (not persist) each round: iterative plans grow
  // linearly in lineage, so analysis cost goes quadratic and any cache
  // eviction triggers exponential recompute — checkpointing truncates the
  // plan to the materialized result (standard iterative-Spark hygiene)
  // endpoint types must agree: a union would otherwise widen them (Int
  // and String to String) and fail inside a task on the first cast back
  private def symmetrized(edges: DataFrame): DataFrame = {
    require(edges.schema("doc_a").dataType == edges.schema("doc_b").dataType,
      s"edge endpoint types differ: ${edges.schema("doc_a").dataType} vs " +
        s"${edges.schema("doc_b").dataType}")
    Checkpoint(edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(edges.select(col("doc_b").as("u"), col("doc_a").as("v"))))
  }

  /** Union-find over (u, v) rows: (node, min node id of its component),
    * by node. */
  private def localComponents(rows: Array[Row]): java.util.List[Row] = {
    val parent = mutable.LongMap.empty[Long]
    def find(a: Long): Long = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var x = a
      while (parent(x) != r) { val nx = parent(x); parent(x) = r; x = nx }
      r
    }
    rows.foreach { row =>
      val u = row.getLong(0); val v = row.getLong(1)
      if (!parent.contains(u)) parent(u) = u
      if (!parent.contains(v)) parent(v) = v
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent(ru) = rv
    }
    val minOf = mutable.LongMap.empty[Long]
    parent.keysIterator.foreach { n =>
      val r = find(n)
      minOf(r) = math.min(minOf.getOrElse(r, n), n)
    }
    val out = new java.util.ArrayList[Row](parent.size)
    parent.keysIterator.toSeq.sorted.foreach(n => out.add(Row(n, minOf(find(n)))))
    out
  }

  private def componentsLoop(sym: DataFrame, maxIter: Int,
                             onRound: (Int, Double, Boolean) => Unit): DataFrame = {
    // Fused init: with identity labels, round 1's propagate ⋈ groupBy(min)
    // reduces to min(self, min-neighbor) straight off the edge list — one
    // aggregation replaces the distinct + identity init + first join round
    // (every node appears as `v` in the symmetrized frame, so coverage is
    // identical to the old distinct).
    var labels = Checkpoint(sym.groupBy(col("v")).agg(min(col("u")).as("__mn"))
      .select(col("v").as("node"), least(col("v"), col("__mn")).as("comp")))
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val roundT0 = System.nanoTime()
      val prop = sym.join(labels, sym("u") === labels("node"))
        .groupBy(col("v").as("p_node")).agg(min(col("comp")).as("neighbor_min"))
      val stepped = labels.join(prop, labels("node") === prop("p_node"), "left")
        .select(col("node"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("neighbor_min"), col("comp"))).as("comp"))
      // pointer jumping: comp := comp(comp). Every label is itself a node id
      // (labels start as node ids and only propagate mins of node ids), so
      // the lookup always resolves; coalesce guards the self-label rows.
      val lut = stepped.select(col("node").as("c_node"), col("comp").as("c_comp"))
      // prev rides along in the materialized frame so the convergence probe
      // is a filter on the cached block, not another join against the old
      // labels — one fewer job per round. (A second shortcut per round —
      // comp := comp(comp(comp)) — was tried and reverted: round count on
      // the sf0.1 near-dup graphs stayed 5, because the binding constraint
      // is min-label DISTANCE through the graph, which only the prop step
      // advances; deeper jumps just paid one more join per round.)
      labels = Checkpoint.next(labels,
        stepped.join(lut, stepped("comp") === lut("c_node"), "left")
          .select(col("node"), col("prev"),
            least(col("comp"), coalesce(col("c_comp"), col("comp"))).as("comp")))
      done = labels.filter(col("comp") =!= col("prev")).limit(1).count() == 0
      if (onRound != null)
        onRound(i, (System.nanoTime() - roundT0) / 1e9, done)
      i += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"components() did not converge in $maxIter rounds — raise maxIter")
    labels.select(col("node"), col("comp"))
  }

  /** INCREMENTALLY extend a component labeling with NEW edges, without
    * re-running components over the old edge history: the old labeling
    * is a quotient of the old graph, so CC(old ∪ new) =
    * expand(CC(quotient)): map each new edge endpoint through its
    * current label (identity where unseen), run [[components]] over the
    * resulting LABEL-graph — whose size is bounded by the new edge
    * count, not the corpus — then compose `label' = merged(label)`.
    * Labels remain cluster-min doc ids (quotient nodes are min ids and
    * min propagates), so the result is bit-identical to a full
    * [[components]] over the union (DedupSpec pins it on random graphs).
    *
    * This is the at-scale maintenance path for anything
    * components-shaped that ingests edges in batches — e.g. the d12c
    * LSH-histogram store, whose read currently re-clusters the full
    * edge store; with a persisted label snapshot each batch pays
    * O(new edges), and merges only ever COLLAPSE labels (monotone), so
    * replays are natural no-ops. Endpoints absent from `oldLabels` are
    * auto-initialized to identity; edge-LESS new docs are the caller's
    * to append as identity rows (they are singletons by definition).
    * Returns the full updated `(node, comp)` labeling, checkpointed.
    */
  def componentsIncremental(oldLabels: DataFrame,
                            newEdges: DataFrame): DataFrame = Checkpoint.scope {
    // newEdges is scanned three times below (ends + both quotient-map
    // joins) and in the batch path it is the FULL parquet edge store —
    // materialize the 2-long projection once so per-batch cost doesn't
    // re-pay three complete store scans as the store grows
    val ne = Checkpoint(newEdges.select(col("doc_a"), col("doc_b")))
    val ends = ne.select(col("doc_a").as("node"))
      .unionByName(ne.select(col("doc_b").as("node"))).distinct()
    // feeds the quotient map AND the composition
    val base = Checkpoint(oldLabels.select(col("node"), col("comp"))
      .unionByName(ends.join(oldLabels.select(col("node")), Seq("node"),
          "left_anti")
        .select(col("node"), col("node").as("comp"))))
    // components scans its edges twice (sym union)
    val qEdges = Checkpoint(ne
      .join(base.select(col("node").as("doc_a"), col("comp").as("__ca")),
        Seq("doc_a"))
      .join(base.select(col("node").as("doc_b"), col("comp").as("__cb")),
        Seq("doc_b"))
      .select(col("__ca").as("doc_a"), col("__cb").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct())
    val merged = components(qEdges) // label-graph: bounded by |newEdges|
    Checkpoint(base
      .join(merged.select(col("node").as("__mn"), col("comp").as("__mc")),
        base("comp") === col("__mn"), "left")
      .select(col("node"), coalesce(col("__mc"), col("comp")).as("comp")))
  }

  /** The keep-one-per-component dedup action: drops every doc whose
    * component representative is a different (smaller-id) doc. Docs with no
    * candidate edges survive untouched (left anti join on the non-rep set).
    *
    * Checkpoint lifecycle: the loser-id set (small: one id per dropped doc)
    * is materialized so the scope frees the full component label set; the
    * returned frame stays LAZY over the corpus (its output is corpus-sized —
    * never force that here) and retains only that one small block.
    */
  def keepOnePerComponent(df: DataFrame, id: Column, edges: DataFrame): DataFrame =
    Checkpoint.scope {
      val losers = Checkpoint(components(edges)
        .filter(col("node") =!= col("comp"))
        .select(col("node")))
      df.join(losers, id === losers("node"), "left_anti")
    }

  /** 32-bit SimHash fingerprint per document: for each bit position, sum
    * +1/-1 token votes (by that bit of the token's murmur hash); the
    * fingerprint sets the bits with positive vote sums. Near-dup docs are
    * the ones at small Hamming distance (`simHashNearPairs`).
    */
  def simHash(df: DataFrame, text: Column, id: Column): DataFrame = {
    val bitCols = (0 until 32).map { b =>
      val vote = aggregate(col("toks"), lit(0L),
        (acc, t) => acc +
          when(shiftright(xxhash64(t), b).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    df.select(id.as("doc_id"), tokens(text).as("toks"))
      .select(col("doc_id"), bitCols.reduce(_ + _).as("simhash"))
  }

  /** Containment (exact-substring) dedup pairs: `(doc_inner, doc_outer)`
    * where the inner document's full token sequence appears contiguously
    * inside the outer's (token-boundary-safe via space padding) — the
    * document-granular form of exact-substring training-data dedup
    * (snippets, quoted articles, partial re-crawls; near-dup Jaccard
    * misses these when the outer doc is much longer). Equal-text pairs
    * (containment both ways) emit once, later id as the inner.
    *
    * Candidate generation is a PPJoin-flavored equi-join, never a cross
    * product: if the inner appears contiguously in the outer, then EVERY
    * n-gram of the inner is one of the outer's n-grams — so candidates =
    * (block, one chosen gram of inner) ⋈ (block, any-gram of outer), then
    * one `contains` verify per distinct candidate pair, complete for any
    * choice of the inner's gram. Complete for inner docs with >= `ngram`
    * tokens; shorter docs are excluded (route them through exact dedup —
    * sub-n-gram substring matching is noise).
    *
    * `rarestGram = false` keys each inner on its FIRST gram (zero extra
    * passes). That key skews under boilerplate openers — a licence header
    * or "the quick brown…" opener makes ONE join key hold a large share
    * of inner docs — so `rarestGram = true` is the skew-hardened scale
    * path: one doc-frequency pass over the outer postings, then each
    * inner keys on its LOWEST-frequency gram (ties → earliest position;
    * the standard rare-token candidate trick). A shared opener then only
    * matters for docs ENTIRELY made of common grams, and each inner's
    * candidate list is bounded by its rarest gram's postings — within ~2×
    * of optimal for any gram choice (SkewSpec pins both the bound and
    * result equality). The outer postings generate twice in that mode
    * (freq pass + candidate join) — scan-bound regeneration through the
    * native NGrams expression, deliberately not checkpointed (the frame
    * is corpus × grams sized; the no-text-checkpoint rule).
    *
    * At 100 TB: candidates are O(matches of the chosen gram), and the
    * distinct runs on ids with texts re-joined per candidate.
    */
  def containmentPairs(df: DataFrame, text: Column, id: Column,
                       blockCol: String, ngram: Int = 3,
                       rarestGram: Boolean = false): DataFrame = {
    val d = df.select(col(blockCol).as("blk"), id.as("doc_id"), text.as("t"),
      length(text).as("len"), size(split(text, " ")).as("n"))
    val cand = containmentCandidates(d, ngram, rarestGram)
    val a = d.select(col("doc_id").as("inner_id"), col("t").as("t_in"),
      col("len").as("len_in"))
    val b = d.select(col("doc_id").as("outer_id"), col("t").as("t_out"),
      col("len").as("len_out"))
    cand.join(a, Seq("inner_id")).join(b, Seq("outer_id"))
      .where(concat(lit(" "), col("t_out"), lit(" "))
          .contains(concat(lit(" "), col("t_in"), lit(" "))) &&
        (col("len_in") < col("len_out") ||
          (col("len_in") === col("len_out") &&
            col("inner_id") > col("outer_id"))))
      .select(col("inner_id").as("doc_inner"), col("outer_id").as("doc_outer"))
  }

  /** Candidate stage of [[containmentPairs]] — ids only (the distinct
    * must never hash corpus-sized text); exposed for SkewSpec's bound
    * assertions. `d` columns: (blk, doc_id, t, len, n).
    */
  private[graft] def containmentCandidates(d: DataFrame, ngram: Int,
                                           rarestGram: Boolean): DataFrame = {
    // r21 (§2.3 — shuffle keys, not payloads): every candidate-routing
    // stage keys on xxhash64(gram) longs instead of the W-token gram
    // string — the posting aggregate, the df lookup, the candidate
    // equi-join, and their exchanges move 8 bytes per gram. Correctness
    // is unchanged BY CONSTRUCTION: hash equality is implied by gram
    // equality, so the hashed candidate set is a superset of the string
    // one (a 64-bit collision can only ADD a spurious candidate) and the
    // `contains` verify in containmentPairs decides membership on the
    // real text either way; in rarest mode a collision can only merge
    // two grams' df counts and route an inner through a different —
    // still complete — gram choice.
    val outerKeys = d.select(col("blk"),
      explode(shingles(col("t"), ngram)).as("g0"),
      col("doc_id").as("outer_id"))
      .select(col("blk"), xxhash64(col("g0")).as("g"), col("outer_id"))
    val innerKeys =
      if (!rarestGram)
        d.filter(col("n") >= ngram)
          .select(col("blk"),
            xxhash64(array_join(slice(split(col("t"), " "), 1, ngram), " "))
              .as("g"),
            col("doc_id").as("inner_id"))
      else {
        // doc frequency over the outer postings (block-local), then each
        // inner keys on its min-(freq, pos) gram. Every inner doc is its
        // own outer posting, so the lookup never misses.
        val freq = outerKeys.groupBy(col("blk"), col("g"))
          .agg(count(lit(1)).as("__df"))
        d.filter(col("n") >= ngram)
          .select(col("blk"),
            posexplode(shingles(col("t"), ngram)).as(Seq("pos", "g0")),
            col("doc_id").as("inner_id"))
          .select(col("blk"), col("pos"), xxhash64(col("g0")).as("g"),
            col("inner_id"))
          .join(freq, Seq("blk", "g"))
          .groupBy(col("inner_id"), col("blk"))
          .agg(min(struct(col("__df"), col("pos"), col("g"))).as("m"))
          .select(col("blk"), col("m.g").as("g"), col("inner_id"))
      }
    innerKeys.join(outerKeys, Seq("blk", "g"))
      .where(col("inner_id") =!= col("outer_id"))
      .select(col("inner_id"), col("outer_id")).distinct()
  }

  /** Engine-portable SimHash twin of [[simHash]]: per-token bits come from
    * the portable base-31 rolling hash (`Fns.rollingHash`, < 2^30) instead
    * of xxhash64, so the entire fingerprint is reproducible in portable
    * SQL and the `d3b` gate hash-checks every bit (a vote miscount or
    * sign slip flips the fingerprint). Parity path: the per-token hash is
    * a nested HOF fold (interpreted) — [[simHash]]'s codegen'd xxhash64
    * stays the scale path; banding/near-pair mechanics are shared.
    */
  def simHashPortable(df: DataFrame, text: Column, id: Column,
                      nBits: Int = 24): DataFrame = {
    require(nBits > 0 && nBits <= 30, s"nBits must be in (0, 30]: $nBits")
    val hs = transform(tokens(text), t => Fns.rollingHash(t))
    val bitCols = (0 until nBits).map { b =>
      val vote = aggregate(col("hs"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    df.select(id.as("doc_id"), hs.as("hs"))
      .select(col("doc_id"), bitCols.reduce(_ + _).as("simhash"))
  }

  /** Hamming-near SimHash pairs, blocked by signature bands: split the
    * 32-bit fingerprint into `maxDist + 1` contiguous bands — by pigeonhole,
    * two fingerprints within Hamming distance ≤ maxDist agree *exactly* on
    * at least one band, so the self-join runs on (band, band-bits) buckets,
    * not all pairs, and candidate recall is complete (fewer bands would
    * silently drop pairs that differ by one bit in each band).
    */
  def simHashNearPairs(df: DataFrame, text: Column, id: Column,
                       maxDist: Int = 1): DataFrame =
    hammingNearPairs(simHash(df, text, id), 32, maxDist)

  /** [[simHashNearPairs]] over the engine-portable rolling-hash
    * fingerprint family ([[simHashPortable]]) — same pigeonhole banding,
    * but every fingerprint bit, band key, and Hamming distance is
    * reproducible in portable SQL, so the pair set (and anything built
    * on it, e.g. the d15 agreement audit) is oracle-gatable end to end.
    */
  def simHashNearPairsPortable(df: DataFrame, text: Column, id: Column,
                               nBits: Int = 24, maxDist: Int = 2): DataFrame =
    hammingNearPairs(simHashPortable(df, text, id, nBits), nBits, maxDist)

  /** Banded Hamming-near pair generation over a `(doc_id, simhash)`
    * fingerprint frame: split the `nBits` fingerprint into `maxDist + 1`
    * contiguous bands — by pigeonhole, two fingerprints within Hamming
    * distance ≤ maxDist agree exactly on at least one band, so the
    * self-join runs on (band, band-bits) buckets with complete recall.
    * Shared by the xxhash64 and portable fingerprint families.
    */
  private[graft] def hammingNearPairs(fp: DataFrame, nBits: Int,
                                      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < nBits,
      s"maxDist must be in [0, $nBits): $maxDist")
    val nBands = maxDist + 1
    val bandStructs = (0 until nBands).map { j =>
      val lo = j * nBits / nBands
      val width = (j + 1) * nBits / nBands - lo
      struct(lit(j).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1)).as("key"))
    }
    val keyed = fp.select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("blk"))
      .select(col("doc_id"), col("simhash"), col("blk.band"), col("blk.key"))
    val l = keyed.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val r = keyed.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** Edit-distance near-dup pairs: documents in the same
    * (lang, prefix-length-bucket) block whose normalized `prefixLen`-char
    * prefixes are within `maxDist` Levenshtein edits — same RESULT
    * contract as ever (the oracle is unchanged), but candidate generation
    * is a Pass-Join partition equi-join, not a per-block cross product
    * (the old (lang, length DIV 8) block key held ~5 buckets per language,
    * so the join was effectively O(n²) per language — the one plan in the
    * repo that flatly died at 100×).
    *
    * Pass-Join pigeonhole (Li, Deng, Feng, Wang — VLDB'11): split the
    * indexed string into `maxDist + 1` segments; ≤ maxDist edits touch at
    * most maxDist of them, so at least one segment survives VERBATIM in
    * the other string, displaced only by the net insertions/deletions
    * before it. Candidates are therefore an equi-join on
    * (lang, target-length, segment-index, segment-chars) between per-doc
    * segment keys and per-doc substring probes — selective content keys,
    * never a block cross product. Displacement windows are multi-match-
    * aware: with δ = |probe| − |target|, insertions ≤ ⌊(k+δ)/2⌋ and
    * deletions ≤ ⌊(k−δ)/2⌋, so probe positions range over
    * [start − ⌊(k−δ)/2⌋, start + ⌊(k+δ)/2⌋] only (±⌊k/2⌋ for equal
    * lengths, not ±k — 2× fewer probes and candidates).
    *
    * Verify evaluates the THRESHOLDED levenshtein (early termination at
    * maxDist+1 cost, codegen'd) once per distinct candidate pair, keeping
    * the same-length-bucket semantic filter; distance >= length difference
    * prunes before that. Pairs whose SHORTER prefix has < maxDist+1 chars
    * can't be segmented non-trivially, so docs up to 2·maxDist chars take
    * an all-pairs route within (lang) — bounded: any partner of a
    * sub-segment-length doc is itself within maxDist of that tiny length.
    */
  def editDistancePairs(df: DataFrame, text: Column, id: Column,
                        lang: Column, prefixLen: Int = 32,
                        maxDist: Int = 5): DataFrame = Checkpoint.scope {
    // feeds segment keys, probes, and both verify sides
    val p = Checkpoint(df.filter(text.isNotNull)
      .select(id.as("doc_id"), lang.as("lang"),
        substring(lower(trim(text)), 1, prefixLen).as("pre"))
      .withColumn("len", length(col("pre"))))
    val cand = passJoinCandidates(p, maxDist)
    val a = p.select(col("doc_id").as("id_a"), col("pre").as("pre_a"),
      expr("len DIV 8").as("lb_a"))
    val b = p.select(col("doc_id").as("id_b"), col("pre").as("pre_b"),
      expr("len DIV 8").as("lb_b"))
    // result is pair-sized; lets the corpus block go
    Checkpoint(cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .where(col("lb_a") === col("lb_b")) // the length-bucket block semantic
      .withColumn("dist",
        levenshtein(col("pre_a"), col("pre_b"), maxDist).cast("long"))
      .where(col("dist") >= 0) // thresholded form returns -1 above maxDist
      .select(col("id_a"), col("id_b"), col("dist")))
  }

  /** (start, length) of 1-based segment `i` of a length-`L` string split
    * into `nSeg` contiguous segments: the first `nSeg - L%nSeg` get
    * ⌊L/nSeg⌋ chars, the rest one extra (the canonical even partition).
    */
  private def segBounds(L: Column, i: Column, nSeg: Int): (Column, Column) = {
    val base = floor(L / nSeg).cast("int")
    val rem = pmod(L, lit(nSeg))
    val ln = base + when(i > lit(nSeg) - rem, 1).otherwise(0)
    val st = lit(1) + (i - 1) * base + greatest(lit(0), i - 1 - (lit(nSeg) - rem))
    (st, ln)
  }

  /** Candidate stage of [[editDistancePairs]] over the prepared frame
    * `(doc_id, lang, pre, len)`: distinct (id_a < id_b) pairs whose
    * prefixes share a Pass-Join segment match (complete for edit distance
    * ≤ maxDist). Package-private so SkewSpec can pin the candidate count —
    * the quantity that decides whether the plan survives 100×.
    */
  private[graft] def passJoinCandidates(p: DataFrame, maxDist: Int): DataFrame = {
    val k = maxDist
    val nSeg = k + 1
    // Index side: docs long enough for non-empty segments emit one row per
    // segment, keyed on the verbatim segment content at its position.
    val iCol = explode(sequence(lit(1), lit(nSeg))).as("i")
    val idxBase = p.filter(col("len") >= nSeg)
      .select(col("lang"), col("len").as("L"), col("doc_id"), col("pre"), iCol)
    val (ist, iln) = segBounds(col("L"), col("i"), nSeg)
    val idx = idxBase.select(col("lang"), col("L"), col("i"),
      col("doc_id").as("doc_b"), col("pre").substr(ist, iln).as("chars"))
    // Probe side: enumerate only target lengths that EXIST per language
    // (tiny broadcast frame — ≤ languages × prefixLen rows), within the
    // length-difference and length-bucket prefilters (distance ≥ |Δlen|;
    // the bucket filter is the d13 block semantic pushed into candidates).
    val lens = p.select(col("lang"), col("len").as("L")).distinct()
    val probeBase = p.join(broadcast(lens), Seq("lang"))
      .where(abs(col("len") - col("L")) <= k && col("L") >= nSeg &&
        expr("len DIV 8") === expr("L DIV 8"))
      .select(col("lang"), col("doc_id"), col("pre"), col("len"), col("L"), iCol)
    val (pst, pln) = segBounds(col("L"), col("i"), nSeg)
    val delta = col("len") - col("L")
    val jLo = greatest(lit(1),
      (pst - floor((lit(k) - delta) / 2)).cast("int"))
    val jHi = least(col("len") - pln + 1,
      (pst + floor((lit(k) + delta) / 2)).cast("int"))
    val probe = probeBase
      .select(col("lang"), col("L"), col("i"), col("doc_id"), col("pre"),
        pln.as("ln"),
        explode(when(jLo <= jHi, sequence(jLo, jHi))
          .otherwise(array().cast("array<int>"))).as("j"))
      .select(col("lang"), col("L"), col("i"), col("doc_id").as("doc_a"),
        col("pre").substr(col("j"), col("ln")).as("chars"))
      .distinct() // windows overlap: repetitive prefixes emit the same key
    val segCand = probe.join(idx, Seq("lang", "L", "i", "chars"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    // Short route: a pair whose shorter prefix is sub-segment-length has
    // both members ≤ nSeg-1+k chars (distance ≥ length difference), so the
    // all-pairs join runs over the bounded tiny-doc set only.
    val shorts = p.filter(col("len") <= nSeg - 1 + k)
    val shortCand = shorts
      .select(col("lang"), col("doc_id").as("id_a"), col("len").as("len_a"))
      .join(shorts.select(col("lang"), col("doc_id").as("id_b"),
        col("len").as("len_b")), Seq("lang"))
      .where(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= k)
      .select(col("id_a"), col("id_b"))
    segCand.unionByName(shortCand).distinct()
  }
}
