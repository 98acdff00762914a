package graft.tools

import graft.{Checkpoint, Tables}
import graft.dedup.Dedup
import graft.curation.Curation
import graft.queries.Drives
import org.apache.spark.sql.functions._

/** Scale-sanity probe (not part of the driver contract): run the heavy
  * dedup/curation operators on a synthetic 10x corpus (documents unioned
  * with shifted ids/sources so blocks don't collapse) and print wall
  * times, to observe how the plans scale beyond the largest generated SF.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.Session(32)
    // optional 3rd arg: comma-separated label prefixes to run (dev aid —
    // e.g. "c9,c10,d11b" probes just those at a high mult)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    def t(name: String)(f: => Long): Unit =
      if (only.forall(_.exists(name.startsWith))) {
        val t0 = System.nanoTime()
        val n = f
        println(f"SCALE $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    // a probe whose checkpoints are freed when it returns
    def ts(name: String)(f: => Long): Unit = t(name)(Checkpoint.scope(f))
    val docs = Tables.documents(spark, dir)
    val n0 = docs.count()
    // shifted copies: ids and sources offset per replica so near-dup blocks
    // keep their original size (block count scales, not block size). The
    // shift is a multiple of 47 so `doc_id % 47` slices (the c9 eval set)
    // select the SAME documents in every replica — otherwise each replica
    // contributes a different eval slice and decontamination nukes the
    // whole manifest at high mult.
    val big = Checkpoint((0 until mult).map { r =>
      docs.select(
        (col("doc_id") + lit(r.toLong * 1000019L)).as("doc_id"),
        concat(col("source"), lit(s"_r$r")).as("source"),
        col("lang"), col("text"))
    }.reduce(_ unionByName _))
    println(s"SCALE corpus ${n0} -> ${big.count()} docs (${mult}x)")
    t(s"d1 exact dedup ${mult}x") {
      Dedup.exactByCanonicalTokens(big, col("text"), col("doc_id")).count()
    }
    t(s"d4 prefix jaccard ${mult}x") {
      Dedup.jaccardPairsPrefix(big, col("text"), col("doc_id"),
        blockCol = "source", threshold = 0.9).count()
    }
    t(s"d6 3gram jaccard ${mult}x") {
      Dedup.jaccardPairsPrefix(big, col("text"), col("doc_id"),
        blockCol = "source", threshold = 0.5, ngram = 3).count()
    }
    t(s"d2 minhash edges ${mult}x") {
      Dedup.minHashLshEdges(big, col("text"), col("doc_id"), 16, 4).count()
    }
    t(s"d7 exact keep-one ${mult}x") {
      // replicas are exact dups of the base corpus, so the rep collapse
      // absorbs the replication before the pair stage — the action should
      // scale with UNIQUE content, not raw corpus size
      Dedup.keepOneNearDup(big, col("text"), col("doc_id"), 0.9).count()
    }
    t(s"c1 curate ${mult}x") {
      Curation.curate(big).count()
    }
    t(s"c3 pack sequences ${mult}x") {
      Curation.packSequences(big, col("text"), col("doc_id"), col("source"),
        512).count()
    }
    t(s"d2b md5 minhash edges ${mult}x") {
      Dedup.minHashLshEdgesPortable(big, col("text"), col("doc_id"), 8, 4).count()
    }
    t(s"d12 exact cluster hist ${mult}x") {
      // replicas are exact dups: the min_by rep collapse must absorb the
      // replication before the PPJoin, so this scales with unique content
      // (multiplicities just grow) — same property d7 probes
      Dedup.nearDupClusterHistogram(big, col("text"), col("doc_id"), 0.9)
        .count()
    }
    t(s"d12b lsh cluster hist ${mult}x") {
      // the O(docs × bands) scale twin: cost should grow ~linearly in the
      // corpus (band rows + component loop), never with pair density
      Dedup.lshClusterHistogram(big, col("text"), col("doc_id"),
        numHashes = 16, bands = 2).count()
    }
    t(s"c19 span dedup ${mult}x") {
      // the gram-keyed count is the only corpus shuffle; replicas multiply
      // gram counts but coverage work stays doc-local
      Curation.dedupSpansAcrossDocs(big, col("text"), col("doc_id"),
        window = 8).count()
    }
    t(s"c19b span dedup hashed ${mult}x") {
      // the 8-byte-key scale twin: the gram shuffle moves xxhash64 longs
      // instead of 8-token strings
      Curation.dedupSpansAcrossDocs(big, col("text"), col("doc_id"),
        window = 8, hashKeys = true).count()
    }
    ts(s"d14 dual labels + agreement ${mult}x") {
      // the store-build shape the d7/d12/d12b/d14 gates share: both
      // clusterings once (this is the dominant cost, ~d7+d12b), then the
      // agreement report is one contingency-table aggregation over the
      // label frame — at scale the labels persist and every audit panel
      // pays only the aggregation
      val labeled = Dedup.dualClusterLabels(big, col("text"), col("doc_id"),
        threshold = 0.9, numHashes = 16, bands = 2)
      val n = Dedup.agreementFromLabels(labeled).count()
      n
    }
    t(s"c19c incremental span store ${mult}x") {
      // the staged-maintenance path at scale: 3 ingestion batches (last
      // one smallest — its cost should track ITS buckets' history, not
      // corpus life), then one store read. Prints per-batch times.
      val base = Drives.tempDir("graft_probe_spanstore")
      (0 to 2).foreach { r =>
        val b = big.filter(pmod(col("doc_id"), lit(3)) === r)
        val t0 = System.nanoTime()
        Curation.incrementalSpanDedupBatch(b, r.toLong, s"$base/staged",
          s"$base/dups", window = 8, nBuckets = 64)
        println(f"SCALE   c19c batch $r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      Curation.spanDedupFromStore(spark, s"$base/staged", s"$base/dups",
        window = 8).count()
    }
    t(s"d12c incremental lsh store ${mult}x") {
      val base = Drives.tempDir("graft_probe_lshstore")
      (0 to 2).foreach { r =>
        val b = big.filter(pmod(col("doc_id"), lit(3)) === r)
        val t0 = System.nanoTime()
        Curation.incrementalLshHistogramBatch(b, r.toLong, s"$base/staged",
          s"$base/edges", numHashes = 16, bands = 2, nBuckets = 64)
        println(f"SCALE   d12c batch $r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      Curation.lshHistogramFromStore(spark, s"$base/staged", s"$base/edges")
        .count()
    }
    t(s"d15 simhash agreement ${mult}x") {
      // replicas are EXACT dups of the base corpus → identical
      // fingerprints; the fingerprint rep collapse must absorb the dup
      // mass before the banded self-join (an all-pairs bucket would be
      // O((mult·family)²) — the d7 absorption argument, probed)
      Dedup.simHashDedupAgreement(big, col("text"), col("doc_id"),
        threshold = 0.9, nBits = 24, maxDist = 2).count()
    }
    t(s"d12d labels inc ${mult}x") {
      // batch-wise label maintenance vs re-clustering, through the REAL
      // library ops (a hand-mirrored copy here once measured a stale
      // plan — round-10/11 advice): per batch, the staging phase runs
      // untimed, then the label phase (Curation.updateLabelsSnapshot —
      // snapshot read + componentsIncremental over the edge store
      // quotiented against current labels + versioned snapshot write) is
      // timed alone. The per-batch label cost must track NEW
      // connectivity, not edge history (printed per batch).
      val base = Drives.tempDir("graft_probe_lblinc")
      (0 to 2).foreach { r =>
        val b = big.filter(pmod(col("doc_id"), lit(3)) === r)
        Curation.incrementalLshHistogramBatch(b, r.toLong, s"$base/staged",
          s"$base/edges", numHashes = 16, bands = 2, nBuckets = 64)
        val t0 = System.nanoTime()
        Curation.updateLabelsSnapshot(b, r.toLong, s"$base/edges",
          s"$base/labels")
        println(f"SCALE   d12d cc batch $r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      Curation.readLabelsSnapshot(spark, s"$base/labels").count()
    }
    ts(s"d16 simhash label build ${mult}x") {
      // the store-build leg behind the d16 histogram at mult× dup mass:
      // replicas are exact dups ⇒ identical fingerprints, so the
      // fingerprint rep collapse must absorb the replication BEFORE the
      // banded self-join (cost tracks distinct fingerprints, not corpus
      // size — the label-expansion join is the only corpus-sized stage)
      val sc = Dedup.simHashDocLabels(big, col("text"), col("doc_id"),
        nBits = 24, maxDist = 2, "sc")
      val n = sc.count()
      n
    }
    t(s"mm9 image-text pair dedup ${mult}x") {
      // the fused decode+signature mapPartitions pass over REAL farbfeld
      // payloads (the mm9 gate's construction, image keyed on doc_id%7):
      // one corpus scan, one joint-key groupBy with map-side combine —
      // should be embarrassingly linear in corpus bytes
      import spark.implicits._
      val pairs = big.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val fam = id % 7
          val w = (4 + fam % 5).toInt
          val h = (3 + fam % 4).toInt
          (id, text, graft.multimodal.Multimodal.Farbfeld.encode(w, h,
            (i, c) => ((fam * 7919L + i.toLong * 31L + c.toLong * 101L)
              % 65536L).toInt))
        })
        .toDF("doc_id", "text", "payload")
      graft.multimodal.Multimodal
        .imageTextPairDedup(pairs, "doc_id", "payload", col("text")).count()
    }
    t(s"compaction read cost ${mult}x") {
      // staged-store lifecycle: ingest 12 small batches (per-batch dirs
      // accumulate), time the full recompute read, compact every bucket
      // to its batch_id=-1 snapshot, re-time the same read — the
      // post-compaction read must be no slower (fewer dirs listed and
      // opened; row set identical by the CurationSpec equivalence pin)
      import org.apache.spark.sql.types._
      val base = Drives.tempDir("graft_probe_compact")
      (0 to 11).foreach { r =>
        val b = big.filter(pmod(col("doc_id"), lit(12)) === r)
        Curation.incrementalLshHistogramBatch(b, r.toLong, s"$base/staged",
          s"$base/edges", numHashes = 16, bands = 2, nBuckets = 64)
      }
      val t0 = System.nanoTime()
      val nBefore = Curation
        .lshHistogramFromStore(spark, s"$base/staged", s"$base/edges").count()
      val tBefore = (System.nanoTime() - t0) / 1e9
      val stagedSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("band", IntegerType),
        StructField("band_hash", StringType),
        StructField("bucket", IntegerType),
        StructField("batch_id", LongType)))
      val tc0 = System.nanoTime()
      Curation.compactStagedStore(spark, s"$base/staged", stagedSchema)
      val tCompact = (System.nanoTime() - tc0) / 1e9
      val t1 = System.nanoTime()
      val nAfter = Curation
        .lshHistogramFromStore(spark, s"$base/staged", s"$base/edges").count()
      val tAfter = (System.nanoTime() - t1) / 1e9
      println(f"SCALE   compaction: read $tBefore%.2f s (12-batch store) -> " +
        f"$tAfter%.2f s (compacted), compact itself $tCompact%.2f s, " +
        s"rows $nBefore == $nAfter")
      require(nBefore == nAfter, "compaction changed the histogram")
      nAfter
    }
    t(s"c21 crawl dedup viral ${mult}x") {
      // the skew case the map-side combine must absorb: 90% of the
      // corpus is re-crawls of ONE url (same canonical key). With a
      // groupBy the dup mass collapses per map partition; a window/
      // row_number plan would funnel 0.9·corpus rows into one task.
      // Printed pair: viral vs uniform — times should be comparable.
      val urls = big.withColumn("url",
        when(col("doc_id") % 10 =!= 0,
          lit("HTTP://Viral.Example.COM:80/hot/page/?utm_source=x&b=2&a=1"))
          .otherwise(concat(lit("https://"), col("source"),
            lit(".example.com/"), col("doc_id"), lit("?a=1"))))
      val t0 = System.nanoTime()
      val nViral = Curation.crawlUrlGroups(urls, col("url"), col("doc_id"))
        .count()
      val tViral = (System.nanoTime() - t0) / 1e9
      val uniform = big.withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.com/"),
          col("doc_id"), lit("?a=1")))
      val t1 = System.nanoTime()
      val nUni = Curation.crawlUrlGroups(uniform, col("url"), col("doc_id"))
        .count()
      println(f"SCALE   c21 viral $tViral%.2f s ($nViral groups) vs " +
        f"uniform ${(System.nanoTime() - t1) / 1e9}%.2f s ($nUni groups)")
      nViral
    }
    t(s"c22 domain stats mega-domain ${mult}x") {
      // skew at the DOMAIN grain: one site owns ~90% of distinct pages
      // (distinct URLs — stage 1 collapses nothing for them). Stage 2's
      // map-side partials bound the mega-domain's reduce input by
      // #map-partitions, never #pages. Printed pair vs uniform domains.
      val urls = big.withColumn("url",
        when(col("doc_id") % 10 =!= 0,
          concat(lit("https://Mega.Example.COM/"), col("doc_id"),
            lit("?a=1")))
          .otherwise(concat(lit("https://"), col("source"),
            lit(".example.com/"), col("doc_id"), lit("?a=1"))))
      val t0 = System.nanoTime()
      val nMega = Curation.crawlDomainStats(urls, col("url"), col("doc_id"))
        .count()
      val tMega = (System.nanoTime() - t0) / 1e9
      val uniform = big.withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.com/"),
          col("doc_id"), lit("?a=1")))
      val t1 = System.nanoTime()
      val nUni = Curation.crawlDomainStats(uniform, col("url"),
        col("doc_id")).count()
      println(f"SCALE   c22 mega-domain $tMega%.2f s ($nMega domains) vs " +
        f"uniform ${(System.nanoTime() - t1) / 1e9}%.2f s ($nUni domains)")
      nMega
    }
    t(s"c11b calibrated mix ${mult}x") {
      // isolate the calibrated budget op: per-lang BPE calibration scan
      // (one regex pass + #langs-row agg), broadcast ratio join, then
      // the same single per-key window cumsum as the plain mix — cost
      // must track the plain mix + one scan, with NO extra shuffle
      val cal = graft.text.TextAnalysis
        .tokenCalibration(big, col("text"), col("lang"))
        .select(col("lang"), col("bpe_per_ws"))
      Curation.tokenBudgetMixCalibrated(
        big.select(col("doc_id"), col("source"), col("lang"),
          graft.text.TextAnalysis.nTokensCol(col("text")).as("n_tokens")),
        col("n_tokens"), col("lang"), col("source"),
        Seq(col("doc_id")), budget = 1000000L, calibration = cal).count()
    }
    ts(s"c11c mega-source mix ${mult}x") {
      // 90% of rows in ONE source: the plain budget mix funnels the
      // mega slice into a single prefix-sum task; the distributed form
      // spreads it across (source, bucket) tasks AND prunes buckets
      // past the budget before the window. Printed pair: scalable vs
      // exact window on the same frame.
      val mega = Checkpoint(big.select(col("doc_id"),
        when(col("doc_id") % 10 =!= 0, lit("mega"))
          .otherwise(col("source")).as("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        ((col("doc_id") * 37L) % 1000000L).as("quality")))
      val budget = 500L * mult
      val t0 = System.nanoTime()
      val nS = Curation.tokenBudgetMixScalable(mega, col("n_tokens"),
        col("source"), -col("quality"), col("doc_id"), budget,
        bucketWidth = 1024L).count()
      val tS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nE = Curation.tokenBudgetMix(mega, col("n_tokens"), col("source"),
        Seq(col("quality").desc, col("doc_id")), budget).count()
      println(f"SCALE   c11c scalable $tS%.2f s ($nS rows) vs exact " +
        f"window ${(System.nanoTime() - t1) / 1e9}%.2f s ($nE rows)")
      nS
    }
    t(s"c39 mixture apply ${mult}x") {
      // quota table broadcasts; the rank is one window shuffle keyed on
      // the domain — replicas multiply the DOMAIN COUNT (sources are
      // suffixed per replica), so partitions scale out while per-domain
      // size stays constant: the shape must stay near-linear
      val w = graft.text.DomainMixture.solve(big, col("source"),
        expr("(CAST(length(text) AS BIGINT) * 1000000) " +
          "div size(split(text, ' '))"), k = 5)
      graft.text.DomainMixture.applyMixture(big, col("source"),
        col("doc_id"), w, budget = 300L * mult).count()
    }
    ts(s"c39b mega-domain fill ${mult}x") {
      // the dominance case (the c21/c22 probe convention): ~90% of
      // documents in ONE domain — the real web-corpus shape, where the
      // exact c39 form funnels the whole mega slice through a single
      // window task. The two-phase fill keeps sub-threshold rows
      // scan-shaped and ranks only the ~1/B boundary bucket, so its
      // cost must stay near the corpus scan as the mega domain grows.
      // Printed triple: two-phase vs exact window vs mega-domain solve
      // (the c37 stage-1 aggregate under the same skew).
      val mega = Checkpoint(big.select(col("doc_id"),
        when(col("doc_id") % 10 =!= 0, lit("mega"))
          .otherwise(col("source")).as("source"), col("text")))
      // fixed weights (no solver confound): deep quota for the mega
      // domain so the fill actually ranks, token ones for the rest
      val w = Checkpoint(mega.select(col("source").as("domain")).distinct()
        .withColumn("weight_micro",
          when(col("domain") === "mega", lit(900000L)).otherwise(lit(1000L))))
      val budget = n0 * mult / 2
      val t0 = System.nanoTime()
      val nTwo = graft.text.DomainMixture.applyMixtureScalable(mega,
        col("source"), col("doc_id"), w, budget, nBuckets = 1024).count()
      val tTwo = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nEx = graft.text.DomainMixture.applyMixture(mega, col("source"),
        col("doc_id"), w, budget).count()
      val tEx = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      graft.text.DomainMixture.solve(mega, col("source"),
        expr("(CAST(length(text) AS BIGINT) * 1000000) " +
          "div size(split(text, ' '))"), k = 5).count()
      println(f"SCALE   c39b two-phase $tTwo%.2f s ($nTwo rows) vs exact " +
        f"window $tEx%.2f s ($nEx rows); mega-domain c37 solve " +
        f"${(System.nanoTime() - t2) / 1e9}%.2f s")
      nTwo
    }
    ts(s"c1b degenerate modal sort key ${mult}x") {
      // the boundary-bucket degeneracy the level-2 split exists for:
      // 90% of a mega key's rows share ONE sort value (same-length web
      // snippets), so they all land in a single level-1 bucket — which
      // becomes the boundary bucket, and the single-level fill re-grows
      // the funnel it removed. With spark.graft.boundarySplit the rank
      // runs over (sort, tie-id range) sub-buckets and must stay flat.
      // Printed triple: split fill vs single-level fill vs exact window.
      val mega = Checkpoint(big.select(col("doc_id"),
        when(col("doc_id") % 10 =!= 0, lit("mega"))
          .otherwise(col("source")).as("source"),
        when(col("doc_id") % 10 =!= 3, lit(5L))
          .otherwise((col("doc_id") % 40).cast("long")).as("len")))
      val quota = (n0 * mult / 2).toInt
      val t0 = System.nanoTime()
      val nSp = Curation.quotaPerKeyScalable(mega, col("source"), quota,
        -col("len"), col("doc_id"), bucketWidth = 1L,
        boundarySplit = Some(true)).count()
      val tSp = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nOne = Curation.quotaPerKeyScalable(mega, col("source"), quota,
        -col("len"), col("doc_id"), bucketWidth = 1L).count()
      val tOne = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val nEx = Curation.quotaPerKey(mega, col("source"), quota,
        Seq(col("len").desc, col("doc_id"))).count()
      println(f"SCALE   c1b modal split $tSp%.2f s ($nSp rows) vs " +
        f"single-level $tOne%.2f s ($nOne rows) vs exact window " +
        f"${(System.nanoTime() - t2) / 1e9}%.2f s ($nEx rows)")
      // same modal shape through the OTHER split machine — the
      // prefix-sum's in-bucket running sum (c11c path)
      val t3 = System.nanoTime()
      val nPs = Curation.tokenBudgetMixScalable(mega, lit(1L),
        col("source"), col("len"), col("doc_id"),
        budget = (n0 * mult / 2), bucketWidth = 1L,
        boundarySplit = Some(true)).count()
      val tPs = (System.nanoTime() - t3) / 1e9
      val t4 = System.nanoTime()
      val nP1 = Curation.tokenBudgetMixScalable(mega, lit(1L),
        col("source"), col("len"), col("doc_id"),
        budget = (n0 * mult / 2), bucketWidth = 1L).count()
      println(f"SCALE   c11c modal split $tPs%.2f s ($nPs rows) vs " +
        f"single-level ${(System.nanoTime() - t4) / 1e9}%.2f s ($nP1 rows)")
      nSp
    }
    ts(s"c10b calibrated keep ${mult}x") {
      // fixed weights (no training confound, the c36 probe convention):
      // two map-side-combined scoring passes + the broadcast cutoff —
      // must track the corpus scan, with the histogram/window stages
      // flat (distinct integer scores, not rows)
      val feats = graft.text.Perceptron.features(big, col("text"),
        col("doc_id"),
        when(col("lang") === "en", lit(1)).otherwise(lit(-1)), dims = 64)
      val n = graft.text.Perceptron.calibratedKeep(feats,
        (-1 until 64).map(d => d -> (d % 7 - 3).toLong).toMap,
        targetRecallPermille = 900).count()
      n
    }
    t(s"c37 domain mixture ${mult}x") {
      // stage 1 is the only corpus pass (domain-key groupBy, map-side
      // combined); the 5 EG steps ride the |D|-row frame with 1-row
      // broadcast scalars — wall time must track ONE corpus scan, flat
      // in k, regardless of mult
      graft.text.DomainMixture.solve(big, col("source"),
        expr("(CAST(length(text) AS BIGINT) * 1000000) " +
          "div size(split(text, ' '))"), k = 5).count()
    }
    t(s"t19 bpe token count ${mult}x") {
      // one codegen'd regexp pass per row — must be linear in corpus
      // chars, no shuffle (the count is scan-side by contract)
      big.select(graft.text.TextAnalysis.bpeTokenCountCol(col("text"))
        .as("n")).agg(sum(col("n"))).collect()
      big.count()
    }
    t(s"c19q full-dup long docs ${mult}x") {
      // the ExactSubstr worst case: fully-duplicated LONG documents, so
      // every window is flagged (f ≈ n_tokens). The old per-position HOF
      // filter was O(n·f) ≈ n² per doc — 4 docs × (3000·mult tokens)²
      // would be 10^9-10^11 doc-local ops; the CoverageKeptIndices merge
      // sweep must keep this linear in corpus tokens.
      import spark.implicits._
      val nTok = 3000 * mult
      val longText = (0 until nTok).map(i => s"w$i").mkString(" ")
      val dupDocs = (0L until 4L).map(i => (i, longText)).toDF("doc_id", "text")
      Curation.dedupSpansAcrossDocs(dupDocs, col("text"), col("doc_id"),
        window = 8).count()
    }
    t(s"d13 passjoin edit pairs ${mult}x") {
      // Pass-Join candidates are an equi-join on (lang, segment content):
      // replicas share prefixes, so candidate count grows with true
      // near-pair mass — the probe watches that the verify stage, not a
      // quadratic block, carries the growth
      Dedup.editDistancePairs(big, col("text"), col("doc_id"), col("lang"),
        prefixLen = 32, maxDist = 5).count()
    }
    t(s"c4 line dedup ${mult}x") {
      // reshape into 6-token lines first (the c4 gate shape)
      val toks = split(col("text"), " ")
      val lined = big.select(col("doc_id"),
        array_join(transform(
          sequence(lit(1), ceil(size(toks) / lit(6.0)).cast("int")),
          i => array_join(slice(toks, (i - 1) * 6 + 1, lit(6)), " ")), "\n")
          .as("text"))
      Curation.stripBoilerplateLines(lined, col("text"), col("doc_id"),
        minDocs = 3 * mult).count()
    }
    t(s"t10 unigram logprob ${mult}x") {
      graft.text.TextAnalysis.unigramLogProb(big, col("text"), col("doc_id"))
        .count()
    }
    t(s"c5 temperature sample ${mult}x") {
      Curation.temperatureSample(big, col("source"), col("text")).count()
    }
    t(s"d10 semantic dedup ${mult}x") {
      // replicated vec_ids with IDENTICAL embeddings: the adversarial
      // dup-heavy case — the exact-dup rep collapse must absorb the
      // replication before the within-bucket pairwise stage
      val emb = Tables.embeddings(spark, dir)
      val bigEmb = (0 until mult).map { r =>
        emb.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
      graft.sim.Similarity.semanticDedup(bigEmb, nBits = 4, threshold = 0.2)
        .count()
    }
    t(s"w5-ish sessionize events") {
      graft.ops.Sessionize.byGap(Tables.events(spark, dir),
        col("user_id"), col("ts"), col("event_id"), 3600000L).count()
    }
    t(s"c6 quality filter ${mult}x") {
      Curation.qualityFilter(big, col("text"), col("doc_id"))
        .filter(col("keep") === 1).count()
    }
    t(s"c9 training manifest ${mult}x") {
      Curation.trainingManifest(
        big.filter(pmod(col("doc_id"), lit(47)) =!= 0),
        big.filter(pmod(col("doc_id"), lit(47)) === 0), budget = 512).count()
    }
    t(s"c10 classifier score ${mult}x") {
      graft.text.TextAnalysis.classifierScore(big, col("text"), col("doc_id"),
        graft.text.TextAnalysis.defaultClassifierWeights(1 << 16), -0.25).count()
    }
    t(s"c11 token budget mix ${mult}x") {
      val scored = graft.text.TextAnalysis.classifierScore(big, col("text"),
          col("doc_id"),
          graft.text.TextAnalysis.defaultClassifierWeights(1 << 16), -0.25)
        .select(col("doc_id"), col("n_tokens"), col("logit_micro").as("q"))
      Curation.tokenBudgetMix(
        big.select(col("doc_id"), col("source")).join(scored, Seq("doc_id")),
        col("n_tokens"), col("source"),
        Seq(col("q").desc, col("doc_id")), budget = 2000L).count()
    }
    t(s"d11b containment rarest ${mult}x") {
      Dedup.containmentPairs(big, col("text"), col("doc_id"),
        blockCol = "source", rarestGram = true).count()
    }
    t(s"t12 inverted index ${mult}x") {
      graft.text.Retrieval.invertedIndex(big, col("text"), col("doc_id"))
        .count()
    }
    t(s"t13 bm25 topk ${mult}x") {
      graft.text.Retrieval.bm25TopK(big, col("text"), col("doc_id"),
        Seq(0 -> Seq("hash", "join"), 1 -> Seq("window", "agg", "stream"),
          2 -> Seq("vector", "scan")), k = 10).count()
    }
    t(s"c14 epoch mix ${mult}x") {
      Curation.epochMix(big, col("source"),
        graft.text.TextAnalysis.nTokensCol(col("text")),
        Seq("src0" -> 300L, "src1" -> 200L), budget = 20000L).count()
    }
    t(s"c15 shard manifest ${mult}x") {
      Curation.shardManifest(big, col("text"), col("doc_id"), nShards = 64)
        .count()
    }
    t(s"sim9 pq encode ${mult}x") {
      val emb = Tables.embeddings(spark, dir)
      val bigEmb = (0 until mult).map { r =>
        emb.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
      graft.sim.Similarity.pqEncode(bigEmb).count()
    }
    ts(s"sim16 ivf assign inc ${mult}x") {
      // frozen centroids, 3 assign batches: per-batch cost must track
      // BATCH size (scan + broadcast argmin), not index-store life
      val emb = Tables.embeddings(spark, dir)
      val bigEmb = Checkpoint((0 until mult).map { r =>
        emb.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _))
      val cs = graft.sim.Similarity.ivfTrain(emb, nCentroids = 16, iters = 1)
      val tmp = Drives.tempDir("probe_ivf")
      val times = (0 to 2).map { r =>
        val b = bigEmb.filter(pmod(col("vec_id"), lit(3)) === r)
        val t0 = System.nanoTime()
        graft.sim.Similarity.ivfAssignBatch(b, r.toLong, cs, s"$tmp/assign")
        (System.nanoTime() - t0) / 1e9
      }
      println(f"SCALE   sim16 per-batch ${times.map(t => f"$t%.2f").mkString("/")} s")
      val n = graft.sim.Similarity.assignmentsFromStore(spark,
        s"$tmp/assign").count()
      n
    }
    t(s"sim10 pq adc knn ${mult}x") {
      val emb = Tables.embeddings(spark, dir)
      val bigEmb = (0 until mult).map { r =>
        emb.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
      graft.sim.Similarity.pqAdcKnn(bigEmb, queryVecId = 0L, k = 10).count()
    }
    t(s"t15 bigram logprob ${mult}x") {
      graft.text.TextAnalysis.bigramLogProb(big, col("text"), col("doc_id"))
        .count()
    }
    t(s"t14 tfidf keywords ${mult}x") {
      graft.text.Retrieval.tfidfKeywords(big, col("text"), col("doc_id"), 3)
        .count()
    }
    t(s"c16 keep preferred ${mult}x") {
      Curation.keepOnePreferred(
        big.withColumn("pri", pmod(col("doc_id"), lit(2))),
        col("text"), col("doc_id"), col("pri")).count()
    }
    t(s"c9k exact keep-one viral ${mult}x") {
      // 90% of the corpus is ONE duplicated text: the argmin partial agg
      // must absorb the viral mass map-side (flat across dup decades);
      // the old signature-window shape funneled every copy into one task
      val viral = big.withColumn("text",
        when(pmod(col("doc_id"), lit(10)) =!= 0, lit("the the viral copy"))
          .otherwise(col("text")))
      Curation.keepOneExact(viral, col("text"), col("doc_id")).count()
    }
    t(s"sim9b pq trained ${mult}x") {
      val emb = Tables.embeddings(spark, dir)
      val bigEmb = (0 until mult).map { r =>
        emb.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
      graft.sim.Similarity.pqEncodeTrained(bigEmb, iters = 1).count()
    }
    // replicated events: ids and users shifted per replica so per-user
    // event counts (funnel depth, per-user sequences) keep their original
    // shape — user count scales, per-user history does not. Taken here,
    // outside every probe's scope: all the event probes below read it.
    val bigEv = {
      val e = Tables.events(spark, dir)
      Checkpoint((0 until mult).map { r =>
        e.select((col("event_id") + lit(r.toLong * 1000000000L)).as("event_id"),
          col("ts"), (col("user_id") + lit(r.toLong * 10000000L)).as("user_id"),
          col("event_type"), col("value"))
      }.reduce(_ unionByName _))
    }
    ts(s"j2b mega-entity lead ${mult}x") {
      // 90% of purchases on ONE user: the exact lead window funnels the
      // mega entity's whole history into one task; the bucketed form
      // leads within (user, hour-bucket) + the broadcast carry and must
      // stay near the corpus scan. Printed pair: bucketed vs exact.
      val mega = Checkpoint(bigEv.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"),
          when(col("event_id") % 10 =!= 0, lit(1L))
            .otherwise(col("user_id")).as("user_id")))
      val t0 = System.nanoTime()
      val nB = graft.ops.Intervals.ingestionIntervalsScalable(mega,
        Seq("user_id"), "ts", "event_id", bucketWidthMs = 3600000L).count()
      val tB = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nE = graft.ops.Intervals.ingestionIntervals(mega,
        Seq("user_id"), "ts", "event_id").count()
      println(f"SCALE   j2b bucketed $tB%.2f s ($nB rows) vs exact " +
        f"window ${(System.nanoTime() - t1) / 1e9}%.2f s ($nE rows)")
      nB
    }
    ts(s"j2b high-card carry join ${mult}x") {
      // the OTHER j2b regime: ~10^5 distinct (instance, table)-like
      // keys, so the carry frame is one row per (key, hour-bucket) —
      // corpus-bounded, far past any broadcast threshold. With the
      // forced broadcast removed this must stay flat: the carry join
      // is a plain equi-join co-partitioned with the in-bucket lead's
      // own shuffle (Redset's real key shape at the 100 TB point).
      val wide = Checkpoint(bigEv
        .select(col("event_id"), col("ts"),
          (col("event_id") % 100000L).as("user_id")))
      val keys = wide.select(col("user_id")).distinct().count()
      val t0 = System.nanoTime()
      val nB = graft.ops.Intervals.ingestionIntervalsScalable(wide,
        Seq("user_id"), "ts", "event_id", bucketWidthMs = 3600000L).count()
      println(f"SCALE   j2b high-card ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"($nB rows, $keys keys)")
      nB
    }
    t(s"st5 ewma streaming ${mult}x") {
      // the streaming family's scale evidence (the stores already have
      // theirs): state is O(keys) — one 3-field struct per key, never
      // per event — and per-batch cost is O(batch events). Two equal
      // batches over the SAME keys: batch 1 rebuilds state from empty,
      // batch 2 folds onto existing state; both must cost the same, and
      // the cost must track the feed size across mults.
      import spark.implicits._
      import graft.streaming.Streams
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val base = Tables.events(spark, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("ts"),
          col("value").cast("double").as("v"))
        .as[(Long, Long, Double)].collect()
      // driver-side cap: MemoryStream materializes the feed on the heap
      // next to the checkpointed probe corpus (2M events OOMed the 8g
      // probe JVM at 100x) — the 1x→10x pair already shows the linear
      // per-batch cost; state size is the key count either way
      val rep = math.min(mult, 10)
      if (rep < mult)
        println(s"SCALE   st5 feed capped at ${rep}x of ${mult}x " +
          "(MemoryStream is driver-side; cost model unchanged)")
      def batch(b: Int): Seq[Streams.MetricEvent] =
        (0 until rep).flatMap(r => base.map { case (u, t0, v) =>
          Streams.MetricEvent(u + r * 10000000L, t0 + b * 86400000000L, v)
        })
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Streams.MetricEvent]
      val q = Streams.ewmaStress(in.toDS()).writeStream.format("noop")
        .outputMode("append").start()
      try {
        for (b <- 0 until 2) {
          val t0 = System.nanoTime()
          in.addData(batch(b): _*)
          q.processAllAvailable()
          println(f"SCALE   st5 batch$b ${(System.nanoTime() - t0) / 1e9}%.2f s " +
            f"(${base.length.toLong * rep} events)")
        }
      } finally q.stop()
      base.length.toLong * rep * 2
    }
    ts(s"c34b mega-language ccnet ${mult}x") {
      // 90% of documents in ONE language (English is half the web):
      // the exact ntile(3) funnels the mega language into one task;
      // the quota reformulation exact-ranks only the boundary score
      // bucket. Printed pair: quota form vs exact ntile.
      val mega = Checkpoint(big.select(col("doc_id"), col("text"),
        when(col("doc_id") % 10 =!= 0, lit("mega"))
          .otherwise(col("lang")).as("lang")))
      val t0 = System.nanoTime()
      val nS = graft.text.TextAnalysis.ccnetKeepIdsScalable(mega,
        col("text"), col("doc_id"), col("lang")).count()
      val tS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nE = graft.text.TextAnalysis.ccnetKeepIds(mega, col("text"),
        col("doc_id"), col("lang")).count()
      println(f"SCALE   c34b quota form $tS%.2f s ($nS kept) vs exact " +
        f"ntile ${(System.nanoTime() - t1) / 1e9}%.2f s ($nE kept)")
      nS
    }
    t(s"sk1b kmv aggregator ${mult}x") {
      val minK = udaf(new graft.ops.Kmv.MinKDistinct(64))
      bigEv.select(col("event_type"),
          ((col("user_id") * lit(2654435761L) + lit(987654321L)) %
            lit(graft.ops.Kmv.M)).as("hv"))
        .groupBy(col("event_type")).agg(minK(col("hv")).as("mins")).count()
    }
    t(s"sk2 count-min build+probe ${mult}x") {
      import spark.implicits._
      val hs = Seq((0L, 2654435761L, 1013904223L), (1L, 2246822519L, 374761393L),
        (2L, 3266489917L, 2654435769L), (3L, 668265263L, 1540483477L))
        .toDF("i", "a", "b")
      def bkt = (col("user_id") * col("a") + col("b")) %
        lit(2147483647L) % lit(1024L)
      val cm = bigEv.select(col("user_id")).crossJoin(broadcast(hs))
        .groupBy(col("i"), bkt.as("bkt")).agg(count(lit(1)).as("c"))
      val top = bigEv.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).limit(20)
      top.crossJoin(broadcast(hs)).withColumn("bkt", bkt)
        .join(cm, Seq("i", "bkt")).groupBy(col("user_id"))
        .agg(min(col("c")).as("est")).count()
    }
    t(s"fa1 funnel 24h ${mult}x") {
      val s1 = bigEv.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = bigEv.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      bigEv.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3")).count()
    }
    t(s"fa3 transitions ${mult}x") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      bigEv.select(col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n")).count()
    }
    t(s"j9 asof join events") {
      val e = Tables.events(spark, dir)
      val l = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val r = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("r_event"))
      graft.ops.AsOf.asOfJoin(l, r, "user_id", "ts", "ts", Seq("r_event"))
        .count()
    }
    t(s"g1 pagerank ${mult}x") {
      // edge count is |types|²-bounded, but the edge BUILD (the window
      // pass) scales with the corpus — that's what this probe times
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = bigEv.select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("long").as("w"))
      graft.ops.PageRank.ranks(edges, iters = 3).count()
    }
    t(s"sk4 ams f2 ${mult}x") {
      val u = Checkpoint(bigEv.groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("cnt")))
      val sgn = u.select(col("user_id"), col("cnt"),
          explode(sequence(lit(0), lit(63))).as("j"))
        .withColumn("s",
          when(substring(md5(concat(col("user_id").cast("string"), lit(":"),
              col("j").cast("string"))), 32, 1)
            .isin("1", "3", "5", "7", "9", "b", "d", "f"), lit(-1L))
            .otherwise(lit(1L)))
      sgn.groupBy(col("j")).agg(sum(col("cnt") * col("s")).as("z")).count()
    }
    t(s"w8 burst window ${mult}x") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(unix_millis(col("ts")))
        .rangeBetween(-3600000L, 0L)
      bigEv.select(col("user_id"), col("ts"))
        .withColumn("c1h", count(lit(1)).over(w))
        .groupBy(col("user_id")).agg(max(col("c1h")).as("mx")).count()
    }
    t(s"a28 spearman ${mult}x") {
      val u = bigEv.groupBy(col("user_id")).agg(
        count(lit(1)).cast("long").as("x"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("y"))
      val win = org.apache.spark.sql.expressions.Window
      val r = u.select(
        (lit(2) * rank().over(win.orderBy(col("x"))) +
          count(lit(1)).over(win.partitionBy(col("x"))) - 1).as("rx"),
        (lit(2) * rank().over(win.orderBy(col("y"))) +
          count(lit(1)).over(win.partitionBy(col("y"))) - 1).as("ry"))
      r.agg(sum(col("rx") * col("ry"))).count()
    }
    t(s"t16 pmi collocations ${mult}x") {
      graft.text.TextAnalysis.pmiCollocations(big, col("text"),
        col("doc_id")).count()
    }
    t(s"t17 readability ${mult}x") {
      graft.text.TextAnalysis.readabilityGrade(big, col("text"),
        col("doc_id")).count()
    }
    t(s"sim12 mmr rerank embeddings") {
      // the pool scan is sim1-shaped (probed via the corpus); the greedy
      // rounds are bounded — this times the end-to-end serve path
      graft.sim.Similarity.mmrRerank(Tables.embeddings(spark, dir),
        queryVecId = 0L, poolK = 20, k = 5).count()
    }
    t(s"sim15 cluster sample ${mult}x") {
      // assignment scan (codegen'd DotProductF) + bounded-TopK aggregate:
      // partial state <= k per cluster per partition; replicated vectors
      // grow cluster membership, the shipped state must not grow with it
      val emb = Tables.embeddings(spark, dir)
      val bigEmb = (0 until mult).map { r =>
        emb.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("label"), col("embedding"))
      }.reduce(_ unionByName _)
      graft.sim.Similarity.clusterStratifiedSample(bigEmb,
        perCluster = 5).count()
    }
    t(s"j10 overlap join ${mult}x") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val iv = bigEv.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("iv_id"),
          col("ts").as("a"),
          lead(col("ts"), 1).over(w).as("b"))
      val sess = bigEv
        .withColumn("gap_ms", unix_millis(col("ts")) -
          unix_millis(lag(col("ts"), 1).over(w)))
        .withColumn("new_s",
          when(col("gap_ms").isNull || col("gap_ms") > 3600000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      graft.ops.Intervals.overlapJoin(iv, sess, Seq("user_id"),
        "a", "b", "s_start", "s_end", bucketSeconds = 86400L).count()
    }
    t(s"g2 shortest path ${mult}x") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = bigEv.select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("long").as("w"))
        .select(col("src"), col("dst"), expr("1000000 DIV w").as("cost"))
      graft.ops.ShortestPath.sssp(edges, lit("view"), iters = 3).count()
    }
    t(s"sk5 kmv set ops ${mult}x") {
      val keyed = bigEv.select(
        (col("user_id") * 100 + dayofmonth(col("ts"))).cast("long").as("k"),
        col("event_type"))
      val a = keyed.filter(col("event_type") === "purchase")
        .select(col("k")).distinct()
      val b = keyed.filter(col("event_type") === "error")
        .select(col("k")).distinct()
      a.select(col("k"), lit("a").as("src"))
        .unionByName(b.select(col("k"), lit("b").as("src")))
        .groupBy(col("k"))
        .agg(max(when(col("src") === "a", 1).otherwise(0)).as("in_a"))
        .count()
    }
    t(s"a34 ks statistic ${mult}x") {
      val c = bigEv.select(
        round(col("value") * 100).cast("long").as("x"),
        when(expr("weekday(ts)") <= 4, 1).otherwise(0).as("wk"))
      c.groupBy(col("x")).agg(
        count(when(col("wk") === 1, lit(1))).as("ca"),
        count(when(col("wk") === 0, lit(1))).as("cb")).count()
    }
    t(s"st3b sliding windows ${mult}x") {
      bigEv.select(window(col("ts"), "1 hour", "15 minutes")
          .getField("start").as("ws"), col("event_type"))
        .groupBy(col("ws"), col("event_type"))
        .agg(count(lit(1))).count()
    }
    t(s"mm7 patch extract ${mult}x") {
      import spark.implicits._
      val payloads = big.select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (4 + id % 5).toInt
          val h = (3 + id % 4).toInt
          (id, graft.multimodal.Multimodal.Farbfeld.encode(w, h, (i, c) =>
            ((id * 7919L + i.toLong * 31L + c.toLong * 101L) % 65536L).toInt))
        }).toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractPatches(payloads, "doc_id",
        "payload", p = 2).count()
    }
    // Round-13 additions: BPE training (corpus pass + k vocab-frame
    // iterations — the iterations should be insensitive to corpus mult
    // since replicas reuse the same words), trained-tokenizer apply
    // (word-explode + |V|-lookup join), funnel attribution, profile.
    var bpeVocab: org.apache.spark.sql.DataFrame = null
    t(s"t21 bpe train ${mult}x") {
      val (merges, vocab) = graft.text.BpeTrain.trainMerges(
        graft.text.BpeTrain.wordFreq(big, col("text")), 8)
      bpeVocab = vocab
      merges.length.toLong
    }
    t(s"t23 bpe tokenize ${mult}x") {
      if (bpeVocab == null) {
        bpeVocab = graft.text.BpeTrain.trainMerges(
          graft.text.BpeTrain.wordFreq(big, col("text")), 8)._2
      }
      graft.text.BpeTrain.tokenCounts(big, col("text"), col("doc_id"),
        bpeVocab).count()
    }
    t(s"c23 curation funnel ${mult}x") {
      Curation.curationFunnel(
        big.filter(pmod(col("doc_id"), lit(47)) =!= 0)
          .select(col("doc_id"), col("source"), col("text")),
        big.filter(pmod(col("doc_id"), lit(47)) === 0)).count()
    }
    t(s"c24 column profile ${mult}x") {
      graft.ops.Profile.columnProfile(big,
        Seq("doc_id", "lang", "source", "text")).count()
    }
    t(s"c21b crawl inc ${mult}x") {
      // 3 ingest batches over the replicated frontier (each replica's
      // URLs distinct via the shifted source): per-batch cost must track
      // batch size + touched buckets, not crawl-store life
      val tmp = Drives.tempDir("probe_crawl")
      val frontier = big.select(col("doc_id"),
        concat(lit("http://www."), col("source"), lit(".example.com/p"),
          (col("doc_id") % 97).cast("string")).as("url"))
      val times = (0 to 2).map { r =>
        val b = frontier.filter(pmod(col("doc_id"), lit(3)) === r)
        val t0 = System.nanoTime()
        Curation.incrementalCrawlBatch(b, r.toLong, s"$tmp/staged",
          s"$tmp/groups", nBuckets = 64)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"SCALE   c21b per-batch ${times.map(t => f"$t%.2f").mkString("/")} s")
      spark.read.parquet(s"$tmp/groups").count()
    }
    t(s"t23b tokenize inc ${mult}x") {
      // 3 ingest batches under a small frozen vocab: per-batch cost
      // must track BATCH size (one lookup-join pass), not store life
      val tmp = Drives.tempDir("probe_tok")
      val vocab = graft.text.BpeTrain.trainMerges(
        graft.text.BpeTrain.wordFreq(docs, col("text")), k = 8)._2
      val times = (0 to 2).map { r =>
        val b = big.filter(pmod(col("doc_id"), lit(3)) === r)
        val t0 = System.nanoTime()
        graft.text.BpeTrain.tokenCountBatch(b, r.toLong, col("text"),
          col("doc_id"), vocab, s"$tmp/census")
        (System.nanoTime() - t0) / 1e9
      }
      println(f"SCALE   t23b per-batch ${times.map(t => f"$t%.2f").mkString("/")} s")
      graft.text.BpeTrain.tokenCountsFromStore(spark, s"$tmp/census").count()
    }
    t(s"t24 vocab growth ${mult}x") {
      graft.text.TextAnalysis.vocabGrowth(big, col("text"), col("doc_id"),
        nBuckets = 10).count()
    }
    ts(s"c25 perceptron train ${mult}x") {
      // corpus pass (feature build) + 4 iterations over the cached
      // doc_id-partitioned frame; iteration cost should track corpus
      // rows with NO extra exchanges (scoring rides the partitioning)
      val feats = graft.text.Perceptron.features(big, col("text"),
        col("doc_id"), when(col("lang") === "en", lit(1)).otherwise(lit(-1)),
        dims = 64)
      val (w, trace) = graft.text.Perceptron.train(feats, k = 4, dims = 64)
      trace.map(_._2).sum + w.size.toLong
    }
    t(s"c29 gopher panel ${mult}x") {
      // one codegen'd scan + scalar combine — should be pure-linear in
      // corpus chars, no shuffle to skew
      graft.text.TextAnalysis.gopherRulesReport(big, col("text")).count()
    }
    t(s"c30 perplexity buckets ${mult}x") {
      // t10 scoring pass + per-LANG tercile window: the sort is
      // per-language, so a decade of corpus growth widens partitions,
      // never funnels into one task
      graft.text.TextAnalysis.perplexityBuckets(big, col("text"),
        col("doc_id"), col("lang")).count()
    }
    t(s"c31 dsir weights ${mult}x") {
      // one bucket-count pass + broadcast-model scoring pass; both
      // corpus-linear, the model fixed at 256 rows regardless of mult
      graft.text.TextAnalysis.dsirWeights(big, col("text"), col("doc_id"),
        col("lang") === "en", buckets = 256).count()
    }
    t(s"c33 dsir topk ${mult}x") {
      // scoring pass + TakeOrderedAndProject: per-partition top-k, cost
      // tracks the c31 scan, never a global sort
      graft.text.TextAnalysis.dsirTopK(big, col("text"), col("doc_id"),
        col("lang") === "en", k = 25, buckets = 256).count()
    }
    t(s"c34 ccnet filter ${mult}x") {
      // c30's plan + one lang-keyed aggregate over the kept two-thirds
      graft.text.TextAnalysis.ccnetFilter(big, col("text"), col("doc_id"),
        col("lang")).count()
    }
    t(s"t25 gopher repetition ${mult}x") {
      // ONE scan-fused codegen'd pass (O(sum n*L) per doc, no shuffle);
      // must scale linearly with corpus size like t5/t19
      graft.text.TextAnalysis.gopherRepetitionMetrics(big, col("text"),
        col("doc_id")).agg(sum(col("keep"))).collect().head.getLong(0)
    }
    t(s"c35 published funnel ${mult}x") {
      // two per-doc scan stages + the ccnet LM aggregate over stage-2
      // survivors + the keepOneExact argmin+semi-join over stage-3; the
      // LM token groupBy dominates and must stay corpus-linear
      graft.curation.Curation.publishedFunnel(big).count()
    }
    ts(s"c36 gains table ${mult}x") {
      // isolates the c36 plan (scoring pass + histogram + two windows
      // over the post-reduction distinct scores) under FIXED weights —
      // no training confound; must track the c32 scoring increment
      val feats = graft.text.Perceptron.features(big, col("text"),
        col("doc_id"), when(col("lang") === "en", lit(1)).otherwise(lit(-1)),
        dims = 64)
      val fixed = (0 until 64).map(d => d -> ((d % 7) - 3).toLong).toMap +
        (-1 -> 0L)
      val n = graft.text.Perceptron.gainsTable(feats, fixed).count()
      n
    }
    ts(s"c32 roc auc ${mult}x") {
      // scoring pass over the feature frame + score histogram; the
      // global cumsum runs over distinct INTEGER scores (post-reduction)
      val feats = graft.text.Perceptron.features(big, col("text"),
        col("doc_id"), when(col("lang") === "en", lit(1)).otherwise(lit(-1)),
        dims = 64)
      val (w, _) = graft.text.Perceptron.train(feats, k = 4, dims = 64)
      val n = graft.text.Perceptron.rocAuc(feats, w).count()
      n
    }
    t(s"c42-44 diff/compact/apply ${mult}x") {
      // the version-management chain at corpus scale: diff ×2 (full-outer
      // equi-joins), compact (one more full-outer), apply (anti + union).
      // All plain id-key shuffles, no windows, no broadcast hints — must
      // scale linearly with the corpus like d1
      val snapB = big.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val snapC = snapB.filter(col("doc_id") % 17 =!= 0)
        .unionByName(big.filter(col("doc_id") % 21 === 0)
          .select(col("doc_id"), col("text")))
      def cl(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
        Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
      Curation.applyCorpusDiff(big,
        Curation.compactChangelog(cl(big, snapB), cl(snapB, snapC))).count()
    }
    t(s"c45 snapshot store inc ${mult}x") {
      // bootstrap the store with the FULL corpus, then fold 3 SPARSE
      // changelog batches (~0.05% churn). The store's cost model is
      // per-batch ∝ batch + (touched buckets / nBuckets) × store —
      // churn ids hash anywhere, so ~k churn ids touch ≤ k of the
      // nBuckets buckets and the partition-pruned read covers ~k/nBuckets
      // of the store (random churn ≥ nBuckets rows degrades to a full
      // rewrite — that's inherent to hash-bucketed stores, and the
      // regime the changelog-compaction catch-up path exists for). The
      // printed per-batch times are the evidence: flat across batches,
      // a small fraction of the bootstrap
      val base = Drives.tempDir("probe_snap")
      val t0 = System.nanoTime()
      Curation.snapshotApplyBatch(
        big.select(col("doc_id"), lit("added").as("status"), col("text")),
        s"$base/snap", nBuckets = 256)
      println(f"SCALE   c45 bootstrap ${mult}x      ${(System.nanoTime() - t0) / 1e9}%.2f s")
      (0 to 2).foreach { r =>
        val churn = big.filter(pmod(col("doc_id"), lit(2111L)) === r)
          .select(col("doc_id"),
            when(col("doc_id") % 2 === 0, lit("changed"))
              .otherwise(lit("removed")).as("status"),
            concat(col("text"), lit(s" r$r")).as("text"))
        val tb = System.nanoTime()
        Curation.snapshotApplyBatch(churn, s"$base/snap", nBuckets = 256)
        println(f"SCALE   c45 churn batch $r          ${(System.nanoTime() - tb) / 1e9}%.2f s")
      }
      Curation.readSnapshot(spark, s"$base/snap").count()
    }
    t(s"c47 expectations ${mult}x") {
      // 4 row rules in ONE scan + the uniqueness groupBy — must be
      // two corpus passes total at any rule count
      graft.ops.Expectations.report(big,
        rules = Seq(
          "id_not_null" -> col("doc_id").isNotNull,
          "lang_known" -> col("lang").isin("en", "es", "de", "fr", "zh"),
          "text_max_600" -> (length(col("text")) <= 600),
          "text_nonempty" -> (length(col("text")) > 0)),
        uniqueKeys = Seq("id_unique" -> Seq(col("doc_id")))).count()
    }
    t(s"c48 epoch shuffle ${mult}x") {
      // pure projection × 3-way explode + one (epoch, shard) groupBy
      Curation.epochShuffleManifest(big, col("doc_id"), epochs = 3).count()
    }
    t(s"st5b ewma file-source ${mult}x") {
      // the st5 probe caps at 10x: MemoryStream materializes the feed
      // on the DRIVER heap (2M events OOMed the probe JVM at 100x). A
      // FILE source feeds the same mapGroupsWithState topology from
      // executor-side parquet in bounded micro-batches, so the full
      // mult streams through — the streaming family's 100x point.
      import spark.implicits._
      import graft.streaming.Streams
      val feedDir = Drives.tempDir("probe_ewma_feed")
      (0 until mult).map { r =>
        Tables.events(spark, dir).select(
          (col("user_id") + lit(r * 10000000L)).as("key"),
          expr("unix_micros(ts)").as("tsMicros"),
          col("value").cast("double").as("value"))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(feedDir)
      val nFeed = spark.read.parquet(feedDir).count()
      val src = spark.readStream
        .schema("key LONG, tsMicros LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 8)
        .parquet(feedDir).as[Streams.MetricEvent]
      val q = Streams.ewmaStress(src).writeStream.format("noop")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      nFeed
    }
    t(s"c52 catchup uniform churn ${mult}x") {
      // the c45 cliff measured head-on: UNIFORM random churn touches
      // ~every bucket, so per-batch folding rewrites the whole store
      // PER BATCH; the catch-up path compacts the backlog into one log
      // first — K batches cost K−1 churn-sized joins + ONE rewrite.
      // Printed pair: 3-batch per-batch replay vs the same backlog via
      // snapshotCatchUp (the flat-cost evidence).
      def churn(r: Int) = big
        .filter(pmod(xxhash64(col("doc_id") + r), lit(97L)) === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, lit("changed"))
            .otherwise(lit("removed")).as("status"),
          concat(col("text"), lit(s" u$r")).as("text"))
      val bootstrap = big.select(col("doc_id"), lit("added").as("status"),
        col("text"))
      val baseA = Drives.tempDir("probe_catchup_a")
      val baseB = Drives.tempDir("probe_catchup_b")
      Curation.snapshotApplyBatch(bootstrap, s"$baseA/snap", nBuckets = 256)
      Curation.snapshotApplyBatch(bootstrap, s"$baseB/snap", nBuckets = 256)
      val logs = (0 to 2).map(churn)
      val tA0 = System.nanoTime()
      logs.foreach(Curation.snapshotApplyBatch(_, s"$baseA/snap",
        nBuckets = 256))
      println(f"SCALE   c52 per-batch x3          ${(System.nanoTime() - tA0) / 1e9}%.2f s")
      val tB0 = System.nanoTime()
      Curation.snapshotCatchUp(logs, s"$baseB/snap", nBuckets = 256)
      println(f"SCALE   c52 catch-up (compacted)  ${(System.nanoTime() - tB0) / 1e9}%.2f s")
      Curation.readSnapshot(spark, s"$baseB/snap").count()
    }
    t(s"c57 time travel ${mult}x") {
      // a 5-deep versioned history of ~0.5% churn batches over the full
      // corpus; the as-of-0 walk-back compacts the inverted logs into
      // ONE O(total churn) fold, so the deepest read costs one corpus
      // pass + the churn joins — not a pass per version. Printed pair:
      // as-of latest (pure store read) vs as-of 0 (deepest walk-back).
      val base = Drives.tempDir("probe_tt")
      Curation.versionedSnapshotApplyBatch(
        big.select(col("doc_id"), lit("added").as("status"),
          lit(null).cast("string").as("old_text"),
          col("text").as("new_text")),
        base, 0L, nBuckets = 256)
      // disjoint id slices per version keep the hand-built CDC chain
      // consistent (old_text is genuinely the prior image)
      (1 to 5).foreach { v =>
        Curation.versionedSnapshotApplyBatch(
          big.filter(pmod(col("doc_id"), lit(211L)) === v)
            .select(col("doc_id"), lit("changed").as("status"),
              col("text").as("old_text"),
              concat(col("text"), lit(s" v$v")).as("new_text")),
          base, v.toLong, nBuckets = 256)
      }
      val tL = System.nanoTime()
      Curation.readSnapshotAsOf(spark, base, 5L).count()
      println(f"SCALE   c57 as-of latest          ${(System.nanoTime() - tL) / 1e9}%.2f s")
      val t0w = System.nanoTime()
      val n = Curation.readSnapshotAsOf(spark, base, 0L).count()
      println(f"SCALE   c57 as-of 0 (5-deep)      ${(System.nanoTime() - t0w) / 1e9}%.2f s")
      // the c66 catch-up feed over the same archive: the 5-log forward
      // fold is O(churn across the versions) — at 100x the corpus is
      // 100x but the feed's cost follows the ~0.5%-per-version churn,
      // never a corpus diff
      val tF = System.nanoTime()
      val nf = Curation.changesBetweenVersions(spark, base, 0L, 5L).count()
      println(f"SCALE   c66 feed 0->5 (5 logs)    ${(System.nanoTime() - tF) / 1e9}%.2f s ($nf net rows)")
      n
    }
    ts(s"c53 maintained audit ${mult}x") {
      // the c49 scale note closed: the direct audit recomputes the OLD
      // corpus' distinct signatures per audit (a corpus-scale text scan
      // + distinct); the maintained store pre-reduces them once and the
      // audit reads O(refresh + store). The refresh CDC log is
      // checkpointed first — production receives it as input. Printed
      // pair: direct vs maintained on the same refresh.
      val snapB = big.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val old = big.select(col("doc_id"), col("text"))
      val sigDir = Drives.tempDir("probe_sig") + "/sig"
      Curation.sigStoreApplyBatch(
        Curation.corpusDiffFull(old.limit(0), old), sigDir, 0L,
        nBuckets = 256)
      val refresh = Checkpoint(Curation.corpusDiffFull(old, snapB))
      val tD = System.nanoTime()
      Curation.refreshAudit(old, snapB).count()
      println(f"SCALE   c53 direct audit          ${(System.nanoTime() - tD) / 1e9}%.2f s")
      val tM = System.nanoTime()
      val n = Curation.refreshAuditMaintained(refresh, sigDir).count()
      println(f"SCALE   c53 maintained audit      ${(System.nanoTime() - tM) / 1e9}%.2f s")
      n
    }
    t(s"c54b sig compaction cadence ${mult}x") {
      // the round-18 compactEvery knob measured: 24 churn batches into
      // two identical sig stores, one never compacted (per-batch dirs
      // accumulate), one compacted every 8 batches from the ingest loop
      // (committedThrough = previous batch, the replay-safe cadence).
      // Printed pair: the maintained-census read after all 24 batches —
      // the compacted store's read cost stays flat as batches accrue
      // because its dir/file count does.
      val old = big.select(col("doc_id"), col("text"))
      val root = Drives.tempDir("probe_sig_compact")
      val dirA = s"$root/uncompacted"; val dirB = s"$root/compacted"
      Seq(dirA, dirB).foreach(d => Curation.sigStoreApplyBatch(
        Curation.corpusDiffFull(old.limit(0), old), d, 0L, nBuckets = 64))
      // disjoint id slices per batch keep the hand-built CDC chain
      // consistent (old_text is genuinely the prior image)
      def churn(r: Int) = big
        .filter(pmod(col("doc_id"), lit(211L)) === r)
        .select(col("doc_id"), lit("changed").as("status"),
          col("text").as("old_text"),
          concat(col("text"), lit(s" c$r")).as("new_text"))
      for (r <- 1 to 24) Checkpoint.scope {
        val log = Checkpoint(churn(r))
        Curation.sigStoreApplyBatch(log, dirA, r.toLong, nBuckets = 64)
        Curation.sigStoreApplyBatch(log, dirB, r.toLong, nBuckets = 64)
        if ((r + 1) % 8 == 0)
          Curation.compactCountedStore(spark, dirB,
            Curation.sigStoreStagedSchema, committedThrough = r - 1L,
            owner = "scale_probe")
      }
      def batchDirs(d: String) = {
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(p).filter(_.isDirectory)
          .filter(_.getPath.getName.startsWith("bucket="))
          .map(b => fs.listStatus(b.getPath)
            .count(_.getPath.getName.startsWith("batch_id="))).sum
      }
      val tA = System.nanoTime()
      Curation.readSigStore(spark, dirA).count()
      println(f"SCALE   c54b read, 24 batch dirs  ${(System.nanoTime() - tA) / 1e9}%.2f s (${batchDirs(dirA)} dirs)")
      val tB = System.nanoTime()
      val n = Curation.readSigStore(spark, dirB).count()
      println(f"SCALE   c54b read, compacted      ${(System.nanoTime() - tB) / 1e9}%.2f s (${batchDirs(dirB)} dirs)")
      n
    }
    ts(s"c61 isolated store ${mult}x") {
      // reader isolation priced against the in-place store: the SAME
      // bootstrap + churn fold through snapshotApplyBatch (in-place
      // dynamic overwrite) and snapshotApplyBatchIsolated (own gen dir
      // + manifest rename). Printed: the two fold times and the
      // committed read — isolation costs one manifest file per batch,
      // not a different fold shape.
      val bootstrap = big.select(col("doc_id"), lit("added").as("status"),
        col("text"))
      val churn = Checkpoint(big
        .filter(pmod(xxhash64(col("doc_id")), lit(97L)) === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, lit("changed"))
            .otherwise(lit("removed")).as("status"),
          concat(col("text"), lit(" u")).as("text")))
      val baseA = Drives.tempDir("probe_iso_a")
      val baseB = Drives.tempDir("probe_iso_b")
      Curation.snapshotApplyBatch(bootstrap, s"$baseA/snap", nBuckets = 256)
      Curation.snapshotApplyBatchIsolated(bootstrap, s"$baseB/store", 0L,
        nBuckets = 256)
      val tA = System.nanoTime()
      Curation.snapshotApplyBatch(churn, s"$baseA/snap", nBuckets = 256)
      println(f"SCALE   c61 in-place fold         ${(System.nanoTime() - tA) / 1e9}%.2f s")
      val tB = System.nanoTime()
      Curation.snapshotApplyBatchIsolated(churn, s"$baseB/store", 1L,
        nBuckets = 256)
      println(f"SCALE   c61 isolated fold         ${(System.nanoTime() - tB) / 1e9}%.2f s")
      val tR = System.nanoTime()
      val n = Curation.readSnapshotCommitted(spark, s"$baseB/store").count()
      println(f"SCALE   c61 committed read        ${(System.nanoTime() - tR) / 1e9}%.2f s")
      n
    }
    t(s"c49 refresh audit ${mult}x") {
      // one full-outer diff + sig semi join + 1-row aggregate
      val snapB = big.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(big.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 100000000000L).as("doc_id"), col("text")))
      Curation.refreshAudit(big.select(col("doc_id"), col("text")),
        snapB).count()
    }
    ts(s"c63 isolated growth loop ${mult}x") {
      // the maintained-isolated ingest's loop body priced head-on: the
      // dual-id sequence (migration 2·bid, fold 2·bid+1) driven exactly
      // as snapshotIngestMaintainedIsolated drives it — bootstrap at 64
      // buckets, one churn fold, then a growth check that FORCES a
      // mid-stream 64→256 rebucket (the full-corpus rewrite, priced
      // separately), then the next churn fold under the migrated count
      // and the committed read. At 100x the migration is the only
      // corpus-scale step; folds stay O(touched buckets).
      val base = Drives.tempDir("probe_iso_growth")
      val store = s"$base/store"
      def churn(r: Int) = Checkpoint(big
        .filter(pmod(xxhash64(col("doc_id")), lit(211L)) === r)
        .select(col("doc_id"), lit("changed").as("status"),
          concat(col("text"), lit(s" g$r")).as("text")))
      Curation.snapshotApplyBatchIsolated(
        big.select(col("doc_id"), lit("added").as("status"), col("text")),
        store, 1L, nBuckets = 64) // batch 0's fold (manifest 2·0+1)
      val c1 = churn(1)
      val tF = System.nanoTime()
      Curation.snapshotApplyBatchIsolated(c1, store, 3L, nBuckets = 64)
      println(f"SCALE   c63 fold @64             ${(System.nanoTime() - tF) / 1e9}%.2f s")
      val tM = System.nanoTime()
      val grown = Curation.maybeRebucketSnapshotIsolated(spark, store,
        4L, targetRowsPerBucket = math.max(1L, n0 * mult / 200))
      println(f"SCALE   c63 migration 64->$grown%-4d   ${(System.nanoTime() - tM) / 1e9}%.2f s")
      val c2 = churn(2)
      val tG = System.nanoTime()
      Curation.snapshotApplyBatchIsolated(c2, store, 5L, nBuckets = grown)
      println(f"SCALE   c63 fold @$grown%-4d           ${(System.nanoTime() - tG) / 1e9}%.2f s")
      Curation.pruneSnapshotGens(spark, store, retainManifests = 2)
      val tR = System.nanoTime()
      val n = Curation.readSnapshotCommitted(spark, store).count()
      println(f"SCALE   c63 committed read       ${(System.nanoTime() - tR) / 1e9}%.2f s")
      n
    }
    ts(s"c65 committed sig store ${mult}x") {
      // the manifest-committed sig store priced against the in-place
      // store: the SAME bootstrap + 8 churn folds into both, then each
      // store's own compaction (stage-and-swap vs segment-merge commit)
      // and the census read off the compacted store. Isolation costs a
      // manifest file per commit, not a different fold shape — and the
      // committed read after compact+prune scans the merged segment +
      // the retained tail, the same flat-read argument as c54b.
      val old = big.select(col("doc_id"), col("text"))
      val root = Drives.tempDir("probe_csig")
      val dirA = s"$root/inplace"; val dirB = s"$root/committed"
      val boot = Checkpoint(Curation.corpusDiffFull(old.limit(0), old))
      Curation.sigStoreApplyBatch(boot, dirA, 0L, nBuckets = 64)
      val tB0 = System.nanoTime()
      Curation.sigStoreApplyBatchCommitted(boot, dirB, 0L, nBuckets = 64)
      println(f"SCALE   c65 committed bootstrap  ${(System.nanoTime() - tB0) / 1e9}%.2f s")
      def churn(r: Int) = big
        .filter(pmod(col("doc_id"), lit(211L)) === r)
        .select(col("doc_id"), lit("changed").as("status"),
          col("text").as("old_text"),
          concat(col("text"), lit(s" s$r")).as("new_text"))
      var tIn = 0L; var tC = 0L
      for (r <- 1 to 8) Checkpoint.scope {
        val log = Checkpoint(churn(r))
        val t0 = System.nanoTime()
        Curation.sigStoreApplyBatch(log, dirA, r.toLong, nBuckets = 64)
        tIn += System.nanoTime() - t0
        val t1 = System.nanoTime()
        Curation.sigStoreApplyBatchCommitted(log, dirB, r.toLong,
          nBuckets = 64)
        tC += System.nanoTime() - t1
      }
      println(f"SCALE   c65 8 folds in-place     ${tIn / 1e9}%.2f s")
      println(f"SCALE   c65 8 folds committed    ${tC / 1e9}%.2f s")
      val tCa = System.nanoTime()
      Curation.compactCountedStore(spark, dirA,
        Curation.sigStoreStagedSchema, committedThrough = 7L,
        owner = "scale_probe")
      println(f"SCALE   c65 compact in-place     ${(System.nanoTime() - tCa) / 1e9}%.2f s")
      val tCb = System.nanoTime()
      Curation.compactSigStoreCommitted(spark, dirB, committedThrough = 7L)
      println(f"SCALE   c65 compact committed    ${(System.nanoTime() - tCb) / 1e9}%.2f s")
      Curation.pruneSigStoreSegs(spark, dirB, retainManifests = 2)
      val tR = System.nanoTime()
      val n = Curation.readSigStoreCommitted(spark, dirB).count()
      println(f"SCALE   c65 committed read       ${(System.nanoTime() - tR) / 1e9}%.2f s")
      n
    }
    spark.stop()
  }
}
