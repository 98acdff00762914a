package graft

import graft.sim.Similarity
import graft.text.TextAnalysis

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan guards for the round-7 additions — the properties the
  * oracle gates can't see: shuffle counts, top-k pushdown, and
  * bounded-pool shapes that make these operators the 100 TB plans and
  * not just correct ones.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val ev =
    Tables.events(spark, "/root/testdata/sf0.001")
  private lazy val docs =
    Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val emb =
    Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def phys(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("w8 burst: both windows share ONE user_id shuffle") {
    val w = ev.select(col("user_id"), col("ts"))
      .withColumn("c1h", count(lit(1)).over(
        Window.partitionBy(col("user_id")).orderBy(unix_millis(col("ts")))
          .rangeBetween(-3600000L, 0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("c1h").desc, col("ts").asc)))
      .filter(col("rn") === 1)
    val plan = phys(w)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected 1 hash exchange (shared user_id partition), got $exchanges:\n$plan")
  }

  test("t16 PMI: global top-k is TakeOrderedAndProject, not a global window") {
    val plan = phys(TextAnalysis.pmiCollocations(docs, col("text"),
      col("doc_id"), minCount = 2, k = 10))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the rank window runs ABOVE the TakeOrdered (k survivors only) —
    // it must not have forced a corpus-sized single-partition sort
    assert(plan.indexOf("Window") < plan.indexOf("TakeOrderedAndProject"),
      s"rank window below the top-k boundary:\n$plan")
  }

  test("sim12 MMR pool: corpus scan ends in TakeOrderedAndProject") {
    // the pool construction is the only corpus-sized stage; localCheckpoint
    // materializes it, so inspect the pool frame directly (mmrRerank's
    // greedy rounds then only see ≤ poolK rows)
    val q = emb.where(col("vec_id") === 0L)
      .select(col("embedding").as("qv"),
        sqrt(graft.fns.Fns.dot(col("embedding"), col("embedding"))).as("qn"))
    val pool = emb.where(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        floor(graft.fns.Fns.dot(col("embedding"), col("qv")) /
          (sqrt(graft.fns.Fns.dot(col("embedding"), col("embedding"))) *
            col("qn")) * lit(1000000)).cast("long").as("rel_u"))
      .orderBy(col("rel_u").desc, col("vec_id")).limit(20)
    assert(phys(pool).contains("TakeOrderedAndProject"), phys(pool))
  }

  test("mmrRerank output is the documented bounded trajectory") {
    val out = Similarity.mmrRerank(emb, queryVecId = 0L, poolK = 10, k = 3)
      .collect()
    assert(out.length == 3)
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // rank-1 pick is pure relevance: zero penalty by construction
    assert(out.find(_.getLong(0) == 1L).get.getLong(4) == 0L)
  }

  test("j10 overlap join: bucketed equi-join, no nested-loop fallback") {
    val left = Seq((1L, 10L, ts("2024-03-01 00:00:00"),
      Option(ts("2024-03-01 02:00:00")))).toDF("key", "iv_id", "a", "b")
    val right = Seq((1L, 1L, ts("2024-03-01 01:00:00"),
      ts("2024-03-01 03:00:00"))).toDF("key", "sid", "s", "t")
    val plan = phys(graft.ops.Intervals.overlapJoin(left, right,
      Seq("key"), "a", "b", "s", "t", bucketSeconds = 1800L))
    // the PAIR join must be an equi-join on (key, bucket); the only
    // nested-loop allowed is the deliberate 1-row max-end broadcast
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"overlap pair join is not an equi-join:\n$plan")
    val products = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(products <= 1 && !plan.contains("CartesianProduct"),
      s"unexpected product join beyond the 1-row max-end broadcast:\n$plan")
  }

  test("sk6 HDR quantiles: one hash agg + one key window, zero joins, no UDF") {
    val plan = phys(graft.ops.HdrHist.quantiles(
      ev.select(col("event_type"),
        round(col("value") * 100).cast("long").as("__cents")),
      col("__cents"), Seq("event_type"), Seq(500, 990)))
    // histogram shuffle + per-key window; the probe explode rides on the
    // (bounded) histogram — no join, no extra exchange, all codegen'd
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"sk6 expected <=2 exchanges:\n$plan")
    assert(!plan.contains("Join"), s"sk6 must not join:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"sk6 must stay UDF-free:\n$plan")
  }

  test("PPJoin prefix candidates: equi-join on (blk, shingle), no product join") {
    val d = docs.select(lit(0).as("blk"), col("doc_id"),
      array_sort(transform(graft.dedup.Dedup.shingles(col("text"), 1),
        t => xxhash64(t))).as("toks"),
      size(graft.dedup.Dedup.shingles(col("text"), 1)).as("n"))
    val plan = phys(graft.dedup.Dedup.prefixCandidates(d, 0.9))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"candidate join must be an equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must never fall back to a product join:\n$plan")
  }

  test("d13 Pass-Join candidates: equi-join on segment content, no product join") {
    val p = docs.select(col("doc_id"), col("lang"),
        substring(lower(trim(col("text"))), 1, 32).as("pre"))
      .withColumn("len", length(col("pre")))
    val plan = phys(graft.dedup.Dedup.passJoinCandidates(p, 5))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"candidate join must be an equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must never fall back to a product join:\n$plan")
  }

  test("g3 triangles: wedge + closing joins broadcast off checkpointed stats") {
    // The oriented edge frame is eagerly checkpointed inside
    // countWithCoefficient, so AQE has EXACT sizes for both sides of the
    // wedge self-join and the closing semi-join — on a gate-sized edge
    // list they must both resolve to broadcast hash joins (no sort-merge
    // anywhere in the final adaptive plan). At 100 TB the closing join
    // over an O(m^1.5) wedge stream may legitimately go sort-merge; this
    // pins that the LOCAL plan never pays shuffle-sort latency the stats
    // say it doesn't need.
    val pairs = graft.dedup.Dedup.jaccardPairsPrefix(docs, col("text"),
        col("doc_id"), blockCol = "source", threshold = 0.9)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // the DISTRIBUTED joins alone — this test pins the at-scale plan's
    // join strategy; the driver path is pinned by TrianglesSpec
    val res = graft.ops.Triangles.countDistributed(pairs)
    res.collect() // finalize the adaptive plan
    // the AQE plan string appends the pre-adaptive "== Initial Plan ==",
    // which legitimately contains the sort-merge fallback — assert on the
    // final plan section only
    val full = res.queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"wedge + closing joins should both broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge join expected on a gate-sized edge list:\n$plan")
  }

  test("c21 crawl dedup: scan-side canonical key, one shuffle, partial agg") {
    val plan = phys(graft.curation.Curation.crawlUrlGroups(
      docs.withColumn("url", concat(lit("http://"), col("source"),
        lit(".example.com/"), col("doc_id"))),
      col("url"), col("doc_id")))
    // one exchange: the groupBy on the canonical key — canonicalization
    // must not cost a second pass or a pre-shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    // partial aggregation below the exchange: a viral URL's dup mass is
    // absorbed map-side, never funneled into one reduce task
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregates:\n$plan")
    // plans print top-down: the PARTIAL aggregate must sit BELOW the
    // exchange (later in the string), i.e. on the map side
    assert(plan.lastIndexOf("HashAggregate") > plan.indexOf("Exchange"),
      s"no map-side partial aggregate before the shuffle:\n$plan")
    // no UDF anywhere in the canonicalization
    assert(!plan.toLowerCase.contains("batchevalpython") &&
      !plan.contains("ScalaUDF"), plan)
  }

  test("c22 domain stats: two shuffles, both partial-aggregated map-side") {
    val plan = phys(graft.curation.Curation.crawlDomainStats(
      docs.withColumn("url", concat(lit("http://"), col("source"),
        lit(".example.com/"), col("doc_id"))),
      col("url"), col("doc_id")))
    // exactly two exchanges: canonical-URL groups, then domain rollup —
    // the domain agg must read the dup-collapsed groups, not the corpus
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
    // each exchange has a partial aggregate below it (4 HashAggregates
    // total): viral URLs absorb map-side at stage 1, mega-domains at
    // stage 2
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"expected partial+final aggregates at both stages:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") &&
      !plan.contains("ScalaUDF"), plan)
  }

  test("t21 pair counts: one shuffle, viral words absorbed map-side") {
    // the per-iteration pair count over the vocab frame: a corpus-hot
    // adjacent pair ('t','h' everywhere) must partial-aggregate below
    // the single exchange, never funnel into one reduce task
    val words = Seq(("t|h|e", 100L), ("t|h|a|t", 50L)).toDF("syms", "cnt")
    val plan = phys(graft.text.BpeTrain.pairCounts(words))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregates:\n$plan")
    assert(plan.lastIndexOf("HashAggregate") > plan.indexOf("Exchange"),
      s"no map-side partial aggregate before the shuffle:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("c29 gopher panel: ONE scan, scalar combine, no corpus shuffle, no UDF") {
    val plan = phys(graft.text.TextAnalysis.gopherRulesReport(docs,
      col("text")))
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"rule panel must be one corpus pass:\n$plan")
    // the only exchange is the SinglePartition scalar combine — rule
    // counting never key-shuffles the corpus
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected key shuffle in the rule panel:\n$plan")
    // partial aggregate below the combine: per-rule counts reduce
    // map-side, the driver-side input is #partitions rows
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregates:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("c31 dsir scoring: model joins BROADCAST, one doc-key shuffle") {
    val model = graft.text.TextAnalysis.dsirModel(docs, col("text"),
      col("lang") === "en", buckets = 64)
    val plan = phys(graft.text.TextAnalysis.dsirScore(docs, model,
      col("text"), col("doc_id"), buckets = 64))
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤buckets-row model must broadcast:\n$plan")
    // exactly one key exchange: the doc_id aggregate after the map-only
    // scoring join (the model build's own tiny bucket agg is upstream of
    // the checkpoint, not in this plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("keepOneExact: partial min below the exchange, never a signature window") {
    val plan = phys(graft.curation.Curation.keepOneExact(docs,
      col("text"), col("doc_id")))
    // the round-13 rewrite: a viral duplicate's full-payload copies must
    // be absorbed map-side (argmin partial agg), never funneled into one
    // signature-window task; the survivors come back via an id semi join
    assert(!plan.contains("Window"),
      s"keep-one must not sort full rows in a signature window:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final min aggregates:\n$plan")
    assert(plan.contains("LeftSemi"), plan)
  }

  test("c10b calibrated keep: 1-row cutoff BROADCASTS into the keep pass") {
    val feats = graft.text.Perceptron.features(docs, col("text"),
      col("doc_id"), when(col("lang") === "en", lit(1)).otherwise(lit(-1)),
      dims = 8)
    val plan = phys(graft.text.Perceptron.calibratedKeep(feats,
      (-1 until 8).map(_ -> 1L).toMap, targetRecallPermille = 900))
    // the scalar operating point must enter as a broadcast nested-loop
    // cross join — never a shuffled join keyed on nothing
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"cutoff must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("c16b hashed keep-one: shuffles key on the 8-byte hash, never the signature string") {
    val pri = when(col("source") === "src0", lit(0)).otherwise(lit(1))
    val kept = graft.curation.Curation.keepOnePreferred(
      docs.withColumn("priority", pri), col("text"), col("doc_id"),
      col("priority"), hashSig = true)
    val plan = phys(kept)
    assert(plan.contains("xxhash64"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("LeftSemi"), plan)
    // every __sig exchange keys on a LongType attribute (prints with the
    // L suffix); a raw-signature shuffle would print __sig#N (string)
    val sigParts = """hashpartitioning\(__sig#\d+(L?)""".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(sigParts.nonEmpty, s"expected a __sig exchange:\n$plan")
    assert(sigParts.forall(_ == "L"),
      s"a __sig exchange carries the raw signature string:\n$plan")
  }

  test("c38 drift panel: one doc-key exchange; lag rides the reduced panel") {
    val feats = graft.text.Perceptron.features(docs, col("text"),
      col("doc_id"), when(col("lang") === "en", lit(1)).otherwise(lit(-1)),
      dims = 8)
    val plan = phys(graft.text.Perceptron.driftPanel(feats,
      (-1 until 8).map(_ -> 1L).toMap, pmod(col("doc_id"), lit(5L))))
    // corpus-scale shuffles: the doc-key scoring agg + the batch reduce;
    // the lag window must run over the already-reduced <=#batches rows
    // (a Window directly over corpus rows would be the 100 TB funnel)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 key exchanges, got $exchanges:\n$plan")
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("c39 mixture apply: quota table broadcasts; one domain-key window shuffle") {
    val weights = Seq(("src0", 500000L), ("src1", 500000L))
      .toDF("domain", "weight_micro")
    val plan = phys(graft.text.DomainMixture.applyMixture(docs,
      col("source"), col("doc_id"), weights, budget = 100L))
    assert(plan.contains("BroadcastHashJoin"),
      s"the |D|-row quota table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    // exactly one corpus shuffle: the per-domain rank window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("c39b scalable mixture apply: rank only over the boundary-bucket slice") {
    val weights = Seq(("src0", 500000L), ("src1", 500000L))
      .toDF("domain", "weight_micro")
    val plan = phys(graft.text.DomainMixture.applyMixtureScalable(docs,
      col("source"), col("doc_id"), weights, budget = 100L, nBuckets = 16))
    // exactly ONE rank window in the whole plan (the cum window runs
    // over the checkpointed histogram, which is sum(), not row_number)
    assert("row_number\\(\\)".r.findAllIn(plan).size == 1, plan)
    // ... and its input is the boundary-bucket slice: Catalyst turns
    // the __b === __tb filter into an equi-join key, so the window
    // never sees a whole domain — the mega-domain funnel c39 carries
    // is structurally absent here
    assert("""BroadcastHashJoin \[__b#\d+L, __k2#\d+\], \[__tb#\d+L, __k#\d+\]"""
      .r.findFirstIn(plan).isDefined,
      s"rank input must equi-join on the boundary bucket:\n$plan")
    // the below-threshold keep is scan-shaped: the threshold predicate
    // rides the broadcast join, no window, no extra exchange
    assert("""isnull\(__tb#\d+L\) OR \(__b#\d+L < __tb#\d+L\)"""
      .r.findFirstIn(plan).isDefined,
      s"sub-threshold keep must be a pushed broadcast-join predicate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ScalaUDF"), plan)
  }

  test("boundarySplit: still ONE rank window, fed by the SECOND-level boundary") {
    // degenerate-sort-key defence on: the boundary-bucket rank
    // sub-divides by (sort, tie-id range), and the only row_number in
    // the whole plan runs over the level-2 boundary sub-bucket — even a
    // key whose rows all share one sort value never funnels
    val df = docs.select(col("doc_id"), col("source"),
      (col("doc_id") % 3).as("quality"))
    val plan = phys(graft.curation.Curation.quotaPerKeyScalable(df,
      col("source"), 10, col("quality"), col("doc_id"), bucketWidth = 1L,
      boundarySplit = Some(true)))
    assert("row_number\\(\\)".r.findAllIn(plan).size == 1,
      s"exactly one rank window expected:\n$plan")
    // its input equi-joins on the level-2 sub-bucket threshold (struct
    // keys: (sa, tie-range)); the level-1 slice join is still there too
    assert("""BroadcastHashJoin \[__b2#\d+, __k2#\d+\], \[__tb2#\d+, __bk2#\d+\]"""
      .r.findFirstIn(plan).isDefined,
      s"rank input must equi-join on the level-2 boundary sub-bucket:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ScalaUDF"), plan)
  }

  test("w3 rank-k keep: WindowGroupLimit prunes map-side before the shuffle") {
    // row_number <= k is the one per-key window Spark itself makes
    // scale-safe: WindowGroupLimit keeps k rows per key per input
    // partition BEFORE the exchange, so a mega event-type ships
    // k×partitions rows, never its whole slice — pin that the
    // optimization actually fires (losing it would silently
    // reintroduce the funnel this suite exists to prevent)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    val plan = phys(ev
      .select(col("event_type"), col("event_id"), col("value"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3))
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit around the exchange:\n$plan")
  }

  test("c11c scalable budget mix: running sum partitions by (key, bucket)") {
    val df = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      (col("doc_id") % 100).as("quality"))
    val plan = phys(graft.curation.Curation.tokenBudgetMixScalable(df,
      col("n_tokens"), col("source"), -col("quality"), col("doc_id"),
      budget = 2000L, bucketWidth = 8L))
    // the corpus-side running sum must partition by BOTH the key and
    // the sort bucket — a mega source spreads across its bucket-tasks
    // (a windowspec partitioned on __k2 alone is the funnel)
    assert("""windowspecdefinition\(__k2#\d+, __b#\d+L, __sa#\d+L ASC"""
      .r.findFirstIn(plan).isDefined,
      s"running sum must partition by (key, bucket):\n$plan")
    // base offsets enter broadcast; no sort-merge join anywhere
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ScalaUDF"), plan)
  }

  test("j2b bucketed lead: window partitions by (key, bucket); carry join unhinted") {
    val df = graft.ops.Intervals.ingestionIntervalsScalable(
      ev.filter(col("event_type") === "purchase"),
      Seq("user_id"), "ts", "event_id", bucketWidthMs = 600000L)
    val plan = phys(df)
    // the corpus-side lead must partition by BOTH the entity and the
    // time bucket — a mega entity spreads across its bucket-tasks
    assert("""windowspecdefinition\(user_id#\d+L, __b#\d+L, current_ts#\d+ ASC"""
      .r.findFirstIn(plan).isDefined,
      s"lead must partition by (key, bucket):\n$plan")
    // the carry frame is O(#keys × #time-buckets) — corpus-bounded, not
    // key-bounded — so it must NOT be force-broadcast (a 100 TB frame of
    // high-cardinality (instance, table) keys would OOM the driver); the
    // join keys equal the lead window's partition keys, so a shuffle
    // join reuses the window's own exchange. Stats-elected broadcasts
    // (AQE / autoBroadcastJoinThreshold) remain legal.
    assert(!df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      s"carry join must carry no forced broadcast hint:\n" +
        df.queryExecution.optimizedPlan.toString)
    assert(!plan.contains("CartesianProduct") && !plan.contains("ScalaUDF"), plan)
  }

  test("c34b ccnet quota cut: rank only over the boundary score bucket") {
    val plan = phys(graft.text.TextAnalysis.ccnetKeepIdsScalable(docs,
      col("text"), col("doc_id"), col("lang"), bucketWidth = 100000L))
    // ONE rank window, fed by the boundary-bucket equi-join (the c39b
    // structural guard applied to the tercile cut)
    assert("row_number\\(\\)".r.findAllIn(plan).size == 1, plan)
    assert("""BroadcastHashJoin \[__b#\d+L, __k2#\d+\], \[__tb#\d+L, __k#\d+\]"""
      .r.findFirstIn(plan).isDefined,
      s"rank input must equi-join on the boundary bucket:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("t25 gopher repetition: ONE scan-fused pass, zero shuffles, no UDF") {
    val plan = phys(TextAnalysis.gopherRepetitionMetrics(docs,
      col("text"), col("doc_id")))
    assert(!plan.contains("Exchange"),
      s"all nine metrics must be per-doc scan work, never a shuffle:\n$plan")
    assert(!plan.contains("Generate"),
      s"no explode — the single-pass expression replaces 9 of them:\n$plan")
    assert(plan.contains("graft_gopher_rep_stats"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("c33 dsir top-k: TakeOrderedAndProject, never a global sort") {
    val plan = phys(graft.text.TextAnalysis.dsirTopK(docs, col("text"),
      col("doc_id"), col("lang") === "en", k = 25, buckets = 64))
    assert(plan.contains("TakeOrderedAndProject"),
      s"selection must be per-partition top-k:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"selection must not globally sort the corpus:\n$plan")
  }

  test("c24 column profile: ONE scan, one Expand, no per-column passes") {
    val plan = phys(graft.ops.Profile.columnProfile(docs,
      Seq("doc_id", "lang", "source")))
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"profile must not rescan per column:\n$plan")
    assert("Expand".r.findAllIn(plan).size == 1,
      s"expected the single multi-distinct Expand:\n$plan")
  }

  test("sim14 refine: broadcast-only joins, top-k pushed down, no corpus shuffle") {
    val plan = phys(Similarity.ivfPqRefineKnn(emb, queryVecId = 0L,
      k = 5, shortlist = 20))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"refine must not shuffle the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("c48 epoch shuffle: the scan prunes to the id column alone") {
    val plan = phys(graft.curation.Curation.epochShuffle(docs,
      col("doc_id"), epochs = 3))
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("doc_id") && !read.contains("text"),
      s"key derivation must not drag document text through the scan:\n$read")
    assert(!plan.contains("Exchange"),
      s"the key projection is shuffle-free:\n$plan")
  }

  test("c47 expectations: row rules ride ONE pruned scan, no per-rule pass") {
    val plan = phys(graft.ops.Expectations.validate(docs, Seq(
      "lang_western" -> col("lang").isin("en", "de"),
      "id_not_null" -> col("doc_id").isNotNull)))
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"N rules must not rescan N times:\n$plan")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!read.contains("text"),
      s"rules over (doc_id, lang) must prune text from the scan:\n$read")
  }

  test("c53 maintained audit: no full-outer diff, the dup panel reads the sig store") {
    // the direct audit's cost signature is a full-outer corpus diff +
    // a corpus-wide distinct; the maintained form must show NEITHER —
    // its only join is the added-sigs semi against the pre-reduced
    // store read
    import spark.implicits._
    val sigDir =
      s"${graft.queries.Drives.tempDir("graft_plan_sig")}/sig"
    graft.curation.Curation.sigStoreApplyBatch(
      Seq((1L, "added", None: Option[String], Some("seed text")))
        .toDF("doc_id", "status", "old_text", "new_text"),
      sigDir, 0L, nBuckets = 2)
    val log = Seq((2L, "added", None: Option[String], Some("new text")))
      .toDF("doc_id", "status", "old_text", "new_text")
    val direct = phys(graft.curation.Curation.refreshAudit(docs, docs))
    assert(direct.contains("FullOuter"),
      s"the direct audit diffs full-outer (contrast pin):\n$direct")
    val maintained =
      phys(graft.curation.Curation.refreshAuditMaintained(log, sigDir))
    assert(!maintained.contains("FullOuter"),
      s"maintained audit must not re-diff the corpus:\n$maintained")
    assert("LeftSemi".r.findAllIn(maintained).nonEmpty,
      s"dup panel is a semi join against the store:\n$maintained")
  }

  test("c61 committed read: one partition-pruned scan per referenced generation") {
    // the committed read must stay a union of per-generation scans with
    // the bucket ownership pushed as PARTITION filters — a scan that
    // reads a generation's whole dir and row-filters afterwards would
    // re-read buckets newer generations already own
    import graft.curation.Curation
    val p = s"${graft.queries.Drives.tempDir("graft_plan_iso")}/store"
    val snapA = (1L to 30L).map(i => (i, Some(s"doc $i"))).toDF("doc_id", "text")
    val snapB = snapA.filter($"doc_id" =!= 1L) // one doc → one touched bucket
    def cl(a: org.apache.spark.sql.DataFrame,
           b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
    Curation.snapshotApplyBatchIsolated(cl(snapA.limit(0), snapA), p, 0L,
      nBuckets = 4)
    Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 1L,
      nBuckets = 4)
    val plan = phys(Curation.readSnapshotCommitted(spark, p))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, s"one scan per referenced generation (2):\n$plan")
    val pf = "PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\]".r
      .findAllIn(plan).size
    assert(pf == 2,
      s"bucket ownership must push as partition filters on BOTH scans:\n$plan")
  }

  test("c42 corpus diff: both sides project scan-side before the one join") {
    val plan = phys(graft.curation.Curation.corpusDiff(docs, docs,
      hashContent = true))
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
    assert(reads.size == 2 && reads.forall(r =>
      r.contains("doc_id") && r.contains("text") && !r.contains("lang")),
      s"diff must read only (id, text) on each side:\n$reads")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size == 1,
      s"exactly ONE corpus join:\n$plan")
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
}
