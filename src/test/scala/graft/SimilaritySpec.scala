package graft

import graft.sim.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic synthetic corpus: 3 tight clusters in 8-d
  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(3)(Array.fill(8)(rnd.nextGaussian().toFloat))
    (0 until 60).map { i =>
      val c = centers(i % 3)
      val v = c.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      (i.toLong, v, i % 3)
    }.toDF("vec_id", "embedding", "label")
  }

  test("ivfTrain / pqEncodeTrained: local solve ≡ forced-distributed, bit for bit") {
    // the driver-solve equivalence (the DedupSpec/PageRankSpec pattern):
    // this corpus takes the local path; a None corpus copy is the
    // distributed trainer. Both must produce identical centroids,
    // codebook-derived codes, and errors.
    val distTrain = Similarity.ivfTrainWith(emb, 4, 2, None)
    val distPq = Similarity.pqEncodeTrainedWith(emb, m = 2, subDim = 4,
      ks = 8, iters = 2, lv = None).orderBy("vec_id").collect().toSeq
    val distAnn = Similarity.ivfAnnWith(emb, queryVecId = 0L, k = 10,
      nCentroids = 4, nProbe = 2, iters = 2, lv = None)
      .collect().toSeq
    assert(Similarity.localVecs(emb).isDefined)
    val locTrain = Similarity.ivfTrain(emb, 4, 2)
    val locPq = Similarity.pqEncodeTrained(emb, m = 2, subDim = 4,
      ks = 8, iters = 2).orderBy("vec_id").collect().toSeq
    val locAnn = Similarity.ivfAnn(emb, queryVecId = 0L, k = 10,
      nCentroids = 4, nProbe = 2, iters = 2)
      .collect().toSeq
    assert(distTrain.map(_._1).toSeq == locTrain.map(_._1).toSeq)
    distTrain.zip(locTrain).foreach { case ((_, d), (_, l)) =>
      assert(d.toSeq == l.toSeq) // exact doubles, no tolerance
    }
    assert(distPq == locPq)
    assert(distAnn == locAnn)
  }

  test("clusterStratifiedSample ≡ per-cluster window rank-k on the same assignment") {
    import org.apache.spark.sql.expressions.Window
    val got = Similarity.clusterStratifiedSample(emb, perCluster = 3,
        nCentroids = 4, iters = 1)
      .orderBy("cid", "vec_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // reference: the window formulation over the identical assignment
    val cents = Similarity.ivfTrain(emb, 4, 1)
    val want = emb.select(col("vec_id"), col("embedding"))
      .withColumn("cid", Similarity.ivfAssignExpr(cents))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("vec_id"))))
      .filter(col("rn") <= 3).select("cid", "vec_id")
      .orderBy("cid", "vec_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == want)
    // every populated cluster contributes, none more than k
    val perCid = got.groupBy(_._1).view.mapValues(_.size)
    assert(perCid.values.forall(n => n >= 1 && n <= 3), perCid.toMap.toString)
  }

  test("ivfAssignBatch: replay-idempotent store ≡ one-shot frozen-centroid assignment") {
    val dir = graft.queries.Drives.tempDir("ivfinc")
    val centroids = Similarity.ivfTrain(emb, nCentroids = 3, iters = 1)
    val b0 = emb.filter(col("vec_id") % 2 === 0)
    val b1 = emb.filter(col("vec_id") % 2 === 1)
    Similarity.ivfAssignBatch(b0, 0L, centroids, dir)
    Similarity.ivfAssignBatch(b1, 1L, centroids, dir)
    // at-least-once replay of batch 1: same store content, no dupes
    Similarity.ivfAssignBatch(b1, 1L, centroids, dir)
    val got = Similarity.assignmentsFromStore(spark, dir)
      .as[(Long, Int)].collect().toSet
    val oneShot = emb.select(col("vec_id"),
        Similarity.ivfAssignExpr(centroids).as("cid"))
      .as[(Long, Int)].collect().toSet
    assert(got == oneShot)
    assert(got.size == 60)
  }

  test("ivfDriftDecision: stable shares hold; shifted centroid retrains; absent holds") {
    import org.apache.spark.sql.types._
    val dir = graft.queries.Drives.tempDir("ivfdrift")
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("cid", IntegerType), StructField("batch_id", LongType)))
    def writeTo(d: String, rows: Seq[(Long, Int)], bid: Long): Unit =
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map { case (v, c) =>
            org.apache.spark.sql.Row(v, c, bid) }), schema)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(d)
    def write(rows: Seq[(Long, Int)], bid: Long): Unit = writeTo(dir, rows, bid)
    // batch 0: cid0 x5, cid1 x5, cid2 x2 (cid2 exists only early)
    write((1L to 5L).map((_, 0)) ++ (6L to 10L).map((_, 1)) ++
      Seq((11L, 2), (12L, 2)), 0L)
    // batch 1 (latest): cid0 x9, cid1 x1 — cid0's share jumps, cid1's
    // collapses, cid2 absent
    write((13L to 21L).map((_, 0)) ++ Seq((22L, 1)), 1L)
    val got = Similarity.ivfDriftDecision(spark, dir, bandPermille = 100L)
      .orderBy("cid")
      .select("cid", "share_all_permille", "share_recent_permille", "action")
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3))).toSeq
    // all: cid0 14/22=636, cid1 6/22=272, cid2 2/22=90;
    // recent: cid0 9/10=900, cid1 1/10=100; cid2 NULL -> hold
    assert(got == Seq((0, 636L, 900L, "retrain"), (1, 272L, 100L, "retrain"),
      (2, 90L, -1L, "hold")))
    // a replayed identical latest batch changes nothing; and when the
    // latest batch distributes exactly like history, everything holds
    val dir2 = graft.queries.Drives.tempDir("ivfdrift2")
    writeTo(dir2, (1L to 5L).map((_, 0)) ++ (6L to 10L).map((_, 1)), 0L)
    writeTo(dir2, (11L to 15L).map((_, 0)) ++ (16L to 20L).map((_, 1)), 1L)
    val stable = Similarity.ivfDriftDecision(spark, dir2, bandPermille = 1L)
      .select("action").collect().map(_.getString(0)).toSet
    assert(stable == Set("hold"))
    // the latest batch is resolved INSIDE the plan, not collected at
    // build time: after a drifted batch 2 lands, a rebuilt panel must
    // compare the grown totals against the NEW latest — cid0 19/30=633
    // vs recent 900, cid1 11/30=366 vs 100, both past the band
    writeTo(dir2, (21L to 29L).map((_, 0)) ++ Seq((30L, 1)), 2L)
    val drifted = Similarity.ivfDriftDecision(spark, dir2, bandPermille = 100L)
    assert(drifted.filter(col("action") === "retrain").count() == 2)
  }

  test("ivfIngest streams batches into the assignment store e2e") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = graft.queries.Drives.tempDir("ivfing")
    val centroids = Similarity.ivfTrain(emb, nCentroids = 3, iters = 1)
    val rows = emb.as[(Long, Array[Float], Int)].collect()
    val in = MemoryStream[(Long, Array[Float])]
    val q = Similarity.ivfIngest(in.toDF().toDF("vec_id", "embedding"),
      centroids, dir, queryName = "ivf_ingest_test")
    try {
      in.addData(rows.take(30).map(r => (r._1, r._2)).toIndexedSeq)
      q.processAllAvailable()
      in.addData(rows.drop(30).map(r => (r._1, r._2)).toIndexedSeq)
      q.processAllAvailable()
      val n = Similarity.assignmentsFromStore(spark, dir).count()
      assert(n == 60)
    } finally q.stop()
  }

  test("bruteForceKnn returns k nearest, same-cluster first, ordered desc") {
    val top = Similarity.bruteForceKnn(emb, queryVecId = 0L, k = 10).collect()
    assert(top.length == 10)
    val cos = top.map(_.getAs[Double]("cosine"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    // query is cluster 0; its 19 same-cluster neighbors dominate the top-10
    assert(top.forall(_.getAs[Int]("label") == 0))
  }

  test("lshAnn recall@10 vs brute force on clustered data") {
    val exact = Similarity.bruteForceKnn(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshAnn(emb, 0L, k = 10, nBits = 4, dim = 8)
      .collect().map(_.getLong(0)).toSet
    // tight clusters: same-cluster vectors land in the query's bucket (or
    // hamming-1 probes); require recall >= 0.7 deterministically (seeded)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall exact=$exact approx=$approx")
  }

  test("ivfAnn recall@10 vs brute force on clustered data") {
    val exact = Similarity.bruteForceKnn(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.ivfAnn(emb, 0L, k = 10,
      nCentroids = 3, nProbe = 1, iters = 3)
      .collect().map(_.getLong(0)).toSet
    // 3 tight clusters, 3 centroids: the query's list holds its cluster
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall exact=$exact approx=$approx")
  }

  test("quantizeEmbeddings: codes reconstruct within half-step, max saturates, zero vector safe") {
    val d = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f), 0) // all-zero: scale 0, codes 0
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.quantizeEmbeddings(d).orderBy("vec_id").collect()
    val scale = r(0).getDouble(2)
    assert(scale == 1.0 / 127.0)
    val codes = r(0).getSeq[Byte](3)
    // round-half-up toward +inf: -0.5/scale = -63.5 -> floor(-63.5+0.5) = -63;
    // 0.25/scale = 31.75 -> floor(32.25) = 32; 1.0/scale = 127 exactly
    assert(codes == Seq[Byte](127, -63, 32, 0))
    assert(r(1).getDouble(2) == 0.0 && r(1).getSeq[Byte](3).forall(_ == 0))
    // reconstruction error bounded by half a step
    codes.zip(Seq(1.0, -0.5, 0.25, 0.0)).foreach { case (c, x) =>
      assert(math.abs(c * scale - x) <= scale / 2 + 1e-12)
    }
  }

  test("quantizedKnn recall@10 vs exact float ranking") {
    val exact = Similarity.bruteForceKnn(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val quant = Similarity.quantizedKnn(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    // int8 round-off perturbs cosines by ~1/127 per component; on tightly
    // clustered data the top-10 stays overwhelmingly the same
    assert((exact & quant).size >= 8, s"recall ${(exact & quant).size}/10")
  }

  test("pqEncode: seed vectors self-encode with zero error; codes well-formed") {
    val enc = Similarity.pqEncode(emb, m = 4, subDim = 2, ks = 8)
      .orderBy("vec_id").collect()
    assert(enc.length == 60)
    enc.take(8).zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("codes") == s"$i,$i,$i,$i",
        s"seed $i should pick its own centroid in every subspace")
      assert(r.getAs[Long]("qerr_micro") == 0L)
    }
    enc.foreach { r =>
      val cs = r.getAs[String]("codes").split(",").map(_.toInt)
      assert(cs.length == 4 && cs.forall(c => c >= 0 && c < 8))
    }
  }

  test("pqAdcKnn: compressed-domain top-k stays inside the query's cluster") {
    val top = Similarity.pqAdcKnn(emb, queryVecId = 0L,
      m = 4, subDim = 2, ks = 8, k = 10).collect()
    assert(top.length == 10)
    val adc = top.map(_.getAs[Long]("adc_micro"))
    assert(adc.zip(adc.tail).forall { case (a, b) => a <= b })
    // 3 tight clusters with seed centroids from each: every top-10 ADC
    // neighbor of the cluster-0 query is cluster 0
    assert(top.forall(_.getAs[Int]("label") == 0))
  }

  test("ivfPqKnn: full probe ≡ pqAdcKnn; narrow probe scores are true ADC scores") {
    // dim=8 fixture: m=4 × subDim=2; nCentroids=4 (60 vecs / stride 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Long]("adc_micro"))).toSeq
    // probing EVERY list is exactly the corpus-wide ADC scan — the IVF
    // layer is a pure candidate filter over identical arithmetic
    val full = rows(Similarity.ivfPqKnn(emb, queryVecId = 0L, k = 10,
      nCentroids = 4, nProbe = 4, iters = 1, m = 4, subDim = 2, ks = 8))
    val adcAll = rows(Similarity.pqAdcKnn(emb, queryVecId = 0L,
      m = 4, subDim = 2, ks = 8, k = 10))
    assert(full == adcAll, s"$full vs $adcAll")
    // a narrow probe returns a SUBSET of vectors, each with its exact
    // corpus-wide ADC score (the filter never changes scores), ordered
    val narrowDf = Similarity.ivfPqKnn(emb, queryVecId = 0L, k = 10,
      nCentroids = 4, nProbe = 1, iters = 1, m = 4, subDim = 2, ks = 8)
    val narrow = rows(narrowDf)
    assert(narrow.nonEmpty && narrow.size <= 10)
    val adcBig = rows(Similarity.pqAdcKnn(emb, queryVecId = 0L,
      m = 4, subDim = 2, ks = 8, k = 60)).toMap
    narrow.foreach { case (id, s) =>
      assert(adcBig.get(id).contains(s), s"vec $id: $s vs ${adcBig.get(id)}")
    }
    val scores = narrow.map(_._2)
    assert(scores.zip(scores.tail).forall { case (a, b) => a <= b })
    // cluster-0 query on 3 tight clusters: the probed list is cluster-pure
    assert(narrowDf.collect().forall(_.getAs[Int]("label") == 0))
  }

  test("ivfPqRefineKnn: full-probe full-shortlist refine ≡ exact brute-force top-k") {
    // probe every list and shortlist the whole corpus: the ADC stage is a
    // pure pass-through and the refine must reproduce sim1's exact order
    def ranked(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSeq
    val refined = ranked(Similarity.ivfPqRefineKnn(emb, queryVecId = 0L,
      k = 5, shortlist = 60, nCentroids = 4, nProbe = 4, iters = 1,
      m = 4, subDim = 2, ks = 8))
    val exact = ranked(Similarity.bruteForceKnn(emb, queryVecId = 0L, k = 5))
    assert(refined == exact, s"$refined vs $exact")
    // a narrow shortlist returns ids FROM that shortlist, exact-ranked
    val sl = Similarity.ivfPqKnn(emb, queryVecId = 0L, k = 8,
      nCentroids = 4, nProbe = 4, iters = 1, m = 4, subDim = 2, ks = 8)
      .collect().map(_.getLong(0)).toSet
    val narrow = Similarity.ivfPqRefineKnn(emb, queryVecId = 0L,
      k = 5, shortlist = 8, nCentroids = 4, nProbe = 4, iters = 1,
      m = 4, subDim = 2, ks = 8).collect()
    assert(narrow.map(_.getAs[Long]("vec_id")).forall(sl.contains))
    val cos = narrow.map(_.getAs[Double]("cosine"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
  }

  test("pqEncodeTrained: Lloyd round strictly reduces total quantization error") {
    def totalErr(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("qerr_micro"))).head().getLong(0)
    val seeded = totalErr(Similarity.pqEncode(emb, m = 4, subDim = 2, ks = 8))
    val trained = totalErr(
      Similarity.pqEncodeTrained(emb, m = 4, subDim = 2, ks = 8, iters = 1))
    val trained2 = totalErr(
      Similarity.pqEncodeTrained(emb, m = 4, subDim = 2, ks = 8, iters = 2))
    assert(trained < seeded, s"1 Lloyd round: $trained !< $seeded")
    assert(trained2 <= trained, s"2nd round must not regress: $trained2 > $trained")
  }

  test("pqEncode plan: scan-fused projection, no shuffle") {
    val plan = Similarity.pqEncode(emb, m = 4, subDim = 2, ks = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode must not shuffle:\n$plan")
  }

  test("langId predicts the dominant stopword language") {
    val docs = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "el perro y la casa de que en un")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.langId(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "es"))
  }

  test("quality metrics compute token count / avg length / stopword ratio") {
    val docs = Seq((1L, "the a bb ccc")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityMetrics(docs, col("text"), col("doc_id")).head()
    assert(r.getAs[Long]("n_tokens") == 4L)
    assert(math.abs(r.getAs[Double]("avg_token_len") - 9.0 / 4) < 1e-9)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 0.5) < 1e-9)
  }

  test("semanticDedup keeps id 0 and leaves no in-bucket pair above the threshold") {
    val kept = Similarity.semanticDedup(emb, nBits = 4, threshold = 0.9, dim = 8)
    val ids = kept.collect().map(_.getLong(0)).toSet
    assert(ids.contains(0L)) // lowest id can never be dropped
    // 3 tight clusters of 20 at cos ~0.997 -> most of each cluster collapses
    assert(ids.size < 30, s"kept ${ids.size} of 60")
    // the invariant the greedy guarantees: no two survivors in the same
    // bucket are still >= threshold similar
    val keptB = kept.withColumn("bucket",
      Similarity.lshBucket(col("embedding"), 4, 8))
    assert(graft.dedup.Dedup.embeddingNearDupPairs(keptB, "bucket", 0.9)
      .count() == 0L)
  }

  test("redactPii replaces and counts emails, IPs, phones") {
    val docs = Seq(
      (1L, "mail bob@corp.io or admin+x@a.b.co from 192.168.1.17 call +4915112345678"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(docs, col("text"), col("doc_id"))
      .orderBy("doc_id").collect()
    assert(r(0).getAs[String]("clean_text") ==
      "mail <EMAIL> or <EMAIL> from <IP> call <PHONE>")
    assert((r(0).getAs[Long]("n_emails"), r(0).getAs[Long]("n_ipv4"),
      r(0).getAs[Long]("n_phones")) == ((2L, 1L, 1L)))
    assert(r(1).getAs[String]("clean_text") == "no pii here at all")
    assert(r(1).getAs[Long]("n_emails") == 0L)
  }

  test("vocabGrowth: first-occurrence identity gives the cumulative vocab") {
    val docs = Seq((0L, "A b"), (5L, "b c C!")).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.vocabGrowth(docs, col("text"),
        col("doc_id"), nBuckets = 2)
      .orderBy(col("bucket"))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // max=5: doc 0 -> bucket 0, doc 5 -> bucket 1. Bucket 0: 1 doc,
    // 2 tokens (a, b), vocab {a, b}. Bucket 1 cumulative: 2 docs,
    // 5 tokens, vocab {a, b, c} (b's first occurrence stays in bucket 0).
    assert(got == Seq((0L, 1L, 2L, 2L, 1.0), (1L, 2L, 5L, 3L, 0.6)))
  }

  test("tokenDistributionDrift: hand-computed total variation, 0 for identical slices") {
    val a = Seq((1L, "x x y")).toDF("doc_id", "text")   // p = {x: 2/3, y: 1/3}
    val b = Seq((2L, "x y y y")).toDF("doc_id", "text") // p = {x: 1/4, y: 3/4}
    val r = TextAnalysis.tokenDistributionDrift(a, b, col("text")).head()
    // TV = 0.5*(|2/3-1/4| + |1/3-3/4|) = 5/12 = 0.416667
    assert((r.getAs[Long]("n_tokens_a"), r.getAs[Long]("n_tokens_b"),
      r.getAs[Long]("vocab_union")) == ((3L, 4L, 2L)))
    assert(r.getAs[Double]("tv_distance") == 0.416667)
    val same = TextAnalysis.tokenDistributionDrift(a, a, col("text")).head()
    assert(same.getAs[Double]("tv_distance") == 0.0)
  }

  test("bigramLogProb: hand-computed MLE; stupid backoff on held-out bigrams") {
    // corpus bigrams: (a,b)x2, (b,a)x1 -> c1->(a)=2, c1->(b)=1
    val corpus = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val self = TextAnalysis.bigramLogProb(corpus, col("text"), col("doc_id"))
      .head()
    // lp(a,b)=ln(2/2)=0, lp(b,a)=ln(1/1)=0 -> avg 0 over 3 bigrams
    assert(self.getAs[Long]("n_bigrams") == 3L)
    assert(self.getAs[Double]("avg_logprob") == 0.0)
    // held-out doc: bigram (b,b) unseen -> backoff ln(0.4) + lp1(b);
    // unigrams: a=2, b=2, T=4 -> lp1(b)=round(ln(0.5),6)=-0.693147
    val held = Seq((9L, "b b")).toDF("doc_id", "text")
    val scored = TextAnalysis.bigramLogProb(corpus, col("text"), col("doc_id"),
        scored = Some(held)).head()
    assert(scored.getAs[Long]("n_bigrams") == 1L)
    assert(scored.getAs[Double]("avg_logprob") == -0.916291 - 0.693147)
    // fully-OOV bigram AND token: backoff floor applies
    val oov = Seq((8L, "zz qq")).toDF("doc_id", "text")
    val oovScore = TextAnalysis.bigramLogProb(corpus, col("text"), col("doc_id"),
        scored = Some(oov)).head()
    assert(oovScore.getAs[Double]("avg_logprob") == -0.916291 - 20.0)
  }

  test("unigramLogProb: hand-computed corpus log-probs, decimal-summed mean") {
    val docs = Seq((1L, "a a a"), (2L, "a b")).toDF("doc_id", "text")
    // counts: a=4, b=1, total=5; lp6(a)=round(ln(0.8),6)=-0.223144,
    // lp6(b)=round(ln(0.2),6)=-1.609438
    val r = TextAnalysis.unigramLogProb(docs, col("text"), col("doc_id"))
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_tokens") == 3L)
    assert(r(0).getAs[Double]("avg_logprob") == -0.223144)
    assert(r(1).getAs[Long]("n_tokens") == 2L)
    // (-0.223144 + -1.609438) / 2 = -0.916291
    assert(r(1).getAs[Double]("avg_logprob") == -0.916291)
  }
}
