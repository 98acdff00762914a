package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox", "a"),
    (2L, "fox brown quick the", "a"),   // same token set as 1 (order differs)
    (3L, "the quick brown fox jumps", "a"), // 4/5 jaccard = 0.8 vs 1
    (4L, "completely different text here", "a"),
    (5L, "the quick brown fox", "b")    // duplicate of 1 in another block
  ).toDF("doc_id", "text", "source")

  test("exact dedup groups by canonical token set") {
    val g = Dedup.exactByCanonicalTokens(docs, col("text"), col("doc_id"))
      .orderBy("keep_doc_id").collect()
    // {1,2,5} collapse, {3}, {4}
    assert(g.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 3L), (3L, 1L), (4L, 1L)))
  }

  test("jaccardPairs finds within-block near-dups only") {
    val pairs = Dedup.jaccardPairs(docs, col("text"), col("doc_id"), "source", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // (1,2) jaccard 1.0 in block a; (1,5) crosses blocks -> absent
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
    val loose = Dedup.jaccardPairs(docs, col("text"), col("doc_id"), "source", 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("prefix-filtered jaccard equals the blocked cross product") {
    for (t <- Seq(0.5, 0.75, 0.9); n <- Seq(1, 3)) {
      val plain = Dedup.jaccardPairs(docs, col("text"), col("doc_id"),
        "source", t, n).collect().map(_.toSeq).toSet
      val prefix = Dedup.jaccardPairsPrefix(docs, col("text"), col("doc_id"),
        "source", t, n).collect().map(_.toSeq).toSet
      assert(prefix == plain, s"t=$t ngram=$n")
    }
  }

  test("minhash LSH candidates: exact duplicates always collide; supersets of high-jaccard recalled") {
    val cand = Dedup.minHashLshCandidates(docs, col("text"), col("doc_id"),
      numHashes = 16, bands = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical token sets share every band hash -> guaranteed candidates
    assert(cand.contains((1L, 2L)))
    assert(cand.contains((1L, 5L))) // LSH is corpus-wide (no block key)
    assert(cand.contains((2L, 5L)))
    // dissimilar docs should not collide in any band (16/4 with these consts)
    assert(!cand.contains((1L, 4L)))
  }

  test("minHashLshEdges connects every duplicate to its cluster representative") {
    val edges = Dedup.minHashLshEdges(docs, col("text"), col("doc_id"),
      numHashes = 16, bands = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs {1,2,5}: every band bucket has rep=1, so edges are
    // exactly the star (1,2),(1,5) — connectivity preserved, no (2,5)
    assert(edges.contains((1L, 2L)) && edges.contains((1L, 5L)))
    assert(!edges.contains((2L, 5L)))
    assert(!edges.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("3-gram shingles distinguish reordered tokens (unigram jaccard=1)") {
    val uni = Dedup.jaccardPairs(docs, col("text"), col("doc_id"), "source", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tri = Dedup.jaccardPairs(docs, col("text"), col("doc_id"), "source", 0.9,
      ngram = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uni.contains((1L, 2L))) // same token set, different order
    assert(!tri.contains((1L, 2L))) // 3-grams see the reordering
  }

  test("simhash: identical token sets get identical fingerprints, dissimilar differ") {
    val fp = Dedup.simHash(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) == fp(5L))
    assert(fp(1L) != fp(4L))
    assert(fp.values.forall(v => v >= 0 && v <= 0xFFFFFFFFL))
  }

  test("simHashNearPairs finds hamming-close pairs via half-signature blocking") {
    val near = Dedup.simHashNearPairs(docs, col("text"), col("doc_id"), maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.contains((1L, 2L)) && near.contains((1L, 5L)) && near.contains((2L, 5L)))
    assert(!near.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("components + keepOnePerComponent collapse duplicate clusters") {
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val comps = Dedup.components(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    val kept = Dedup.keepOnePerComponent(docs, col("doc_id"), edges)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 2,3,5 collapse into their reps; 4 is a rep; non-edge docs stay
    assert(kept == Set(1L, 4L))
  }

  test("keepOneNearDup: rep-collapse equals keep-one over the full doc graph") {
    // Corpus with exact-dup groups AND cross-group near-dups: the kept set
    // from rep-collapsed dedup must equal components over ALL doc pairs.
    val corpus = (0L until 60L).map { i =>
      val base = if (i % 3 != 0) i - (i % 3) else i // exact-dup groups of 3
      val toks = (0 until 8).map(j => s"t${(base / 3) * 2 + j}") // adjacent
      (i, toks.mkString(" "))                       // groups overlap 6/8
    }.toDF("doc_id", "text").withColumn("__one", lit(0))
    for (t <- Seq(0.6, 0.9)) {
      val fast = Dedup.keepOneNearDup(corpus, col("text"), col("doc_id"), t)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val allEdges = Dedup.jaccardPairs(corpus, col("text"), col("doc_id"),
        "__one", t)
      val slow = Dedup.keepOnePerComponent(corpus, col("doc_id"), allEdges)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(fast == slow, s"threshold $t")
    }
  }

  test("dualClusterLabels: the store-derived gate shapes equal the one-shot APIs") {
    // Same dup-dense corpus as the rep-collapse test: exact-dup groups of 3
    // with 6/8-token overlaps chaining adjacent groups at low thresholds.
    val corpus = (0L until 60L).map { i =>
      val base = if (i % 3 != 0) i - (i % 3) else i
      val toks = (0 until 8).map(j => s"t${(base / 3) * 2 + j}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val labeled = Dedup.dualClusterLabels(corpus, col("text"), col("doc_id"),
      threshold = 0.9, numHashes = 16, bands = 2).localCheckpoint(true)
    // d7 shape: kept = docs labeled with their own id (the library
    // keepOneFromLabels serving path, exactly what the gate runs)
    val keptStore = Dedup.keepOneFromLabels(corpus, col("doc_id"), labeled)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptApi = Dedup.keepOneNearDup(corpus, col("text"), col("doc_id"), 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptStore == keptApi)
    // d12 shape: one groupBy over ec = the exact cluster-size histogram
    val histStore = labeled.groupBy(col("ec"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val histApi = Dedup.nearDupClusterHistogram(corpus, col("text"),
        col("doc_id"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(histStore == histApi)
    // d12b shape: one groupBy over lc = the LSH cluster-size histogram
    val lshStore = labeled.groupBy(col("lc"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshApi = Dedup.lshClusterHistogram(corpus, col("text"), col("doc_id"),
        numHashes = 16, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshStore == lshApi)
    // d14: the composed one-shot report equals the store-derived one
    val repStore = Dedup.agreementFromLabels(labeled).collect().map(_.toSeq)
    val repApi = Dedup.lshDedupAgreement(corpus, col("text"), col("doc_id"),
      threshold = 0.9, numHashes = 16, bands = 2).collect().map(_.toSeq)
    assert(repStore.toSeq == repApi.toSeq)
  }

  test("dedupAuditReport: every panel equals its composed one-shot") {
    // dup-dense corpus with exact-dup groups and near-dup chains — all
    // three clustering families produce non-trivial, DIFFERENT partitions
    val corpus = (0L until 60L).map { i =>
      val base = if (i % 3 != 0) i - (i % 3) else i
      val toks = (0 until 8).map(j => s"t${(base / 3) * 2 + j}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    // the report's cube lives in this scope, freed with the labels at exit
    Checkpoint.scope {
      val labels = Dedup.tripleClusterLabels(corpus, col("text"),
        col("doc_id"), threshold = 0.9, numHashes = 16, bands = 2,
        nBits = 24, maxDist = 2)
      val report = Dedup.dedupAuditReport(labels)
      def h(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(h(report.histExact) == h(Dedup.nearDupClusterHistogram(corpus,
        col("text"), col("doc_id"), 0.9)))
      assert(h(report.histLsh) == h(Dedup.lshClusterHistogram(corpus,
        col("text"), col("doc_id"), numHashes = 16, bands = 2)))
      // sc histogram against an INDEPENDENT composition: components over
      // the verified banded Hamming pairs (no rep collapse on this side)
      assert(h(report.histSimHash) == h(Dedup.clusterHistogramFromEdges(
        corpus.select(col("doc_id")),
        Dedup.simHashNearPairsPortable(corpus, col("text"), col("doc_id"),
          nBits = 24, maxDist = 2))))
      assert(report.agreementLsh.collect().map(_.toSeq).toSeq ==
        Dedup.lshDedupAgreement(corpus, col("text"), col("doc_id"),
          threshold = 0.9, numHashes = 16, bands = 2)
          .collect().map(_.toSeq).toSeq)
      assert(report.agreementSimHash.collect().map(_.toSeq).toSeq ==
        Dedup.simHashDedupAgreement(corpus, col("text"), col("doc_id"),
          threshold = 0.9, nBits = 24, maxDist = 2)
          .collect().map(_.toSeq).toSeq)
    }
  }

  test("keepOneFromLabels: rows missing from a stale snapshot survive as singletons") {
    // labels cover docs 1..3 (1 keeps, 2 and 3 lose to 1); docs 10, 11
    // were ingested AFTER the snapshot — a winner-semi-join would
    // silently drop them from the kept corpus; the loser-anti-join keeps
    // them (they are singletons until the next snapshot says otherwise)
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "x"), (11L, "y"))
      .toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "ec")
    val kept = Dedup.keepOneFromLabels(df, col("doc_id"), labels)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 11L))
  }

  test("componentsIncremental: batch-wise labels equal full components on random graphs") {
    val rnd = new scala.util.Random(61)
    for (trial <- 0 until 4) {
      val n = 60L
      val edges = Seq.fill(50)((rnd.nextLong().abs % n, rnd.nextLong().abs % n))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val (first, second) = edges.splitAt(edges.size / 2)
      val full = Dedup.components(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val l0 = Dedup.components(first.toDF("doc_a", "doc_b"))
      val l1 = Dedup.componentsIncremental(l0, second.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // full components only labels nodes with edges; incremental covers
      // the same node set
      assert(l1 == full, s"trial $trial")
      // replay idempotence: re-applying the same batch changes nothing
      val l2 = Dedup.componentsIncremental(
          Dedup.componentsIncremental(l0, second.toDF("doc_a", "doc_b")),
          second.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(l2 == full, s"trial $trial replay")
    }
  }

  test("components: driver union-find path equals the distributed loop on random graphs") {
    val rnd = new scala.util.Random(20)
    for (trial <- 0 until 4) {
      val n = 80L
      val edges = Seq.fill(70)((rnd.nextLong().abs % n, rnd.nextLong().abs % n))
        .filter { case (a, b) => a != b }.distinct
      val df = edges.toDF("doc_a", "doc_b")
      val dist = Dedup.componentsDistributed(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = Dedup.components(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"trial $trial")
    }
  }

  test("simHashNearPairsPortable: identical token sets pair at distance 0; banding matches brute force") {
    val pairs = Dedup.simHashNearPairsPortable(docs, col("text"), col("doc_id"),
        nBits = 24, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) &&
      pairs.contains((2L, 5L)))
    // brute force over the portable fingerprints must equal the banded set
    val fp = Dedup.simHashPortable(docs, col("text"), col("doc_id"), nBits = 24)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- fp.keys; b <- fp.keys if a < b
      if java.lang.Long.bitCount(fp(a) ^ fp(b)) <= 2
    } yield (a, b)).toSet
    assert(pairs == brute, s"banded=$pairs brute=$brute")
  }

  test("simHashDocLabels: fingerprint rep collapse equals direct-pair labels on a dup-heavy corpus") {
    // exact-dup groups of 3 with near groups — the fingerprint collapse
    // must absorb the dup mass without changing any label
    val corpus = (0L until 45L).map { i =>
      val base = if (i % 3 != 0) i - (i % 3) else i
      val toks = (0 until 8).map(j => s"t${(base / 3) * 2 + j}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    for (maxDist <- Seq(0, 2)) {
      val collapsed = Dedup.simHashDocLabels(corpus, col("text"),
          col("doc_id"), nBits = 24, maxDist = maxDist, "sc")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val direct = Dedup.docLabelsFromEdges(
          corpus.select(col("doc_id")),
          Dedup.simHashNearPairsPortable(corpus, col("text"), col("doc_id"),
            nBits = 24, maxDist = maxDist).select(col("doc_a"), col("doc_b")),
          "sc")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(collapsed == direct, s"maxDist=$maxDist")
    }
  }

  test("simHashDedupAgreement: identical fingerprint corpus reads perfect agreement") {
    // three exact-dup pairs, mutually dissimilar — both clusterings are
    // identical, so every pair metric must read 1.0 / equality
    val corpus = Seq(
      (1L, "alpha beta gamma delta"), (2L, "delta gamma beta alpha"),
      (3L, "one two three four"), (4L, "four three two one"),
      (5L, "red green blue cyan"), (6L, "cyan blue green red")
    ).toDF("doc_id", "text")
    val r = Dedup.simHashDedupAgreement(corpus, col("text"), col("doc_id"),
      threshold = 0.9, nBits = 24, maxDist = 0).head()
    assert(r.getLong(0) == 6L)                      // n_docs
    assert(r.getLong(1) == r.getLong(2))            // cluster counts agree
    assert(r.getLong(3) == 3L && r.getLong(4) == 3L && r.getLong(5) == 3L)
    assert(r.getDouble(6) == 1.0 && r.getDouble(7) == 1.0)
  }

  test("end-to-end dedup: lsh edges -> exact verify -> components -> keep one") {
    val edges = Dedup.minHashLshEdges(docs, col("text"), col("doc_id"), 16, 4)
    // banding at j=0.8 likely links doc 3 (S-curve false positive) — the
    // verify stage restores the exact threshold on candidates only
    val verified = Dedup.verifyJaccard(docs, col("text"), col("doc_id"),
      edges, threshold = 0.9)
    val kept = Dedup.keepOnePerComponent(docs, col("doc_id"), verified)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L)) // {1,2,5} -> 1; 3 and 4 unique
  }

  test("embedding near-dup pairs respect block key and threshold") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.999f, 0.01f), 0),  // ~same direction
      (3L, Array(0.0f, 1.0f), 0),     // orthogonal
      (4L, Array(1.0f, 0.0f), 1)      // other block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupPairs(emb, "label", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("portable md5 minhash edges connect exact duplicates to their rep, never dissimilar docs") {
    val edges = Dedup.minHashLshEdgesPortable(docs, col("text"), col("doc_id"),
        numHashes = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical token sets {1,2,5} share every band hash -> both non-rep
    // members link to the bucket minimum 1
    assert(edges.contains((1L, 2L)))
    assert(edges.contains((1L, 5L)))
    // doc 4 shares no tokens with anything: no band collision
    assert(!edges.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("containmentPairs finds token-boundary substrings within blocks only") {
    val d = Seq(
      (1L, "the quick brown fox jumps over it", "a"),
      (2L, "quick brown fox", "a"),        // contiguous inside 1
      (3L, "quick fox brown", "a"),        // same tokens, wrong order -> no
      (4L, "he quick brown", "a"),         // 'he' != 'the': boundary must hold
      (5L, "quick brown fox", "b"),        // other block -> no
      (6L, "quick brown fox", "a")         // equal text to 2 -> later id is inner
    ).toDF("doc_id", "text", "source")
    val pairs = Dedup.containmentPairs(d, col("text"), col("doc_id"), "source")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 1L), (6L, 1L), (6L, 2L)))
  }

  test("portable simhash: identical token sets share the fingerprint; near sets are Hamming-close") {
    val fp = Dedup.simHashPortable(docs, col("text"), col("doc_id"), nBits = 24)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L) && fp(1L) == fp(5L)) // same token set
    assert(fp.values.forall(v => v >= 0 && v < (1L << 24)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // one-token superset stays closer than a disjoint doc
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)))
  }

  test("editDistancePairs: within-threshold same-block pairs only; nulls dropped") {
    val d = Seq(
      (1L, "en", "the quick brown fox jumps"),
      (2L, "en", "the quick brown fox jumped"),  // 2 edits from doc 1
      (3L, "en", "a totally different opening"), // far from both
      (4L, "de", "the quick brown fox jumps"),   // same text, other lang block
      (5L, "en", null.asInstanceOf[String])      // null text must be dropped
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.editDistancePairs(d, col("text"), col("doc_id"),
        col("lang"), prefixLen = 32, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 2L)))
    // tightening the threshold below the true distance drops the pair
    assert(Dedup.editDistancePairs(d, col("text"), col("doc_id"),
      col("lang"), prefixLen = 32, maxDist = 1).count() == 0L)
  }

  test("editDistancePairs equals the exhaustive blocked join on a mixed-length corpus") {
    // Adversarial mixed shapes for the Pass-Join candidate route: empty
    // and sub-segment-length strings (the short all-pairs path), lengths
    // crossing the DIV-8 bucket boundary, planted near-copies at 1..7
    // edits (substitutions, insertions, deletions), and exact dups across
    // languages. Fixed seed → deterministic corpus.
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefgh "
    def randStr(len: Int): String =
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var t = s
      (0 until edits).foreach { _ =>
        val op = rnd.nextInt(3)
        val pos = if (t.isEmpty) 0 else rnd.nextInt(t.length)
        t = op match {
          case 0 if t.nonEmpty => // substitute
            t.updated(pos, alpha(rnd.nextInt(alpha.length)))
          case 1 => // insert
            t.substring(0, pos) + alpha(rnd.nextInt(alpha.length)) + t.substring(pos)
          case _ if t.nonEmpty => // delete
            t.substring(0, pos) + t.substring(pos + 1)
          case _ => t
        }
      }
      t
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    (0L until 300L).foreach { i =>
      val lang = if (i % 3 == 0) "en" else "de"
      val text =
        if (i % 10 == 9) null
        else if (i % 7 == 1 && i > 0)
          // edit count varies INDEPENDENTLY of the i%7 selection guard
          // (which would pin i%7 to the constant 1): (i/7)%7 walks 1..7,
          // deliberately planting pairs on both sides of the maxDist=5
          // boundary (distance 5 kept, 6 dropped)
          mutate(Option(rows(i.toInt - 1)._3).getOrElse("fallback text"),
            1 + ((i / 7) % 7).toInt)
        else randStr(rnd.nextInt(46)) // includes 0..5-char shorts
      rows += ((i, lang, text))
    }
    val d = rows.toSeq.toDF("doc_id", "lang", "text")
    val got = Dedup.editDistancePairs(d, col("text"), col("doc_id"),
        col("lang"), prefixLen = 32, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val p = d.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        substring(lower(trim(col("text"))), 1, 32).as("pre"))
      .withColumn("lb", expr("length(pre) DIV 8"))
    val a = p.select(col("lang"), col("lb"), col("doc_id").as("id_a"),
      col("pre").as("pre_a"))
    val b = p.select(col("lang"), col("lb"), col("doc_id").as("id_b"),
      col("pre").as("pre_b"))
    val brute = a.join(b, Seq("lang", "lb"))
      .where(col("id_a") < col("id_b") &&
        levenshtein(col("pre_a"), col("pre_b")) <= 5)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pre_a"), col("pre_b")).cast("long").as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(brute.nonEmpty, "fixture must plant at least one true pair")
  }

  test("lshClusterHistogram: sizes sum to corpus; exact dups share a cluster") {
    val hist = Dedup.lshClusterHistogram(docs, col("text"), col("doc_id"),
        numHashes = 16, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every doc is in exactly one cluster (singletons included)
    assert(hist.map(p => p._1 * p._2).sum == docs.count())
    // docs 1/2/5 share a token set -> identical signatures -> one cluster
    // of size >= 3 exists
    assert(hist.exists(_._1 >= 3), hist.toSeq.toString)
  }

  test("corpusResemblance: identical corpora sketch to 1.0, disjoint to 0") {
    val d = Seq(
      (1L, "s1", "alpha beta gamma"), (2L, "s1", "delta eps"),
      (3L, "s2", "alpha beta gamma"), (4L, "s2", "delta eps"), // == s1 content
      (5L, "s3", "zeta theta iota kappa")                      // disjoint
    ).toDF("doc_id", "src", "text")
    val r = Dedup.corpusResemblance(d, col("text"), col("src"), numHashes = 16)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getDouble(3))).toSeq.sortBy(p => (p._1, p._2))
    assert(r.map(p => (p._1, p._2)) == Seq(("s1", "s2"), ("s1", "s3"), ("s2", "s3")))
    assert(r(0)._3 == 16L && r(0)._4 == 1.0) // identical shingle unions
    assert(r(1)._3 == 0L && r(2)._3 == 0L)   // disjoint token sets
  }
}
