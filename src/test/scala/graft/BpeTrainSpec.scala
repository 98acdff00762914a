package graft

import graft.text.BpeTrain
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeTrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fold(syms: String, lft: String, rgt: String): String =
    Seq(syms).toDF("s")
      .select(BpeTrain.applyMergeCol(col("s"), lft, rgt))
      .as[String].collect().head

  test("applyMergeCol: greedy left-to-right fold, |-anchored last-symbol test") {
    assert(fold("a|b|a|b|b", "a", "b") == "ab|ab|b")
    // overlap run: greedy-left pairs from the left, aaa -> [aa, a]
    assert(fold("a|a|a", "a", "a") == "aa|a")
    assert(fold("a|a|a|a", "a", "a") == "aa|aa")
    // single symbol word: fold over empty tail returns the seed
    assert(fold("a", "a", "b") == "a")
    // the anchor: last symbol "ba" must NOT satisfy lft = "a"
    assert(fold("b|ba|a", "a", "a") == "b|ba|a")
    // multi-char participants merge like any other symbol
    assert(fold("m|er|g|er", "g", "er") == "m|er|ger")
  }

  test("wordFreq: lowercased [a-z]+ words, char-wise syms, no empty symbols") {
    val got = Seq("Low lower, LOWEST low!").toDF("text")
      .transform(d => BpeTrain.wordFreq(d, col("text")))
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("low", "l|o|w", 2L), ("lower", "l|o|w|e|r", 1L),
      ("lowest", "l|o|w|e|s|t", 1L)))
  }

  test("trainMerges matches a hand-run of word-frequency BPE") {
    // Corpus of Sennrich's flavor: low x5, lower x2, newest x6, widest x3.
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val words = BpeTrain.wordFreq(Seq(corpus).toDF("text"), col("text"))
    Checkpoint.scope {
      val (merges, vocab) = BpeTrain.trainMerges(words, 4)
      // Hand-run: pair counts round 1 — (e,s)=9, (s,t)=9, (w,e)=8, (l,o)=7,
      // (o,w)=7, ... tie (e,s)/(s,t) broken lexicographically -> (e,s).
      // Round 2: (es,t)=9 wins. Round 3: (w,est)=8? no — after es,t merge:
      // newest = n|e|w|est, widest = w|i|d|est: (w,est)=6, (d,est)=3,
      // (l,o)=7, (o,w)=7 -> tie (l,o)/(o,w) -> (l,o) wins lex. Round 4:
      // (lo,w)=7.
      assert(merges.map(m => (m.step, m.lft, m.rgt, m.c)) == Seq(
        (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "l", "o", 7L),
        (4, "lo", "w", 7L)))
      val vocabMap = vocab.select("word", "syms").as[(String, String)]
        .collect().toMap
      assert(vocabMap == Map(
        "low" -> "low", "lower" -> "low|e|r", "newest" -> "n|e|w|est",
        "widest" -> "w|i|d|est"))
    }
  }

  test("trainMerges: driver path equals the distributed loop on random corpora") {
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 3) {
      val vocabWords = Seq.fill(30)(
        (1 to (rnd.nextInt(6) + 2)).map(_ => ('a' + rnd.nextInt(5)).toChar)
          .mkString)
      val corpus = Seq.fill(120)(vocabWords(rnd.nextInt(30))).mkString(" ")
      val words = BpeTrain.wordFreq(Seq(corpus).toDF("text"), col("text"))
      val (mD, distVocab) = Checkpoint.scope {
        val (m, v) = BpeTrain.trainMergesDistributed(words, 5)
        (m, v.select("word", "syms", "cnt")
          .as[(String, String, Long)].collect().sorted.toSeq)
      }
      val (mL, vL) = BpeTrain.trainMerges(words, 5)
      val localVocab = vL.select("word", "syms", "cnt")
        .as[(String, String, Long)].collect().sorted.toSeq
      assert(mL == mD, s"trial $trial merges")
      assert(localVocab == distVocab, s"trial $trial vocab")
    }
  }

  test("trainMerges runs dry gracefully when pairs are exhausted") {
    // Single 2-char word: exactly one merge possible, then no pairs left.
    val words = BpeTrain.wordFreq(Seq("ab").toDF("text"), col("text"))
    Checkpoint.scope {
      val (merges, vocab) = BpeTrain.trainMerges(words, 10)
      assert(merges.map(m => (m.lft, m.rgt, m.c)) == Seq(("a", "b", 1L)))
      assert(vocab.as[(String, String, Long)].collect().toSeq ==
        Seq(("ab", "ab", 1L)))
    }
  }

  test("tokenCounts: trained-vocab lookup counts per document") {
    val docs = Seq((1L, "low lower"), (2L, "newest newest widest low"))
      .toDF("doc_id", "text")
    val vocab = Seq(
      ("low", "low", 7L), ("lower", "low|e|r", 2L),
      ("newest", "n|e|w|est", 6L), ("widest", "w|i|d|est", 3L))
      .toDF("word", "syms", "cnt")
    val got = BpeTrain.tokenCounts(docs, col("text"), col("doc_id"), vocab)
      .as[(Long, Long)].collect().toMap
    // doc 1: low(1) + lower(3) = 4; doc 2: newest(4)*2 + widest(4) + low(1)
    assert(got == Map(1L -> 4L, 2L -> 13L))
  }

  test("symbolFrequencies weights symbols by word count") {
    val vocab = Seq(("low", 5L), ("low|e|r", 2L)).toDF("syms", "cnt")
    val got = BpeTrain.symbolFrequencies(vocab)
      .as[(String, Long)].collect().toMap
    assert(got == Map("low" -> 7L, "e" -> 2L, "r" -> 2L))
  }

  test("detokenize: word order preserved, canonical round trip, empty docs") {
    val docs = Seq((1L, "lower low lower"), (2L, "LOW, newest!"),
      (3L, "42 --"), (4L, "low")).toDF("doc_id", "text")
    val vocab = Seq(
      ("low", "low", 7L), ("lower", "low|e|r", 2L),
      ("newest", "n|e|w|est", 6L)).toDF("word", "syms", "cnt")
    val got = BpeTrain.detokenize(docs, col("text"), col("doc_id"), vocab)
      .as[(Long, String, Boolean)].collect().toSet
    assert(got == Set(
      (1L, "lower low lower", true),
      // punctuation/case normalize away: detok equals the CANONICAL form
      (2L, "low newest", true),
      // word-less doc survives with the empty canonical form
      (3L, "", true),
      (4L, "low", true)))
  }

  test("fertilityReport: per-lang floor-micro tokens-per-word") {
    val docs = Seq(("en", "low lower low"), ("en", "newest"),
      ("de", "lower lower")).toDF("lang", "text")
    val vocab = Seq(("low", "low", 7L), ("lower", "low|e|r", 2L),
      ("newest", "n|e|w|est", 6L)).toDF("word", "syms", "cnt")
    val got = BpeTrain.fertilityReport(docs, col("text"), col("lang"), vocab)
      .as[(String, Long, Long, Long)].collect().toSet
    // en: 4 words -> 1+3+1+4 = 9 subwords -> 2250000; de: 2 -> 6 -> 3000000
    assert(got == Set(("en", 4L, 9L, 2250000L), ("de", 2L, 6L, 3000000L)))
  }

  test("fertilityReport: OOV words char-split instead of silently dropping") {
    // 'unseen' (6 chars) is not in the vocab: real BPE falls back to
    // char pieces, so it must count 6 subwords — an inner join would
    // drop it and UNDERSTATE fertility for exactly the under-served
    // language the metric targets
    val docs = Seq(("xx", "low unseen")).toDF("lang", "text")
    val vocab = Seq(("low", "low", 7L)).toDF("word", "syms", "cnt")
    val got = BpeTrain.fertilityReport(docs, col("text"), col("lang"), vocab)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("xx", 2L, 7L, 3500000L)))
  }

  test("detokenize: OOV words survive as themselves (char-split fallback)") {
    val docs = Seq((1L, "low unseen")).toDF("doc_id", "text")
    val vocab = Seq(("low", "low", 7L)).toDF("word", "syms", "cnt")
    val got = BpeTrain.detokenize(docs, col("text"), col("doc_id"), vocab)
      .as[(Long, String, Boolean)].collect().toSet
    // an inner join would drop 'unseen' and corrupt the round trip
    assert(got == Set((1L, "low unseen", true)))
  }

  test("compressionCurve: empty corpus yields the empty curve, not an NPE") {
    val words = BpeTrain.wordFreq(
      Seq.empty[String].toDF("text"), col("text"))
    val got = BpeTrain.compressionCurve(words, Seq((1, "l", "o")))
    assert(got.count() == 0L)
  }

  test("compressionCurve: per-prefix census, monotone non-increasing subwords") {
    // low x2, lower x1: w0 = 2*3 + 1*5 = 11 subwords over 3 words.
    // merge (l,o): low -> lo|w (2), lower -> lo|w|e|r (4) => 2*2+4 = 8
    // merge (lo,w): low -> low (1), lower -> low|e|r (3) => 2*1+3 = 5
    val words = BpeTrain.wordFreq(Seq("low low lower").toDF("text"),
      col("text"))
    val got = BpeTrain.compressionCurve(words,
        Seq((1, "l", "o"), (2, "lo", "w")))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (0L, 3L, 11L, 3666666L),
      (1L, 3L, 8L, 2666666L),
      (2L, 3L, 5L, 1666666L)))
    // subword mass never increases along a merge sequence
    assert(got.map(_._3) == got.map(_._3).sorted.reverse)
  }

  test("tokenCountBatch: replay-idempotent store ≡ one-shot tokenCounts") {
    val dir = graft.queries.Drives.tempDir("bpeinc")
    val vocab = Seq(("low", "low", 7L), ("lower", "low|e|r", 2L),
      ("newest", "n|e|w|est", 6L)).toDF("word", "syms", "cnt")
    val b0 = Seq((1L, "low lower"), (2L, "newest")).toDF("doc_id", "text")
    val b1 = Seq((3L, "lower lower low")).toDF("doc_id", "text")
    val empty = b0.filter(lit(false))
    BpeTrain.tokenCountBatch(b0, 0L, col("text"), col("doc_id"), vocab, dir)
    BpeTrain.tokenCountBatch(b1, 1L, col("text"), col("doc_id"), vocab, dir)
    // at-least-once replay of batch 1 + a quiet empty batch: no dupes,
    // no phantom rows
    BpeTrain.tokenCountBatch(b1, 1L, col("text"), col("doc_id"), vocab, dir)
    BpeTrain.tokenCountBatch(empty, 2L, col("text"), col("doc_id"), vocab, dir)
    val got = BpeTrain.tokenCountsFromStore(spark, dir)
      .as[(Long, Long)].collect().toSet
    val oneShot = BpeTrain.tokenCounts(b0.unionByName(b1), col("text"),
        col("doc_id"), vocab)
      .as[(Long, Long)].collect().toSet
    assert(got == oneShot)
    assert(got == Set((1L, 4L), (2L, 4L), (3L, 7L)))
  }

  test("tokenizeIngest streams batches through the census store e2e") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = graft.queries.Drives.tempDir("bpeing")
    val vocab = Seq(("low", "low", 7L), ("lower", "low|e|r", 2L))
      .toDF("word", "syms", "cnt")
    val in = MemoryStream[(Long, String)]
    val q = BpeTrain.tokenizeIngest(in.toDF().toDF("doc_id", "text"),
      col("text"), col("doc_id"), vocab, dir,
      queryName = "bpe_tokenize_ingest_test")
    try {
      in.addData((1L, "low lower"))
      q.processAllAvailable()
      in.addData((2L, "lower lower"))
      q.processAllAvailable()
      val got = BpeTrain.tokenCountsFromStore(spark, dir)
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 4L), (2L, 6L)))
    } finally q.stop()
  }

  test("detokenize: round-trip identity on random [a-z ]+ corpora (property)") {
    // the t26 theorem: for ANY trained vocab over the corpus's own
    // word-extraction rule, detok(tok(doc)) == canonical(doc) — merges
    // never cross word boundaries, so no end-of-word marker is needed
    // when per-word grouping is preserved
    val rnd = new scala.util.Random(2614L)
    def word() = (1 to 1 + rnd.nextInt(6))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val docs = (1L to 60L)
      .map(i => (i, (1 to 1 + rnd.nextInt(12)).map(_ => word())
        .mkString(" ")))
      .toDF("doc_id", "text")
    Checkpoint.scope {
      val (_, vocab) = BpeTrain.trainMerges(
        BpeTrain.wordFreq(docs, col("text")), k = 6)
      val bad = BpeTrain.detokenize(docs, col("text"), col("doc_id"), vocab)
        .filter(!col("roundtrip_ok")).count()
      assert(bad == 0L)
    }
  }
}
