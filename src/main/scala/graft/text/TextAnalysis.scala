package graft.text

import graft.Checkpoint
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: quality scoring,
  * token statistics, language identification, repetition metrics,
  * vocabulary stats, chunking. Each per-document metric is a single
  * projection fused into the scan (no shuffle, no UDF); corpus-level stats
  * add one key-shuffle.
  *
  * Codegen note: the stopword/profile/repetition counts go through the
  * native [[graft.expr.TextStatsExpressions]] (one static call per row,
  * inside whole-stage codegen). The `filter`-HOF formulation they replace
  * is semantically identical but evaluates interpreted per-element
  * lambdas — measured at ~0.5 ms/document once composed into the quality
  * filter, 3 orders of magnitude over the native path (ExprSpec pins the
  * two forms equal).
  */
object TextAnalysis {
  import graft.expr.TextStatsExpressions

  private def toks(text: Column): Column = split(text, " ")

  // Column forms of each metric — composable into ONE projection (see
  // graft.curation.Curation: the whole score-and-filter stage stays a
  // single scan-fused select, no joins between metric frames).
  def nTokensCol(text: Column): Column = size(toks(text)).cast("long")

  /** Fixed subword vocabulary for [[bpeTokenCountCol]] — common English
    * subwords/merges, the flavor of a published BPE vocab's head (kept
    * small and alphanumeric-only so the vocabulary embeds verbatim in a
    * regex on BOTH engines). Token semantics depend only on the SET:
    * the pattern builder orders by length (see below).
    */
  val BpeVocab: Seq[String] = Seq(
    "the", "and", "ing", "ion", "tion", "ation", "ent", "ment", "ness",
    "able", "ible", "ers", "er", "ed", "es", "est", "ly", "al", "ous",
    "ive", "ize", "ise", "ful", "less", "ship", "ward", "wise", "like",
    "pre", "pro", "con", "com", "sub", "super", "inter", "intra", "trans",
    "over", "under", "out", "up", "down", "anti", "auto", "bi", "co",
    "counter", "de", "dis", "en", "em", "ex", "extra", "fore", "in", "im",
    "il", "ir", "mid", "mis", "non", "re", "semi", "un", "uni",
    "that", "with", "for", "this", "from", "have", "has", "was", "were",
    "are", "is", "be", "been", "will", "would", "can", "could", "should",
    "may", "might", "must", "shall", "not", "but", "or", "as", "at", "by",
    "to", "of", "on", "it", "an", "a", "i", "s", "t", "d", "m", "o", "n",
    "e", "r", "y", "data", "base", "ware", "soft", "hard", "work", "time",
    "ever", "any", "some", "no", "all", "one", "two", "ten", "per",
    "qu", "th", "ch", "sh", "ph", "wh", "ck", "ng", "nk", "st", "sp",
    "sc", "sk", "sm", "sn", "sw", "tw", "tr", "dr", "br", "cr", "fr",
    "gr", "pr", "bl", "cl", "fl", "gl", "pl", "sl")

  /** The greedy tokenization pattern: vocabulary entries longest-first
    * (ties lexicographic — same-length literals can't compete at one
    * position, the order is just determinism), then a single non-space
    * fallback. Regex alternation is leftmost-FIRST in both Java and RE2,
    * so longest-first ordering makes each match the longest vocabulary
    * entry at that position — exactly greedy longest-match subword
    * tokenization (the WordPiece matching rule), and the scan is one
    * linear regex pass with NO per-token state. Spaces match nothing:
    * they delimit, they don't count.
    */
  private[graft] val BpePattern: String =
    BpeVocab.distinct.sortBy(v => (-v.length, v)).mkString("(?:", "|", "|[^ ])")

  /** Subword token count under the fixed [[BpeVocab]] — the
    * tokenizer-aware twin of [[nTokensCol]]: every non-space character
    * is consumed by either a vocabulary subword (greedy longest match)
    * or a 1-char fallback, matching how a byte-fallback BPE counts
    * unknown text. One codegen'd regexp pass per row, scan-side — at
    * 100 TB the count exists before any budget shuffle, same contract
    * as `nTokensCol`. Exact-oracle-able: the identical alternation
    * evaluates in DuckDB (`regexp_extract_all`), so budget semantics
    * built on it stay hash-gated rather than whitespace-approximated.
    * NULL text propagates NULL — the same contract as [[nTokensCol]]
    * and the DuckDB `len(regexp_extract_all(NULL, …))` the oracle runs
    * (a 0 here would silently diverge from both on a NULL-bearing
    * corpus).
    */
  def bpeTokenCountCol(text: Column): Column =
    // r20 optimization: the same greedy longest-match count as
    // `size(regexp_extract_all(text, BpePattern))` — which stays the
    // oracle form — via the codegen'd trie-scan expression. The
    // 165-branch java.util.regex alternation measured ~300 µs/doc at
    // sf0.1 (1.5 s of single-task CPU per corpus pass, dominating every
    // tokenizer-calibrated budget query); the scanner is ~µs/doc.
    // Equivalence is property-pinned against the regex in ExprSpec.
    TextStatsExpressions.bpeTokenCount(text, BpeVocab)

  /** Per-language tokenizer calibration — the t20 artifact: total
    * [[bpeTokenCountCol]] subword tokens, total whitespace tokens, and
    * their ratio per `lang`, 6-decimal rounded. This is what converts a
    * budget denominated in TOKENIZER tokens into the whitespace counts
    * a corpus carries ([[graft.curation.Curation.tokenBudgetMixCalibrated]]
    * joins it in, #langs rows — broadcast). At 100 TB: one scan-side
    * projection + one lang-keyed aggregate (map-side combined) — compute
    * once per corpus snapshot, multiply budgets through.
    */
  def tokenCalibration(df: DataFrame, text: Column, lang: Column): DataFrame =
    df.select(lang.as("lang"), bpeTokenCountCol(text).as("n_bpe"),
        nTokensCol(text).as("n_ws"))
      .groupBy(col("lang"))
      .agg(sum(col("n_bpe")).as("total_bpe"), sum(col("n_ws")).as("total_ws"))
      .select(col("lang"), col("total_bpe"), col("total_ws"),
        round(col("total_bpe").cast("double") / col("total_ws"), 6)
          .as("bpe_per_ws"))
  def avgTokenLenCol(text: Column): Column =
    round(length(replace(text, lit(" "), lit(""))).cast("double") / size(toks(text)), 6)
  def stopwordRatioCol(text: Column): Column =
    round(TextStatsExpressions.countInSet(toks(text), Seq("the", "a"))
      .cast("double") / size(toks(text)), 6)

  /** Quality metrics per document: token count, average token length,
    * stopword ratio. Whitespace tokenization (the reference corpus is
    * pre-normalized); the same transform takes a BPE-ish regex tokenizer
    * by swapping the delimiter pattern.
    */
  def qualityMetrics(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(
      id.as("doc_id"),
      nTokensCol(text).as("n_tokens"),
      avgTokenLenCol(text).as("avg_token_len"),
      stopwordRatioCol(text).as("stopword_ratio"))

  // Per-language stopword profiles (tiny fixed sets — the operator shape;
  // real n-gram profiles plug into the same argmax-over-scores transform).
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "est", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Best (score, lang) struct per document — argmax over the language
    * profiles, ties broken by lexicographically-last language code
    * (array_max compares structs field by field).
    */
  def langBestCol(text: Column): Column = {
    val t = toks(text)
    val scored = profiles.map { case (lang, words) =>
      struct(TextStatsExpressions.countInSet(t, words).cast("int").as("score"),
        lit(lang).as("lang"))
    }
    array_max(array(scored: _*))
  }

  /** Language-ID heuristic: count stopword hits per language profile,
    * predict the argmax (ties broken deterministically by language code).
    * Emits the score so downstream filters can threshold confidence.
    */
  def langId(df: DataFrame, text: Column, id: Column): DataFrame = {
    val best = langBestCol(text)
    df.select(id.as("doc_id"),
      best.getField("lang").as("lang_pred"),
      best.getField("score").cast("long").as("lang_score"))
  }

  /** Token count with a BPE-ish word/punctuation regex (the
    * "token counting" operator): words, numbers, and single punctuation
    * marks each count as one token.
    */
  def tokenCount(df: DataFrame, text: Column, id: Column): DataFrame = {
    val parts = split(text, """\s+|(?=\p{Punct})|(?<=\p{Punct})""")
    // non-empty count = size − count(""): keeps the whole chain codegen'd
    df.select(id.as("doc_id"),
      (size(parts).cast("long") -
        graft.expr.TextStatsExpressions.countInSet(parts, Seq("")))
        .as("n_tokens_bpe"))
  }

  /** Chunking for RAG / sequence prep: overlapping token windows of
    * `chunkSize` tokens every `stride` tokens. One generator per document
    * (fan-out bounded by tokens/stride), chunk ordinal derived
    * arithmetically from the window start — no ordinality join, so the
    * whole operator is a single Generate over the scan.
    */
  def chunk(df: DataFrame, text: Column, id: Column,
            chunkSize: Int, stride: Int): DataFrame = {
    val t = toks(text)
    val starts = sequence(lit(1),
      greatest(size(t) - chunkSize + 1, lit(1)), lit(stride))
    df.select(id.as("doc_id"), t.as("__t"), explode(starts).as("start"))
      .select(
        col("doc_id"),
        (((col("start") - 1) / stride) + 1).cast("long").as("chunk_idx"),
        col("start").cast("long").as("chunk_start"),
        size(slice(col("__t"), col("start"), lit(chunkSize))).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("__t"), col("start"), lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /** Exact token-count quantiles per key (corpus QA: length distribution
    * per source/language drives filter thresholds). Spark's exact
    * `percentile` aggregate keeps a value→count map per group — O(distinct
    * lengths) state, fine for bounded metrics like token counts; switch to
    * `approx_percentile` for unbounded-cardinality metrics. Interpolation
    * is the standard p·(n−1) linear rule on both engines (DuckDB
    * `quantile_cont`), so results hash-match exactly.
    */
  def tokenQuantilesPerKey(df: DataFrame, text: Column, key: Column,
                           ps: Seq[Double]): DataFrame = {
    val n = nTokensCol(text)
    val aggs = ps.map(p =>
      round(expr(s"percentile(__n, $p)"), 6).as(s"p${(p * 100).toInt}_tokens"))
    df.select(key.as("key"), n.as("__n"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
  }

  /** Corpus vocabulary stats: document frequency and IDF per token over
    * distinct tokens per document — one explode + one shuffle on the
    * token, top-k bounded by TakeOrdered. Vocab construction / IDF
    * weighting for the training pipeline.
    *
    * The IDF denominator is folded into the SAME job: each document also
    * emits one NULL marker element, so the token group-by yields the
    * corpus size as the null group's count — one corpus scan, one
    * shuffle, with the vocabulary rows and the 1-row count served from
    * the same reused exchange (plan-guarded in ReferenceEquivalenceSpec).
    * Pass `nDocs` when the corpus size is already known (e.g. from the
    * catalog) to skip the marker entirely.
    */
  def vocabTopK(df: DataFrame, text: Column, k: Int,
                nDocs: Option[Long] = None): DataFrame = {
    def ranked(freq: DataFrame, n: Column): DataFrame =
      freq.withColumn("idf", round(log(n.cast("double") / col("doc_freq")), 6))
        .select(col("token"), col("doc_freq"), col("idf"))
        .orderBy(col("doc_freq").desc, col("token"))
        .limit(k)
    nDocs match {
      case Some(n) =>
        ranked(df.select(explode(array_distinct(toks(text))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("doc_freq")), lit(n))
      case None =>
        // distinct tokens are never null, so null is a safe marker. The
        // token array is coalesced to empty FIRST: toks(NULL) is NULL, and
        // concat(array(null), NULL) is NULL, so explode would drop the
        // whole row — undercounting the IDF denominator on corpora with
        // null documents relative to df.count()/Some(nDocs) semantics.
        val freq = df.select(explode(concat(
            array(lit(null).cast("string")),
            coalesce(array_distinct(toks(text)), array().cast("array<string>"))))
            .as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
        // Materialize the (vocab+1)-row grouped frame ONCE: its two
        // consumers (vocabulary rows, the 1-row count) would otherwise each
        // re-run the corpus scan — Catalyst pushes the key filters below
        // the partial aggregate, so the exchange subtrees differ and
        // ReuseExchange cannot collapse them. Explicit materialization is
        // this engine's idiom for multi-consumer subtrees (outputTable,
        // component loops); O(vocab) storage, one corpus scan.
        val m = Checkpoint(freq)
        val n = m.filter(col("token").isNull)
          .select(col("doc_freq").as("__n_docs"))
        ranked(m.filter(col("token").isNotNull)
          .crossJoin(broadcast(n)), col("__n_docs"))
    }
  }

  // PII patterns, shared verbatim with the SQL oracle. RE2-compatible (no
  // lookaround, ASCII \b), so the same strings run under java.util.regex
  // (Spark) and RE2 (DuckDB) with identical match semantics.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\+\\d{7,15}"

  /** PII redaction: replace emails, dotted-quad IPs, and +international
    * phone numbers with typed placeholder tags and count each class per
    * document (the audit trail a compliance pass needs). Three chained
    * regexp_replaces in one codegen'd projection over the scan — order
    * only matters in that earlier placeholders must not re-match later
    * patterns ('<EMAIL>' contains neither digits nor '@').
    */
  def redactPii(df: DataFrame, text: Column, id: Column): DataFrame = {
    val clean = regexp_replace(regexp_replace(regexp_replace(text,
      EmailPattern, "<EMAIL>"), Ipv4Pattern, "<IP>"), PhonePattern, "<PHONE>")
    df.select(id.as("doc_id"), clean.as("clean_text"),
      size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long")
        .as("n_emails"),
      size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0))).cast("long")
        .as("n_ipv4"),
      size(regexp_extract_all(text, lit(PhonePattern), lit(0))).cast("long")
        .as("n_phones"))
  }

  /** Unigram language-model quality score: every token's corpus log
    * probability ln(count/total), averaged per document — the cheap
    * perplexity proxy (docs full of rare/garbage tokens score low, fluent
    * ones high; the standard first-cut quality knob before a real LM).
    * Two corpus passes by construction — the model pass and the scoring
    * pass, the shape of any train-then-apply scorer: pass one builds the
    * vocab-sized count table (materialized once); pass two re-explodes
    * the corpus and joins it on the token (AQE broadcasts when the vocab
    * fits, else it's one key-shuffle). Per-token log-probs are rounded to
    * 6 decimals and summed as DECIMAL(18,6) — order-independent exact —
    * so the per-doc mean is engine-portable. Documents with NULL text
    * have no tokens to score and are ABSENT from the output (they also
    * don't inflate the model's totals) — coalesce upstream if a row per
    * document is required.
    */
  def unigramLogProb(df: DataFrame, text: Column, id: Column): DataFrame =
    scoreWithModel(df, unigramModel(df, text), text, id)

  /** The model half of [[unigramLogProb]] as a standalone artifact: the
    * vocab-sized `(tok, lp6)` table of 6-decimal corpus log-probs —
    * persist it once per corpus build and reuse across scoring runs.
    */
  def unigramModel(df: DataFrame, text: Column): DataFrame = {
    // vocab-sized; feeds the total AND the probs
    val cnt = Checkpoint(df.select(explode(toks(text)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val total = cnt.agg(sum(col("c")).cast("double").as("__nt"))
    cnt.crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("c").cast("double") / col("__nt")), 6)
          .cast("decimal(18,6)").as("lp6"))
  }

  /** The scoring half: average per-token log-prob against a precomputed
    * [[unigramModel]]. STREAM-COMPATIBLE — a static model joined to a
    * streaming document source is the supported stream-static join, so
    * "train on the corpus, score documents as they arrive" needs no
    * restart (proven in StreamingSpec). Out-of-vocabulary tokens score
    * `oovLp6` (a floor log-prob) instead of silently dropping — on the
    * training corpus itself there is no OOV, so
    * unigramLogProb ≡ scoreWithModel(unigramModel).
    */
  def scoreWithModel(df: DataFrame, model: DataFrame, text: Column,
                     id: Column, oovLp6: Double = -20.0): DataFrame =
    df.select(id.as("doc_id"), explode(toks(text)).as("tok"))
      .join(model, Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(coalesce(col("lp6"), lit(oovLp6).cast("decimal(18,6)")))
          .cast("double") / count(lit(1)), 6).as("avg_logprob"))

  /** Per-document bigram pairs `(doc_id, prev, tok)` — one row per
    * adjacent token pair, built from two array slices zipped in the scan
    * projection (no window, no self-join). Single-token documents emit
    * no pairs.
    */
  private def bigramPairs(df: DataFrame, text: Column, id: Column): DataFrame = {
    val t = toks(text)
    val n = size(t)
    df.select(id.as("doc_id"),
        explode(arrays_zip(
          slice(t, lit(1), n - 1).as("prev"),
          slice(t, lit(2), n - 1).as("tok"))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.tok").as("tok"))
  }

  /** Bigram LM quality score with stupid backoff: tokens 2..n of each
    * document score `ln(c₂(prev,tok) / c₁→(prev))` when the bigram was
    * seen in the corpus (c₁→ = count of `prev` as a bigram LEFT side, the
    * MLE denominator), else backoff `ln(0.4) + unigram lp` — the
    * standard large-scale-LM shortcut (no normalization pass). Per-token
    * log-probs are rounded into DECIMAL(18,6) at the model level and
    * summed exactly (the t10 contract), so the per-document mean is
    * engine-portable. Single-token documents have no bigram to score and
    * drop from the output (same contract as the pair generator).
    *
    * Scale: bigram model = one shuffle on the pair key (vocab² worst
    * case — prune with a min-count threshold at real scale); scoring is
    * one broadcast-or-shuffle join from pairs to the model. Self-scoring
    * the training corpus never hits backoff (every bigram is seen);
    * the spec exercises backoff on a held-out document.
    */
  def bigramLogProb(df: DataFrame, text: Column, id: Column,
                    scored: Option[DataFrame] = None): DataFrame = {
    val pairs = bigramPairs(df, text, id)
    // model-sized; feeds the denom AND the probs
    val c2 = Checkpoint(pairs.groupBy(col("prev"), col("tok"))
      .agg(count(lit(1)).as("c2")))
    val cPrev = c2.groupBy(col("prev")).agg(sum(col("c2")).as("cp"))
    val lp2 = c2.join(cPrev, Seq("prev"))
      .select(col("prev"), col("tok"),
        round(log(col("c2").cast("double") / col("cp").cast("double")), 6)
          .cast("decimal(18,6)").as("lp2"))
    val uni = unigramModel(df, text)
      .select(col("tok"), col("lp6").as("lp1"))
    // ln(0.4) rounded once, the same literal on both engines
    val backoff = lit(-0.916291).cast("decimal(18,6)")
    val target = scored.getOrElse(df)
    bigramPairs(target, text, id)
      .join(lp2, Seq("prev", "tok"), "left")
      .join(uni, Seq("tok"), "left")
      .select(col("doc_id"),
        coalesce(col("lp2"),
          (backoff + coalesce(col("lp1"),
            lit(-20.0).cast("decimal(18,6)"))).cast("decimal(18,6)"))
          .as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 6)
          .as("avg_logprob"))
  }

  /** Token-distribution drift between two corpus slices: total-variation
    * distance ½·Σ_t |p_A(t) − p_B(t)| — the corpus-QA probe behind
    * "did the val split / new crawl / filtered corpus shift the token
    * distribution?". Computed EXACTLY: the inner sum is the all-integer
    * Σ |c_A·N_B − c_B·N_A| (divided once by 2·N_A·N_B at the end), so
    * no per-token double roundoff and the result is engine-portable.
    * Two explode+count passes (one per slice), a vocab-sized full-outer
    * join materialized once, two tiny aggregates. An EMPTY slice has no
    * distribution to compare: N=0 makes tv_distance NaN (surface it,
    * don't mask it — an empty split is an upstream bug).
    */
  def tokenDistributionDrift(dfA: DataFrame, dfB: DataFrame,
                             text: Column): DataFrame = {
    def counts(df: DataFrame, as: String) =
      df.select(explode(toks(text)).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as(as))
    // vocab-sized; feeds the totals AND the sum
    val j = Checkpoint(counts(dfA, "ca")
      .join(counts(dfB, "cb"), Seq("tok"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb")))
    val tot = j.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("vocab_union"))
    j.crossJoin(broadcast(tot))
      .agg(first(col("na")).as("na"), first(col("nb")).as("nb"),
        first(col("vocab_union")).as("vocab_union"),
        sum(abs(col("ca") * col("nb") - col("cb") * col("na"))
          .cast("decimal(38,0)")).as("num"))
      .select(col("na").as("n_tokens_a"), col("nb").as("n_tokens_b"),
        col("vocab_union"),
        round(col("num").cast("double") / (lit(2.0) * col("na") * col("nb")), 6)
          .as("tv_distance"))
  }

  /** PMI collocations: top-k adjacent bigrams ranked by exact-integer
    * lift = p(x,y)/(p(x)·p(y)) = c_xy·N₁² / (N₂·c_x·c_y), reported in
    * ppm via integral division — the ratio is monotone in PMI (PMI =
    * ln lift), so the ranking is the PMI ranking with zero floating
    * point and no cross-engine ln() hazard. `minCount` prunes the
    * hapax-dominated tail (the classic PMI failure mode — a pair seen
    * once with rare parts maximizes lift).
    *
    * Scale: bigram + unigram models are one shuffle each on their keys
    * (both vocab-bounded); the candidate set after the count filter is
    * model-sized, so the global top-k runs orderBy+limit
    * (TakeOrderedAndProject — no single-partition window over the
    * corpus); the rank column is re-derived on the k survivors only.
    * Unigram/bigram count frames are materialized once (multi-consumer
    * contract, TextAnalysis idiom).
    */
  def pmiCollocations(df: DataFrame, text: Column, id: Column,
                      minCount: Long = 5, k: Int = 20): DataFrame = {
    // vocab-sized; feeds both sides + the total
    val c1 = Checkpoint(df.select(explode(toks(text)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("c")))
    val n1 = c1.agg(sum(col("c")).cast("long").as("n1"))
    // model-sized; feeds the total AND the scores
    val c2 = Checkpoint(bigramPairs(df, text, id)
      .groupBy(col("prev"), col("tok")).agg(count(lit(1)).cast("long").as("cxy")))
    val n2 = c2.agg(sum(col("cxy")).cast("long").as("n2"))
    val sc = c2.filter(col("cxy") >= minCount)
      .join(c1.select(col("tok").as("prev"), col("c").as("ca")), Seq("prev"))
      .join(c1.select(col("tok"), col("c").as("cb")), Seq("tok"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("prev").as("w1"), col("tok").as("w2"),
        col("cxy").as("pair_count"),
        expr("CAST(cxy AS DECIMAL(38,0)) * n1 * n1 * 1000000" +
          " DIV (CAST(n2 AS DECIMAL(38,0)) * ca * cb)")
          .cast("long").as("lift_ppm"))
    val top = sc
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2")).limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("lift_ppm").desc, col("w1"), col("w2"))))
      .select(col("rank").cast("long").as("rank"), col("w1"), col("w2"),
        col("pair_count"), col("lift_ppm"))
  }

  /** Readability grade (Flesch–Kincaid shape) with NO floating point:
    * syllables are approximated by vowel-group runs (`[aeiouy]+`, the
    * standard heuristic), sentences by terminal-punctuation runs plus
    * one (trailing text counts), and the grade
    * 0.39·W/S + 11.8·Sy/W − 15.59 is reported in milli-units as ONE
    * exact integral division over the common denominator S·W. The
    * numerator is offset by 10⁶·S·W before the division and 10⁶
    * subtracted after, so a negative grade floors identically on both
    * engines (Spark DIV truncates toward zero; the offset keeps the
    * numerator positive). NULL-text docs are absent from the output
    * (the repetitionMetrics contract). Pure scan-fused projection —
    * no shuffle at any scale.
    */
  def readabilityGrade(df: DataFrame, text: Column, id: Column): DataFrame =
    df.filter(text.isNotNull)
      .select(id.as("doc_id"),
        size(toks(text)).cast("long").as("w"),
        (size(regexp_extract_all(text, lit("[.!?]+"), lit(0))) + 1)
          .cast("long").as("s"),
        size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("sy"))
      .select(col("doc_id"), col("w").as("n_words"),
        col("s").as("n_sentences"), col("sy").as("n_syllables"),
        when(col("w") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "(390*w*w + 11800*sy*s + 1000000*s*w - 15590*s*w) DIV (s*w)" +
              " - 1000000"))
          .as("fk_grade_milli"))

  /** Per-source vocabulary richness: token total, distinct vocabulary,
    * hapax legomena (frequency-1 tokens — the Heaps'-law tail that
    * dominates open-vocab growth), type-token ratio and hapax share in
    * exact permille. The corpus-QA probe behind "is this source
    * template spam (tiny vocab) or OCR noise (hapax explosion)?".
    * Plan: one explode + one (source, token) count shuffle, then a
    * source-sized rollup — the t6/t12 shape, nothing new at 100 TB.
    * NULL-text docs are absent (the repetitionMetrics contract).
    */
  def vocabularyRichness(df: DataFrame, text: Column,
                         source: Column): DataFrame = {
    val c = df.filter(text.isNotNull)
      .select(source.as("source"), explode(toks(text)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).cast("long").as("c"))
    c.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        count(when(col("c") === 1, lit(1))).cast("long").as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        expr("vocab * 1000 DIV n_tokens").cast("long").as("ttr_permille"),
        expr("hapax * 1000 DIV vocab").cast("long").as("hapax_permille"))
  }

  /** Deterministic weight vector for the classifier gate: index-derived
    * INTEGER-valued doubles in [-50, 50] (centi-units — the model scale
    * lives in the 1/100 of the logit denominator). Integer values are the
    * determinism anchor: integer-valued double sums are exact in ANY
    * accumulation order, so both engines produce bit-identical dots.
    * private[graft] so the DuckDB oracle (DocQueries c10) embeds the
    * IDENTICAL literals.
    */
  private[graft] def defaultClassifierWeights(d: Int): Seq[Double] =
    (0 until d).map(i => ((i * 37 + 11) % 101 - 50).toDouble)

  /** Feature-hashing linear classifier inference (the fastText-style
    * model-based quality scorer real pipelines run after the rule-based
    * [[graft.curation.Curation.qualityFilter]]): each token hashes to one
    * of `weights.length` buckets via the portable rolling hash, the
    * length-normalized hashed-TF dot product plus bias gives the logit,
    * and the sigmoid gives the keep probability. Inference only — the
    * weights come from wherever the model was trained; hash collisions
    * are part of the model exactly as in training (the hashing trick).
    *
    * ONE scan-fused projection, zero shuffles, zero broadcast state: the
    * weight vector rides inside the codegen'd
    * [[graft.expr.HashedTfDot]] expression (O(D) per executor, O(1) per
    * row lookups), so scoring 100 TB is scan-bound.
    *
    * Determinism: with INTEGER-valued weights (centi-units — see
    * [[defaultClassifierWeights]]) the hashed-TF dot is exact in any
    * accumulation order, the division/addition operate on identical
    * doubles on every engine, and `logit_micro = floor(z·10⁶)` is the
    * hash-gate column — floor of an identical double is identical, with
    * no decimal-midpoint knife-edge (a fractional-weight prototype
    * mismatched the oracle by 1 µ-unit at sf0.1 on exactly such a
    * midpoint: Spark rounds the exact binary expansion, DuckDB rounds a
    * scaled multiply). `logit`/`score` carry the human-friendly rounded
    * forms; gate on `logit_micro` or a threshold flag, not on them.
    * NULL-text docs are absent from the output (the repetitionMetrics
    * contract).
    *
    * `carry` appends extra per-doc columns to the SAME fused projection
    * (the repetitionMetrics hook): consumers that need e.g. the doc's
    * source/lang alongside its score must not re-scan the corpus and
    * self-join on doc_id to attach them — at 100 TB that join is a
    * second corpus scan plus a corpus-sized shuffle (or an
    * impossible broadcast) for columns the scan already had in hand.
    */
  /** The classifier's floor-micro logit as a bare column — the
    * hash-gate value of [[classifierScore]], exposed so pipelines that
    * already run a fused scan (e.g. [[graft.curation.Curation.qualityFilter]]
    * with `carry`) can compute it in THAT projection instead of scoring
    * in a second scan and re-attaching via a doc_id self-join.
    */
  def logitMicroCol(text: Column, weights: Seq[Double],
                    bias: Double): Column = {
    val t = toks(text)
    val z = lit(bias) +
      graft.expr.TextStatsExpressions.hashedTfDot(t, weights) /
        (lit(100.0) * size(t))
    floor(z * lit(1000000.0)).cast("long")
  }

  def classifierScore(df: DataFrame, text: Column, id: Column,
                      weights: Seq[Double], bias: Double = 0.0,
                      carry: Seq[(String, Column)] = Nil): DataFrame = {
    val t = toks(text)
    val z = lit(bias) +
      graft.expr.TextStatsExpressions.hashedTfDot(t, weights) /
        (lit(100.0) * size(t))
    df.filter(text.isNotNull).select(
      id.as("doc_id") +:
      size(t).cast("long").as("n_tokens") +:
      floor(z * lit(1000000.0)).cast("long").as("logit_micro") +:
      round(z, 6).as("logit") +:
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score") +:
      carry.map { case (n, c) => c.as(n) }: _*)
  }

  /** Repetition metrics (the Gopher-style repetition filters): fraction of
    * duplicated tokens and the share of the most frequent word bigram.
    * Highly repetitive documents (boilerplate, generated spam, scraper
    * loops) score high on both and get dropped before training.
    *
    * Plan shape: ONE scan-fused projection, ZERO shuffles. Both counts
    * come from the native single-pass [[graft.expr.RepStats]] expression
    * (codegen'd, O(L) per doc, embarrassingly parallel) — the former
    * explode → (doc, gram) → doc double shuffle is gone entirely. The
    * explode shape also hid a 50× cliff: Catalyst places the other
    * per-doc scalars ABOVE the Generate (and CollapseProject re-merges
    * any attempt to stage them below), so the interpreted HOF lambdas
    * were re-evaluated once per BIGRAM, not once per document — measured
    * 3.5× on the c9 quality stage at sf0.1. `carry` keeps its contract:
    * extra per-doc scalars join the same single projection.
    * A 1-token doc degenerates to one "bigram" (the token itself), same as
    * `Dedup.shingles`; NULL-text docs are absent from the output (the
    * explode-era contract, now an explicit filter).
    */
  def repetitionMetrics(df: DataFrame, text: Column, id: Column,
                        carry: Seq[(String, Column)] = Nil): DataFrame = {
    val t = toks(text)
    val rs = graft.expr.TextStatsExpressions.repStats(t)
    val scalars = Seq(
      "n_tokens" -> nTokensCol(text),
      "dup_token_ratio" ->
        round(lit(1.0) - rs.getField("n_distinct").cast("double") / size(t), 6)
    ) ++ carry
    df.filter(text.isNotNull).select(
      (id.as("doc_id") +: scalars.map { case (n, c) => c.as(n) }) :+
        round(rs.getField("max_bigram").cast("double") /
          greatest(size(t) - 1, lit(1)), 6).as("top_bigram_frac"): _*)
  }

  /** The FULL Gopher repetition suite (t25; Rae et al. 2021 Table A1's
    * n-gram rows — [[repetitionMetrics]] covers only the dup-token /
    * top-bigram pair): per document, the integer char numerators for
    * top-{2,3,4}-gram repetition and duplicated-{5..10}-gram
    * union-of-spans coverage, plus the published keep decision
    * (thresholds 20/18/16% for top-grams, 15..10% for dup-grams)
    * evaluated by INTEGER cross-multiplication — no float fraction ever
    * exists, so the decision can't sit on a rounding knife-edge. The
    * line/paragraph rows of the published table are the line-dedup
    * family's domain (`c4`/`c8`); this op is the n-gram half.
    *
    * Plan shape: ONE scan-fused projection, ZERO shuffles — all nine
    * metrics come from the single-pass codegen'd
    * [[graft.expr.GopherRepStats]] expression (O(Σ n·L) per doc,
    * embarrassingly parallel; the explode alternative is 9 corpus-wide
    * explode→groupBy shuffle pairs, exactly the cliff
    * [[repetitionMetrics]]' scaladoc documents). NULL-text docs are
    * absent from the output (the [[repetitionMetrics]] contract).
    */
  def gopherRepetitionMetrics(df: DataFrame, text: Column,
                              id: Column): DataFrame = {
    val rs = graft.expr.TextStatsExpressions.gopherRepStats(toks(text))
    df.filter(text.isNotNull).select(
      (id.as("doc_id") +: rs.getField("total_chars").as("total_chars") +:
        GopherRepThresholds.map { case (f, _) => rs.getField(f).as(f) }) :+
        gopherRepKeepCol(text).cast("long").as("keep"): _*)
  }

  /** The t25 keep decision as ONE boolean column (NULL on NULL text) —
    * shared by [[gopherRepetitionMetrics]] and the c35 funnel's fused
    * flag scan, so the threshold set can't drift between consumers.
    * Subexpression elimination collapses the repeated single-pass
    * expression inside one projection.
    */
  def gopherRepKeepCol(text: Column): Column = {
    val rs = graft.expr.TextStatsExpressions.gopherRepStats(toks(text))
    val total = rs.getField("total_chars")
    GopherRepThresholds.map { case (f, thr) =>
      rs.getField(f) * lit(100L) <= lit(thr) * total
    }.reduce(_ && _)
  }

  /** Published Gopher n-gram repetition thresholds, as integer percents
    * (field → max allowed percent of total chars): shared by the engine
    * op and the oracle builder so the rule can't drift between them.
    */
  private val GopherRepThresholds: Seq[(String, Long)] =
    Seq("top2_chars" -> 20L, "top3_chars" -> 18L, "top4_chars" -> 16L) ++
      (5 to 10).map(n => s"dup${n}_chars" -> (20L - n).toLong)

  /** t25's oracle CTE body (per-n positional n-gram tables over the
    * `documents` relation) + the join list and integer keep predicate —
    * factored so the c35 funnel oracle runs the IDENTICAL definition
    * (the repetition metrics are per-doc, so computing them over the
    * full corpus and joining to a stage's survivors is exact).
    */
  private def gopherRepCtes: String = {
    val pieces = GopherRepThresholds.map { case (f, _) =>
      val n = f.filter(_.isDigit).toInt
      val g =
        s"""g$n AS (SELECT doc_id, i, array_to_string(ts[i:i+${n - 1}], ' ') AS gram
           |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - ${n - 2})) AS i
           |        FROM tk WHERE len(ts) >= $n)),
           |c$n AS (SELECT doc_id, gram, count(*) AS c FROM g$n GROUP BY doc_id, gram)""".stripMargin
      val v =
        if (n <= 4)
          s"""v$n AS (SELECT doc_id, CAST(c * (length(gram) - ${n - 1}) AS BIGINT) AS $f
             |  FROM (SELECT doc_id, gram, c, row_number() OVER (PARTITION BY doc_id
             |          ORDER BY c DESC, length(gram) DESC, gram) AS rn FROM c$n)
             |  WHERE rn = 1)""".stripMargin
        else
          s"""u$n AS (SELECT DISTINCT doc_id, p FROM
             |  (SELECT g.doc_id, unnest(range(g.i, g.i + $n)) AS p
             |   FROM g$n g JOIN c$n c ON g.doc_id = c.doc_id AND g.gram = c.gram
             |   WHERE c.c >= 2)),
             |v$n AS (SELECT u.doc_id, CAST(sum(length(tk.ts[u.p])) AS BIGINT) AS $f
             |  FROM u$n u JOIN tk ON u.doc_id = tk.doc_id GROUP BY u.doc_id)""".stripMargin
      s"$g,\n$v"
    }
    s"""d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM d),
       |tot AS (SELECT doc_id,
       |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS total_chars FROM d),
       |${pieces.mkString(",\n")}""".stripMargin
  }

  private def gopherRepJoins: String =
    GopherRepThresholds.map { case (f, _) =>
      val n = f.filter(_.isDigit).toInt
      s"LEFT JOIN v$n ON d.doc_id = v$n.doc_id"
    }.mkString("\n")

  private def gopherRepKeepPred: String =
    GopherRepThresholds.map { case (f, thr) =>
      val n = f.filter(_.isDigit).toInt
      s"coalesce(v$n.$f, 0) * 100 <= $thr * tot.total_chars"
    }.mkString("\n    AND ")

  /** t25 oracle: the identical positional n-gram table per n — top gram
    * by the same (count DESC, length DESC, gram ASC) three-key order,
    * dup coverage as DISTINCT covered positions — and the identical
    * integer cross-multiplied keep decision.
    */
  def gopherRepetitionOracleSql: String = {
    val cols = GopherRepThresholds.map { case (f, _) =>
      val n = f.filter(_.isDigit).toInt
      s"CAST(coalesce(v$n.$f, 0) AS BIGINT) AS $f"
    }
    s"""WITH $gopherRepCtes
       |SELECT d.doc_id, tot.total_chars,
       |  ${cols.mkString(",\n  ")},
       |  CAST(CASE WHEN $gopherRepKeepPred
       |       THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM d JOIN tot ON d.doc_id = tot.doc_id
       |$gopherRepJoins
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Heaps-law vocabulary-growth curve (t24): cumulative document,
    * token, and DISTINCT-vocabulary counts at `nBuckets` doc_id-range
    * checkpoints — THE curve a corpus owner fits before sizing a
    * tokenizer vocab or projecting dedup yield (sub-linear vocab growth
    * is Heaps' law; a corpus whose curve bends flat early is repetitive).
    *
    * The scale trick is the FIRST-OCCURRENCE identity: the vocabulary
    * size at threshold t equals the number of words whose MINIMUM doc_id
    * is ≤ t — so cumulative-distinct needs no global sort and no
    * per-prefix rescan: one word-explode → min(doc_id) per word →
    * bucket → count, then a `nBuckets`-row window cumsum. Buckets are
    * integer doc_id ranges off ONE max() aggregate (`(id·n) div
    * (max+1)` — exact integer division on both engines), never an NTILE
    * (a global-sort single-partition window would be the 100 TB
    * bottleneck). Token totals ride the same bucketing; both sides of
    * the report come from one corpus scan each.
    */
  def vocabGrowth(df: DataFrame, text: Column, id: Column,
                  nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val mx = df.agg(max(id).as("__max_id"))
    // exact integer bucketing: `div` (Spark) / `//` (DuckDB) — expects
    // the input frame to carry `__b_src` (the bucketing id) + `__max_id`
    val bucketCol =
      least(lit(nBuckets - 1),
        expr(s"(__b_src * $nBuckets) div (__max_id + 1)")).as("bucket")
    val perDoc = df.crossJoin(broadcast(mx))
      .select(id.as("__b_src"), size(regexp_extract_all(lower(text),
        lit("[a-z]+"), lit(0))).cast("long").as("n_toks"), col("__max_id"))
      .select(bucketCol, col("n_toks"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_docs"), sum(col("n_toks")).as("new_toks"))
    val firsts = df
      .select(id.as("doc_id"), explode(regexp_extract_all(lower(text),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(min(col("doc_id")).as("__b_src"))
      .crossJoin(broadcast(mx))
      .select(bucketCol)
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_words"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc.join(firsts, Seq("bucket"), "left")
      .select(col("bucket"),
        sum(col("new_docs")).over(w).as("cum_docs"),
        sum(col("new_toks")).over(w).as("cum_tokens"),
        sum(coalesce(col("new_words"), lit(0L))).over(w).as("vocab_size"))
      .select(col("bucket"), col("cum_docs"), col("cum_tokens"),
        col("vocab_size"),
        round(col("vocab_size").cast("double") / col("cum_tokens"), 6)
          .as("type_token_ratio"))
  }

  /** t24 oracle: the identical first-occurrence formulation in SQL. */
  def vocabGrowthOracleSql(nBuckets: Int = 10): String =
    s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       |pd AS (SELECT least(${nBuckets - 1}, (doc_id * $nBuckets) // (m + 1)) AS bucket,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_toks
       |  FROM documents, mx),
       |tb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS new_toks
       |  FROM pd GROUP BY bucket),
       |fo AS (SELECT word, min(doc_id) AS fd FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents) GROUP BY word),
       |fb AS (SELECT least(${nBuckets - 1}, (fd * $nBuckets) // (m + 1)) AS bucket,
       |    CAST(count(*) AS BIGINT) AS new_words
       |  FROM fo, mx GROUP BY 1),
       |j AS (SELECT tb.bucket, tb.new_docs, tb.new_toks,
       |    coalesce(fb.new_words, 0) AS new_words
       |  FROM tb LEFT JOIN fb ON tb.bucket = fb.bucket)
       |SELECT bucket,
       |  CAST(sum(new_docs) OVER wc AS BIGINT) AS cum_docs,
       |  CAST(sum(new_toks) OVER wc AS BIGINT) AS cum_tokens,
       |  CAST(sum(new_words) OVER wc AS BIGINT) AS vocab_size,
       |  round(CAST(sum(new_words) OVER wc AS DOUBLE)
       |    / sum(new_toks) OVER wc, 6) AS type_token_ratio
       |FROM j
       |WINDOW wc AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY bucket""".stripMargin

  /** The Gopher rule-panel stopword list (Rae et al. 2021 §A1.1: a doc
    * must contain ≥ 2 of these to pass the stopword rule).
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The five Gopher rule flags (unaliased) — ONE definition shared by
    * the census report (c29, via [[gopherRuleCols]]) and the funnel's
    * fused flag scan (c35, via [[gopherAllRulesCol]]), so a threshold
    * change can't leave one consumer testing the old rule.
    */
  private def gopherRuleColsRaw(text: Column, minWords: Long,
                                maxWords: Long): Seq[Column] = {
    val n = nTokensCol(text)
    // literal replace, not regexp_replace — same result (the pattern is
    // a bare space), no regex machinery in the hot rule scan (r21)
    val sumLen = length(replace(text, lit(" "), lit(""))).cast("long")
    // symbol chars ×3: '#' and '…' count 3 each, a literal "..." counts
    // its 3 chars — keeps the ratio-×10 comparison divide-free
    val sym3 = (length(text) - length(replace(text, lit("#")))).cast("long") * 3L +
      (length(text) - length(replace(text, lit("…")))).cast("long") * 3L +
      (length(text) - length(replace(text, lit("...")))).cast("long")
    // letter-bearing word count — r21: the native single-pass kernel
    // replacing `size(regexp_extract_all(concat(' ', text),
    // " [^ ]*[a-zA-Z][^ ]*"))` (each maximal non-space run matched once
    // iff it holds a letter — ExprSpec pins the equivalence; the regex
    // backtracking pass was the priciest term of the rule scan)
    val nAlpha = TextStatsExpressions.alphaTokenCount(toks(text))
    val nStop = TextStatsExpressions.countInSet(toks(text), GopherStops)
    Seq(
      n.between(minWords, maxWords),
      sumLen >= n * 3L && sumLen <= n * 10L,
      sym3 * 10L <= n * 3L,
      nAlpha * 5L >= n * 4L,
      nStop >= 2L)
  }

  private def gopherRuleCols(text: Column, minWords: Long,
                             maxWords: Long): Seq[Column] =
    gopherRuleColsRaw(text, minWords, maxWords).zipWithIndex
      .map { case (c, i) => c.as(s"r${i + 1}") }

  /** The c29 all-rules decision as ONE column (NULL on NULL text) —
    * the per-doc form the c35 funnel's fused flag scan consumes.
    */
  def gopherAllRulesCol(text: Column, minWords: Long = 50L,
                        maxWords: Long = 100000L): Column =
    gopherRuleColsRaw(text, minWords, maxWords).reduce(_ && _)

  /** Gopher-style quality-rule attrition panel (c29): for each published
    * rule, how many documents fail it, plus the all-rules row — the
    * attribution report a corpus owner reads BEFORE turning the filter
    * on (which rule is doing the cutting, and is any rule degenerate on
    * this corpus). Rules are the Gopher paper's repetition-free subset
    * (word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    * alphabetic-word ratio, stopword presence); the repetition rules
    * live in [[repetitionMetrics]].
    *
    * Determinism: every threshold is evaluated in cross-multiplied
    * INTEGER arithmetic (`3·nsym·10 ≤ 3·n`, `5·nalpha ≥ 4·n`, …) — no
    * float ratio ever exists, so there is no boundary knife-edge for an
    * oracle to disagree on. Plan shape: ONE scan-fused codegen'd
    * projection (counts via `replace`-length deltas, one anchored
    * regexp pass for alphabetic words, the native [[TextStatsExpressions
    * .countInSet]] for stopwords), one global aggregate, a 6-row stack
    * unpivot — zero corpus shuffles beyond the final scalar combine, so
    * at 100 TB the panel costs exactly one map-side pass.
    *
    * NULL-text documents count in `n_docs` and FAIL every rule (each
    * flag evaluates NULL, and a non-true flag is a fail) — a NULL doc
    * is certainly not trainable text, and silently excluding it would
    * make the panel's rows disagree with the corpus census.
    */
  def gopherRulesReport(df: DataFrame, text: Column,
                        minWords: Long = 50L,
                        maxWords: Long = 100000L): DataFrame = {
    val flags = df.select(gopherRuleCols(text, minWords, maxWords): _*)
    val f = (c: String) => sum(when(col(c), 0L).otherwise(1L))
    flags.agg(
        count(lit(1)).as("nd"), f("r1").as("f1"), f("r2").as("f2"),
        f("r3").as("f3"), f("r4").as("f4"), f("r5").as("f5"),
        sum(when(col("r1") && col("r2") && col("r3") && col("r4") &&
          col("r5"), 0L).otherwise(1L)).as("fa"))
      .select(expr(
        """stack(6,
          |  '1_word_count', f1, '2_mean_word_len', f2, '3_symbol_ratio', f3,
          |  '4_alpha_words', f4, '5_stopwords', f5, '6_all_rules', fa)
          |  AS (rule, n_fail)""".stripMargin), col("nd"))
      .select(col("rule"), (col("nd") - col("n_fail")).as("n_pass"),
        col("n_fail"))
  }

  /** Per-doc Gopher flag CTEs (`gd` metrics + `gr` flags, doc_id-keyed)
    * — ONE definition shared by the c29 census oracle and the c35
    * funnel oracle, so a rule change can't leave one gate testing the
    * old thresholds.
    */
  private def gopherFlagsCtes(minWords: Long, maxWords: Long): String =
    s"""gd AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
       |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS sumlen,
       |    CAST((len(text) - len(replace(text, '#', ''))) * 3
       |      + (len(text) - len(replace(text, '…', ''))) * 3
       |      + (len(text) - len(replace(text, '...', ''))) AS BIGINT) AS sym3,
       |    CAST(len([t FOR t IN string_split(text, ' ')
       |      IF regexp_matches(t, '[a-zA-Z]')]) AS BIGINT) AS nalpha,
       |    CAST(len([t FOR t IN string_split(text, ' ')
       |      IF t IN (${GopherStops.map("'" + _ + "'").mkString(", ")})])
       |      AS BIGINT) AS nstop
       |  FROM documents),
       |gr AS (SELECT doc_id, (n BETWEEN $minWords AND $maxWords) AS r1,
       |    (sumlen >= n * 3 AND sumlen <= n * 10) AS r2,
       |    (sym3 * 10 <= n * 3) AS r3, (nalpha * 5 >= n * 4) AS r4,
       |    (nstop >= 2) AS r5 FROM gd)""".stripMargin

  /** c29 oracle: the identical integer-arithmetic rules in SQL. */
  def gopherRulesOracleSql(minWords: Long = 50L,
                           maxWords: Long = 100000L): String =
    s"""WITH ${gopherFlagsCtes(minWords, maxWords)},
       |r AS (SELECT r1, r2, r3, r4, r5 FROM gr),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(CASE WHEN r1 THEN 0 ELSE 1 END) AS BIGINT) AS f1,
       |    CAST(sum(CASE WHEN r2 THEN 0 ELSE 1 END) AS BIGINT) AS f2,
       |    CAST(sum(CASE WHEN r3 THEN 0 ELSE 1 END) AS BIGINT) AS f3,
       |    CAST(sum(CASE WHEN r4 THEN 0 ELSE 1 END) AS BIGINT) AS f4,
       |    CAST(sum(CASE WHEN r5 THEN 0 ELSE 1 END) AS BIGINT) AS f5,
       |    CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 0 ELSE 1
       |      END) AS BIGINT) AS fa FROM r),
       |u AS (SELECT '1_word_count' AS rule, f1 AS n_fail, nd FROM a
       |  UNION ALL SELECT '2_mean_word_len', f2, nd FROM a
       |  UNION ALL SELECT '3_symbol_ratio', f3, nd FROM a
       |  UNION ALL SELECT '4_alpha_words', f4, nd FROM a
       |  UNION ALL SELECT '5_stopwords', f5, nd FROM a
       |  UNION ALL SELECT '6_all_rules', fa, nd FROM a)
       |SELECT rule, CAST(nd - n_fail AS BIGINT) AS n_pass, n_fail
       |FROM u ORDER BY rule""".stripMargin

  /** CCNet-style perplexity bucketing (c30): rank each language's
    * documents by the unigram-LM quality score ([[unigramLogProb]] — the
    * perplexity proxy, higher = more in-distribution) and split into
    * head / middle / tail terciles, CCNet's published curation cut
    * (Wenzek et al. 2020: train on head+middle, drop tail). Output is
    * the per-(lang, bucket) census with the score range each bucket
    * spans — the cutoff table a 100 TB run would precompute once and
    * apply scan-side thereafter (min/max are order-independent; no
    * float is ever summed).
    *
    * Plan shape: the t10 scoring pass (corpus scan + vocab-sized model
    * join), a co-keyed lang join, then ONE lang-partitioned window for
    * the tercile assignment — the sort is per-language, not global, and
    * the ntile tie-break (`doc_id`) makes the assignment total-order
    * deterministic on both engines.
    */
  def perplexityBuckets(df: DataFrame, text: Column, id: Column,
                        lang: Column): DataFrame =
    ccnetTerciled(df, text, id, lang)
      .withColumn("bucket", when(col("__t") === 1, "head")
        .when(col("__t") === 2, "middle").otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_logprob")).as("lp_min"),
        max(col("avg_logprob")).as("lp_max"))

  /** c30 oracle: the SHARED [[ccnetTercileCtes]] chain + the per-bucket
    * census — the same single tercile definition c34/c35 consume.
    */
  def perplexityBucketsOracleSql: String =
    s"""WITH ${ccnetTercileCtes("documents")}
       |SELECT lang,
       |  CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  min(avg_logprob) AS lp_min, max(avg_logprob) AS lp_max
       |FROM cc_b GROUP BY lang, t ORDER BY lang, bucket""".stripMargin

  /** DSIR importance model (Xie et al. 2023): hashed-unigram bag models
    * of the TARGET slice and the RAW corpus, as the ≤`buckets`-row
    * `(b, lp6)` table of 6-decimal smoothed log-probability ratios
    * `ln p_target(b) − ln p_raw(b)` (add-1 smoothing over the bucket
    * domain). Like [[unigramModel]] this is the persist-once artifact;
    * both counts come out of ONE corpus pass (the target count is a
    * conditional sum inside the same bucket aggregate).
    */
  def dsirModel(df: DataFrame, text: Column, isTarget: Column,
                buckets: Int = 256): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    // ≤ buckets rows; feeds totals AND ratios
    val c = Checkpoint(df.select(isTarget.as("__t"), explode(toks(text)).as("tok"))
      .select(col("__t"),
        pmod(graft.fns.Fns.rollingHash(col("tok")), lit(buckets.toLong))
          .cast("int").as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("ct")))
    val totals = c.agg(sum(col("cr")).as("__nr"), sum(col("ct")).as("__nt"))
    c.crossJoin(broadcast(totals))
      .select(col("b"),
        round(log((col("ct") + 1L).cast("double") /
            (col("__nt") + buckets.toLong).cast("double")) -
          log((col("cr") + 1L).cast("double") /
            (col("__nr") + buckets.toLong).cast("double")), 6)
          .cast("decimal(18,6)").as("lp6"))
  }

  /** DSIR per-document importance weight (c31): each token scores its
    * bucket's log ratio from a [[dsirModel]]; the document weight is the
    * DECIMAL sum (order-independent — hash-gatable). High weight = looks
    * like the target distribution; the published use resamples the raw
    * corpus proportional to exp(weight). Plan shape: one corpus scan with
    * the ≤buckets-row model joined BROADCAST (map-only), then the doc-key
    * aggregate — at 100 TB the model is computed once and the scoring
    * pass is embarrassingly parallel.
    */
  def dsirScore(df: DataFrame, model: DataFrame, text: Column,
                id: Column, buckets: Int = 256): DataFrame =
    df.select(id.as("doc_id"), explode(toks(text)).as("tok"))
      .select(col("doc_id"),
        pmod(graft.fns.Fns.rollingHash(col("tok")), lit(buckets.toLong))
          .cast("int").as("b"))
      .join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lp6")).cast("double"), 6).as("dsir_weight"))

  /** [[dsirModel]] + [[dsirScore]] composed — the c31 gate body. */
  def dsirWeights(df: DataFrame, text: Column, id: Column,
                  isTarget: Column, buckets: Int = 256): DataFrame =
    dsirScore(df, dsirModel(df, text, isTarget, buckets), text, id, buckets)

  /** DSIR data SELECTION (c33) — the step the weights exist for: the
    * `k` raw-corpus documents most like the target distribution, by
    * `(dsir_weight DESC, doc_id)` (the deterministic rank-k variant of
    * the published proportional resampling; weights are exact 6dp
    * decimals, doc_id breaks ties — no float-order knife edge). Plan
    * shape: the [[dsirScore]] pass, then TakeOrderedAndProject — per-
    * partition top-k merged at the driver, never a global sort.
    */
  def dsirTopK(df: DataFrame, text: Column, id: Column, isTarget: Column,
               k: Int, buckets: Int = 256): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    dsirWeights(df, text, id, isTarget, buckets)
      .orderBy(col("dsir_weight").desc, col("doc_id"))
      .limit(k)
  }

  /** c33 oracle: the c31 chain + the identical deterministic top-k
    * (the rank-k tail replaces the per-doc ORDER BY via the shared
    * builder's tail parameter — no string surgery on the base SQL).
    */
  def dsirTopKOracleSql(targetSql: String, k: Int,
                        buckets: Int = 256): String =
    dsirOracleSql(targetSql, buckets,
      tailSql = s"ORDER BY dsir_weight DESC, doc_id LIMIT $k")

  /** The CCNet tercile assignment — ONE definition (LM over the input
    * corpus, per-lang ntile(3) by score DESC with doc_id tie-break)
    * shared by the bucket census (c30 via [[perplexityBuckets]]), the
    * filter report (c34) and the funnel's tail-cut stage (c35).
    */
  private def ccnetTerciled(df: DataFrame, text: Column, id: Column,
                            lang: Column): DataFrame = {
    val scored = unigramLogProb(df, text, id)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    df.select(id.as("doc_id"), lang.as("lang"))
      .join(scored, Seq("doc_id"))
      .withColumn("__t", ntile(3).over(w))
  }

  /** Ids of the docs CCNet keeps (head+middle terciles; the c35
    * funnel's tail-cut stage). The LM is fit on `df` itself — in a
    * staged pipeline, pass the survivors of the preceding stage.
    */
  def ccnetKeepIds(df: DataFrame, text: Column, id: Column,
                   lang: Column): DataFrame =
    ccnetTerciled(df, text, id, lang)
      .filter(col("__t") <= 2).select(col("doc_id"))

  /** [[ccnetKeepIds]]'s SCALE twin (c34b): the per-lang `ntile(3)`
    * funnels a mega-language (English is half the web) into ONE window
    * task; this form observes that "keep the head+middle terciles" is
    * a per-lang QUOTA — ntile(3) always gives the LAST tercile
    * `⌊n/3⌋` rows, so keep-count = `n − n div 3` — and runs it
    * through [[graft.curation.Curation.twoPhaseQuotaFill]] on the
    * micro-integer score (6-decimal `avg_logprob` × 10⁶ is integral
    * and order-isomorphic, so the rank — score DESC, doc_id — is the
    * tercile order exactly). Identical keep set; only the ~1/B
    * boundary score-bucket is exact-ranked.
    */
  def ccnetKeepIdsScalable(df: DataFrame, text: Column, id: Column,
                           lang: Column,
                           bucketWidth: Long = 250000L): DataFrame = {
    val scored = unigramLogProb(df, text, id)
    // checkpointed O(ids): 3 narrow columns, so the two-phase fill's
    // histogram + fill passes don't re-run the LM scoring join twice
    // (the curationFunnel qKeep/cKeep precedent — scoring dominates
    // this operator's cost, the fill itself is scan-shaped)
    val base = Checkpoint(df.select(id.as("doc_id"), lang.as("lang"))
      .join(scored, Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        round(col("avg_logprob") * 1000000.0, 0).cast("long").as("__lpm")))
    graft.curation.Curation.twoPhaseQuotaFill(base, col("lang"),
        counts => counts.withColumn("__quota",
          col("__n") - expr("__n div 3")),
        -col("__lpm"), col("doc_id"), expr(s"__sa div $bucketWidth"))
      .select(col("doc_id"))
  }

  /** c34b oracle: the SHARED [[ccnetTercileCtes]] chain, keep =
    * head+middle terciles — the SAME tercile definition as c30/c34/c35.
    */
  def ccnetKeepOracleSql: String =
    s"""WITH ${ccnetTercileCtes("documents")}
       |SELECT doc_id FROM cc_b WHERE t <= 2 ORDER BY doc_id""".stripMargin

  /** CCNet filtering (c34) — the cut [[perplexityBuckets]] exists for:
    * keep each language's head+middle terciles, drop the tail (Wenzek
    * et al. 2020 train on head+middle). Returns the per-language kept
    * census (docs and whitespace tokens) — the manifest a budget
    * planner consumes; the kept doc set itself is the same frame before
    * the final aggregate. Same plan as c30 plus one lang-keyed
    * aggregate over the kept two-thirds.
    */
  def ccnetFilter(df: DataFrame, text: Column, id: Column,
                  lang: Column): DataFrame =
    ccnetTerciled(df, text, id, lang)
      .filter(col("__t") <= 2)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).as("tokens_kept"),
        min(col("avg_logprob")).as("lp_cutoff"))

  /** CCNet tercile CTE chain over `src` (a relation exposing doc_id,
    * text, lang): LM fit on `src` ITSELF, ending in `cc_b(lang, doc_id,
    * n_tokens, avg_logprob, t)` — ONE definition shared by the c34
    * filter oracle (src = documents) and the c35 funnel oracle (src =
    * the preceding stage's survivors), mirroring [[ccnetTerciled]].
    */
  private def ccnetTercileCtes(src: String): String =
    s"""cc_tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $src),
       |cc_cnt AS (SELECT tok, count(*) AS c FROM cc_tk GROUP BY tok),
       |cc_n AS (SELECT CAST(sum(c) AS DOUBLE) AS nt FROM cc_cnt),
       |cc_lp AS (SELECT tok, CAST(round(ln(CAST(c AS DOUBLE) / cc_n.nt), 6)
       |        AS DECIMAL(18,6)) AS lp6 FROM cc_cnt, cc_n),
       |cc_s AS (SELECT cc_tk.doc_id, sum(cc_lp.lp6) AS slp, count(*) AS n_tokens
       |      FROM cc_tk JOIN cc_lp ON cc_tk.tok = cc_lp.tok GROUP BY cc_tk.doc_id),
       |cc_sc AS (SELECT d.lang, cc_s.doc_id, cc_s.n_tokens,
       |      round(CAST(cc_s.slp AS DOUBLE) / cc_s.n_tokens, 6) AS avg_logprob
       |      FROM cc_s JOIN $src d ON cc_s.doc_id = d.doc_id),
       |cc_b AS (SELECT lang, doc_id, n_tokens, avg_logprob,
       |      ntile(3) OVER (PARTITION BY lang
       |        ORDER BY avg_logprob DESC, doc_id) AS t FROM cc_sc)""".stripMargin

  /** c34 oracle: the c30 chain, tail filtered, per-lang census. */
  def ccnetFilterOracleSql: String =
    s"""WITH ${ccnetTercileCtes("documents")}
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       |  CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
       |  min(avg_logprob) AS lp_cutoff
       |FROM cc_b WHERE t <= 2 GROUP BY lang ORDER BY lang""".stripMargin

  /** c35 oracle: the FineWeb-order published funnel — the SAME shared
    * CTE chains as the per-stage gates (c29 [[gopherFlagsCtes]], t25
    * [[gopherRepCtes]] + keep predicate, c34 [[ccnetTercileCtes]] fit
    * over stage-2 survivors, the c9/c23 exact keep-one window) composed
    * sequentially, with first-exit labels and the c23 census tail.
    */
  def publishedFunnelOracleSql(minWords: Long = 20L,
                               maxWords: Long = 100000L): String =
    s"""WITH ${gopherFlagsCtes(minWords, maxWords)},
       |s1 AS (SELECT doc_id FROM gr WHERE r1 AND r2 AND r3 AND r4 AND r5),
       |$gopherRepCtes,
       |grk AS (SELECT d.doc_id
       |  FROM d JOIN tot ON d.doc_id = tot.doc_id
       |  $gopherRepJoins
       |  WHERE $gopherRepKeepPred),
       |s2 AS (SELECT s1.doc_id FROM s1 JOIN grk ON s1.doc_id = grk.doc_id),
       |s2docs AS (SELECT dd.doc_id, dd.text, dd.lang
       |  FROM documents dd JOIN s2 ON dd.doc_id = s2.doc_id),
       |${ccnetTercileCtes("s2docs")},
       |s3 AS (SELECT doc_id FROM cc_b WHERE t <= 2),
       |s3docs AS (SELECT dd.doc_id, dd.text
       |  FROM documents dd JOIN s3 ON dd.doc_id = s3.doc_id),
       |ded AS (SELECT doc_id, row_number() OVER (
       |    PARTITION BY array_to_string(list_sort(list_distinct(
       |      string_split(text, ' '))), ' ')
       |    ORDER BY doc_id) AS rn FROM s3docs),
       |surv AS (SELECT doc_id FROM ded WHERE rn = 1),
       |lab AS (SELECT dd.doc_id,
       |  CASE WHEN s1.doc_id IS NULL THEN '1_gopher_rules'
       |       WHEN s2.doc_id IS NULL THEN '2_repetition'
       |       WHEN s3.doc_id IS NULL THEN '3_ccnet_tail'
       |       WHEN sv.doc_id IS NULL THEN '4_duplicate'
       |       ELSE '5_kept' END AS stage,
       |  CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS nt
       |  FROM documents dd
       |  LEFT JOIN s1 ON dd.doc_id = s1.doc_id
       |  LEFT JOIN s2 ON dd.doc_id = s2.doc_id
       |  LEFT JOIN s3 ON dd.doc_id = s3.doc_id
       |  LEFT JOIN surv sv ON dd.doc_id = sv.doc_id),
       |agg AS (SELECT stage, CAST(count(*) AS BIGINT) AS n_exit,
       |        CAST(sum(nt) AS BIGINT) AS tokens_exit
       |        FROM lab GROUP BY stage),
       |fin AS (SELECT stage, n_exit, tokens_exit,
       |  CAST(SUM(n_exit) OVER ()
       |    - coalesce(SUM(n_exit) OVER (ORDER BY stage
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS n_in
       |  FROM agg)
       |SELECT stage, n_exit, n_in,
       |  round(CAST(n_exit AS DOUBLE) / n_in, 6) AS exit_rate, tokens_exit
       |FROM fin ORDER BY stage""".stripMargin

  /** c31 oracle: the identical rolling-hash bucket fold, one-pass counts,
    * smoothed ratio table, and DECIMAL-summed doc weights in SQL.
    */
  def dsirOracleSql(targetSql: String, buckets: Int = 256,
                    tailSql: String = "ORDER BY doc_id"): String =
    s"""WITH tk AS (SELECT doc_id, ($targetSql) AS t,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      [CAST(ascii(c) AS BIGINT) FOR c IN string_split(tok, '')]),
       |      (a, b) -> (a * 31 + b) % 1000000007) % $buckets AS INT) AS b
       |  FROM (SELECT doc_id, lang,
       |      unnest(string_split(text, ' ')) AS tok FROM documents)),
       |c AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
       |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM tk GROUP BY b),
       |n AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
       |    CAST(sum(ct) AS BIGINT) AS nt FROM c),
       |m AS (SELECT b, CAST(round(
       |    ln((ct + 1.0) / (nt + $buckets.0))
       |    - ln((cr + 1.0) / (nr + $buckets.0)), 6) AS DECIMAL(18,6)) AS lp6
       |  FROM c, n),
       |s AS (SELECT tk.doc_id, sum(m.lp6) AS slp,
       |    CAST(count(*) AS BIGINT) AS n_tokens
       |  FROM tk JOIN m USING (b) GROUP BY tk.doc_id)
       |SELECT doc_id, n_tokens, round(CAST(slp AS DOUBLE), 6) AS dsir_weight
       |FROM s $tailSql""".stripMargin
}
