package graft.text

import graft.Checkpoint
import graft.ops.DriverSolve
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.collection.mutable

/** BPE merge TRAINING over a corpus — the learn-the-tokenizer step the
  * fixed-vocab counters ([[TextAnalysis.bpeTokenCountCol]], t19/t20) sit
  * downstream of. Reference scope: the reference ships no tokenizer
  * trainer; this is the LLM-pipeline widening the builder brief asks for
  * (token counting's upstream: where the vocab comes from).
  *
  * Algorithm: classic word-frequency BPE (Sennrich et al. 2016,
  * arXiv:1508.07909) — and its Spark shape is the whole 100 TB story:
  *
  *  1. ONE corpus-scale pass builds the word-frequency table
  *     ([[wordFreq]]: explode words, groupBy, map-side combined). At
  *     100 TB this is the only scan of the data; everything after runs
  *     on the |V|-row vocab frame (distinct words — millions of rows
  *     where the corpus is billions), cached on the cluster.
  *  2. k merge iterations over the vocab frame. Each iteration is one
  *     small pair-count shuffle (adjacent symbol pairs weighted by word
  *     count, partial-aggregated map-side), a 1-row argmax collect
  *     (count DESC, pair ASC — the deterministic tie-break both engines
  *     share), and a map-only fold that applies the merge
  *     ([[applyMergeCol]] — no shuffle). A checkpoint per iteration
  *     keeps the lineage flat (the d9/pagerank discipline) and frees the
  *     dead predecessor's blocks ([[graft.Checkpoint.next]]).
  *
  * The naive alternative — re-scanning the corpus per merge — is k
  * corpus passes; this is 1 + k vocab-frame passes. That asymmetry IS
  * why word-freq BPE is the industry algorithm.
  *
  * Merge-application semantics (shared bit-for-bit with the DuckDB
  * oracle): symbols are pipe-joined (the word alphabet is [a-z], so '|'
  * never collides), and one merge (l, r) is applied by a greedy
  * LEFT-TO-RIGHT fold over the symbol list — append `r` to the
  * accumulator WITHOUT a separator when the accumulator's last symbol is
  * exactly `l` (the `|`-anchored suffix test makes "last symbol == l"
  * exact even when another symbol merely ends with `l`), else append
  * `|r`. Greedy-left resolves overlaps the standard way: aaa under
  * (a,a) -> [aa, a]. The oracle runs the IDENTICAL fold via DuckDB
  * `list_reduce`, so the learned merge table is hash-gated, not
  * spot-checked.
  *
  * No end-of-word marker is modelled (merges never cross word
  * boundaries here, which is the property the marker exists to encode
  * for detokenization; counts and merge choices are unaffected for the
  * in-word merges this trainer learns).
  */
object BpeTrain {

  /** One learned merge: `step` is 1-based rank order, `c` the weighted
    * adjacent-pair count at selection time.
    */
  final case class Merge(step: Int, lft: String, rgt: String, c: Long)

  /** The one corpus-scale pass: lowercase [a-z]+ word extraction, global
    * word counts (map-side combined), symbols initialized to the word's
    * characters pipe-joined. Output schema: (word STRING, syms STRING,
    * cnt BIGINT) — `word` rides through training untouched so the final
    * vocab doubles as the word → tokenization LOOKUP table
    * ([[tokenCounts]]): applying a trained BPE at corpus scale is a join,
    * not a re-fold.
    */
  def wordFreq(df: DataFrame, text: Column): DataFrame =
    df.select(explode(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      // Char-split via regexp_extract_all (NOT split(word, "(?!^)"):
      // the lookahead also matches at end-of-string, leaving a trailing
      // empty symbol) — and it is the identical expression the oracle
      // runs, so the initial symbolization is shared by construction.
      .select(col("word"),
        concat_ws("|", regexp_extract_all(col("word"), lit("[a-z]"), lit(0)))
          .as("syms"),
        col("cnt"))

  /** Apply ONE merge (l, r) to a pipe-joined symbol string: greedy
    * left-to-right fold (see object doc for the shared semantics).
    * Map-only — the fold is a `functions.aggregate` HOF over the split
    * array, seeded with the first symbol.
    */
  def applyMergeCol(syms: Column, lft: String, rgt: String): Column = {
    val arr = split(syms, "\\|")
    aggregate(
      slice(arr, lit(2), size(arr) - 1),
      element_at(arr, 1),
      (acc, x) =>
        when(x === lit(rgt) &&
            (acc === lit(lft) || acc.endsWith(lit("|" + lft))),
          concat(acc, x))
        .otherwise(concat(acc, lit("|"), x)))
  }

  /** Adjacent-pair counts over the current vocab frame, weighted by word
    * count: ONE small shuffle (pairs partial-aggregated map-side;
    * single-symbol words contribute nothing — their zipped slice is
    * empty and `explode` drops the row).
    */
  def pairCounts(words: DataFrame): DataFrame = {
    val arr = split(col("syms"), "\\|")
    words
      .select(col("cnt"), slice(arr, lit(1), size(arr) - 1).as("ls"),
        slice(arr, lit(2), size(arr) - 1).as("rs"))
      .select(col("cnt"), explode(arrays_zip(col("ls"), col("rs"))).as("p"))
      .select(col("p.ls").as("lft"), col("p.rs").as("rgt"), col("cnt"))
      .groupBy(col("lft"), col("rgt")).agg(sum(col("cnt")).as("c"))
  }

  /** [[applyMergeCol]]'s greedy fold mirrored on a plain string — the
    * driver paths below must reproduce the Column fold bit-for-bit:
    * the condition `acc == l || acc.endsWith("|" + l)` is exactly "the
    * segment after the last pipe is l" (segments never contain '|'),
    * which `last` tracks across merged (no-separator) appends.
    */
  private def applyMergeLocal(syms: String, lft: String,
                              rgt: String): String = {
    val arr = syms.split("\\|", -1)
    if (arr.length <= 1) syms
    else {
      val sb = new StringBuilder(arr(0))
      var last = arr(0)
      var i = 1
      while (i < arr.length) {
        val x = arr(i)
        if (x == rgt && last == lft) { sb.append(x); last = lft + rgt }
        else { sb.append('|').append(x); last = x }
        i += 1
      }
      sb.toString
    }
  }

  /** Train `k` merges over a (syms, cnt) vocab frame. Returns the merge
    * list (<= k if the corpus runs dry — fewer than k distinct adjacent
    * pairs) and the final vocab frame (a checkpoint the caller's scope
    * owns). Per iteration: one pair-count shuffle, one
    * 1-row argmax collect (bounded — the iteration must sequence on the
    * chosen pair), one map-only fold.
    */
  def trainMerges(words0: DataFrame,
                  k: Int): (Seq[Merge], DataFrame) = Checkpoint.scope {
    require(k >= 1, s"k must be >= 1, got $k")
    val words = Checkpoint(words0)
    // k rounds of (pair-count shuffle + 1-row argmax collect +
    // checkpointed map fold) over a vocab that fits the driver is k × ~3
    // jobs of fixed cost: run classic word-freq BPE locally — the same
    // adjacent-pair counts weighted by cnt, the same (count DESC, lft ASC,
    // rgt ASC) argmax (lowercase-ASCII symbols, so JVM and UTF8 string
    // orders agree), and applyMergeLocal mirroring applyMergeCol's fold
    DriverSolve(words, Seq("word", "syms", "cnt")) { rows =>
      val (ms, vocab) = localMerges(rows, k)
      (ms, words0.sparkSession.createDataFrame(vocab,
        StructType(Seq(StructField("word", StringType),
          StructField("syms", StringType), StructField("cnt", LongType)))))
    }.getOrElse(mergeLoop(words, k))
  }

  /** [[trainMerges]]' distributed loop alone, never the driver path. */
  private[graft] def trainMergesDistributed(words0: DataFrame,
                                            k: Int): (Seq[Merge], DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    Checkpoint.scope(mergeLoop(Checkpoint(words0), k))
  }

  private def localMerges(rows: Array[Row],
                          k: Int): (Seq[Merge], java.util.List[Row]) = {
    var vocab = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ms = Seq.newBuilder[Merge]
    var step = 1
    var dry = false
    while (step <= k && !dry) {
      val pc = mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (_, syms, cnt) =>
        val a = syms.split("\\|", -1)
        var i = 0
        while (i < a.length - 1) {
          val key = (a(i), a(i + 1))
          pc(key) = pc.getOrElse(key, 0L) + cnt
          i += 1
        }
      }
      if (pc.isEmpty) dry = true
      else {
        val ((l, r), c) = pc.minBy { case ((pl, pr), pcnt) => (-pcnt, pl, pr) }
        ms += Merge(step, l, r, c)
        vocab = vocab.map { case (w, syms, cnt) =>
          (w, applyMergeLocal(syms, l, r), cnt)
        }
        step += 1
      }
    }
    val out = new java.util.ArrayList[Row](vocab.length)
    vocab.foreach { case (w, syms, cnt) => out.add(Row(w, syms, cnt)) }
    (ms.result(), out)
  }

  private def mergeLoop(words0: DataFrame, k: Int): (Seq[Merge], DataFrame) = {
    var words = words0
    val merges = Seq.newBuilder[Merge]
    var step = 1
    var dry = false
    while (step <= k && !dry) {
      val top = pairCounts(words)
        .orderBy(col("c").desc, col("lft"), col("rgt"))
        .limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val r = top(0)
        val (lft, rgt, c) = (r.getString(0), r.getString(1), r.getLong(2))
        merges += Merge(step, lft, rgt, c)
        words = Checkpoint.next(words, words
          .select(col("word"), applyMergeCol(col("syms"), lft, rgt).as("syms"),
            col("cnt")))
        step += 1
      }
    }
    (merges.result(), words)
  }

  /** The t21 gate body: learn `k` merges from `text` and return the merge
    * table (step, lft, rgt, c) — k driver-side rows parallelized back
    * into a frame so the gate result is a DataFrame like every other.
    * The paired final vocab is exposed via [[trainArtifacts]] so t22
    * shares one training run.
    */
  def trainArtifacts(s: SparkSession, df: DataFrame, text: Column, k: Int)
      : (DataFrame, DataFrame) = {
    val (merges, vocab) = trainMerges(wordFreq(df, text), k)
    import s.implicits._
    val mergeDf = merges.toDF("step", "lft", "rgt", "c")
    (mergeDf, vocab)
  }

  /** Corpus frequency of every symbol in a trained vocab frame — the
    * learned-subword usage report (t22): explode the symbols, weight by
    * word count, one groupBy. Multi-char rows are the merges actually
    * paying for themselves on this corpus; the single-char tail is the
    * byte-fallback mass a vocab-size decision trades against.
    */
  def symbolFrequencies(vocab: DataFrame): DataFrame =
    vocab
      .select(explode(split(col("syms"), "\\|")).as("sym"), col("cnt"))
      .groupBy(col("sym")).agg(sum(col("cnt")).as("total"))

  /** Per-document token counts under the TRAINED tokenizer — the
    * train → apply loop closed (t23): tokenizing with a learned BPE at
    * corpus scale is a LOOKUP against the final vocab frame (each word's
    * post-merge symbol count), never a per-document re-fold — the same
    * word tokenizes identically everywhere, so the fold is paid once per
    * DISTINCT word, at training time. One corpus word-explode joined to
    * the |V|-row lookup (AQE broadcasts it while it fits; a 10⁸-word
    * vocab at 100 TB degrades to a word-keyed shuffle join, still corpus
    * pass + vocab frame), one doc-keyed aggregate. Contract: `vocab` was
    * trained on the same word-extraction rule, so every corpus word hits
    * the lookup (inner join).
    */
  def tokenCounts(docs: DataFrame, text: Column, id: Column,
                  vocab: DataFrame): DataFrame = {
    val lut = vocab.select(col("word"),
      size(split(col("syms"), "\\|")).cast("long").as("n_syms"))
    docs.select(id.as("doc_id"),
        explode(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)))
          .as("word"))
      .join(lut, Seq("word"))
      .groupBy(col("doc_id")).agg(sum(col("n_syms")).as("n_bpe_learned"))
  }

  /** Staged per-batch token-census row schema (explicit: a footer-less
    * first read must not choke inference — the d9 discipline). */
  private def tokenStoreSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("n_bpe_learned", LongType),
      StructField("batch_id", LongType)))
  }

  /** One micro-batch of the MAINTAINED token-census store (t23b) — the
    * FROZEN trained vocab applied to documents as they arrive: the
    * batch's [[tokenCounts]] rows land in its own `batch_id` partition
    * via dynamic overwrite, so at-least-once replays are no-ops (the
    * crawl-ingest convention). Per-batch cost is one batch-sized
    * lookup-join pass; an empty batch stages nothing. CONTRACT: a
    * doc_id appears in ONE batch (replays of the same batch are
    * handled; the same doc re-sent under a different batch_id would
    * duplicate its census row — same contract as every staged store).
    */
  def tokenCountBatch(batch: DataFrame, batchId: Long, text: Column,
                      id: Column, vocab: DataFrame,
                      storePath: String): Unit =
    tokenCounts(batch, text, id, vocab)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storePath)

  /** Streaming twin of [[tokenCounts]] (the c19c/c21b/c37b convention,
    * closing the t-family's gap): apply the frozen vocab per
    * micro-batch in `foreachBatch` ([[tokenCountBatch]] is the exposed
    * body, so replay idempotence is directly spec-testable);
    * [[tokenCountsFromStore]] is the read.
    */
  def tokenizeIngest(raw: DataFrame, text: Column, id: Column,
                     vocab: DataFrame, storePath: String,
                     queryName: String = "graft_bpe_tokenize")
      : org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream.queryName(queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tokenCountBatch(batch, batchId, text, id, vocab, storePath)
      }.start()

  /** The per-document token report over an ingested store — since each
    * document's census lives in exactly one batch partition, the union
    * of staged rows IS [[tokenCounts]] of the whole ingested corpus
    * (the t23b gate hash-matches t23's oracle).
    */
  def tokenCountsFromStore(spark: org.apache.spark.sql.SparkSession,
                           storePath: String): DataFrame =
    spark.read.schema(tokenStoreSchema).parquet(storePath)
      .select(col("doc_id"), col("n_bpe_learned"))

  /** DuckDB oracle twin of the full training chain: k unrolled CTE
    * levels, each one pair-count + deterministic argmax + the IDENTICAL
    * greedy-left fold via `list_reduce` (the `|`-anchored suffix test
    * spelled with string slicing). The gate oracles below append their
    * own tail (merge table for t21, symbol frequencies for t22, the
    * lookup join for t23).
    *
    * Contract: the corpus must offer at least k mergeable pairs. The
    * engine runs dry GRACEFULLY (vocab intact, fewer merges), but a dry
    * level here cross-joins an EMPTY argmax and empties every later
    * `w` CTE — so a dry corpus would fail t22/t23 confusingly instead
    * of loudly. Gate wiring asserts `merges.length == k` up front
    * (DocQueries.bpeArtifacts) to convert that into an explicit error.
    */
  def oracleCtes(k: Int): String = {
    val levels = (0 until k).map { i =>
      s"""p$i AS (SELECT lft, rgt, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |    SELECT l[j] AS lft, l[j+1] AS rgt, cnt FROM (
         |      SELECT string_split(syms, '|') AS l, cnt,
         |        unnest(range(1, len(string_split(syms, '|')))) AS j
         |      FROM w$i)) GROUP BY lft, rgt),
         |m$i AS (SELECT lft, rgt, c FROM p$i ORDER BY c DESC, lft, rgt LIMIT 1),
         |w${i + 1} AS (SELECT w.word, list_reduce(string_split(w.syms, '|'), (acc, x) ->
         |    CASE WHEN x = m.rgt AND (acc = m.lft
         |                             OR acc[-(length(m.lft) + 1):] = '|' || m.lft)
         |    THEN acc || x ELSE acc || '|' || x END) AS syms, w.cnt
         |  FROM w$i w, m$i m)""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents) GROUP BY word),
       |w0 AS (SELECT word,
       |    array_to_string(regexp_extract_all(word, '[a-z]'), '|') AS syms,
       |    cnt FROM wf),
       |$levels""".stripMargin
  }

  /** t21 oracle: the learned merge table. */
  def mergesOracleSql(k: Int): String = {
    val rows = (0 until k)
      .map(i => s"SELECT ${i + 1} AS step, lft, rgt, c FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""${oracleCtes(k)}
       |SELECT step, lft, rgt, c FROM (
       |  $rows) ORDER BY step""".stripMargin
  }

  /** t22 oracle: symbol frequencies of the final (post-k-merges) vocab. */
  def symbolFreqOracleSql(k: Int): String =
    s"""${oracleCtes(k)}
       |SELECT sym, CAST(sum(cnt) AS BIGINT) AS total FROM (
       |  SELECT unnest(string_split(syms, '|')) AS sym, cnt FROM w$k)
       |GROUP BY sym ORDER BY total DESC, sym""".stripMargin

  /** t23 oracle: per-document counts under the trained tokenizer — the
    * final vocab as a word → symbol-count lookup, joined to the corpus
    * word explode.
    */
  /** DETOKENIZATION under the trained vocab — the inverse of [[tokenCounts]],
    * closing the round trip (t26): each word's subword tokens concatenate
    * back to the word EXACTLY because merges never cross word boundaries
    * (the no-end-of-word-marker caveat documented in the object scaladoc,
    * PINNED here instead of trusted: word-internal reconstruction needs no
    * marker; the marker exists for flat token STREAMS, and this operator
    * keeps the per-word grouping a columnar pipeline naturally has). The
    * document then reassembles in word order, and `roundtrip_ok` compares
    * against the canonical form (lowercased [a-z]+ words joined by single
    * spaces — the exact alphabet the trainer consumed; on a corpus already
    * in canonical form the round trip is the identity).
    *
    * Plan shape: one corpus word-explode joined to the |V|-row vocab
    * lookup (AQE broadcasts it while it fits — the t23 shape), a doc-keyed
    * order-preserving reassembly aggregate, and a doc-keyed join back to
    * the canonical projection (word-less docs survive with detok = '').
    */
  def detokenize(docs: DataFrame, text: Column, id: Column,
                 vocab: DataFrame): DataFrame = {
    val lut = vocab.select(col("word"),
      translate(col("syms"), "|", "").as("dword"))
    val reassembled = docs
      .select(id.as("doc_id"),
        posexplode(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)))
          .as(Seq("pos", "word")))
      // LEFT join: an OOV word (corpus ≠ the training corpus) falls
      // back to itself — real BPE char-splits OOV, and char pieces
      // reassemble to the word, so the round trip must not silently
      // DROP the word (an inner join would, corrupting detok_text)
      .join(lut, Seq("word"), "left")
      .withColumn("dword", coalesce(col("dword"), col("word")))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("dword")))),
          x => x.getField("dword")), " ").as("detok_text"))
    docs
      .select(id.as("doc_id"),
        array_join(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)),
          " ").as("__canon"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("detok_text"), lit("")).as("detok_text"),
        (coalesce(col("detok_text"), lit("")) === col("__canon"))
          .as("roundtrip_ok"))
  }

  /** Per-language FERTILITY of the trained tokenizer (t27) — subword
    * tokens per word, the standard multilingual-tokenizer health metric
    * (a language with fertility ≫ the corpus mean is under-served by
    * the learned merges: its text costs proportionally more sequence
    * budget — the number a vocab-allocation decision reads next to
    * t24's growth curve). Exact integers: floor-micro ratio of two
    * corpus counts. Same plan shape as [[tokenCounts]]: word-explode
    * joined to the broadcastable |V|-row lookup, then a ≤#langs-row
    * aggregate.
    */
  def fertilityReport(docs: DataFrame, text: Column, lang: Column,
                      vocab: DataFrame): DataFrame =
    docs
      .select(lang.as("lang"),
        explode(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0)))
          .as("word"))
      // LEFT join with the char-split fallback (OOV costs one token per
      // char — the BPE byte/char fallback): an inner join would DROP
      // OOV words and understate fertility for exactly the under-served
      // languages this metric exists to expose when the report runs on
      // a corpus other than the one the vocab was trained on
      .join(vocab.select(col("word"),
        size(split(col("syms"), "\\|")).cast("long").as("n_syms")),
        Seq("word"), "left")
      .withColumn("n_syms",
        coalesce(col("n_syms"), length(col("word")).cast("long")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_subwords"))
      .withColumn("fertility_micro",
        expr("(n_subwords * 1000000) div n_words"))

  /** t27 oracle: training chain + the identical lookup join and
    * per-language floor-micro ratio.
    */
  def fertilityOracleSql(k: Int): String =
    s"""${oracleCtes(k)},
       |vk AS (SELECT word, CAST(len(string_split(syms, '|')) AS BIGINT) AS n_syms
       |       FROM w$k),
       |dw AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |       FROM documents),
       |p AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(coalesce(n_syms, CAST(length(dw.word) AS BIGINT))) AS BIGINT) AS n_subwords
       |  FROM dw LEFT JOIN vk ON dw.word = vk.word GROUP BY lang)
       |SELECT lang, n_words, n_subwords,
       |  CAST((n_subwords * 1000000) // n_words AS BIGINT) AS fertility_micro
       |FROM p ORDER BY lang""".stripMargin

  /** COMPRESSION CURVE of the merge sequence (t28) — after each merge
    * prefix j = 0..k, the corpus-wide subword token count and
    * floor-micro fertility: the marginal value of every learned merge,
    * read next to t24's vocab-growth curve when SIZING the vocab (the
    * curve flattens where additional merges stop paying — that knee is
    * the budget decision). All j states are VOCAB-FRAME aggregates:
    * `Σ cnt · |syms_j|` — after the one wordFreq corpus pass, the whole
    * curve costs k map-only merge folds + k |V|-row reduces, never a
    * corpus rescan (the t21 asymmetry, extended to evaluation).
    * `merges` is the trained (step, lft, rgt) table, ≤k rows collected
    * driver-side (bounded — it IS the model).
    */
  def compressionCurve(words0: DataFrame, merges: Seq[(Int, String, String)])
      : DataFrame = Checkpoint.scope {
    val words = Checkpoint(words0)
    // k checkpointed merge applications + k census collects over a vocab
    // that fits the driver are pure fixed cost: apply the merges with
    // applyMergeLocal and census locally (long sums, order-independent)
    val curve = DriverSolve(words, Seq("syms", "cnt")) { rows =>
      var vocab = rows.map(r => (r.getString(0), r.getLong(1)))
      def census(step: Int): (Int, Long, Long) = {
        var nw = 0L; var ns = 0L
        vocab.foreach { case (syms, cnt) =>
          nw += cnt; ns += cnt * syms.split("\\|", -1).length
        }
        (step, nw, ns)
      }
      census(0) +: merges.sortBy(_._1).map { case (step, lft, rgt) =>
        vocab = vocab.map { case (syms, cnt) =>
          (applyMergeLocal(syms, lft, rgt), cnt)
        }
        census(step)
      }
    }.getOrElse(curveLoop(words, merges))
    curveFrame(words0.sparkSession, curve)
  }

  /** [[compressionCurve]]'s distributed loop alone, never the driver path. */
  private[graft] def compressionCurveDistributed(words0: DataFrame,
      merges: Seq[(Int, String, String)]): DataFrame =
    Checkpoint.scope(curveFrame(words0.sparkSession,
      curveLoop(Checkpoint(words0), merges)))

  private def curveFrame(spark: SparkSession,
                         curve: Seq[(Int, Long, Long)]): DataFrame = {
    import spark.implicits._
    curve
      .filter { case (_, nw, _) => nw > 0L }
      .map { case (s, nw, ns) => (s.toLong, nw, ns, ns * 1000000L / nw) }
      .toDF("step", "n_words", "n_subwords", "fertility_micro")
  }

  /** Per-prefix (step, Σ cnt, Σ cnt·|syms|) over the checkpointed merge
    * applications. */
  private def curveLoop(words0: DataFrame, merges: Seq[(Int, String, String)])
      : Seq[(Int, Long, Long)] = {
    var words = words0
    // an EMPTY word frame (empty corpus) yields NULL sums — emit the
    // degenerate empty curve instead of NPE-ing on getLong / dividing
    // by a zero word count (word counts are constant across merge
    // steps, so empty-at-step-0 means empty at every step)
    def census(step: Int): (Int, Long, Long) = {
      val r = words.agg(
        sum(col("cnt")).as("nw"),
        sum(col("cnt") * size(split(col("syms"), "\\|"))).as("ns"))
        .collect()(0)
      if (r.isNullAt(0)) (step, 0L, 0L) else (step, r.getLong(0), r.getLong(1))
    }
    val curve = Seq.newBuilder[(Int, Long, Long)]
    curve += census(0)
    merges.sortBy(_._1).foreach { case (step, lft, rgt) =>
      words = Checkpoint.next(words, words
        .select(col("word"), applyMergeCol(col("syms"), lft, rgt).as("syms"),
          col("cnt")))
      curve += census(step)
    }
    curve.result()
  }

  /** t28 oracle: one per-prefix census off each unrolled merge level. */
  def compressionCurveOracleSql(k: Int): String = {
    val rows = (0 to k).map { j =>
      s"""SELECT $j AS step, CAST(sum(cnt) AS BIGINT) AS n_words,
         |  CAST(sum(cnt * len(string_split(syms, '|'))) AS BIGINT) AS n_subwords,
         |  CAST((sum(cnt * len(string_split(syms, '|'))) * 1000000) // sum(cnt) AS BIGINT) AS fertility_micro
         |FROM w$j""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${oracleCtes(k)},
       |curve AS ($rows)
       |SELECT CAST(step AS BIGINT) AS step, n_words, n_subwords, fertility_micro
       |FROM curve ORDER BY step""".stripMargin
  }

  /** t26 oracle: training chain + the identical lookup-join reassembly
    * and canonical-form comparison.
    */
  def detokenizeOracleSql(k: Int): String =
    s"""${oracleCtes(k)},
       |lut AS (SELECT word, replace(syms, '|', '') AS dword FROM w$k),
       |d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
       |      FROM documents),
       |p AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS pos FROM d),
       |e AS (SELECT doc_id, pos, ws[pos] AS word FROM p),
       |dt AS (SELECT e.doc_id,
       |    string_agg(coalesce(lut.dword, e.word), ' ' ORDER BY e.pos) AS detok
       |  FROM e LEFT JOIN lut ON e.word = lut.word GROUP BY e.doc_id),
       |c AS (SELECT doc_id,
       |    array_to_string(regexp_extract_all(lower(text), '[a-z]+'), ' ') AS canon
       |  FROM documents)
       |SELECT c.doc_id, coalesce(dt.detok, '') AS detok_text,
       |  (coalesce(dt.detok, '') = c.canon) AS roundtrip_ok
       |FROM c LEFT JOIN dt ON c.doc_id = dt.doc_id
       |ORDER BY c.doc_id""".stripMargin

  def tokenCountsOracleSql(k: Int): String =
    s"""${oracleCtes(k)},
       |vk AS (SELECT word, CAST(len(string_split(syms, '|')) AS BIGINT) AS n_syms
       |       FROM w$k),
       |dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |       FROM documents)
       |SELECT dw.doc_id, CAST(sum(vk.n_syms) AS BIGINT) AS n_bpe_learned
       |FROM dw JOIN vk ON dw.word = vk.word
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
}
