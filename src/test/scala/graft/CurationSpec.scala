package graft

import graft.curation.Curation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    // (doc_id, source, text)
    (1L, "web", "the cat sat on the mat and slept"),
    (2L, "web", "the cat sat on the mat and slept"),        // exact dup of 1
    (3L, "web", "slept and the mat on sat cat the"),        // same token SET as 1
    (4L, "web", "a dog ran in the park to the river"),
    (5L, "books", "der hund ist nicht ein tier und das"),
    (6L, "books", "short text"),                            // under minTokens
    (7L, "books", "qq ww rr tt zz pp mm nn bb vv"),         // no profile hit → lang_score 0
    (8L, "web", "the the the the the the the the")          // stopword ratio 1.0
  ).toDF("doc_id", "source", "text")

  test("keepOneExact keeps the lowest id per canonical token signature") {
    val kept = Curation.keepOneExact(docs, col("text"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 2 (exact dup) and 3 (same token set) collapse into 1
    assert(kept == Set(1L, 4L, 5L, 6L, 7L, 8L))
  }

  test("quotaPerKey caps per source, longest first") {
    val q = Curation.quotaPerKey(
      docs.withColumn("n_tokens", size(split(col("text"), " ")).cast("long")),
      col("source"), 2, Seq(col("n_tokens").desc, col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(q.size == 4) // 2 per source
    assert(q.intersect(Set(6L)).isEmpty) // the 2-token doc loses its slot
  }

  test("quotaPerKeyScalable ≡ quotaPerKey across widths, skew, and edge quotas") {
    // skewed: key 'mega' holds 90% of rows; sort-key ties abound
    val rnd = new scala.util.Random(1513L)
    val rows = (1L to 400L).map { i =>
      val k = if (i % 10 != 0) "mega" else s"k${i % 3}"
      (i, k, rnd.nextInt(12).toLong) // small len range -> many ties
    }
    val df = rows.toDF("doc_id", "source", "len")
    def exact(n: Int) = Curation.quotaPerKey(df, col("source"), n,
      Seq(col("len").desc, col("doc_id")))
      .select("doc_id").as[Long].collect().toSet
    for (n <- Seq(0, 1, 17, 50, 1000); w <- Seq(1L, 4L, 1000000L)) {
      val got = Curation.quotaPerKeyScalable(df, col("source"), n,
        -col("len"), col("doc_id"), bucketWidth = w)
        .select("doc_id").as[Long].collect().toSet
      assert(got == exact(n), s"mismatch at n=$n width=$w")
    }
  }

  test("tokenBudgetMixScalable ≡ tokenBudgetMix: rows AND exact cum_tokens") {
    // mega source (90% of rows), negative qualities, heavy sort-key
    // ties — the distributed prefix sum must reproduce the window's
    // cumulative values bit for bit at any bucket width
    val rnd = new scala.util.Random(1519L)
    val rows = (1L to 500L).map { i =>
      val k = if (i % 10 != 0) "mega" else s"k${i % 3}"
      (i, k, 1L + rnd.nextInt(9).toLong, (rnd.nextInt(21) - 10).toLong)
    }
    val df = rows.toDF("doc_id", "source", "n_tokens", "quality")
    for (budget <- Seq(0L, 37L, 500L, 1000000L); w <- Seq(1L, 4L, 1000L)) {
      val exact = Curation.tokenBudgetMix(df, col("n_tokens"), col("source"),
          Seq(col("quality").desc, col("doc_id")), budget)
        .select("doc_id", "cum_tokens")
        .as[(Long, Long)].collect().toSet
      val got = Curation.tokenBudgetMixScalable(df, col("n_tokens"),
          col("source"), -col("quality"), col("doc_id"), budget,
          bucketWidth = w)
        .select("doc_id", "cum_tokens")
        .as[(Long, Long)].collect().toSet
      assert(got == exact, s"mismatch at budget=$budget width=$w")
    }
  }

  test("scale twins keep NULL sort keys (sentinel bucket ≡ nulls-first window)") {
    // the twins' contract order is (sortAsc ASC, tieId ASC) — ASC sorts
    // NULLs FIRST — and a NULL sort key must not silently drop at the
    // bucket equi-join: it routes through the Long.MinValue sentinel
    val rnd = new scala.util.Random(1531L)
    val rows = (1L to 300L).map { i =>
      val k = if (i % 10 != 0) "mega" else s"k${i % 3}"
      val q = if (i % 7 == 0) None else Some((rnd.nextInt(21) - 10).toLong)
      (i, k, 1L + rnd.nextInt(9).toLong, q)
    }
    val df = rows.toDF("doc_id", "source", "n_tokens", "quality")
    // prefix sum: exact window in the contract order, nulls first
    for (budget <- Seq(40L, 1000000L); w <- Seq(1L, 5L)) {
      val exact = Curation.tokenBudgetMix(df, col("n_tokens"), col("source"),
          Seq(col("quality").asc, col("doc_id")), budget)
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
      val got = Curation.tokenBudgetMixScalable(df, col("n_tokens"),
          col("source"), col("quality"), col("doc_id"), budget,
          bucketWidth = w)
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
      assert(got == exact, s"NULL-sa prefix-sum mismatch budget=$budget w=$w")
      assert(got.nonEmpty)
    }
    // quota fill: NULL-quality rows are the BEST (nulls first) and must
    // be kept, not dropped
    for (n <- Seq(3, 50); w <- Seq(1L, 5L)) {
      val exact = Curation.quotaPerKey(df, col("source"), n,
          Seq(col("quality").asc, col("doc_id")))
        .select("doc_id").as[Long].collect().toSet
      val got = Curation.quotaPerKeyScalable(df, col("source"), n,
          col("quality"), col("doc_id"), bucketWidth = w)
        .select("doc_id").as[Long].collect().toSet
      assert(got == exact, s"NULL-sa quota mismatch n=$n w=$w")
    }
  }

  test("boundarySplit second level is bit-identical on degenerate sort keys") {
    // the shape the split exists for: 90% of a mega key's rows share
    // ONE modal sort value, so they all land in one level-1 bucket and
    // only the tie-id sub-buckets can spread the boundary work. Keeps,
    // cum values, NULL sort keys, sparse/huge tie ids — all must match
    // the single-level twin exactly, at any width, with the split
    // turned on per-call AND via the session conf.
    val rnd = new scala.util.Random(1543L)
    val rows = (1L to 600L).map { i =>
      val k = if (i % 10 != 0) "mega" else s"k${i % 3}"
      // modal: 90% of rows share sort value 5; a few NULLs; sparse ids
      val sa = if (i % 13 == 0) None
               else if (i % 10 != 3) Some(5L)
               else Some(rnd.nextInt(40).toLong)
      val id = i * 982451653L // sparse tie-id domain (~2^59 span)
      (id, k, 1L + rnd.nextInt(9).toLong, sa)
    }
    val df = rows.toDF("doc_id", "source", "n_tokens", "quality")
    for (n <- Seq(0, 7, 120, 1000); w <- Seq(1L, 16L)) {
      val plain = Curation.quotaPerKeyScalable(df, col("source"), n,
          col("quality"), col("doc_id"), bucketWidth = w)
        .select("doc_id").as[Long].collect().toSet
      val split = Curation.quotaPerKeyScalable(df, col("source"), n,
          col("quality"), col("doc_id"), bucketWidth = w,
          boundarySplit = Some(true))
        .select("doc_id").as[Long].collect().toSet
      assert(split == plain, s"quota split mismatch n=$n w=$w")
    }
    for (budget <- Seq(0L, 90L, 1000000L); w <- Seq(1L, 16L)) {
      val plain = Curation.tokenBudgetMixScalable(df, col("n_tokens"),
          col("source"), col("quality"), col("doc_id"), budget,
          bucketWidth = w)
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
      val split = Curation.tokenBudgetMixScalable(df, col("n_tokens"),
          col("source"), col("quality"), col("doc_id"), budget,
          bucketWidth = w, boundarySplit = Some(true))
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
      assert(split == plain, s"prefix-sum split mismatch budget=$budget w=$w")
    }
    // session-conf path: flip spark.graft.boundarySplit, no explicit arg
    spark.conf.set("spark.graft.boundarySplit", "true")
    try {
      val viaConf = Curation.quotaPerKeyScalable(df, col("source"), 7,
          col("quality"), col("doc_id"), bucketWidth = 16L)
        .select("doc_id").as[Long].collect().toSet
      spark.conf.set("spark.graft.boundarySplit", "false")
      val off = Curation.quotaPerKeyScalable(df, col("source"), 7,
          col("quality"), col("doc_id"), bucketWidth = 16L)
        .select("doc_id").as[Long].collect().toSet
      assert(viaConf == off)
    } finally spark.conf.unset("spark.graft.boundarySplit")
  }

  test("tokenBudgetMixCalibratedScalable ≡ calibrated window form") {
    val rnd = new scala.util.Random(1523L)
    val rows = (1L to 300L).map { i =>
      val k = if (i % 10 != 0) "mega" else s"k${i % 3}"
      val lg = Seq("en", "de", null)(rnd.nextInt(3))
      (i, k, lg, 1L + rnd.nextInt(9).toLong, (rnd.nextInt(31) - 15).toLong)
    }
    val df = rows.toDF("doc_id", "source", "lang", "n_tokens", "quality")
    val cal = Seq(("en", 1.31), ("de", 1.72)).toDF("lang", "bpe_per_ws")
    val exact = Curation.tokenBudgetMixCalibrated(df, col("n_tokens"),
        col("lang"), col("source"),
        Seq(col("quality").desc, col("doc_id")), budget = 400L,
        calibration = cal)
      .select("doc_id", "est_bpe_micro", "cum_bpe_micro")
      .as[(Long, Long, Long)].collect().toSet
    for (w <- Seq(1L, 7L, 1000000L)) {
      val got = Curation.tokenBudgetMixCalibratedScalable(df,
          col("n_tokens"), col("lang"), col("source"), -col("quality"),
          col("doc_id"), budget = 400L, calibration = cal, bucketWidth = w)
        .select("doc_id", "est_bpe_micro", "cum_bpe_micro")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == exact, s"mismatch at width=$w")
    }
  }

  test("scalable dispatch rejects unsupported window orders loudly") {
    val df = docs.withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    // a descending tie id has no twin form — must throw, never silently
    // reorder
    val e1 = intercept[IllegalArgumentException] {
      Curation.quotaPerKey(df, col("source"), 2,
        Seq(col("n_tokens").desc, col("doc_id").desc),
        scalable = Some(true)).collect()
    }
    assert(e1.getMessage.contains("ASCENDING tieId"))
    // and only the two-column (primary, tieId) shape decomposes
    val e2 = intercept[IllegalArgumentException] {
      Curation.quotaPerKey(df, col("source"), 2,
        Seq(col("n_tokens").desc, col("lang"), col("doc_id")),
        scalable = Some(true)).collect()
    }
    assert(e2.getMessage.contains("Seq(primary, tieId)"))
    // explicit non-default null orders cannot be honored (the twins
    // rank nulls-first-ascending) — rejected at build, never silent
    val e3 = intercept[IllegalArgumentException] {
      Curation.quotaPerKey(df, col("source"), 2,
        Seq(col("n_tokens").asc_nulls_last, col("doc_id")),
        scalable = Some(true)).collect()
    }
    assert(e3.getMessage.contains("non-default null ordering"))
    val e4 = intercept[IllegalArgumentException] {
      Curation.quotaPerKey(df, col("source"), 2,
        Seq(col("n_tokens").desc_nulls_first, col("doc_id")),
        scalable = Some(true)).collect()
    }
    assert(e4.getMessage.contains("non-default null ordering"))
    // a DESC primary with an ACTUAL NULL sort key raises at runtime
    // (window form ranks it last, twin would rank it first) — loud,
    // not a silent keep-set divergence; non-null desc stays fine
    val withNull = df.withColumn("q",
      when(col("doc_id") % 3 === 0, lit(null).cast("long"))
        .otherwise(col("n_tokens")))
    val e5 = intercept[Exception] {
      Curation.quotaPerKey(withNull, col("source"), 2,
        Seq(col("q").desc, col("doc_id")), scalable = Some(true)).collect()
    }
    assert(e5.getMessage.contains("NULL sort key under a DESCENDING"),
      e5.getMessage)
    val fine = Curation.quotaPerKey(df, col("source"), 2,
      Seq(col("n_tokens").desc, col("doc_id")), scalable = Some(true))
    assert(fine.count() > 0)
  }

  test("corpusDiff: added/removed/changed/unchanged, NULL-safe, hash twin agrees") {
    val oldc = Seq((1L, Some("a b")), (2L, Some("c d")), (3L, Some("e")),
        (4L, None: Option[String]), (5L, None: Option[String]))
      .toDF("doc_id", "text")
    val newc = Seq((1L, Some("a b")), (2L, Some("c d CHANGED")),
        (4L, None: Option[String]), (5L, Some("now text")),
        (6L, Some("brand new")))
      .toDF("doc_id", "text")
    val got = Curation.corpusDiff(oldc, newc)
      .as[(Long, String)].collect().toMap
    // 1 same, 2 changed, 3 only-old, 4 NULL≡NULL, 5 NULL→text, 6 only-new
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "changed", 6L -> "added"))
    // PB-scale twin: 8-byte signatures, same statuses
    val hashed = Curation.corpusDiff(oldc, newc, hashContent = true)
      .as[(Long, String)].collect().toMap
    assert(hashed == got)
    // plan: the hashed twin's shuffle carries the 8-byte sig, not text
    // (analyzed plan — the optimizer constant-folds the hash over this
    // literal fixture, which is itself proof the sig is scan-side)
    val plan = Curation.corpusDiff(oldc, newc, hashContent = true)
      .queryExecution.analyzed.toString
    assert(plan.contains("xxhash64"), plan)
    // empty snapshots: a first publish is all added; a wipe all removed
    val empty = oldc.limit(0)
    assert(Curation.corpusDiff(empty, newc)
      .select("status").as[String].collect().toSet == Set("added"))
    assert(Curation.corpusDiff(oldc, empty)
      .select("status").as[String].collect().toSet == Set("removed"))
    assert(Curation.corpusDiff(empty, empty).count() == 0)
  }

  test("applyCorpusDiff: round trip, two-hop chaining, defensive added, NULL status") {
    val snapA = Seq((1L, Some("a b")), (2L, Some("c d")), (3L, Some("e")),
        (4L, None: Option[String]), (5L, None: Option[String]))
      .toDF("doc_id", "text")
    val snapB = Seq((1L, Some("a b")), (2L, Some("c d CHANGED")),
        (4L, None: Option[String]), (5L, Some("now text")),
        (6L, None: Option[String]))
      .toDF("doc_id", "text")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    def changelog(a: org.apache.spark.sql.DataFrame,
                  b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
    // the round trip: apply(A, diff(A,B)) == B — incl. text→NULL (2→6
    // added with NULL payload), NULL→text, NULL≡NULL unchanged, removal
    assert(asSet(Curation.applyCorpusDiff(snapA, changelog(snapA, snapB)))
      == asSet(snapB))
    // two-hop chaining: A →cl1 B →cl2 C lands exactly on C
    val snapC = Seq((2L, Some("c d CHANGED")), (6L, Some("backfilled")),
        (7L, Some("new in C"))).toDF("doc_id", "text")
    val viaB = Curation.applyCorpusDiff(snapA, changelog(snapA, snapB))
    assert(asSet(Curation.applyCorpusDiff(viaB, changelog(snapB, snapC)))
      == asSet(snapC))
    // defensive: an id marked added that ALREADY exists in A must not
    // duplicate — last-writer-wins on the payload
    val badCl = Seq((1L, "added", Some("overwrite")))
      .toDF("doc_id", "status", "text")
    val defended = Curation.applyCorpusDiff(snapA, badCl)
    assert(defended.filter($"doc_id" === 1L).count() == 1)
    assert(asSet(defended).contains((1L, Some("overwrite"))))
    // NULL status keeps A's row and contributes no payload
    val nullCl = Seq((1L, null: String, Some("ignored")))
      .toDF("doc_id", "status", "text")
    assert(asSet(Curation.applyCorpusDiff(snapA, nullCl)) == asSet(snapA))
    // empty changelog is the identity; full-wipe changelog empties A
    assert(asSet(Curation.applyCorpusDiff(snapA, badCl.limit(0)))
      == asSet(snapA))
    assert(Curation.applyCorpusDiff(snapA,
      changelog(snapA, snapA.limit(0))).count() == 0)
    // plan: the touched-id join is an anti join with NO broadcast hint
    // baked into the logical plan (AQE decides at runtime)
    val lp = Curation.applyCorpusDiff(snapA, changelog(snapA, snapB))
      .queryExecution.logical.toString
    assert(!lp.contains("hint"), lp)
  }

  test("refreshAudit: census + dup-of-existing + incoming violations, hand-pinned") {
    val snapA = Seq((1L, Some("alpha beta")), (2L, Some("gamma")),
      (3L, Some("to be removed")), (4L, None: Option[String]))
      .toDF("doc_id", "text")
    val snapB = Seq(
      (1L, Some("alpha beta")),            // unchanged
      (2L, Some("gamma changed " + "x" * 300)), // changed AND too long
      (4L, None: Option[String]),          // NULL ≡ NULL unchanged
      (5L, Some("beta alpha")),            // added, sig-dup of doc 1 (reordered)
      (6L, Some("brand new")),             // added, genuinely new
      (7L, None: Option[String])           // added with NULL text → violation
    ).toDF("doc_id", "text")
    val got = Curation.refreshAudit(snapA, snapB, maxChars = 256)
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "added" -> 3L, "removed" -> 1L, "changed" -> 1L, "unchanged" -> 2L,
      // doc 5 reorders doc 1's tokens — canonical signature matches;
      // docs 6 and 7 (NULL sig never matches) do not
      "added_dup_of_existing" -> 1L,
      // doc 2's 300-char payload + doc 7's NULL payload (NULL length
      // is a violation, the Expectations convention)
      "incoming_rule_violations" -> 2L))
    // a refresh with nothing incoming still reports the zero panels
    val empty = Curation.refreshAudit(snapA, snapA).as[(String, Long)]
      .collect().toMap
    assert(empty("added_dup_of_existing") == 0L
      && empty("incoming_rule_violations") == 0L
      && empty("unchanged") == 4L && !empty.contains("added"))
  }

  test("epochShuffle: deterministic, epoch-distinct orders, shuffle-free projection") {
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val k = Curation.epochShuffle(docs, $"doc_id", epochs = 3)
      .as[(Long, Long, String)].collect()
    // every (epoch, id) exactly once
    assert(k.length == 120 && k.map(r => (r._1, r._2)).toSet.size == 120)
    // deterministic: a second derivation is bit-identical
    assert(Curation.epochShuffle(docs, $"doc_id", epochs = 3)
      .as[(Long, Long, String)].collect().toSet == k.toSet)
    // epochs really are DIFFERENT permutations: the ids sorted by key
    // disagree between epoch 0 and 1 (md5 would have to conspire)
    def order(e: Long) =
      k.filter(_._1 == e).sortBy(_._3).map(_._2).toSeq
    assert(order(0) != order(1) && order(1) != order(2))
    // the key projection itself is shuffle-free (one Generate, no
    // Exchange) — the writer's per-shard sort is the only sort anywhere
    val plan = Curation.epochShuffle(docs, $"doc_id", epochs = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // manifest: 3 epochs × ≤16 shards, counts conserve the corpus
    val m = Curation.epochShuffleManifest(docs, $"doc_id", epochs = 3)
      .as[(Long, String, Long, String, String)].collect()
    assert(m.map(_._3).sum == 120)
    assert(m.forall(r => r._4 <= r._5 && r._4.startsWith(r._2)))
  }

  test("corpusDiffFull + invertChangelog: CDC images and the rollback round trip") {
    val snapA = Seq((1L, Some("one")), (2L, Some("two")), (3L, Some("three")),
      (4L, None: Option[String])).toDF("doc_id", "text")
    val snapB = Seq((1L, Some("one")), (2L, Some("two B")),
      (4L, Some("was null")), (5L, Some("five"))).toDF("doc_id", "text")
    val full = Curation.corpusDiffFull(snapA, snapB)
      .as[(Long, String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(full == Map(
      1L -> (("unchanged", Some("one"), Some("one"))),
      2L -> (("changed", Some("two"), Some("two B"))),
      3L -> (("removed", Some("three"), None)),
      4L -> (("changed", None, Some("was null"))), // NULL→text IS a change
      5L -> (("added", None, Some("five")))))
    // statuses agree with the thin diff on the same snapshots
    assert(Curation.corpusDiff(snapA, snapB).as[(Long, String)].collect()
      .toMap == full.view.mapValues(_._1).toMap)
    // the rollback round trip: apply(B, invert(diffFull(A,B))) == A —
    // incl. re-adding 3's original, reverting 4 to NULL, dropping 5
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    assert(asSet(Curation.applyCorpusDiff(snapB,
      Curation.invertChangelog(Curation.corpusDiffFull(snapA, snapB))))
      == asSet(snapA))
    // invert is a pure projection over its input — no join, no exchange
    val lit_ = Seq((1L, "changed", Some("a"), Some("b")))
      .toDF("doc_id", "status", "old_text", "new_text")
    val plan = Curation.invertChangelog(lit_)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    // double inversion via re-deriving the full log lands back on the
    // forward log's applied result (derived involution)
    assert(asSet(Curation.applyCorpusDiff(snapA,
      Curation.invertChangelog(Curation.corpusDiffFull(snapB, snapA))))
      == asSet(snapB))
  }

  test("compactChangelog: status algebra, apply-equivalence, pre-compacted closure") {
    // A→B→C chain covering every algebra branch:
    //   1: unchanged→unchanged  2: changed→changed  3: removed (then gone)
    //   4: added→changed        5: added→removed (nets to NO row)
    //   6: removed→added with the ORIGINAL text (label-divergent branch)
    //   7: unchanged→removed    8: (absent)→added in hop 2 only
    val snapA = Seq((1L, "one"), (2L, "two"), (3L, "three"), (6L, "six"),
      (7L, "seven")).toDF("doc_id", "text")
    val snapB = Seq((1L, "one"), (2L, "two B"), (4L, "four"), (5L, "five"),
      (7L, "seven")).toDF("doc_id", "text")
    val snapC = Seq((1L, "one"), (2L, "two C"), (4L, "four C"),
      (6L, "six"), (8L, "eight")).toDF("doc_id", "text")
    def cl(a: org.apache.spark.sql.DataFrame,
           b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    val compacted = Curation.compactChangelog(cl(snapA, snapB),
      cl(snapB, snapC))
    val byId = compacted.as[(Long, String, Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId == Map(
      2L -> (("changed", Some("two C"))),
      3L -> (("removed", None)),
      4L -> (("added", Some("four C"))),
      6L -> (("changed", Some("six"))), // removed→added, conservative label
      7L -> (("removed", None)),
      8L -> (("added", Some("eight")))))
    // id 5 (added→removed) netted away; id 1 (unchanged) compacted out
    assert(!byId.contains(5L) && !byId.contains(1L))
    // the CONTRACT: one compacted apply == two sequential applies == C —
    // including id 6, whose label diverges from a fresh diff(A, C)
    assert(asSet(Curation.applyCorpusDiff(snapA, compacted)) == asSet(snapC))
    assert(asSet(Curation.applyCorpusDiff(
      Curation.applyCorpusDiff(snapA, cl(snapA, snapB)),
      cl(snapB, snapC))) == asSet(snapC))
    // keepUnchanged=true restores the full per-id census (id 1 present)
    val census = Curation.compactChangelog(cl(snapA, snapB),
      cl(snapB, snapC), keepUnchanged = true)
    assert(census.filter($"doc_id" === 1L && $"status" === "unchanged")
      .count() == 1)
    // closure under PRE-compacted inputs: dropping unchanged rows from
    // both input logs composes to the same compacted log
    val pre = Curation.compactChangelog(
      cl(snapA, snapB).filter($"status" =!= "unchanged"),
      cl(snapB, snapC).filter($"status" =!= "unchanged"))
    assert(pre.as[(Long, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap == byId)
    // identity edges: compacting with an empty second log is the first
    // log's touched set; empty-with-empty is empty
    val e = cl(snapA, snapB).limit(0)
    assert(Curation.compactChangelog(cl(snapA, snapB), e)
      .as[(Long, String, Option[String])].collect().map(_._1).toSet
      == Set(2L, 3L, 4L, 5L, 6L))
    assert(Curation.compactChangelog(e, e).count() == 0)
  }

  test("compactChangelog: census second log with NULL unchanged payloads keeps the first log's text") {
    // applyCorpusDiff's contract lets `unchanged` rows ship a NULL
    // payload (apply ignores them) — a full-census second log in that
    // shape must NOT erase the first log's payload when compacting
    // added→unchanged / changed→unchanged chains
    val cl1 = Seq((1L, "added", Some("one")), (2L, "changed", Some("two B")))
      .toDF("doc_id", "status", "text")
    val cl2 = Seq((1L, "unchanged", None: Option[String]),
      (2L, "unchanged", None: Option[String]),
      (3L, "added", Some("three")))
      .toDF("doc_id", "status", "text")
    val compacted = Curation.compactChangelog(cl1, cl2)
    val byId = compacted.as[(Long, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId == Map(
      1L -> (("added", Some("one"))),
      2L -> (("changed", Some("two B"))),
      3L -> (("added", Some("three")))))
    // apply-equivalence on a consistent A: one compacted apply == two
    // sequential applies
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    val snapA = Seq((2L, Some("two"))).toDF("doc_id", "text")
    assert(asSet(Curation.applyCorpusDiff(snapA, compacted)) ==
      asSet(Curation.applyCorpusDiff(
        Curation.applyCorpusDiff(snapA, cl1), cl2)))
  }

  test("snapshotApplyBatch: maintained store ≡ direct snapshot, replay + wipe + re-add") {
    val base = graft.queries.Drives.tempDir("graft_snap_store")
    val path = s"$base/snap"
    val snapA = Seq((1L, Some("one")), (2L, Some("two")), (3L, Some("three")),
      (4L, None: Option[String])).toDF("doc_id", "text")
    val snapB = Seq((1L, Some("one")), (2L, Some("two B")),
      (5L, Some("five"))).toDF("doc_id", "text")
    def cl(a: org.apache.spark.sql.DataFrame,
           b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    // bootstrap (all added), then A→B, REPLAYED to prove idempotence
    Seq(cl(snapA.limit(0), snapA), cl(snapA, snapB), cl(snapA, snapB))
      .foreach(c => Curation.snapshotApplyBatch(c, path, nBuckets = 2))
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapB))
    // full wipe: every bucket emptied — the store must NOT keep stale
    // rows (the dynamic-overwrite-skips-empty-partitions trap)
    Curation.snapshotApplyBatch(cl(snapB, snapB.limit(0)), path, nBuckets = 2)
    assert(Curation.readSnapshot(spark, path).count() == 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .count(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")) == 0)
    // re-add after the wipe works (the store dir survived as empty)
    Curation.snapshotApplyBatch(cl(snapB.limit(0), snapA), path, nBuckets = 2)
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapA))
    // an all-unchanged changelog is a no-op that touches nothing
    Curation.snapshotApplyBatch(cl(snapA, snapA), path, nBuckets = 2)
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapA))
    // a LYING log (duplicate rows for one id) must raise before any
    // write, not fan out into duplicate snapshot rows
    val lying = Seq((9L, "added", Some("x")), (9L, "changed", Some("y")))
      .toDF("doc_id", "status", "text")
    val e = intercept[Exception] {
      Curation.snapshotApplyBatch(lying, path, nBuckets = 2)
    }
    assert(e.getMessage.contains("duplicate rows"), e.getMessage)
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapA))
  }

  test("snapshot store bucket fence: mismatch raises, rebucket migrates, crash recovers") {
    val base = graft.queries.Drives.tempDir("graft_snap_fence")
    val path = s"$base/snap"
    val snapA = Seq((1L, Some("one")), (2L, Some("two")), (3L, Some("three")))
      .toDF("doc_id", "text")
    def cl(a: org.apache.spark.sql.DataFrame,
           b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    Curation.snapshotApplyBatch(cl(snapA.limit(0), snapA), path, nBuckets = 2)
    // a mismatched nBuckets must refuse BEFORE any write — the bucket
    // fn is (id, nBuckets), so a wrong count silently duplicates ids
    val e = intercept[IllegalStateException] {
      Curation.snapshotApplyBatch(cl(snapA, snapA.limit(0)), path, nBuckets = 4)
    }
    assert(e.getMessage.contains("nBuckets=2"), e.getMessage)
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapA))
    // the migration path: rebucket, then ingest at the NEW count works
    // and the OLD count now refuses
    Curation.rebucketSnapshot(spark, path, newNBuckets = 4)
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapA))
    val snapB = Seq((1L, Some("one")), (4L, Some("four")))
      .toDF("doc_id", "text")
    Curation.snapshotApplyBatch(cl(snapA, snapB), path, nBuckets = 4)
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapB))
    assert(intercept[IllegalStateException] {
      Curation.snapshotApplyBatch(cl(snapB, snapA), path, nBuckets = 2)
    }.getMessage.contains("nBuckets=4"))
    // crash simulation: a rebucket that died between rewrite and marker
    // commit leaves data with NO marker — ingest refuses, re-running
    // the rebucket recovers
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_graft_nbuckets"), false)
    assert(intercept[IllegalStateException] {
      Curation.snapshotApplyBatch(cl(snapB, snapA), path, nBuckets = 4)
    }.getMessage.contains("no _graft_nbuckets marker"))
    Curation.rebucketSnapshot(spark, path, newNBuckets = 4)
    Curation.snapshotApplyBatch(cl(snapB, snapA), path, nBuckets = 4)
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapA))
  }

  test("sig store: incremental census tracks the corpus; maintained audit ≡ direct audit") {
    val base = graft.queries.Drives.tempDir("graft_sig_spec")
    val path = s"$base/sig"
    // shared-sig corpus: 1 and 2 carry the SAME signature (sorted
    // distinct tokens), 4 has NULL text
    val snapA = Seq((1L, Some("b a")), (2L, Some("a b a")),
      (3L, Some("c")), (4L, None: Option[String])).toDF("doc_id", "text")
    // B: drop 1 (sig 'a b' survives via 2), change 3, add 5 dup of 'c'?
    // no — 3 changed away from 'c', 5 re-adds 'c' in the same refresh
    val snapB = Seq((2L, Some("a b a")), (3L, Some("d c")),
      (4L, None: Option[String]), (5L, Some("c"))).toDF("doc_id", "text")
    def full(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiffFull(a, b)
    def census() = Curation.readSigStore(spark, path)
      .as[(String, Long)].collect().toMap
    Curation.sigStoreApplyBatch(full(snapA.limit(0), snapA), path, 0L,
      nBuckets = 2)
    assert(census() == Map("a b" -> 2L, "c" -> 1L))
    // replay of batch 0 is a no-op (own-partition overwrite)
    Curation.sigStoreApplyBatch(full(snapA.limit(0), snapA), path, 0L,
      nBuckets = 2)
    assert(census() == Map("a b" -> 2L, "c" -> 1L))
    // the maintained audit over the A→B refresh equals the direct one
    val direct = Curation.refreshAudit(snapA, snapB)
      .as[(String, Long)].collect().toSeq
    val maintained = Curation.refreshAuditMaintained(full(snapA, snapB), path)
      .as[(String, Long)].collect().toSeq
    assert(maintained == direct)
    // doc 5's 'c' duplicates existing content (doc 3 still carries 'c'
    // in the OLD corpus) — the dup panel sees it from the store
    assert(maintained.toMap.apply("added_dup_of_existing") == 1L)
    // fold the refresh; census reflects B exactly (sig 'a b' decremented
    // not dropped, 'c' count unchanged via 5, 'c d' appears)
    Curation.sigStoreApplyBatch(full(snapA, snapB), path, 1L, nBuckets = 2)
    assert(census() == Map("a b" -> 1L, "c" -> 1L, "c d" -> 1L))
    // compaction squashes the batch dirs without changing the read
    Curation.compactCountedStore(spark, path, Curation.sigStoreStagedSchema)
    assert(census() == Map("a b" -> 1L, "c" -> 1L, "c d" -> 1L))
    // census rules ride the maintained audit too
    val guarded = Curation.refreshAuditMaintained(full(snapB, snapA), path,
        censusRules = Seq("no_shrink" -> (col("n_new") >= col("n_old"))))
      .as[(String, Long)].collect().toMap
    assert(guarded("no_shrink") == 0L) // B→A grows (4 -> 4... equal) passes
  }

  test("time travel: readSnapshotAsOf reconstructs every version; prune moves the floor") {
    val base = graft.queries.Drives.tempDir("graft_time_travel")
    val snapA = Seq((1L, Some("one")), (2L, Some("two")),
      (3L, None: Option[String])).toDF("doc_id", "text")
    val snapB = Seq((1L, Some("one v2")), (3L, Some("three")),
      (4L, Some("four"))).toDF("doc_id", "text")
    val snapC = Seq((1L, Some("one v2")), (2L, Some("two")),
      (4L, None: Option[String])).toDF("doc_id", "text")
    def full(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiffFull(a, b)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    Curation.versionedSnapshotApplyBatch(full(snapA.limit(0), snapA),
      base, 0L, nBuckets = 2)
    Curation.versionedSnapshotApplyBatch(full(snapA, snapB),
      base, 1L, nBuckets = 2)
    // replay of version 1 is a no-op for BOTH the archive and the fold
    Curation.versionedSnapshotApplyBatch(full(snapA, snapB),
      base, 1L, nBuckets = 2)
    Curation.versionedSnapshotApplyBatch(full(snapB, snapC),
      base, 2L, nBuckets = 2)
    // every version reconstructs; as-of latest is the current store
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 2L)) == asSet(snapC))
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 1L)) == asSet(snapB))
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 0L)) == asSet(snapA))
    // before the bootstrap: the corpus did not exist yet
    assert(Curation.readSnapshotAsOf(spark, base, -1L).count() == 0)
    // prune versions <= 0: the A-era history is gone, the floor refuses
    Curation.pruneSnapshotVersions(spark, base, 0L)
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 1L)) == asSet(snapB))
    val e = intercept[IllegalStateException] {
      Curation.readSnapshotAsOf(spark, base, -1L)
    }
    assert(e.getMessage.contains("prune floor"), e.getMessage)
    // as-of exactly the floor still serves (its log dir was dropped but
    // the walk-back only needs logs ABOVE it)
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 0L)) == asSet(snapA))
  }

  test("sigStoreApplyBatch: a lying log raises before any delta lands") {
    val base = graft.queries.Drives.tempDir("graft_sig_lying")
    val path = s"$base/sig"
    val good = Seq((1L, "added", None: Option[String], Some("a b")))
      .toDF("doc_id", "status", "old_text", "new_text")
    Curation.sigStoreApplyBatch(good, path, 0L, nBuckets = 2)
    val lying = Seq(
      (2L, "added", None: Option[String], Some("c")),
      (2L, "added", None: Option[String], Some("c")))
      .toDF("doc_id", "status", "old_text", "new_text")
    val e = intercept[Exception] {
      Curation.sigStoreApplyBatch(lying, path, 1L, nBuckets = 2)
    }
    assert(e.getMessage.contains("duplicate rows"), e.getMessage)
    // nothing landed: the census is exactly the good batch's
    assert(Curation.readSigStore(spark, path)
      .as[(String, Long)].collect().toMap == Map("a b" -> 1L))
    // duplicate UNCHANGED rows are not lying (apply-consumed rows only)
    val okDup = Seq(
      (1L, "unchanged", Some("a b"), None: Option[String]),
      (1L, "unchanged", Some("a b"), None: Option[String]),
      (3L, "added", None: Option[String], Some("d")))
      .toDF("doc_id", "status", "old_text", "new_text")
    Curation.sigStoreApplyBatch(okDup, path, 2L, nBuckets = 2)
    assert(Curation.readSigStore(spark, path)
      .as[(String, Long)].collect().toMap == Map("a b" -> 1L, "d" -> 1L))
  }

  test("guardUniqueIds: a lying log quarantines cleanly instead of crashing the fold") {
    val base = graft.queries.Drives.tempDir("graft_uniq_guard")
    val path = s"$base/snap"; val rep = s"$base/report"
    val rules = Seq("id_not_null" -> col("doc_id").isNotNull)
    val good = Seq((1L, "added", Some("one")), (2L, "added", Some("two")))
      .toDF("doc_id", "status", "text")
    assert(Curation.guardedSnapshotApplyBatch(good, 0L, path, rep, rules,
      nBuckets = 2, guardUniqueIds = true))
    // a duplicated id (removed + re-added in ONE log — the lying shape
    // the in-plan raise_error fence kills mid-fold when ungated) is
    // quarantined with its own report line, store untouched
    val lying = Seq((1L, "removed", None: Option[String]),
      (1L, "added", Some("one B")), (3L, "added", Some("three")))
      .toDF("doc_id", "status", "text")
    assert(!Curation.guardedSnapshotApplyBatch(lying, 1L, path, rep, rules,
      nBuckets = 2, guardUniqueIds = true))
    assert(Curation.readSnapshot(spark, path)
      .as[(Long, Option[String])].collect().toSet ==
      Set((1L, Some("one")), (2L, Some("two"))))
    val line = spark.read.parquet(rep)
      .filter(col("batch_id") === 1L && col("rule") === "changelog_id_unique")
      .select("n_rows", "n_violations", "pass")
      .as[(Long, Long, Long)].collect().toSeq
    assert(line == Seq((3L, 1L, 0L)))
    // unchanged duplicates are NOT lying (apply drops them unread)
    val unchangedDup = Seq((2L, "unchanged", Some("two")),
      (2L, "unchanged", Some("two")), (4L, "added", Some("four")))
      .toDF("doc_id", "status", "text")
    assert(Curation.guardedSnapshotApplyBatch(unchangedDup, 2L, path, rep,
      rules, nBuckets = 2, guardUniqueIds = true))
  }

  test("managedVersionedIngest: streamed history is time-travelable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_mv_ingest")
    val in = MemoryStream[(Long, String, String, String)]
    val q = Curation.managedVersionedIngest(
      in.toDF().toDF("doc_id", "status", "old_text", "new_text"),
      s"$base/corpus", s"$base/sig", s"$base/report",
      rules = Seq("id_not_null" -> col("doc_id").isNotNull),
      nBuckets = 2, queryName = "mv_ingest_test")
    try {
      in.addData((1L, "added", null, "one"), (2L, "added", null, "two"))
      q.processAllAvailable()
      in.addData((1L, "changed", "one", "one v2"),
        (3L, "added", null, "three"))
      q.processAllAvailable()
      val got = (v: Long) =>
        Curation.readSnapshotAsOf(spark, s"$base/corpus", v)
          .as[(Long, String)].collect().toSet
      assert(got(1L) == Set((1L, "one v2"), (2L, "two"), (3L, "three")))
      assert(got(0L) == Set((1L, "one"), (2L, "two")))
    } finally q.stop()
  }

  test("managedVersionedApplyBatch: refused versions don't exist, history serves around them") {
    val base = graft.queries.Drives.tempDir("graft_mv_spec")
    val corpus = s"$base/corpus"
    val snapA = (1L to 10L).map(i => (i, Some(s"doc $i"))).toDF("doc_id", "text")
    val snapB = snapA.filter($"doc_id" =!= 1L)
      .unionByName(Seq((11L, Some("new"))).toDF("doc_id", "text"))
    def full(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiffFull(a, b)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    val rules = Seq("id_not_null" -> col("doc_id").isNotNull)
    val census = Seq("removed_max_20pct" ->
      (col("n_removed") * 5 <= col("n_old")))
    def apply(v: Long, log: org.apache.spark.sql.DataFrame) =
      Curation.managedVersionedApplyBatch(log, v, corpus, s"$base/sig",
        s"$base/report", rules, censusRules = census, nBuckets = 2)
    assert(apply(0L, full(snapA.limit(0), snapA)))
    // v1: mass delete (50%) — refused, NO version dir, sig store clean
    assert(!apply(1L, full(snapA, snapA.filter($"doc_id" > 5L))))
    val fs = new org.apache.hadoop.fs.Path(corpus)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$corpus/log/version=1")))
    // v2: legitimate refresh (10% removal) ships
    assert(apply(2L, full(snapA, snapB)))
    // as-of the REFUSED version = the state the corpus actually had
    assert(asSet(Curation.readSnapshotAsOf(spark, corpus, 1L)) == asSet(snapA))
    assert(asSet(Curation.readSnapshotAsOf(spark, corpus, 2L)) == asSet(snapB))
    assert(asSet(Curation.readSnapshotAsOf(spark, corpus, 0L)) == asSet(snapA))
    // the sig store reflects only the SHIPPED versions
    assert(Curation.readSigStore(spark, s"$base/sig")
      .as[(String, Long)].collect().toMap ==
      asSet(snapB).toSeq.flatMap(_._2)
        .map(t => t.split(" ").distinct.sorted.mkString(" "))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong })
  }

  test("census guard: a mass-delete refresh is refused even when every row rule passes") {
    val base = graft.queries.Drives.tempDir("graft_census_spec")
    val path = s"$base/snap"; val rep = s"$base/report"
    val snapA = (1L to 20L).map(i => (i, Some(s"doc $i")))
      .toDF("doc_id", "text")
    def cl(a: org.apache.spark.sql.DataFrame,
           b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
    val rules = Seq("text_not_null" -> col("text").isNotNull)
    val census = Seq("removed_max_20pct" ->
      (col("n_removed") * 5 <= col("n_old")))
    // bootstrap applies (n_old = 0)
    assert(Curation.guardedSnapshotApplyBatch(cl(snapA.limit(0), snapA), 0L,
      path, rep, rules, nBuckets = 2, censusRules = census))
    // a refresh deleting half the corpus: every SURVIVING row passes the
    // row rules, the census rule quarantines it
    val half = snapA.filter($"doc_id" <= 10L)
    assert(!Curation.guardedSnapshotApplyBatch(cl(snapA, half), 1L,
      path, rep, rules, nBuckets = 2, censusRules = census))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapA))
    // the audit trail recorded BOTH the row rule and the census line
    val recorded = spark.read.parquet(rep)
      .filter(col("batch_id") === 1L)
      .select("rule", "n_violations", "pass")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(recorded("removed_max_20pct") == ((1L, 0L)))
    assert(recorded("text_not_null") == ((0L, 1L)))
    // a modest refresh (2 of 20 removed = 10%) passes the census rule
    val modest = snapA.filter($"doc_id" > 2L)
    assert(Curation.guardedSnapshotApplyBatch(cl(snapA, modest), 2L,
      path, rep, rules, nBuckets = 2, censusRules = census))
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(modest))
  }

  test("snapshotCatchUp: compacted backlog lands on the same snapshot as per-batch replay") {
    val snapA = (1L to 30L).map(i => (i, Some(s"doc $i"))).toDF("doc_id", "text")
    val snapB = snapA.filter($"doc_id" % 3 =!= 0L)
      .unionByName(Seq((100L, Some("new b"))).toDF("doc_id", "text"))
    val snapC = snapB.filter($"doc_id" % 5 =!= 0L)
      .unionByName(Seq((3L, Some("doc 3")), (200L, None: Option[String]))
        .toDF("doc_id", "text"))
    def cl(a: org.apache.spark.sql.DataFrame,
           b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    val logs = Seq(cl(snapA.limit(0), snapA), cl(snapA, snapB),
      cl(snapB, snapC))
    // per-batch replay
    val p1 = s"${graft.queries.Drives.tempDir("graft_catchup_a")}/snap"
    logs.foreach(Curation.snapshotApplyBatch(_, p1, nBuckets = 4))
    // catch-up: one compacted fold
    val p2 = s"${graft.queries.Drives.tempDir("graft_catchup_b")}/snap"
    Curation.snapshotCatchUp(logs, p2, nBuckets = 4)
    assert(asSet(Curation.readSnapshot(spark, p2)) == asSet(snapC))
    assert(asSet(Curation.readSnapshot(spark, p1))
      == asSet(Curation.readSnapshot(spark, p2)))
    // a single-log backlog degrades to plain apply
    val p3 = s"${graft.queries.Drives.tempDir("graft_catchup_c")}/snap"
    Curation.snapshotCatchUp(Seq(cl(snapA.limit(0), snapA)), p3, nBuckets = 4)
    assert(asSet(Curation.readSnapshot(spark, p3)) == asSet(snapA))
  }

  test("maybeRebucketSnapshot: growth trigger doubles the bucket count, small store is a no-op") {
    val base = graft.queries.Drives.tempDir("graft_rebucket_auto")
    val path = s"$base/snap"
    val snapA = (1L to 64L).map(i => (i, Some(s"doc $i"))).toDF("doc_id", "text")
    def cl(a: org.apache.spark.sql.DataFrame,
           b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
    Curation.snapshotApplyBatch(cl(snapA.limit(0), snapA), path, nBuckets = 2)
    // 64 rows / 2 buckets = 32 per bucket; target 40 → no-op at 2
    assert(Curation.maybeRebucketSnapshot(spark, path, 40L) == 2)
    // target 10 → grows until 64/n ≤ 10: 2→4→8
    assert(Curation.maybeRebucketSnapshot(spark, path, 10L) == 8)
    // the store still serves the same snapshot, and ingest at the new
    // count works while the old count is fenced off
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Option[String])].collect().toSet
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapA))
    assert(intercept[IllegalStateException] {
      Curation.snapshotApplyBatch(cl(snapA, snapA), path, nBuckets = 2)
    }.getMessage.contains("nBuckets=8"))
    Curation.snapshotApplyBatch(cl(snapA, snapA), path, nBuckets = 8)
    // a virgin path refuses the growth check (nothing to measure)
    assert(intercept[IllegalStateException] {
      Curation.maybeRebucketSnapshot(spark,
        s"$base/none", 10L)
    }.getMessage.contains("no _graft_nbuckets"))
  }

  test("snapshot store: a rejected first batch on a virgin store does not pin the bucket count") {
    // a lying log refused on an EMPTY store must leave the store
    // virgin — a later legitimate first ingest may pick any nBuckets
    val base = graft.queries.Drives.tempDir("graft_snap_virgin")
    val path = s"$base/snap"
    val lying = Seq((9L, "added", Some("x")), (9L, "changed", Some("y")))
      .toDF("doc_id", "status", "text")
    assert(intercept[Exception] {
      Curation.snapshotApplyBatch(lying, path, nBuckets = 2)
    }.getMessage.contains("duplicate rows"))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_nbuckets")))
    // first LEGITIMATE ingest with a different count succeeds
    val snapA = Seq((1L, Some("one")), (2L, Some("two"))).toDF("doc_id", "text")
    def cl(a: org.apache.spark.sql.DataFrame,
           b: org.apache.spark.sql.DataFrame) =
      Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")
    Curation.snapshotApplyBatch(cl(snapA.limit(0), snapA), path, nBuckets = 4)
    assert(Curation.readSnapshot(spark, path)
      .as[(Long, Option[String])].collect().toSet ==
      Set((1L, Some("one")), (2L, Some("two"))))
  }

  test("guardedSnapshotIngest quarantines a failing batch, applies clean ones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_guarded_snap")
    val in = MemoryStream[(Long, String, String)]
    val rules = Seq("text_short" -> (length($"text") <= 10))
    val q = Curation.guardedSnapshotIngest(
      in.toDF().toDF("doc_id", "status", "text"), s"$base/snap",
      s"$base/report", rules, nBuckets = 2,
      queryName = "guarded_snap_test")
    try {
      in.addData((1L, "added", "ok one"), (2L, "added", "ok two"))
      q.processAllAvailable()
      // batch 1 carries a poisoned payload — the WHOLE batch quarantines
      in.addData((3L, "added", "this text is far too long to pass"),
        (1L, "changed", "fine"))
      q.processAllAvailable()
      // batch 2 is clean again (incl. a removal) and applies
      in.addData((2L, "removed", null), (4L, "added", "ok four"))
      q.processAllAvailable()
      val snap = Curation.readSnapshot(spark, s"$base/snap")
        .as[(Long, String)].collect().toSet
      // 3 never landed, 1 kept its ORIGINAL text (the change quarantined)
      assert(snap == Set((1L, "ok one"), (4L, "ok four")))
      // the audit trail records the refusal
      val report = spark.read.parquet(s"$base/report")
        .select("batch_id", "pass").as[(Long, Long)].collect().toMap
      assert(report == Map(0L -> 1L, 1L -> 0L, 2L -> 1L))
    } finally q.stop()
  }

  test("managedCorpusIngest: dual-fold stream with row + census gates e2e") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_managed_ingest")
    val in = MemoryStream[(Long, String, String, String)]
    val q = Curation.managedCorpusIngest(
      in.toDF().toDF("doc_id", "status", "old_text", "new_text"),
      s"$base/snap", s"$base/sig", s"$base/report",
      rules = Seq("text_short" -> (length($"text") <= 10)),
      censusRules = Seq("removed_max_20pct" ->
        (col("n_removed") * 5 <= col("n_old"))),
      nBuckets = 2, queryName = "managed_ingest_test")
    try {
      // bootstrap: five docs, two sharing a signature
      in.addData((1L, "added", null, "b a"), (2L, "added", null, "a b a"),
        (3L, "added", null, "c"), (4L, "added", null, "d"),
        (5L, "added", null, "e"))
      q.processAllAvailable()
      // mass delete (3 of 5 = 60%): census-refused, NOTHING moves
      in.addData((3L, "removed", "c", null), (4L, "removed", "d", null),
        (5L, "removed", "e", null))
      q.processAllAvailable()
      // legitimate refresh (1 of 5 = 20% removed, one change): ships
      // into BOTH maintained artifacts
      in.addData((1L, "removed", "b a", null),
        (3L, "changed", "c", "c e"))
      q.processAllAvailable()
      val snap = Curation.readSnapshot(spark, s"$base/snap")
        .as[(Long, String)].collect().toSet
      assert(snap == Set((2L, "a b a"), (3L, "c e"), (4L, "d"),
        (5L, "e")))
      val sigs = Curation.readSigStore(spark, s"$base/sig")
        .as[(String, Long)].collect().toMap
      assert(sigs == Map("a b" -> 1L, "c e" -> 1L, "d" -> 1L, "e" -> 1L))
      val report = spark.read.parquet(s"$base/report")
        .select("batch_id", "rule", "pass").as[(Long, String, Long)]
        .collect().groupBy(_._1).view
        .mapValues(_.map(r => r._2 -> r._3).toMap).toMap
      assert(report(1L) == Map("text_short" -> 1L, "removed_max_20pct" -> 0L))
      assert(report(2L) == Map("text_short" -> 1L, "removed_max_20pct" -> 1L))
    } finally q.stop()
  }

  test("snapshotIngestMaintained: growth rebucket fires mid-stream, folds follow the marker") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_snap_maint")
    val in = MemoryStream[(Long, String, String)]
    // target 4 rows/bucket, check every 2 batches, seed at 2 buckets
    val q = Curation.snapshotIngestMaintained(
      in.toDF().toDF("doc_id", "status", "text"), s"$base/snap",
      targetRowsPerBucket = 4L, nBuckets = 2, rebucketEvery = 2,
      queryName = "snap_maint_test")
    try {
      in.addData((1L to 8L).map(i => (i, "added", s"doc $i")): _*)
      q.processAllAvailable()
      assert(Curation.storeBucketCount(spark, s"$base/snap") == Some(2))
      // batch 2 grows the store to 16 rows; the post-batch check (bid 1,
      // every 2) doubles 2 -> 4 (16/4 = 4/bucket)
      in.addData((9L to 16L).map(i => (i, "added", s"doc $i")): _*)
      q.processAllAvailable()
      assert(Curation.storeBucketCount(spark, s"$base/snap") == Some(4))
      // the next fold follows the NEW marker (no fence trip) and serves
      in.addData((1L, "changed", "doc 1 v2"))
      q.processAllAvailable()
      val got = Curation.readSnapshot(spark, s"$base/snap")
        .as[(Long, String)].collect().toMap
      assert(got.size == 16 && got(1L) == "doc 1 v2" && got(16L) == "doc 16")
    } finally q.stop()
  }

  test("snapshotIngest streams changelog batches into the maintained store e2e") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_snap_ingest")
    val in = MemoryStream[(Long, String, String)]
    val q = Curation.snapshotIngest(
      in.toDF().toDF("doc_id", "status", "text"), s"$base/snap",
      nBuckets = 2, queryName = "snapshot_ingest_test")
    try {
      in.addData((1L, "added", "one"), (2L, "added", "two"))
      q.processAllAvailable()
      in.addData((2L, "changed", "two B"), (1L, "removed", null),
        (3L, "added", "three"))
      q.processAllAvailable()
      val got = Curation.readSnapshot(spark, s"$base/snap")
        .as[(Long, String)].collect().toSet
      assert(got == Set((2L, "two B"), (3L, "three")))
    } finally q.stop()
  }

  test("spark.graft.scalableWindows flips compositions to funnel-free twins, rows identical") {
    // ONE session switch swaps curate's quota, the manifest's packing
    // and V2's budget mix to their scale twins — a 100 TB deployment
    // flips one config; rows must be bit-identical
    val base = Curation.curate(docs).collect().map(_.toSeq).toSet
    val mBase = Curation.trainingManifest(docs,
        docs.filter(col("doc_id") % 7 === 0), budget = 64)
      .collect().map(_.toSeq).toSet
    spark.conf.set("spark.graft.scalableWindows", "true")
    try {
      val c = Curation.curate(docs).collect().map(_.toSeq).toSet
      assert(c == base)
      val m = Curation.trainingManifest(docs,
          docs.filter(col("doc_id") % 7 === 0), budget = 64)
        .collect().map(_.toSeq).toSet
      assert(m == mBase)
      // explicit per-call choice still beats the session conf
      val e = Curation.curate(docs, scalableQuota = Some(false))
        .collect().map(_.toSeq).toSet
      assert(e == base)
    } finally spark.conf.set("spark.graft.scalableWindows", "false")
    // publishedFunnel's ccnet tail cut flips too, rows identical
    val langed = docs.withColumn("lang",
      when(col("doc_id") % 3 === 0, "de").otherwise("en"))
    val fBase = Curation.publishedFunnel(langed, minWords = 1L)
      .collect().map(_.toSeq).toSet
    val fScal = Curation.publishedFunnel(langed, minWords = 1L,
        scalable = Some(true))
      .collect().map(_.toSeq).toSet
    assert(fScal == fBase)
  }

  test("scalableWindows flips the STANDALONE entry points too (plan + rows)") {
    // the plain functions carry the same scalable/conf convention as
    // the composed pipelines: a conf flip swaps the physical plan to
    // the bucketed twin (descending orders decompose via negation),
    // rows bit-identical
    val df = docs.withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    def plans(f: => org.apache.spark.sql.DataFrame): (String, Set[Seq[Any]]) =
      (f.queryExecution.executedPlan.toString,
        f.collect().map(_.toSeq).toSet)
    val (p0, r0) = plans(Curation.quotaPerKey(df, col("source"), 2,
      Seq(col("n_tokens").desc, col("doc_id"))))
    val (q0, s0) = plans(Curation.tokenBudgetMix(df, col("n_tokens"),
      col("source"), Seq(col("n_tokens").desc, col("doc_id")), 20L))
    val (k0, t0) = plans(Curation.packSequences(df, col("text"),
      col("doc_id"), col("source"), 16))
    assert(!p0.contains("__b#") && !q0.contains("__b#") && !k0.contains("__b#"))
    spark.conf.set("spark.graft.scalableWindows", "true")
    try {
      val (p1, r1) = plans(Curation.quotaPerKey(df, col("source"), 2,
        Seq(col("n_tokens").desc, col("doc_id"))))
      val (q1, s1) = plans(Curation.tokenBudgetMix(df, col("n_tokens"),
        col("source"), Seq(col("n_tokens").desc, col("doc_id")), 20L))
      val (k1, t1) = plans(Curation.packSequences(df, col("text"),
        col("doc_id"), col("source"), 16))
      assert(p1.contains("__b#") && q1.contains("__b#") && k1.contains("__b#"),
        "conf flip must swap the physical plan to the bucketed twin")
      assert(r1 == r0 && s1 == s0 && t1 == t0)
      // explicit per-call choice still beats the session conf
      val (p2, r2) = plans(Curation.quotaPerKey(df, col("source"), 2,
        Seq(col("n_tokens").desc, col("doc_id")), scalable = Some(false)))
      assert(!p2.contains("__b#") && r2 == r0)
    } finally spark.conf.set("spark.graft.scalableWindows", "false")
  }

  test("packSequencesScalable ≡ packSequences: identical seq_id/seq_offset") {
    val rnd = new scala.util.Random(1529L)
    val rows = (1L to 300L).map { i =>
      val k = if (i % 10 != 0) "mega" else s"k${i % 3}"
      (i, k, (1 to 1 + rnd.nextInt(8)).map(_ => "w").mkString(" "))
    }
    val df = rows.toDF("doc_id", "source", "text")
    val exact = Curation.packSequences(df, col("text"), col("doc_id"),
        col("source"), budget = 16)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    for (w <- Seq(1L, 16L, 1000000L)) {
      val got = Curation.packSequencesScalable(df, col("text"),
          col("doc_id"), col("source"), budget = 16, bucketWidth = w)
        .as[(Long, String, Long, Long, Long)].collect().toSet
      assert(got == exact, s"mismatch at width=$w")
    }
  }

  test("curate(scalableQuota) keeps the identical end-to-end corpus") {
    val base = Curation.curate(docs).select("doc_id")
      .as[Long].collect().toSet
    val scal = Curation.curate(docs, scalableQuota = Some(true)).select("doc_id")
      .as[Long].collect().toSet
    assert(scal == base)
  }

  test("hashSampleFilter is deterministic and roughly proportional") {
    val n = 1000
    val big = (1 to n).map(i => (i.toLong, s"document number $i with words"))
      .toDF("doc_id", "text")
    val keep50 = big.filter(Curation.hashSampleFilter(col("text"), 50)).count()
    val again = big.filter(Curation.hashSampleFilter(col("text"), 50)).count()
    assert(keep50 == again) // pure function of content
    assert(keep50 > n / 3 && keep50 < 2 * n / 3, s"kept $keep50 of $n")
    // pct=100 keeps everything, pct=0 nothing
    assert(big.filter(Curation.hashSampleFilter(col("text"), 100)).count() == n)
    assert(big.filter(Curation.hashSampleFilter(col("text"), 0)).count() == 0L)
  }

  test("curate applies every stage") {
    val out = Curation.curate(docs, minTokens = 5, maxStopwordRatio = 0.6,
      minLangScore = 1, samplePct = 100, quotaPerSource = 10)
      .collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    // 6 (short), 7 (no language evidence), 8 (stopword ratio 1.0) filtered;
    // 2 and 3 deduped into 1
    assert(ids == Set(1L, 4L, 5L))
    val langs = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(langs(5L) == "de")
    assert(langs(4L) == "en")
  }

  test("contaminationReport: per-eval distinct leaking docs/grams, zeros kept") {
    // eval 100 shares 'a b c' with corpus 1 AND 2 (2 docs, 1 gram);
    // eval 200 shares two grams with corpus 3 only; eval 300 is clean
    val corpus = Seq(
      (1L, "a b c x y"), (2L, "z a b c"), (3L, "p q r s t")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "a b c"), (200L, "p q r s"), (300L, "u v w")
    ).toDF("doc_id", "text")
    val got = Curation.contaminationReport(corpus, eval_)
      .as[(Long, Long, Long)].collect().toSet
    // eval 200's grams {p q r, q r s} both live in corpus doc 3
    assert(got == Set((100L, 2L, 1L), (200L, 1L, 2L), (300L, 0L, 0L)))
  }

  test("decontaminate flags n-gram overlap with the eval set, broadcast plan") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // contains eval 3-gram
      (2L, "one two three four five six"),           // clean
      (3L, "gamma delta epsilon other words here")   // contains eval 3-gram
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "xx gamma delta epsilon yy")).toDF("doc_id", "text")
    val flagged = Curation.decontaminate(corpus, eval_)
    assert(flagged.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val plan = flagged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("incremental dedup ≡ global keep-one, replay-idempotent, late winner replaces") {
    val base = graft.queries.Drives.tempDir("graft_cur_inc")
    val b0 = Seq(
      (5L, "alpha beta gamma"),   // sig X — provisional winner of batch 0
      (7L, "one two three")
    ).toDF("doc_id", "text")
    val b1 = Seq(
      (2L, "gamma beta alpha"),   // sig X, LOWER id in a LATER batch — must win
      (9L, "one two three"),      // sig of 7 — loses
      (4L, "fresh unique words")
    ).toDF("doc_id", "text")
    // replay batch 1 to prove staging idempotence end-to-end
    Seq(0L -> b0, 1L -> b1, 1L -> b1).foreach { case (id, b) =>
      Curation.incrementalDedupBatch(b, id, s"$base/staged", s"$base/out",
        nBuckets = 4)
    }
    val kept = spark.read.parquet(s"$base/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val global = Curation.keepOneExact(b0.unionByName(b1), col("text"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == global)
    assert(kept == Set(2L, 7L, 4L)) // 5 replaced by 2; 9 lost to 7
  }

  test("dedupIngest streams batches through the incremental dedup e2e") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_ingest")
    val in = MemoryStream[(Long, String)]
    val q = Curation.dedupIngest(
      in.toDF().toDF("doc_id", "text"), s"$base/staged", s"$base/out",
      nBuckets = 4, queryName = "dedup_ingest_test")
    try {
      in.addData((5L, "alpha beta gamma"), (7L, "one two three"))
      q.processAllAvailable()
      in.addData((2L, "gamma beta alpha"), (4L, "fresh unique words"))
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$base/out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L, 7L, 4L)) // late lower id replaced 5
    } finally q.stop()
  }

  test("incremental LSH histogram ≡ one-shot d12b over the union, replay-idempotent") {
    val base = graft.queries.Drives.tempDir("graft_lsh_inc")
    // three exact-dup families + singletons, split so family members
    // arrive in DIFFERENT batches (cross-batch edges must form)
    def doc(i: Long, fam: Int) =
      (i, (0 until 12).map(j => s"w${fam}_${j}").mkString(" "))
    val b0 = Seq(doc(1, 0), doc(4, 1), doc(7, 2), (10L, "lone words alpha beta gamma delta")).toDF("doc_id", "text")
    val b1 = Seq(doc(2, 0), doc(5, 1), (11L, "other solitary text entirely unique tokens")).toDF("doc_id", "text")
    val b2 = Seq(doc(3, 0), doc(8, 2)).toDF("doc_id", "text")
    // replay batch 1 to prove staging + edge-store idempotence
    Seq(0L -> b0, 1L -> b1, 1L -> b1, 2L -> b2).foreach { case (bid, b) =>
      Curation.incrementalLshHistogramBatch(b, bid, s"$base/staged",
        s"$base/edges", numHashes = 8, bands = 2, nBuckets = 4)
    }
    val inc = Curation.lshHistogramFromStore(spark, s"$base/staged", s"$base/edges")
      .orderBy("cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = graft.dedup.Dedup.lshClusterHistogram(
        b0.unionByName(b1).unionByName(b2), col("text"), col("doc_id"),
        numHashes = 8, bands = 2)
      .orderBy("cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(inc == full, s"inc=$inc full=$full")
    // families of 3, 2, 2 plus two singletons
    assert(full == Seq((1L, 2L), (2L, 2L), (3L, 1L)), full.toString)
  }

  test("incremental LSH histogram: an empty first batch leaves a readable store") {
    val base = graft.queries.Drives.tempDir("graft_lsh_empty")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Curation.incrementalLshHistogramBatch(empty, 0L, s"$base/staged",
      s"$base/edges", numHashes = 8, bands = 2, nBuckets = 4)
    // no bucket touched, no edges written — the store must still read as
    // an empty histogram, not throw path-not-found
    assert(Curation.lshHistogramFromStore(spark, s"$base/staged",
      s"$base/edges").count() == 0)
    // and a later real batch lands normally on the same store
    val b1 = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    Curation.incrementalLshHistogramBatch(b1, 1L, s"$base/staged",
      s"$base/edges", numHashes = 8, bands = 2, nBuckets = 4)
    val hist = Curation.lshHistogramFromStore(spark, s"$base/staged",
      s"$base/edges").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hist == Seq((2L, 1L)), hist.toString)
  }

  test("incremental LSH histogram: touched-bucket recompute reads prune partitions") {
    val base = graft.queries.Drives.tempDir("graft_lsh_prune")
    val b0 = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    Curation.incrementalLshHistogramBatch(b0, 0L, s"$base/staged",
      s"$base/edges", numHashes = 8, bands = 2, nBuckets = 4)
    // the recompute's staged-history read filters on bucket — that must be
    // directory pruning (PartitionFilters), not a full-store scan, or the
    // per-batch cost grows with corpus life instead of touched buckets
    val read = spark.read.parquet(s"$base/staged")
      .filter(col("bucket").isin(0, 1))
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("bucket"), scan)
  }

  test("lshHistogramIngest streams batches through the histogram store e2e") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_lsh_ingest")
    val in = MemoryStream[(Long, String)]
    val q = Curation.lshHistogramIngest(
      in.toDF().toDF("doc_id", "text"), s"$base/staged", s"$base/edges",
      numHashes = 8, bands = 2, nBuckets = 4,
      queryName = "lsh_hist_ingest_test")
    try {
      val fam = (0 until 12).map(j => s"q$j").mkString(" ")
      in.addData((1L, fam), (9L, "unique one two three four five"))
      q.processAllAvailable()
      in.addData((2L, fam)) // joins doc 1's cluster across micro-batches
      q.processAllAvailable()
      val hist = Curation.lshHistogramFromStore(spark, s"$base/staged", s"$base/edges")
        .orderBy("cluster_size")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(hist == Seq((1L, 1L), (2L, 1L)), hist.toString)
    } finally q.stop()
  }

  test("lshLabelsIngest streams batches through the label snapshot e2e") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_lsh_lbl_ingest")
    val in = MemoryStream[(Long, String)]
    val q = Curation.lshLabelsIngest(
      in.toDF().toDF("doc_id", "text"), s"$base/staged", s"$base/edges",
      s"$base/labels", numHashes = 8, bands = 2, nBuckets = 4,
      queryName = "lsh_labels_ingest_test")
    def labels(): Map[Long, Long] =
      Curation.readLabelsSnapshot(spark, s"$base/labels").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      val fam = (0 until 12).map(j => s"q$j").mkString(" ")
      in.addData((5L, fam), (9L, "unique one two three four five"))
      q.processAllAvailable()
      assert(labels() == Map(5L -> 5L, 9L -> 9L))
      // pruning BETWEEN micro-batches is safe: the next batch builds on
      // the newest committed snapshot, which prune always keeps
      Curation.pruneLabelSnapshots(spark, s"$base/labels", keep = 1)
      // a LOWER-id exact dup arrives later: the cluster label must drop
      // to the new min across micro-batches
      in.addData((2L, fam))
      q.processAllAvailable()
      assert(labels() == Map(2L -> 2L, 5L -> 2L, 9L -> 9L))
      // snapshots are VERSIONED: both batches' dirs exist; pruning keeps
      // only the newest committed one and the read is unchanged
      val fs = new org.apache.hadoop.fs.Path(s"$base/labels")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def snapDirs(): Set[String] =
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/labels"))
          .filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.startsWith("snap=")).toSet
      assert(snapDirs() == Set("snap=0", "snap=1"), snapDirs().toString)
      Curation.pruneLabelSnapshots(spark, s"$base/labels", keep = 1)
      assert(snapDirs() == Set("snap=1"), snapDirs().toString)
      assert(labels() == Map(2L -> 2L, 5L -> 2L, 9L -> 9L))
    } finally q.stop()
  }

  test("label snapshot reader skips uncommitted (crashed) snapshot dirs") {
    val base = graft.queries.Drives.tempDir("graft_lbl_crash")
    val b0 = Seq((7L, "a b c d e"), (8L, "a b c d e")).toDF("doc_id", "text")
    Curation.incrementalLshHistogramBatch(b0, 0L, s"$base/staged",
      s"$base/edges", numHashes = 8, bands = 2, nBuckets = 4)
    Curation.updateLabelsSnapshot(b0, 0L, s"$base/edges", s"$base/labels")
    def labels(): Map[Long, Long] =
      Curation.readLabelsSnapshot(spark, s"$base/labels").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels() == Map(7L -> 7L, 8L -> 7L))
    // simulate a crash mid-write of the NEXT snapshot: a partial dir with
    // parquet data but no _SUCCESS marker — the reader must keep serving
    // the last committed snapshot, not the torn one
    val torn = s"$base/labels/snap=1"
    Seq((99L, 99L)).toDF("node", "comp").write.parquet(torn)
    val fs = new org.apache.hadoop.fs.Path(torn)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(torn, "_SUCCESS"), false)
    assert(labels() == Map(7L -> 7L, 8L -> 7L))
    // the foreachBatch replay of batch 1 rewrites the torn dir whole
    val b1 = Seq((2L, "a b c d e")).toDF("doc_id", "text")
    Curation.incrementalLshHistogramBatch(b1, 1L, s"$base/staged",
      s"$base/edges", numHashes = 8, bands = 2, nBuckets = 4)
    Curation.updateLabelsSnapshot(b1, 1L, s"$base/edges", s"$base/labels")
    assert(labels() == Map(2L -> 2L, 7L -> 2L, 8L -> 2L))
    // pruning removes crash leftovers OLDER than the newest committed
    // snapshot but never an uncommitted NEWER dir (possibly in-flight)
    val inflight = s"$base/labels/snap=2"
    Seq((1L, 1L)).toDF("node", "comp").write.parquet(inflight)
    fs.delete(new org.apache.hadoop.fs.Path(inflight, "_SUCCESS"), false)
    Curation.pruneLabelSnapshots(spark, s"$base/labels", keep = 1)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/labels"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(names == Set("snap=1", "snap=2"), names.toString)
    assert(labels() == Map(2L -> 2L, 7L -> 2L, 8L -> 2L))
    // replay of an already-COMMITTED batch skips before the write: snap=1
    // is now the only committed copy (snap=0 pruned) — an in-place
    // rewrite would delete it before recreating it, so a crash mid-replay
    // could destroy the whole labeling; the skip leaves the bytes alone
    val snap1 = new org.apache.hadoop.fs.Path(s"$base/labels/snap=1")
    val before1 = fs.listStatus(snap1).map(st =>
      (st.getPath.getName, st.getModificationTime)).toSet
    Curation.updateLabelsSnapshot(b1, 1L, s"$base/edges", s"$base/labels")
    val after1 = fs.listStatus(snap1).map(st =>
      (st.getPath.getName, st.getModificationTime)).toSet
    assert(after1 == before1, s"replay rewrote committed snap=1")
    assert(labels() == Map(2L -> 2L, 7L -> 2L, 8L -> 2L))
    // a batchId COLLISION carrying new docs (checkpoint reset against the
    // same labelsPath) must fail loud, not silently drop the new docs
    val ex = intercept[IllegalStateException] {
      Curation.updateLabelsSnapshot(
        Seq((99L, "brand new")).toDF("doc_id", "text"), 1L,
        s"$base/edges", s"$base/labels")
    }
    assert(ex.getMessage.contains("checkpoint lineage"), ex.getMessage)
    assert(labels() == Map(2L -> 2L, 7L -> 2L, 8L -> 2L))
    // ...and pruning must not defeat the check: snap=0 was pruned, so a
    // reset-lineage batch 0 finds no colliding dir — but writing snap=0
    // would be INVISIBLE to readers (max-batchId wins), silently dropping
    // its docs. A batchId below the newest committed snapshot with no own
    // dir is impossible in one lineage -> loud failure.
    val ex0 = intercept[IllegalStateException] {
      Curation.updateLabelsSnapshot(
        Seq((98L, "also new")).toDF("doc_id", "text"), 0L,
        s"$base/edges", s"$base/labels")
    }
    assert(ex0.getMessage.contains("restarted"), ex0.getMessage)
    assert(labels() == Map(2L -> 2L, 7L -> 2L, 8L -> 2L))
  }

  test("span ingest refuses to write past a crashed compaction's side root") {
    val base = graft.queries.Drives.tempDir("graft_span_fence")
    Curation.incrementalSpanDedupBatch(Seq((1L, "a b c d")).toDF(
      "doc_id", "text"), 0L, s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4)
    val fence = new org.apache.hadoop.fs.Path(
      s"$base/staged/grams.compact_tmp")
    val fs = fence.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(fence)
    val ex = intercept[IllegalStateException] {
      Curation.incrementalSpanDedupBatch(Seq((2L, "e f g h")).toDF(
        "doc_id", "text"), 1L, s"$base/staged", s"$base/dups",
        window = 3, nBuckets = 4)
    }
    assert(ex.getMessage.contains("compaction"), ex.getMessage)
    fs.delete(fence, true)
    // fence lifted (compaction completed): ingest resumes
    Curation.incrementalSpanDedupBatch(Seq((2L, "e f g h")).toDF(
      "doc_id", "text"), 1L, s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4)
    assert(Curation.spanDedupFromStore(spark, s"$base/staged",
      s"$base/dups", window = 3).count() == 2)
  }

  test("compactStagedStore: compact-then-read ≡ read, and ingest continues") {
    import org.apache.spark.sql.types._
    val base = graft.queries.Drives.tempDir("graft_lsh_compact")
    val fam = (0 until 12).map(j => s"w$j").mkString(" ")
    val batches = Seq(
      Seq((1L, fam), (9L, "unique one two three four five")),
      Seq((5L, fam), (6L, "other unrelated text here entirely")),
      Seq((3L, fam)))
    batches.zipWithIndex.foreach { case (rows, bid) =>
      Curation.incrementalLshLabelsBatch(rows.toDF("doc_id", "text"),
        bid.toLong, s"$base/staged", s"$base/edges", s"$base/labels",
        numHashes = 8, bands = 2, nBuckets = 4)
    }
    def hist(): Seq[(Long, Long)] =
      Curation.lshHistogramFromStore(spark, s"$base/staged", s"$base/edges")
        .orderBy("cluster_size")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = hist()
    val stagedSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("band_hash", StringType), StructField("bucket", IntegerType),
      StructField("batch_id", LongType)))
    Curation.compactStagedStore(spark, s"$base/staged", stagedSchema)
    // every bucket now holds exactly the batch_id=-1 snapshot partition
    val fs = new org.apache.hadoop.fs.Path(s"$base/staged")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/staged"))
      .filter(_.isDirectory).foreach { b =>
        val kids = fs.listStatus(b.getPath).filter(_.isDirectory)
          .map(_.getPath.getName).toSeq
        assert(kids == Seq("batch_id=-1"), s"${b.getPath}: $kids")
      }
    assert(hist() == before, s"${hist()} vs $before")
    // re-running compaction is a no-op (idempotent)
    Curation.compactStagedStore(spark, s"$base/staged", stagedSchema)
    assert(hist() == before)
    // ingest continues against the compacted store: a new batch's
    // touched-bucket recompute reads compacted + fresh partitions
    Curation.incrementalLshLabelsBatch(Seq((0L, fam)).toDF("doc_id", "text"),
      3L, s"$base/staged", s"$base/edges", s"$base/labels",
      numHashes = 8, bands = 2, nBuckets = 4)
    // docs 0,1,3,5 share fam → one size-4 cluster; 6 and 9 are singletons
    val after = hist()
    assert(after == Seq((1L, 2L), (4L, 1L)), after.toString)
    // ...and the maintained labels agree with the recompute read
    val lblHist = Curation.lshHistogramFromLabels(spark, s"$base/labels")
      .orderBy("cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lblHist == after, s"$lblHist vs $after")
  }

  test("compactStagedStore: d9 signature staging compacts with keep-one intact") {
    import org.apache.spark.sql.types._
    val base = graft.queries.Drives.tempDir("graft_sig_compact")
    // keep-first winners span batches: doc 1 (b0) beats doc 11 (b1);
    // doc 2 (b1) beats doc 22 (b2)
    val batches = Seq(
      Seq((1L, "x y z")),
      Seq((11L, "x y z"), (2L, "p q")),
      Seq((22L, "p q"), (3L, "solo")))
    batches.zipWithIndex.foreach { case (rows, bid) =>
      Curation.incrementalDedupBatch(rows.toDF("doc_id", "text"),
        bid.toLong, s"$base/staged", s"$base/out", nBuckets = 4)
    }
    def kept(): Set[Long] = spark.read.parquet(s"$base/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept() == Set(1L, 2L, 3L))
    val stagedSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("__sig_h", LongType), StructField("bucket", IntegerType),
      StructField("batch_id", LongType)))
    Curation.compactStagedStore(spark, s"$base/staged", stagedSchema)
    // a replay against the compacted staging recomputes its buckets from
    // the batch_id=-1 snapshot — same winners
    Curation.incrementalDedupBatch(batches(1).toDF("doc_id", "text"), 1L,
      s"$base/staged", s"$base/out", nBuckets = 4)
    assert(kept() == Set(1L, 2L, 3L))
    // ingest continues: a later dup of doc 1's signature still loses
    Curation.incrementalDedupBatch(Seq((31L, "x y z")).toDF("doc_id", "text"),
      3L, s"$base/staged", s"$base/out", nBuckets = 4)
    assert(kept() == Set(1L, 2L, 3L))
  }

  test("compactCountedStore: stage-and-swap compaction of the span gram store") {
    import org.apache.spark.sql.types._
    val base = graft.queries.Drives.tempDir("graft_span_compact")
    val batches = Seq(
      Seq((1L, "a b c d x y z"), (3L, "m n o")),
      Seq((2L, "p q a b c d")),
      Seq((5L, "r r r r")))
    batches.zipWithIndex.foreach { case (rows, bid) =>
      Curation.incrementalSpanDedupBatch(rows.toDF("doc_id", "text"),
        bid.toLong, s"$base/staged", s"$base/dups", window = 3, nBuckets = 4)
    }
    def cleaned(): Seq[(Long, String)] =
      Curation.spanDedupFromStore(spark, s"$base/staged", s"$base/dups",
          window = 3)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val before = cleaned()
    val gramSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("s", IntegerType),
      StructField("gram_h", LongType), StructField("bucket", IntegerType),
      StructField("batch_id", LongType)))
    Curation.compactCountedStore(spark, s"$base/staged/grams", gramSchema)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketKids(): Seq[Seq[String]] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/staged/grams"))
        .filter(_.isDirectory).toSeq.map { b =>
          fs.listStatus(b.getPath).filter(_.isDirectory)
            .map(_.getPath.getName).toSeq.sorted
        }
    // every bucket collapsed to its batch_id=-1 snapshot; counts intact
    assert(bucketKids().forall(_ == Seq("batch_id=-1")), bucketKids().toString)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$base/staged/grams.compact_tmp")))
    assert(cleaned() == before, s"${cleaned()} vs $before")
    // idempotent re-run
    Curation.compactCountedStore(spark, s"$base/staged/grams", gramSchema)
    assert(cleaned() == before)
    // crash recovery: simulate a failure between a bucket's swap delete
    // and its rename — the committed staged dir holds the data, the
    // source bucket is gone; a re-run must complete the swap
    val grams = new org.apache.hadoop.fs.Path(s"$base/staged/grams")
    val firstBucket = fs.listStatus(grams).filter(_.isDirectory).head.getPath
    val tmpRoot = new org.apache.hadoop.fs.Path(
      s"$base/staged/grams.compact_tmp")
    fs.mkdirs(tmpRoot)
    fs.rename(firstBucket,
      new org.apache.hadoop.fs.Path(tmpRoot, firstBucket.getName))
    Curation.compactCountedStore(spark, s"$base/staged/grams", gramSchema)
    assert(cleaned() == before)
    assert(!fs.exists(tmpRoot))
    // ingest continues: doc 4 duplicates doc 3's "m n o" across batches
    Curation.incrementalSpanDedupBatch(Seq((4L, "m n o")).toDF(
      "doc_id", "text"), 3L, s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4)
    val after = cleaned()
    assert(after.find(_._1 == 3L).get._2 == "", after.toString)
    assert(after.find(_._1 == 4L).get._2 == "", after.toString)
    // replay safety: batch 4 is staged but NOT committed in the stream's
    // checkpoint — compaction with committedThrough = 3 must leave its
    // dirs unfolded so the at-least-once replay stays idempotent (folding
    // them would double-count batch 4's grams on replay and falsely flag
    // doc 6's unique text as duplicated)
    Curation.incrementalSpanDedupBatch(Seq((6L, "u v w")).toDF(
      "doc_id", "text"), 4L, s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4)
    val midCompact = cleaned()
    assert(midCompact.find(_._1 == 6L).get._2 == "u v w")
    Curation.compactCountedStore(spark, s"$base/staged/grams", gramSchema,
      committedThrough = 3L)
    val survivors = fs.listStatus(grams).filter(_.isDirectory).flatMap(b =>
      fs.listStatus(b.getPath).filter(_.isDirectory).map(_.getPath.getName))
      .toSet
    assert(survivors.contains("batch_id=4"), survivors.toString)
    assert(survivors.filterNot(
      Set("batch_id=-1", "batch_id=4")).isEmpty, survivors.toString)
    Curation.incrementalSpanDedupBatch(Seq((6L, "u v w")).toDF(
      "doc_id", "text"), 4L, s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4) // the replay
    assert(cleaned() == midCompact, s"${cleaned()} vs $midCompact")
  }

  test("canonicalizeUrl: each normalization rule, hand-checked") {
    val cases = Seq(
      // scheme+host lowercased, path case preserved, fragment dropped
      ("HTTP://WWW.Ex.COM/A/B#frag", "http://www.ex.com/A/B"),
      // default ports dropped per scheme; explicit ports kept
      ("http://ex.com:80/p", "http://ex.com/p"),
      ("https://ex.com:443/p", "https://ex.com/p"),
      ("http://ex.com:8080/p", "http://ex.com:8080/p"),
      ("https://ex.com:80/p", "https://ex.com:80/p"), // :80 not https default
      // trailing slashes stripped (also multiple)
      ("http://ex.com/a/", "http://ex.com/a"),
      ("http://ex.com/a//", "http://ex.com/a"),
      // tracking params dropped, survivors sorted; ?-only query gone
      ("http://ex.com/p?utm_source=x&b=2&a=1", "http://ex.com/p?a=1&b=2"),
      ("http://ex.com/p?gclid=1&fbclid=2&utm_medium=m", "http://ex.com/p"),
      // tracking match is on the LOWERCASED key left of '=': mixed-case
      // and value-less bare forms are stripped too (ADVICE r12)
      ("http://ex.com/p?UTM_Source=x&b=2&a=1", "http://ex.com/p?a=1&b=2"),
      ("http://ex.com/p?GCLID=1&FBCLID=2&UTM_Medium=m", "http://ex.com/p"),
      ("http://ex.com/p?gclid&fbclid&a=1", "http://ex.com/p?a=1"),
      // ...but only the exact key / utm_ prefix: near-miss keys survive
      ("http://ex.com/p?gclidx=1&fbclid2=2", "http://ex.com/p?fbclid2=2&gclidx=1"),
      ("http://ex.com/p?z=1&a=2", "http://ex.com/p?a=2&z=1"),
      // everything at once
      ("HTTPS://Ex.Com:443/Dir/Page/?b=1&utm_c=z&a=0#x",
        "https://ex.com/Dir/Page?a=0&b=1"))
    val got = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "url")
      .select(col("i"), Curation.canonicalizeUrl(col("url")).as("c"))
      .orderBy("i").collect().map(_.getString(1)).toSeq
    assert(got == cases.map(_._2), got.mkString("\n"))
    // domain extraction off the canonical form (port excluded)
    val dom = Seq("http://ex.com:8080/p?a=1", "https://www.ex.com/x")
      .zipWithIndex.map { case (u, i) => (i, u) }.toDF("i", "url")
      .select(col("i"), Curation.urlDomain(
        Curation.canonicalizeUrl(col("url"))).as("d"))
      .orderBy("i").collect().map(_.getString(1)).toSeq
    assert(dom == Seq("ex.com", "www.ex.com"), dom.toString)
  }

  test("canonicalizeUrl: idempotent and total on adversarial frontier junk") {
    val rnd = new scala.util.Random(271)
    val schemes = Seq("http", "HTTP", "https", "HtTpS", "ftp")
    val hosts = Seq("Ex.COM", "ex.com", "WWW.a-b.ORG", "ex.com:80",
      "ex.com:443", "ex.com:8080", "")
    val paths = Seq("", "/", "/A/b", "/a/b/", "/a//", "/%7Euser")
    val queries = Seq("", "?", "?a=1", "?b=2&a=1", "?utm_source=x",
      "?gclid=9&z=3", "?a", "?=v", "?a=1&a=1", "?&&a=1")
    val frags = Seq("", "#f", "#a#b")
    val urls = (for {
      _ <- 0 until 200
    } yield schemes(rnd.nextInt(schemes.length)) + "://" +
      hosts(rnd.nextInt(hosts.length)) + paths(rnd.nextInt(paths.length)) +
      queries(rnd.nextInt(queries.length)) + frags(rnd.nextInt(frags.length))
    ) ++ Seq("http://ex.com", "http://ex.com?a=1", "not a url", "")
    val df = urls.zipWithIndex.map { case (u, i) => (i, u) }.toDF("i", "url")
    val once = df.select(col("i"),
      Curation.canonicalizeUrl(col("url")).as("c")).orderBy("i")
      .collect().map(_.getString(1)).toSeq
    // idempotence: canonical of canonical is canonical — a pipeline that
    // re-canonicalizes stored keys must get the same key back
    val twice = once.zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "url")
      .select(col("i"), Curation.canonicalizeUrl(col("url")).as("c"))
      .orderBy("i").collect().map(_.getString(1)).toSeq
    assert(twice == once,
      once.zip(twice).filter(p => p._1 != p._2).take(3).toString)
    // totality: junk never throws, never yields NULL (garbage in,
    // deterministic garbage out — filter junk upstream)
    assert(once.forall(_ != null))
    // no-path and ?-only forms
    val spot = Seq("http://EX.com", "http://ex.com?", "https://ex.com:443")
      .zipWithIndex.map { case (u, i) => (i, u) }.toDF("i", "url")
      .select(col("i"), Curation.canonicalizeUrl(col("url")).as("c"))
      .orderBy("i").collect().map(_.getString(1)).toSeq
    assert(spot == Seq("http://ex.com", "http://ex.com", "https://ex.com"),
      spot.toString)
  }

  test("crawlUrlGroups merges order-insensitive re-crawls, keeps min id") {
    val df = Seq(
      (1L, "http://a.com/p?x=1&y=2"),
      (2L, "HTTP://A.COM/p/?y=2&x=1#f"), // same page: case+slash+order+frag
      (3L, "http://a.com/p?x=1"),        // different query -> distinct
      (4L, "https://b.com/q")
    ).toDF("doc_id", "url")
    val got = Curation.crawlUrlGroups(df, col("url"), col("doc_id"))
      .orderBy("keep_doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, "a.com", "http://a.com/p?x=1&y=2", 2L),
      (3L, "a.com", "http://a.com/p?x=1", 1L),
      (4L, "b.com", "https://b.com/q", 1L)), got.toString)
  }

  test("crawlDomainStats: pages, fetches, dup mass and hottest page per domain") {
    val df = Seq(
      (1L, "http://a.com/p?x=1&y=2"),
      (2L, "HTTP://A.COM/p/?y=2&x=1#f"), // same page as 1
      (3L, "http://a.com/p?x=1"),
      (5L, "http://a.com/p?y=2&x=1"),    // same page as 1 again
      (4L, "https://b.com/q")
    ).toDF("doc_id", "url")
    val got = Curation.crawlDomainStats(df, col("url"), col("doc_id"))
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("a.com", 2L, 4L, 2L, 0.5, 3L),
      ("b.com", 1L, 1L, 0L, 0.0, 1L)), got.toString)
  }

  test("dedupSpansAcrossDocs removes every position covered by a duplicated window") {
    // window=3; coverage of a flagged start s is positions [s, s+2].
    // Docs 1 and 2 share the run "a b c d" → duplicated 3-grams "a b c"
    // and "b c d"; doc 5's self-repeat makes "r r r" corpus-count 2.
    val docs = Seq(
      (1L, "a b c d x y z"),      // positions 1-4 covered, keeps "x y z"
      (2L, "p q a b c d"),        // positions 3-6 covered, keeps "p q"
      (3L, "m n o"),              // unique 3-gram, untouched
      (4L, "s t"),                // shorter than the window, untouched
      (5L, "r r r r")             // self-repeat: "r r r" at starts 1 AND 2
    ).toDF("doc_id", "text")
    val got = Curation.dedupSpansAcrossDocs(docs, col("text"), col("doc_id"),
        window = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got(0) == ((1L, "x y z", 7L, 4L)))
    assert(got(1) == ((2L, "p q", 6L, 4L)))
    assert(got(2) == ((3L, "m n o", 3L, 0L)))
    assert(got(3) == ((4L, "s t", 2L, 0L)))
    assert(got(4) == ((5L, "", 4L, 4L))) // fully removed, empty not null
  }

  test("dedupSpansAcrossDocs matches a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val window = 2 + trial % 3 // 2, 3, 4
      // small alphabet → plenty of genuine gram collisions
      val corpus = (0L until 40L).map { i =>
        val n = rnd.nextInt(12)
        (i, (0 until n).map(_ => s"t${rnd.nextInt(5)}").mkString(" "))
      }
      // brute force: global gram multiset, then per-doc coverage
      def toks(s: String): Array[String] =
        s.split(" ") // matches Spark split semantics: "" -> Array("")
      val allGrams = corpus.flatMap { case (_, t) =>
        toks(t).sliding(window).filter(_.length == window).map(_.mkString(" "))
      }
      val dupGrams = allGrams.groupBy(identity).filter(_._2.size > 1).keySet
      val expected = corpus.map { case (id, t) =>
        val ts = toks(t)
        val flagged = ts.sliding(window).zipWithIndex
          .filter { case (g, _) => g.length == window && dupGrams(g.mkString(" ")) }
          .map(_._2).toSeq
        val covered = flagged.flatMap(s => s until (s + window)).toSet
        val kept = ts.indices.filterNot(covered).map(ts)
        (id, kept.mkString(" "), ts.length.toLong,
          (ts.length - kept.length).toLong)
      }.sortBy(_._1)
      val got = Curation.dedupSpansAcrossDocs(corpus.toDF("doc_id", "text"),
          col("text"), col("doc_id"), window)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == expected, s"trial $trial window $window")
    }
  }

  test("incremental span dedup ≡ one-shot over the union, replay-idempotent, late batch retro-flags") {
    val base = graft.queries.Drives.tempDir("graft_span_inc")
    // window=3. Doc 1 (batch 0) shares the run "a b c d" with doc 3,
    // which only arrives in batch 2 — the duplicated grams "a b c"/"b c d"
    // cross batches, so doc 1's positions must be flagged RETROACTIVELY
    // by the late batch's dup-store recompute.
    val b0 = Seq((1L, "a b c d x y z"), (2L, "m n o p q")).toDF("doc_id", "text")
    val b1 = Seq((4L, "u v w"), (5L, "s t")).toDF("doc_id", "text")
    val b2 = Seq((3L, "k k a b c d")).toDF("doc_id", "text")
    // replay batch 1 to prove staging + dup-store idempotence
    Seq(0L -> b0, 1L -> b1, 1L -> b1, 2L -> b2).foreach { case (bid, b) =>
      Curation.incrementalSpanDedupBatch(b, bid, s"$base/staged",
        s"$base/dups", window = 3, nBuckets = 4)
    }
    val inc = Curation.spanDedupFromStore(spark, s"$base/staged",
        s"$base/dups", window = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val full = Curation.dedupSpansAcrossDocs(
        b0.unionByName(b1).unionByName(b2), col("text"), col("doc_id"),
        window = 3, hashKeys = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(inc == full, s"inc=$inc full=$full")
    // the retroactive flag actually fired: doc 1 lost positions 1-4
    assert(inc.find(_._1 == 1L).get == ((1L, "x y z", 7L, 4L)))
    assert(inc.find(_._1 == 3L).get == ((3L, "k k", 6L, 4L)))
  }

  test("incremental span dedup: gram staging reads prune bucket partitions") {
    val base = graft.queries.Drives.tempDir("graft_span_prune")
    val b0 = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    Curation.incrementalSpanDedupBatch(b0, 0L, s"$base/staged",
      s"$base/dups", window = 3, nBuckets = 4)
    // the touched-bucket recompute filters the staged gram history on
    // bucket — that must be directory pruning, or per-batch cost grows
    // with corpus life instead of touched buckets (d12c invariant)
    val read = spark.read.parquet(s"$base/staged/grams")
      .filter(col("bucket").isin(0, 1))
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("bucket"), scan)
  }

  test("spanDedupIngest streams batches through the span store e2e") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_span_ingest")
    val in = MemoryStream[(Long, String)]
    val q = Curation.spanDedupIngest(
      in.toDF().toDF("doc_id", "text"), s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4, queryName = "span_ingest_test")
    try {
      in.addData((1L, "a b c d x y z"), (2L, "m n o"))
      q.processAllAvailable()
      // doc 1 is still clean — no gram duplicated yet
      val before = Curation.spanDedupFromStore(spark, s"$base/staged",
          s"$base/dups", window = 3)
        .filter(col("doc_id") === 1L).head()
      assert(before.getString(1) == "a b c d x y z")
      in.addData((3L, "k k a b c d")) // duplicates doc 1's run ACROSS batches
      q.processAllAvailable()
      val after = Curation.spanDedupFromStore(spark, s"$base/staged",
          s"$base/dups", window = 3)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(after == Seq((1L, "x y z"), (2L, "m n o"), (3L, "k k")),
        after.toString)
    } finally q.stop()
  }

  test("lshLabelsIngest maintainEvery: reads identical to unmaintained twin, dirs bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_lsh_maint")
    def doc(i: Long, fam: Int) =
      (i, (0 until 12).map(j => s"m${fam}_$j").mkString(" "))
    // four batches, dup families spanning batches so compaction must
    // preserve cross-batch edge formation
    val batches = Seq(
      Seq(doc(5L, 0), (9L, "unique one two three four five")),
      Seq(doc(7L, 1), doc(2L, 0)),
      Seq(doc(4L, 1), (11L, "other wholly unrelated text tokens")),
      Seq(doc(1L, 0)))
    val in = MemoryStream[(Long, String)]
    val q = Curation.lshLabelsIngest(
      in.toDF().toDF("doc_id", "text"), s"$base/staged", s"$base/edges",
      s"$base/labels", numHashes = 8, bands = 2, nBuckets = 4,
      maintainEvery = 2, keepSnapshots = 1,
      queryName = "lsh_maint_test")
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // unmaintained twin over the same batch sequence
    batches.zipWithIndex.foreach { case (b, bid) =>
      Curation.incrementalLshLabelsBatch(b.toDF("doc_id", "text"), bid.toLong,
        s"$base/staged2", s"$base/edges2", s"$base/labels2",
        numHashes = 8, bands = 2, nBuckets = 4)
    }
    def labels(p: String): Map[Long, Long] =
      Curation.readLabelsSnapshot(spark, p).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = labels(s"$base/labels")
    assert(got == labels(s"$base/labels2"), got.toString)
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 4L -> 4L, 7L -> 4L,
      9L -> 9L, 11L -> 11L), got.toString)
    // dir growth is bounded: maintenance after batch 3 leaves exactly the
    // newest snapshot and one compacted partition per staged bucket
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names(p: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
    assert(names(s"$base/labels").filter(_.startsWith("snap=")) ==
      Seq("snap=3"))
    names(s"$base/staged").filter(_.startsWith("bucket=")).foreach { b =>
      val bids = names(s"$base/staged/$b").filter(_.startsWith("batch_id="))
      assert(bids == Seq("batch_id=-1"), s"$b: $bids")
    }
  }

  test("spanDedupIngest maintainEvery: reads identical to unmaintained twin, gram dirs compacted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_span_maint")
    val batches = Seq(
      Seq((1L, "a b c d x y z"), (2L, "m n o")),
      Seq((3L, "k k a b c d")),     // duplicates doc 1's run across batches
      Seq((4L, "p q r s")),
      Seq((5L, "p q r s t")))       // duplicates doc 4's run across batches
    val in = MemoryStream[(Long, String)]
    val q = Curation.spanDedupIngest(
      in.toDF().toDF("doc_id", "text"), s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4, maintainEvery = 2,
      queryName = "span_maint_test")
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    batches.zipWithIndex.foreach { case (b, bid) =>
      Curation.incrementalSpanDedupBatch(b.toDF("doc_id", "text"),
        bid.toLong, s"$base/staged2", s"$base/dups2", window = 3,
        nBuckets = 4)
    }
    def readStore(staged: String, dups: String): Seq[(Long, String)] =
      Curation.spanDedupFromStore(spark, s"$base/$staged", s"$base/$dups",
        window = 3).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = readStore("staged", "dups")
    assert(got == readStore("staged2", "dups2"), got.toString)
    assert(got == Seq((1L, "x y z"), (2L, "m n o"), (3L, "k k"),
      (4L, ""), (5L, "t")), got.toString)
    // maintenance after batch 3 folded committed batches 0-2 into the
    // per-bucket snapshot partition; batch 3 (uncommitted at maintenance
    // time) rides through as its own partition — replay idempotence
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names(p: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
    names(s"$base/staged/grams").filter(_.startsWith("bucket=")).foreach {
      b =>
        val bids = names(s"$base/staged/grams/$b")
          .filter(_.startsWith("batch_id=")).sorted
        assert(bids.forall(Set("batch_id=-1", "batch_id=3")), s"$b: $bids")
    }
    // crash-recovery branch: a leftover side root from a compaction THIS
    // stream started (the _owner marker carries its queryName) would
    // fence plain ingest; the maintaining wrapper recovers it first
    val fenceRoot = new org.apache.hadoop.fs.Path(
      s"$base/staged/grams.compact_tmp")
    fs.mkdirs(fenceRoot)
    val ownOut = fs.create(
      new org.apache.hadoop.fs.Path(fenceRoot, "_owner"), true)
    ownOut.write("span_maint_recover_test".getBytes("UTF-8")); ownOut.close()
    val in2 = MemoryStream[(Long, String)]
    val q2 = Curation.spanDedupIngest(
      in2.toDF().toDF("doc_id", "text"), s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4, maintainEvery = 2,
      queryName = "span_maint_recover_test")
    try {
      in2.addData(Seq((6L, "fresh words after recovery")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(!fs.exists(fenceRoot))
    val afterRecovery = readStore("staged", "dups")
    assert(afterRecovery.contains((6L, "fresh words after recovery")),
      afterRecovery.toString)
  }

  test("spanDedupIngest refuses to auto-recover a FOREIGN compaction fence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_span_foreign_fence")
    // seed the store so the gram root exists
    Curation.incrementalSpanDedupBatch(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), 0L,
      s"$base/staged", s"$base/dups", window = 3, nBuckets = 4)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an EXTERNAL compactCountedStore's fence (default owner) — the
    // wrapper cannot tell crashed from in-flight, so it must fail loud,
    // never launch a second compaction over the shared stage dirs
    val fenceRoot = new org.apache.hadoop.fs.Path(
      s"$base/staged/grams.compact_tmp")
    fs.mkdirs(fenceRoot)
    val out = fs.create(new org.apache.hadoop.fs.Path(fenceRoot, "_owner"), true)
    out.write("external".getBytes("UTF-8")); out.close()
    val in = MemoryStream[(Long, String)]
    val q = Curation.spanDedupIngest(
      in.toDF().toDF("doc_id", "text"), s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4, maintainEvery = 2,
      queryName = "span_foreign_fence_test")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { in.addData(Seq((2L, "e f g h"))); q.processAllAvailable() }
      finally q.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("does not own")), ex.toString)
    // the fence (and the foreign run's claim to it) is untouched
    assert(Curation.compactionOwner(spark, s"$base/staged/grams")
      .contains("external"))
    // an OWNERLESS fence (crash before the marker landed, or a pre-marker
    // root) is treated as foreign too
    fs.delete(new org.apache.hadoop.fs.Path(fenceRoot, "_owner"), false)
    val in2 = MemoryStream[(Long, String)]
    val q2 = Curation.spanDedupIngest(
      in2.toDF().toDF("doc_id", "text"), s"$base/staged", s"$base/dups",
      window = 3, nBuckets = 4, maintainEvery = 2,
      queryName = "span_foreign_fence_test2")
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { in2.addData(Seq((3L, "i j k l"))); q2.processAllAvailable() }
      finally q2.stop()
    }
    assert(causes(ex2).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("<none>")), ex2.toString)
  }

  test("incremental span dedup: an empty first batch leaves a readable store") {
    val base = graft.queries.Drives.tempDir("graft_span_empty")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Curation.incrementalSpanDedupBatch(empty, 0L, s"$base/staged",
      s"$base/dups", window = 3, nBuckets = 4)
    assert(Curation.spanDedupFromStore(spark, s"$base/staged",
      s"$base/dups", window = 3).count() == 0)
    val b1 = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    Curation.incrementalSpanDedupBatch(b1, 1L, s"$base/staged",
      s"$base/dups", window = 3, nBuckets = 4)
    val got = Curation.spanDedupFromStore(spark, s"$base/staged",
        s"$base/dups", window = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, ""), (2L, "")), got.toString)
  }

  test("incremental span dedup: string-id stores round-trip via idType") {
    val base = graft.queries.Drives.tempDir("graft_span_strid")
    val b0 = Seq(("u-b", "a b c d"), ("u-a", "a b c d")).toDF("doc_id", "text")
    Curation.incrementalSpanDedupBatch(b0, 0L, s"$base/staged",
      s"$base/dups", window = 3, nBuckets = 4)
    val got = Curation.spanDedupFromStore(spark, s"$base/staged",
        s"$base/dups", window = 3,
        idType = org.apache.spark.sql.types.StringType)
      .orderBy("doc_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // both docs fully covered (shared grams); ids come back as strings
    assert(got == Seq(("u-a", ""), ("u-b", "")), got.toString)
  }

  test("incremental span dedup: a dup-free store still reads every doc intact") {
    val base = graft.queries.Drives.tempDir("graft_span_nodup")
    val b0 = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    Curation.incrementalSpanDedupBatch(b0, 0L, s"$base/staged",
      s"$base/dups", window = 3, nBuckets = 4)
    // no gram duplicated → dup store dir exists but is empty; the reader
    // must not throw and must return the docs unchanged
    val got = Curation.spanDedupFromStore(spark, s"$base/staged",
        s"$base/dups", window = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(got == Seq((1L, "a b c d", 0L), (2L, "e f g h", 0L)), got.toString)
  }

  test("packSequences: concat-and-split offsets, boundary-spanning docs") {
    // budget 10; key "a": docs of 4, 8, 3 tokens → starts 0, 4, 12
    //   doc 11 starts seq 0 off 0; doc 12 starts seq 0 off 4 (spans into
    //   seq 1); doc 13 starts seq 1 off 2. Key "b" packs independently.
    val docs = Seq(
      (11L, "a", "t t t t"),
      (12L, "a", "t t t t t t t t"),
      (13L, "a", "t t t"),
      (21L, "b", "t t t t t t t t t t t t")).toDF("doc_id", "source", "text")
    val got = graft.curation.Curation.packSequences(docs, col("text"),
        col("doc_id"), col("source"), budget = 10)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (11L, "a", 4L, 0L, 0L),
      (12L, "a", 8L, 0L, 4L),
      (13L, "a", 3L, 1L, 2L),
      (21L, "b", 12L, 0L, 0L)))
  }

  test("curate plan: scoring fuses into the scan side, two window shuffles") {
    val plan = Curation.curate(docs).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2, plan)
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("collect_list"))
  }

  test("stripBoilerplateLines drops corpus-frequent lines, preserves order, keeps empty docs") {
    val lined = Seq(
      (1L, "alpha\ncookie banner\nshared two\nbody one"),
      (2L, "cookie banner\nshared two\nbody two"),
      (3L, "intro\ncookie banner"),
      (4L, "cookie banner\ncookie banner") // in-doc repeat counts once for df
    ).toDF("doc_id", "text")
    val r = Curation.stripBoilerplateLines(lined, col("text"), col("doc_id"),
        minDocs = 3)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
    // "cookie banner" appears in 4 distinct docs -> stripped everywhere;
    // "shared two" in only 2 -> kept
    assert(r(0) == ((1L, "alpha\nshared two\nbody one", 3L, 1L)))
    assert(r(1) == ((2L, "shared two\nbody two", 2L, 1L)))
    assert(r(2) == ((3L, "intro", 1L, 1L)))
    assert(r(3) == ((4L, "", 0L, 2L)))
  }

  test("plan guards: qualityFilter is join- and shuffle-free; boilerplate/eval sets broadcast") {
    val qp = Curation.qualityFilter(docs, col("text"), col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!qp.contains("Join"), qp) // the carry hook means NO join-back
    assert(!qp.contains("Exchange"), qp) // single fused projection, no shuffle
    val lined = Seq((1L, "x\ny"), (2L, "x\nz"), (3L, "x\nw")).toDF("doc_id", "text")
    val bp = Curation.stripBoilerplateLines(lined, col("text"), col("doc_id"), 3)
      .queryExecution.executedPlan.toString
    assert(bp.contains("BroadcastHashJoin") && !bp.contains("SortMergeJoin"), bp)
    val cf = Curation.contaminationFraction(docs, docs.limit(1))
      .queryExecution.executedPlan.toString
    assert(cf.contains("BroadcastHashJoin") && !cf.contains("SortMergeJoin"), cf)
  }

  test("trainingManifest composes filter -> decontaminate -> dedup -> split -> pack") {
    val corpus = (1 to 40).map { i =>
      (i.toLong, if (i % 2 == 0) "w" else "b",
        (1 to 30).map(j => s"t${i}_$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val eval_ = Seq((100L, "t2_1 t2_2 t2_3")).toDF("doc_id", "text") // contaminates doc 2
    val m = Curation.trainingManifest(corpus, eval_, budget = 64)
    val rows = m.collect()
    assert(!rows.map(_.getLong(0)).contains(2L)) // decontaminated
    // pack keys never cross splits
    assert(rows.forall(r => r.getString(1).endsWith("|" + r.getString(2))))
    // offsets stay inside the budget
    assert(rows.forall(r => r.getLong(5) >= 0 && r.getLong(5) < 64))
    // deterministic: second run identical
    assert(Curation.trainingManifest(corpus, eval_, budget = 64)
      .collect().map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
  }

  test("trainingManifestV2 with neutral model params reduces to trainingManifest") {
    val corpus = (1 to 40).map { i =>
      (i.toLong, if (i % 2 == 0) "w" else "b",
        (1 to 30).map(j => s"t${i}_$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val eval_ = Seq((100L, "t2_1 t2_2 t2_3")).toDF("doc_id", "text")
    val v1 = Curation.trainingManifest(corpus, eval_, budget = 64)
      .select("doc_id", "pack_key", "split", "n_tokens", "seq_id", "seq_offset")
      .collect().map(_.toSeq).toSet
    // threshold -inf + budget inf: stages 2 and 5 are no-ops, so the v2
    // composition must land on exactly the v1 manifest
    val v2 = Curation.trainingManifestV2(corpus, eval_,
        classifierWeights = graft.text.TextAnalysis.defaultClassifierWeights(64),
        classifierBias = -0.25, minLogitMicro = Long.MinValue,
        tokensPerSource = Long.MaxValue, budget = 64)
      .select("doc_id", "pack_key", "split", "n_tokens", "seq_id", "seq_offset")
      .collect().map(_.toSeq).toSet
    assert(v1 == v2)
    // and a binding budget strictly shrinks the kept set per source
    val capped = Curation.trainingManifestV2(corpus, eval_,
        classifierWeights = graft.text.TextAnalysis.defaultClassifierWeights(64),
        classifierBias = -0.25, minLogitMicro = Long.MinValue,
        tokensPerSource = 60L, budget = 64)
      .collect()
    assert(capped.length < v1.size && capped.nonEmpty)
    assert(capped.forall(_.getAs[Long]("cum_tokens") <= 60L))
    // the PB-scale dedup key (hashSig, the c16b path) threads through
    // the composition without changing a single row
    val v2h = Curation.trainingManifestV2(corpus, eval_,
        classifierWeights = graft.text.TextAnalysis.defaultClassifierWeights(64),
        classifierBias = -0.25, minLogitMicro = Long.MinValue,
        tokensPerSource = Long.MaxValue, budget = 64, hashSig = Some(true))
      .select("doc_id", "pack_key", "split", "n_tokens", "seq_id", "seq_offset")
      .collect().map(_.toSeq).toSet
    assert(v2h == v2)
    // ... and the SESSION switch (spark.graft.dedup.hashSig) is the
    // same opt-in without touching the call site — one config flips a
    // 100 TB deployment
    spark.conf.set("spark.graft.dedup.hashSig", "true")
    try {
      val v2c = Curation.trainingManifestV2(corpus, eval_,
          classifierWeights = graft.text.TextAnalysis.defaultClassifierWeights(64),
          classifierBias = -0.25, minLogitMicro = Long.MinValue,
          tokensPerSource = Long.MaxValue, budget = 64)
        .select("doc_id", "pack_key", "split", "n_tokens", "seq_id", "seq_offset")
        .collect().map(_.toSeq).toSet
      assert(v2c == v2)
      // an explicit per-call choice still beats the session conf
      val v2e = Curation.trainingManifestV2(corpus, eval_,
          classifierWeights = graft.text.TextAnalysis.defaultClassifierWeights(64),
          classifierBias = -0.25, minLogitMicro = Long.MinValue,
          tokensPerSource = Long.MaxValue, budget = 64, hashSig = Some(false))
        .select("doc_id", "pack_key", "split", "n_tokens", "seq_id", "seq_offset")
        .collect().map(_.toSeq).toSet
      assert(v2e == v2)
    } finally spark.conf.set("spark.graft.dedup.hashSig", "false")
  }

  test("dedupLinesFirstOccurrence keeps only the globally first instance of a line") {
    val lined = Seq(
      (1L, "a\nb"),
      (2L, "b\nc\nb"), // b twice: both lose to (1, pos 1); c is first here
      (3L, "c")        // later instance of c -> dropped
    ).toDF("doc_id", "text")
    val r = Curation.dedupLinesFirstOccurrence(lined, col("text"), col("doc_id"))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
    assert(r(0) == ((1L, "a\nb", 2L, 0L)))
    assert(r(1) == ((2L, "c", 1L, 2L)))
    assert(r(2) == ((3L, "", 0L, 1L)))
  }

  test("contaminationFraction: hand-counted 3-gram overlap, zero rows survive") {
    val corpus = Seq(
      (1L, "a b c d e"),        // grams: abc bcd cde; abc+bcd hit -> 2/3
      (2L, "x y z w q"),        // no overlap -> 0/3
      (3L, "a b c")             // single gram abc -> 1/1
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "a b c d")).toDF("doc_id", "text") // grams: abc bcd
    val r = Curation.contaminationFraction(corpus, eval_)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r(0) == ((1L, 3L, 2L, 0.666667)))
    assert(r(1) == ((2L, 3L, 0L, 0.0)))
    assert(r(2) == ((3L, 1L, 1L, 1.0)))
  }

  test("qualityFilter: each rule fires on its planted violator, clean doc keeps") {
    val clean = (1 to 30).map(i => s"tok$i").mkString(" ")       // 30 distinct
    val d = Seq(
      (1L, clean),                                               // keep
      (2L, "too short"),                                         // f_len (+ degenerate f_bigram: 1 bigram)
      (3L, ("the a " * 15).trim),                                // f_stop + f_rep + f_bigram
      (4L, (1 to 8).map(i => s"u$i").mkString(" ") + " " +
        Seq.fill(22)("z").mkString(" "))                         // f_rep: dup 1-9/30=0.7
    ).toDF("doc_id", "text")
    val r = Curation.qualityFilter(d, col("text"), col("doc_id"))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getLong(3), x.getLong(4),
        x.getLong(5), x.getLong(6)))
    assert(r(0) == ((1L, 0L, 0L, 0L, 0L, 1L)))
    assert(r(1) == ((2L, 1L, 0L, 0L, 1L, 0L)))
    assert((r(2)._1, r(2)._3, r(2)._4, r(2)._6) == ((3L, 1L, 1L, 0L))) // stop+rep fire
    assert((r(3)._1, r(3)._4, r(3)._6) == ((4L, 1L, 0L)))              // rep fires
  }

  test("tokenBudgetMix keeps the best-ranked prefix within the token budget") {
    val d = Seq(
      (1L, "s", 10L, 5L), (2L, "s", 10L, 4L), (3L, "s", 5L, 3L),
      (4L, "t", 30L, 9L), (5L, "t", 1L, 8L)
    ).toDF("doc_id", "src", "n_tokens", "q")
    def mix(budget: Long) = Curation.tokenBudgetMix(d, col("n_tokens"),
        col("src"), Seq(col("q").desc, col("doc_id")), budget)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(4)))
    // budget 25: s fills exactly (10, 20, 25); t's best doc already crosses
    assert(mix(25L).toSeq == Seq((1L, 10L), (2L, 20L), (3L, 25L)))
    // budget 24: the crossing doc AND everything ranked after it drop
    assert(mix(24L).toSeq == Seq((1L, 10L), (2L, 20L)))
    // budget 31: t keeps both (30, 31)
    assert(mix(31L).map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("tokenBudgetMixCalibrated: identity calibration ≡ plain mix; ratios scale the budget") {
    val d = Seq(
      (1L, "s", "en", 10L, 5L), (2L, "s", "en", 10L, 4L),
      (3L, "s", "zh", 5L, 3L),
      (4L, "t", "zh", 30L, 9L), (5L, "t", "en", 1L, 8L)
    ).toDF("doc_id", "src", "lang", "n_tokens", "q")
    def calibrated(budget: Long, cal: Seq[(String, Double)]) =
      Curation.tokenBudgetMixCalibrated(d, col("n_tokens"), col("lang"),
          col("src"), Seq(col("q").desc, col("doc_id")), budget,
          cal.toDF("lang", "bpe_per_ws"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("cum_bpe_micro")))
    // ratio 1.0 everywhere ≡ the plain whitespace-budget mix (same kept
    // set, cum trail in micro-units)
    val idCal = Seq("en" -> 1.0, "zh" -> 1.0)
    val plain = Curation.tokenBudgetMix(d, col("n_tokens"), col("src"),
        Seq(col("q").desc, col("doc_id")), 25L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cum_tokens")))
    assert(calibrated(25L, idCal).toSeq ==
      plain.map { case (id, c) => (id, c * 1000000L) }.toSeq)
    // an ABSENT lang falls back to ratio 1.0 (identity), never drops
    assert(calibrated(25L, Seq("en" -> 1.0)).map(_._1).toSeq ==
      plain.map(_._1).toSeq)
    // en costs 2× per ws token: source s at budget 25 keeps only doc 1
    // (est 20; doc 2 would cum to 40) where the uncalibrated mix kept
    // docs 1-3 — the calibration genuinely changes the kept set. In t,
    // doc 4 (zh, 30) still crosses, and doc 5's cum includes it (32).
    val twoX = Seq("en" -> 2.0, "zh" -> 1.0)
    assert(calibrated(25L, twoX).map(_._1).toSeq == Seq(1L))
    // fractional ratios stay exact in micro-units: 1.5 × 10 = 15 tokens
    val frac = calibrated(45L, Seq("en" -> 1.5, "zh" -> 1.0))
    assert(frac.toMap.get(1L).contains(15000000L), frac.toSeq.toString)
    assert(frac.toMap.get(2L).contains(30000000L), frac.toSeq.toString)
  }

  test("temperatureSample: exact thresholds, small source kept whole, big source thinned, deterministic") {
    val rows = (0 until 64).map(i => (i.toLong, "big", s"doc unique text $i")) ++
      (100 until 104).map(i => (i.toLong, "small", s"rare source doc $i"))
    val df = rows.toDF("doc_id", "src", "text")
    val thr = Curation.temperatureThresholds(df, col("src"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // n_min=4: big keeps sqrt(4/64)=0.25 -> 250000; small keeps all
    assert(thr == Set(("big", 64L, 250000L), ("small", 4L, 1000000L)))
    val kept = Curation.temperatureSample(df, col("src"), col("text"))
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.getOrElse("small", 0L) == 4L)
    assert(bySrc("big") > 0L && bySrc("big") < 64L)
    // pure function of content: a second run keeps the identical id set
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Curation.temperatureSample(df, col("src"), col("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("epochMix: integer epoch plan, cap binds, unweighted source audited at 0") {
    val df = Seq(
      ("web", 100L), ("web", 100L),   // 200 tokens
      ("code", 50L),                  // 50 tokens
      ("misc", 10L)                   // unweighted
    ).toDF("src", "n")
    val plan = Curation.epochMix(df, col("src"), col("n"),
        Seq("web" -> 500L, "code" -> 500L), budget = 1000L, maxEpochs = 4L)
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // code: target 500, n=50 -> ceil=10 capped at 4 -> effective 200, short 300
    // misc: weight 0 -> target 0, epochs 0, effective 0
    // web: target 500, n=200 -> ceil(2.5)=3 -> effective min(500,600)=500
    assert(plan === Seq(
      ("code", 50L, 500L, 500L, 4L, 200L, 300L),
      ("misc", 10L, 0L, 0L, 0L, 0L, 0L),
      ("web", 200L, 500L, 500L, 3L, 500L, 0L)))
  }

  test("shardManifest: partition of the corpus, stable counts and checksums") {
    val df = Seq((1L, "a b c"), (2L, "d e"), (3L, "f"), (4L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val m = Curation.shardManifest(df, col("text"), col("doc_id"), nShards = 4)
      .collect()
    assert(m.map(_.getAs[Long]("n_docs")).sum == 4L)
    assert(m.map(_.getAs[Long]("n_tokens")).sum == 13L)
    assert(m.forall(r => r.getAs[Long]("shard") >= 0 && r.getAs[Long]("shard") < 4))
    // deterministic: identical manifest on a re-run
    val m2 = Curation.shardManifest(df, col("text"), col("doc_id"), nShards = 4)
      .collect()
    assert(m.map(_.toSeq).toSet == m2.map(_.toSeq).toSet)
  }

  test("keepOnePreferred: priority beats id; ties fall back to lowest id") {
    val df = Seq(
      (1L, "a b c", 1),  // crawl copy, lower id
      (2L, "c b a", 0),  // curated copy (same canonical sig) — must win
      (3L, "x y", 1),
      (4L, "y x", 1)     // same sig, same priority -> id 3 wins
    ).toDF("doc_id", "text", "pri")
    val kept = Curation.keepOnePreferred(df, col("text"), col("doc_id"),
        col("pri"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    // the hashed scale twin agrees row for row (c16b's contract)
    val hashed = Curation.keepOnePreferred(df, col("text"), col("doc_id"),
        col("pri"), hashSig = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hashed == kept)
  }

  test("keepOnePreferred: duplicated id across sources keeps only the " +
      "preferred copy (priority is part of the probe key)") {
    // the cross-corpus merge case the op documents: two sources reuse
    // id 7 for identical text with different priorities — a (sig, id)-
    // only semi join would keep BOTH rows; the (sig, priority, id) key
    // keeps exactly the curated one
    val df = Seq(
      (7L, "a b c", "curated", 0),
      (7L, "c b a", "crawl", 1),
      (9L, "z", "crawl", 1)
    ).toDF("doc_id", "text", "src", "pri")
    val kept = Curation.keepOnePreferred(df, col("text"), col("doc_id"),
        col("pri"))
      .select("doc_id", "src").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((7L, "curated"), (9L, "crawl")))
  }

  test("stratifiedSample: deterministic subset, rate-monotone, rate-0/1000 exact") {
    val df = (1L to 400L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    def keep(rates: Seq[(String, Int)], dflt: Int) =
      Curation.stratifiedSample(df, col("source"), col("doc_id"), rates, dflt)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = keep(Seq("src0" -> 500, "src1" -> 300), 100)
    assert(a == keep(Seq("src0" -> 500, "src1" -> 300), 100)) // replayable
    assert(a.subsetOf((1L to 400L).toSet))
    // raising any rate only ever ADDS rows (threshold semantics)
    assert(a.subsetOf(keep(Seq("src0" -> 900, "src1" -> 300), 100)))
    // degenerate rates are exact: 0 keeps nothing, 1000 keeps everything
    assert(keep(Seq.empty, 0).isEmpty)
    assert(keep(Seq.empty, 1000).size == 400)
  }

  test("epochMix: zero-token source gets epochs 0, no divide-by-zero") {
    val df = Seq(("web", 100L), ("empty", 0L)).toDF("src", "n")
    val plan = Curation.epochMix(df, col("src"), col("n"),
        Seq("web" -> 500L, "empty" -> 500L), budget = 1000L)
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(4), r.getLong(5)))
    assert(plan.toSeq == Seq(("empty", 0L, 0L), ("web", 4L, 400L)))
  }

  test("dedupLinesWithinDoc: first occurrence kept per doc, cross-doc repeats untouched") {
    val df = Seq(
      (1L, "a\nb\na\nc\nb"),   // intra-doc repeats of a and b
      (2L, "a\nb"),            // same lines in another doc: kept (not global)
      (3L, "x"),               // single line
      (4L, ""),                // empty text = one empty line
      (5L, null.asInstanceOf[String])) // NULL text -> NULL output columns
      .toDF("doc_id", "text")
    val r = Curation.dedupLinesWithinDoc(df, col("text"), col("doc_id"))
      .orderBy("doc_id").collect()
    assert(r(0).getString(1) == "a\nb\nc" &&
      r(0).getLong(2) == 5L && r(0).getLong(3) == 3L)
    assert(r(1).getString(1) == "a\nb" && r(1).getLong(3) == 2L)
    assert(r(2).getString(1) == "x")
    assert(r(3).getString(1) == "" && r(3).getLong(2) == 1L)
    assert(r(4).isNullAt(1) && r(4).isNullAt(2) && r(4).isNullAt(3))
  }

  test("dedupLinesWithinDoc plans as a single fused projection (zero shuffles)") {
    val df = Seq((1L, "a\nb\na")).toDF("doc_id", "text")
    val plan = Curation.dedupLinesWithinDoc(df, col("text"), col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("shardManifest: NULL-text documents surface as a NULL-shard audit row") {
    val df = Seq((1L, "a b"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val m = Curation.shardManifest(df, col("text"), col("doc_id"), nShards = 4)
      .collect()
    val nullRow = m.find(_.isNullAt(0))
    assert(nullRow.isDefined, "null-text docs must not vanish from the manifest")
    assert(nullRow.get.getAs[Long]("n_docs") == 1L)
    assert(m.map(_.getAs[Long]("n_docs")).sum == 2L)
  }

  test("incrementalCrawlBatch: batches + replay ≡ one-shot crawlUrlGroups") {
    val tmp = graft.queries.Drives.tempDir("crawl_inc")
    val frontier = Seq(
      (1L, "HTTP://WWW.Example.COM:80/a/?b=2&a=1"),
      (2L, "http://www.example.com/a?a=1&b=2#frag"),    // dup of 1
      (3L, "https://other.example.com/x?UTM_Source=f"),
      (4L, "https://other.example.com/x"),               // dup of 3
      (5L, "http://www.example.com/solo")
    ).toDF("doc_id", "url")
    val oneShot = Curation.crawlUrlGroups(frontier, col("url"), col("doc_id"))
      .orderBy(col("keep_doc_id"))
      .collect().map(_.toSeq).toSeq
    val parts = (0 to 2).map(r =>
      frontier.filter(pmod(col("doc_id"), lit(3)) === r))
    Seq(0L -> parts(0), 1L -> parts(1), 1L -> parts(1) /* replay */,
      2L -> parts(2)).foreach { case (bid, b) =>
      Curation.incrementalCrawlBatch(b, bid, s"$tmp/staged", s"$tmp/groups",
        nBuckets = 4)
    }
    val maintained = spark.read.parquet(s"$tmp/groups")
      .select(col("keep_doc_id"), col("domain"), col("canon_url"),
        col("dup_count"))
      .orderBy(col("keep_doc_id"))
      .collect().map(_.toSeq).toSeq
    assert(maintained == oneShot)
    // and the dedup genuinely merged: 5 fetches -> 3 canonical pages
    assert(oneShot.length == 3)
  }

  test("crawlIngest maintainEvery: reads identical to unmaintained twin, dirs compacted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_crawl_maint")
    val batches = Seq(
      Seq((1L, "HTTP://WWW.Example.COM:80/a/?b=2&a=1"),
        (2L, "http://www.example.com/a?a=1&b=2#f")),
      Seq((3L, "https://other.example.com/x?UTM_Source=f")),
      Seq((4L, "https://other.example.com/x")),
      Seq((5L, "http://www.example.com/solo")))
    val in = MemoryStream[(Long, String)]
    val q = Curation.crawlIngest(in.toDF().toDF("doc_id", "url"),
      s"$base/staged", s"$base/groups", nBuckets = 4, maintainEvery = 2,
      queryName = "crawl_maint_test")
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    batches.zipWithIndex.foreach { case (b, bid) =>
      Curation.incrementalCrawlBatch(b.toDF("doc_id", "url"), bid.toLong,
        s"$base/staged2", s"$base/groups2", nBuckets = 4)
    }
    def readGroups(p: String): Seq[Seq[Any]] =
      spark.read.parquet(s"$base/$p")
        .select(col("keep_doc_id"), col("domain"), col("canon_url"),
          col("dup_count"))
        .orderBy(col("keep_doc_id")).collect().map(_.toSeq).toSeq
    val got = readGroups("groups")
    assert(got == readGroups("groups2"), got.toString)
    assert(got.length == 3) // 5 fetches -> 3 canonical pages
    // maintenance after batch 3 folded committed batches 0-2 into the
    // per-bucket snapshot; batch 3 (uncommitted at maintenance time)
    // rides through as its own partition — replay idempotence
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names(p: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
    names(s"$base/staged").filter(_.startsWith("bucket=")).foreach { b =>
      val bids = names(s"$base/staged/$b")
        .filter(_.startsWith("batch_id=")).sorted
      assert(bids.forall(Set("batch_id=-1", "batch_id=3")), s"$b: $bids")
    }
    // a foreign fence must fail loud, not be auto-recovered
    val fenceRoot = new org.apache.hadoop.fs.Path(
      s"$base/staged.compact_tmp")
    fs.mkdirs(fenceRoot)
    val ownOut = fs.create(
      new org.apache.hadoop.fs.Path(fenceRoot, "_owner"), true)
    ownOut.write("someone_else".getBytes("UTF-8")); ownOut.close()
    val in2 = MemoryStream[(Long, String)]
    val q2 = Curation.crawlIngest(in2.toDF().toDF("doc_id", "url"),
      s"$base/staged", s"$base/groups", nBuckets = 4, maintainEvery = 2,
      queryName = "crawl_maint_test")
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        in2.addData(Seq((6L, "http://www.example.com/new")))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    assert(thrown.getMessage.contains("does not own") ||
      Option(thrown.getCause).exists(_.getMessage.contains("does not own")))
    fs.delete(fenceRoot, true)
  }

  test("splitLeakage: same-signature docs in different splits are flagged") {
    // rolling-hash %100: "x y z"->27 (train), "z y x"->67 (train),
    // "y x z"->87 (val) — one signature {x,y,z} spanning train+val —
    // plus a clean singleton
    val docs = Seq((1L, "x y z"), (2L, "z y x"), (3L, "y x z"),
      (4L, "unique words entirely")).toDF("doc_id", "text")
    val got = Curation.splitLeakage(docs, col("text"))
      .as[(String, Long, Long)].collect().toSet
    val solo = Curation.splitColumn(lit("unique words entirely"))
    val soloSplit = docs.limit(1).select(solo).as[String].head()
    assert(got == Set(("train+val", 1L, 3L), (soloSplit, 1L, 1L)), got)
    // signature-keyed assignment makes cross-split spans structurally
    // impossible: same docs, zero multi-split rows, dup group intact
    val fixed = Curation.splitLeakageBySignature(docs, col("text"))
      .as[(String, Long, Long)].collect().toSeq
    assert(fixed.forall(!_._1.contains("+")), fixed)
    // 2 signatures, 4 docs total — span classes may merge signatures
    // that landed in the same split
    assert(fixed.map(_._2).sum == 2L && fixed.map(_._3).sum == 4L, fixed)
  }

  test("curationFunnel: all four arms fire, attribution is first-stage-wins") {
    // 20+ distinct tokens so every doc intended to survive quality does
    // (length in [20,80], no 'the'/'a', all bigrams unique).
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, "web", base),                                   // 4_kept
      (2L, "web", (1 to 20).map(i => s"tok${21 - i}").mkString(" ")),
      // ^ same token SET as doc 1 -> 3_duplicate
      (3L, "web", ((1 to 17).map(i => s"oth$i") ++
        Seq("zeta", "yota", "kappa")).mkString(" ")),      // 2_contaminated
      (4L, "web", "tiny doc"),                             // 1_quality (length)
      // doc 1's token set again, but padded with repeats past the 0.6
      // dup-token ratio: fails quality FIRST even though it would also
      // be a duplicate — pins sequential attribution.
      (5L, "web", (base + " " + Seq.fill(40)("tok1").mkString(" ")))
    ).toDF("doc_id", "source", "text")
    val evalDocs = Seq("zeta yota kappa").toDF("text")
    val got = Curation.curationFunnel(docs, evalDocs)
      .orderBy(col("stage"))
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("1_quality", 2L, 5L, 0.4),
      ("2_contaminated", 1L, 3L, 0.333333),
      ("3_duplicate", 1L, 2L, 0.5),
      ("4_kept", 1L, 1L, 1.0)))
  }
}
