package graft

import graft.curation.Curation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 hardening of the serving layer: replay-stable publish
  * verdicts, the archive-first torn window closed by the folded-version
  * marker, lying logs refused BEFORE the version archive, stream-owned
  * retention and sig-store compaction, and checkpoint hygiene on deep
  * walk-backs.
  */
class ServingConsistencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def full(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame) =
    Curation.corpusDiffFull(a, b)

  private def thinCl(a: org.apache.spark.sql.DataFrame,
                     b: org.apache.spark.sql.DataFrame) =
    Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Option[String])].collect().toSet

  private def fsFor(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("census verdict is replay-stable: a shipped threshold batch cannot flip to refused on replay") {
    val base = graft.queries.Drives.tempDir("graft_replay_verdict")
    val path = s"$base/snap"; val rep = s"$base/report"
    val snapA = (1L to 10L).map(i => (i, Some(s"doc $i"))).toDF("doc_id", "text")
    // removes EXACTLY the 20% cap: passes against n_old = 10, but would
    // re-judge as 2/8 = 25% against the store the first attempt mutated
    val snapB = snapA.filter($"doc_id" > 2L)
    val rules = Seq("text_not_null" -> col("text").isNotNull)
    val census = Seq("removed_max_20pct" ->
      (col("n_removed") * 5 <= col("n_old")))
    assert(Curation.guardedSnapshotApplyBatch(thinCl(snapA.limit(0), snapA),
      0L, path, rep, rules, nBuckets = 2, censusRules = census))
    assert(Curation.guardedSnapshotApplyBatch(thinCl(snapA, snapB), 1L,
      path, rep, rules, nBuckets = 2, censusRules = census))
    // the at-least-once replay of the SAME batch id: the recorded
    // verdict is reused — re-deriving n_old from the live store (now 8)
    // would refuse a batch that actually applied and overwrite its
    // report with a failing verdict
    assert(Curation.guardedSnapshotApplyBatch(thinCl(snapA, snapB), 1L,
      path, rep, rules, nBuckets = 2, censusRules = census),
      "replayed shipped batch flipped to refused")
    assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapB))
    // the audit trail still carries the ORIGINAL passing verdict
    val recorded = spark.read.parquet(rep).filter(col("batch_id") === 1L)
      .select("rule", "pass").as[(String, Long)].collect().toMap
    assert(recorded("removed_max_20pct") == 1L)
    // and a genuinely NEW batch still validates fresh against the store
    assert(!Curation.guardedSnapshotApplyBatch(
      thinCl(snapB, snapB.filter($"doc_id" > 5L)), 2L,
      path, rep, rules, nBuckets = 2, censusRules = census))
  }

  test("readBatchVerdict: absent until the report commits, then the recorded verdict") {
    val base = graft.queries.Drives.tempDir("graft_verdict_read")
    val rep = s"$base/report"
    assert(Curation.readBatchVerdict(spark, rep, 0L).isEmpty)
    val batch = Seq((1L, Some("one"))).toDF("doc_id", "text")
    assert(graft.ops.Expectations.validateBatch(batch, 0L, rep,
      Seq("text_not_null" -> col("text").isNotNull)))
    assert(Curation.readBatchVerdict(spark, rep, 0L).contains(true))
    assert(!graft.ops.Expectations.validateBatch(
      Seq((2L, None: Option[String])).toDF("doc_id", "text"), 1L, rep,
      Seq("text_not_null" -> col("text").isNotNull)))
    assert(Curation.readBatchVerdict(spark, rep, 1L).contains(false))
    assert(Curation.readBatchVerdict(spark, rep, 2L).isEmpty)
  }

  test("as-of walk-back is capped at the folded-version marker: an archived, not-yet-folded log is invisible") {
    val base = graft.queries.Drives.tempDir("graft_torn_window")
    val snapA = Seq((1L, Some("one")), (2L, Some("two"))).toDF("doc_id", "text")
    val snapB = Seq((1L, Some("one v2")), (3L, Some("three"))).toDF("doc_id", "text")
    val snapC = Seq((3L, Some("three")), (4L, Some("four"))).toDF("doc_id", "text")
    Curation.versionedSnapshotApplyBatch(full(snapA.limit(0), snapA),
      base, 0L, nBuckets = 2)
    Curation.versionedSnapshotApplyBatch(full(snapA, snapB),
      base, 1L, nBuckets = 2)
    // simulate the archive-first crash window: version 2's log lands in
    // the archive, the fold never runs (no marker move)
    full(snapB, snapC).withColumn("version", lit(2L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("version").parquet(s"$base/log")
    // every as-of read during the window is CORRECT: the walk-back
    // never inverts the not-yet-folded log (inverting it would undo
    // changes the snapshot does not contain)
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 1L)) == asSet(snapB))
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 0L)) == asSet(snapA))
    // as-of the in-flight version serves the last APPLIED state
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 2L)) == asSet(snapB))
    // the replay completes the batch; history extends past it
    Curation.versionedSnapshotApplyBatch(full(snapB, snapC),
      base, 2L, nBuckets = 2)
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 2L)) == asSet(snapC))
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 1L)) == asSet(snapB))
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 0L)) == asSet(snapA))
  }

  test("a duplicate-id log is refused BEFORE the version archive — no phantom history") {
    val base = graft.queries.Drives.tempDir("graft_no_phantom")
    val snapA = Seq((1L, Some("one")), (2L, Some("two"))).toDF("doc_id", "text")
    Curation.versionedSnapshotApplyBatch(full(snapA.limit(0), snapA),
      base, 0L, nBuckets = 2)
    val lying = Seq(
      (1L, "removed", Some("one"), None: Option[String]),
      (1L, "added", None: Option[String], Some("one B")))
      .toDF("doc_id", "status", "old_text", "new_text")
    val e = intercept[IllegalStateException] {
      Curation.versionedSnapshotApplyBatch(lying, base, 1L, nBuckets = 2)
    }
    assert(e.getMessage.contains("duplicate rows"), e.getMessage)
    // nothing landed: no archived version dir, snapshot untouched, and
    // the history below it still serves (pre-fix, the durably archived
    // phantom would corrupt every earlier as-of read forever)
    assert(!fsFor(base).exists(
      new org.apache.hadoop.fs.Path(s"$base/log/version=1")))
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 0L)) == asSet(snapA))
    // the managed composite (ungated) refuses pre-archive too
    val mBase = graft.queries.Drives.tempDir("graft_no_phantom_managed")
    assert(Curation.managedVersionedApplyBatch(full(snapA.limit(0), snapA),
      0L, s"$mBase/corpus", s"$mBase/sig", s"$mBase/report",
      Seq("id_not_null" -> col("doc_id").isNotNull), nBuckets = 2))
    val e2 = intercept[IllegalStateException] {
      Curation.managedVersionedApplyBatch(lying, 1L, s"$mBase/corpus",
        s"$mBase/sig", s"$mBase/report",
        Seq("id_not_null" -> col("doc_id").isNotNull), nBuckets = 2)
    }
    assert(e2.getMessage.contains("duplicate rows"), e2.getMessage)
    assert(!fsFor(mBase).exists(
      new org.apache.hadoop.fs.Path(s"$mBase/corpus/log/version=1")))
    assert(asSet(Curation.readSnapshot(spark, s"$mBase/corpus/snap"))
      == asSet(snapA))
  }

  test("managedVersionedIngest: guardUniqueIds quarantines a lying batch without killing the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_mv_uniq_ingest")
    val in = MemoryStream[(Long, String, String, String)]
    val q = Curation.managedVersionedIngest(
      in.toDF().toDF("doc_id", "status", "old_text", "new_text"),
      s"$base/corpus", s"$base/sig", s"$base/report",
      rules = Seq("id_not_null" -> col("doc_id").isNotNull),
      nBuckets = 2, queryName = "mv_uniq_ingest_test",
      guardUniqueIds = true)
    try {
      in.addData((1L, "added", null, "one"), (2L, "added", null, "two"))
      q.processAllAvailable()
      // batch 1 is a lying log: removed + re-added id in ONE log
      in.addData((1L, "removed", "one", null), (1L, "added", null, "one B"))
      q.processAllAvailable() // quarantined, NOT a stream crash
      in.addData((3L, "added", null, "three"))
      q.processAllAvailable()
      assert(q.isActive, "stream died on a guarded lying log")
      // the lying version never existed; later history is intact
      assert(!fsFor(base).exists(
        new org.apache.hadoop.fs.Path(s"$base/corpus/log/version=1")))
      val got = (v: Long) =>
        Curation.readSnapshotAsOf(spark, s"$base/corpus", v)
          .as[(Long, String)].collect().toSet
      assert(got(2L) == Set((1L, "one"), (2L, "two"), (3L, "three")))
      assert(got(1L) == Set((1L, "one"), (2L, "two")))
      val line = spark.read.parquet(s"$base/report")
        .filter(col("batch_id") === 1L && col("rule") === "changelog_id_unique")
        .select("pass").as[Long].collect().toSeq
      assert(line == Seq(0L))
    } finally q.stop()
  }

  test("managedVersionedIngest: retainVersions bounds the archive, floor refuses below, serves at") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_mv_retain")
    val in = MemoryStream[(Long, String, String, String)]
    val q = Curation.managedVersionedIngest(
      in.toDF().toDF("doc_id", "status", "old_text", "new_text"),
      s"$base/corpus", s"$base/sig", s"$base/report",
      rules = Seq("id_not_null" -> col("doc_id").isNotNull),
      nBuckets = 2, queryName = "mv_retain_ingest_test",
      retainVersions = Some(1L), pruneEvery = 1)
    try {
      in.addData((1L, "added", null, "one")); q.processAllAvailable()
      in.addData((2L, "added", null, "two")); q.processAllAvailable()
      in.addData((1L, "changed", "one", "one v2")); q.processAllAvailable()
      // floor advanced to 2 − 1 = 1: version 0's log is gone
      assert(!fsFor(base).exists(
        new org.apache.hadoop.fs.Path(s"$base/corpus/log/version=0")))
      val got = (v: Long) =>
        Curation.readSnapshotAsOf(spark, s"$base/corpus", v)
          .as[(Long, String)].collect().toSet
      assert(got(2L) == Set((1L, "one v2"), (2L, "two")))
      assert(got(1L) == Set((1L, "one"), (2L, "two"))) // at the floor
      val e = intercept[IllegalStateException] {
        Curation.readSnapshotAsOf(spark, s"$base/corpus", 0L)
      }
      assert(e.getMessage.contains("prune floor"), e.getMessage)
    } finally q.stop()
  }

  test("pruneSnapshotVersions is monotone: a lower floor cannot re-promise pruned history") {
    val base = graft.queries.Drives.tempDir("graft_prune_monotone")
    val snapA = Seq((1L, Some("one"))).toDF("doc_id", "text")
    val snapB = Seq((1L, Some("one")), (2L, Some("two"))).toDF("doc_id", "text")
    Curation.versionedSnapshotApplyBatch(full(snapA.limit(0), snapA),
      base, 0L, nBuckets = 2)
    Curation.versionedSnapshotApplyBatch(full(snapA, snapB),
      base, 1L, nBuckets = 2)
    Curation.pruneSnapshotVersions(spark, base, 0L)
    // a shrunken retention knob after a restart asks for a LOWER floor:
    // the logs under the old floor are gone — no-op, never a regression
    Curation.pruneSnapshotVersions(spark, base, -1L)
    val e = intercept[IllegalStateException] {
      Curation.readSnapshotAsOf(spark, base, -1L)
    }
    assert(e.getMessage.contains("prune floor"), e.getMessage)
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 0L)) == asSet(snapA))
  }

  test("managedCorpusIngest: compactEvery squashes the sig store mid-stream without changing its census") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_mc_compact")
    val in = MemoryStream[(Long, String, String, String)]
    val q = Curation.managedCorpusIngest(
      in.toDF().toDF("doc_id", "status", "old_text", "new_text"),
      s"$base/snap", s"$base/sig", s"$base/report",
      rules = Seq("id_not_null" -> col("doc_id").isNotNull),
      nBuckets = 2, queryName = "mc_compact_ingest_test",
      compactEvery = 2)
    try {
      in.addData((1L, "added", null, "a b"), (2L, "added", null, "c"))
      q.processAllAvailable()
      in.addData((3L, "added", null, "a b")); q.processAllAvailable()
      in.addData((2L, "changed", "c", "c d")); q.processAllAvailable()
      in.addData((4L, "added", null, "e")); q.processAllAvailable()
      assert(Curation.readSigStore(spark, s"$base/sig")
        .as[(String, Long)].collect().toMap ==
        Map("a b" -> 2L, "c d" -> 1L, "e" -> 1L))
      // the per-batch dirs actually squashed: every bucket holds at most
      // the snapshot partition plus the not-yet-committed tail batches
      val fs = fsFor(s"$base/sig")
      val root = new org.apache.hadoop.fs.Path(s"$base/sig")
      fs.listStatus(root).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("bucket=")).foreach { b =>
          val batchDirs = fs.listStatus(b.getPath).filter(_.isDirectory)
            .map(_.getPath.getName).filter(_.startsWith("batch_id="))
          assert(batchDirs.length <= 3,
            s"bucket ${b.getPath.getName} kept ${batchDirs.mkString(",")}")
        }
    } finally q.stop()
  }

  test("managedCorpusApplyBatchIsolated: quarantine commits nothing, readers race whole batches, replay reuses the verdict") {
    val base = graft.queries.Drives.tempDir("graft_managed_iso")
    val store = s"$base/store"
    val snapA = (1L to 10L).map(i => (i, Some(s"doc $i"))).toDF("doc_id", "text")
    val snapB = snapA.filter($"doc_id" > 2L) // exactly the 20% census cap
    val rules = Seq("id_not_null" -> col("doc_id").isNotNull)
    val census = Seq("removed_max_20pct" ->
      (col("n_removed") * 5 <= col("n_old")))
    def apply(bid: Long, log: org.apache.spark.sql.DataFrame) =
      Curation.managedCorpusApplyBatchIsolated(log, bid, store,
        s"$base/sig", s"$base/report", rules, censusRules = census,
        nBuckets = 2)
    assert(apply(0L, full(snapA.limit(0), snapA)))
    // a reader resolved before the mass delete / refresh sequence …
    val reader = Curation.readSnapshotCommitted(spark, store)
    // mass delete (80%): REFUSED — no manifest generation, store intact
    assert(!apply(1L, full(snapA, snapA.filter($"doc_id" > 8L))))
    val fs = fsFor(store)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/gen=1")))
    assert(asSet(Curation.readSnapshotCommitted(spark, store)) == asSet(snapA))
    // the threshold refresh ships; the replay must reuse the verdict
    // (n_old re-derived from the committed manifest would read 8 and
    // flip the 2-of-10 removal to refused)
    assert(apply(2L, full(snapA, snapB)))
    assert(apply(2L, full(snapA, snapB)), "replay flipped to refused")
    assert(asSet(Curation.readSnapshotCommitted(spark, store)) == asSet(snapB))
    // … still serves the corpus it resolved, through all of the above
    assert(asSet(reader) == asSet(snapA))
    // the sig store reflects only the shipped batches (committed read)
    assert(Curation.readSigStoreCommitted(spark, s"$base/sig")
      .as[(String, Long)].collect().toMap ==
      asSet(snapB).toSeq.flatMap(_._2)
        .map(t => t.split(" ").distinct.sorted.mkString(" "))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong })
  }

  test("managedCorpusIngestIsolated: streamed gated folds with GC + compaction cadences") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_managed_iso_ingest")
    val in = MemoryStream[(Long, String, String, String)]
    val q = Curation.managedCorpusIngestIsolated(
      in.toDF().toDF("doc_id", "status", "old_text", "new_text"),
      s"$base/store", s"$base/sig", s"$base/report",
      rules = Seq("id_not_null" -> col("doc_id").isNotNull),
      nBuckets = 2, queryName = "mi_ingest_test",
      retainManifests = 1, pruneEvery = 2, compactEvery = 2)
    try {
      in.addData((1L, "added", null, "a b"), (2L, "added", null, "c"))
      q.processAllAvailable()
      in.addData((1L, "changed", "a b", "a b2")); q.processAllAvailable()
      in.addData((3L, "added", null, "d")); q.processAllAvailable()
      assert(Curation.readSnapshotCommitted(spark, s"$base/store")
        .as[(Long, String)].collect().toSet ==
        Set((1L, "a b2"), (2L, "c"), (3L, "d")))
      assert(Curation.readSigStoreCommitted(spark, s"$base/sig")
        .as[(String, Long)].collect().toMap ==
        Map("a b2" -> 1L, "c" -> 1L, "d" -> 1L))
    } finally q.stop()
  }

  test("crash-injection property: every torn prefix of the versioned write order serves correct reads and converges on replay") {
    // the write order is validate → archive → fold snapshot → fold sig
    // → marker; a crash can land after ANY prefix. For each crash
    // point this drives the prefix through the same public APIs the
    // composite uses, asserts every as-of read DURING the torn window
    // is a corpus that actually existed (the marker-cap claim), then
    // replays the full batch and asserts total convergence — snapshot,
    // history, and sig census.
    val snapA = (1L to 12L).map(i => (i, Some(s"doc $i"))).toDF("doc_id", "text")
    val snapB = snapA.filter($"doc_id" > 2L)
      .unionByName(Seq((13L, Some("new b"))).toDF("doc_id", "text"))
    val rules = Seq("id_not_null" -> col("doc_id").isNotNull)
    def census(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("text").isNotNull)
        .select(col("text")).as[String].collect()
        .map(t => t.split(" ").distinct.sorted.mkString(" "))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (crashAfter <- Seq("report", "archive", "snap", "sig")) Checkpoint.scope {
      val base = graft.queries.Drives.tempDir(s"graft_crash_$crashAfter")
      val corpus = s"$base/corpus"
      def applyFull(v: Long, log: org.apache.spark.sql.DataFrame) =
        Curation.managedVersionedApplyBatch(log, v, corpus, s"$base/sig",
          s"$base/report", rules, nBuckets = 2)
      assert(applyFull(0L, full(snapA.limit(0), snapA)))
      val log1 = Checkpoint(full(snapA, snapB))
      // drive the torn prefix
      val steps = Seq("report", "archive", "snap", "sig")
      steps.take(steps.indexOf(crashAfter) + 1).foreach {
        case "report" =>
          assert(Curation.validateSnapshotBatch(
            log1.select(col("doc_id"), col("status"),
              col("new_text").as("text")),
            1L, s"$corpus/snap", s"$base/report", rules))
        case "archive" =>
          log1.withColumn("version", lit(1L))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("version").parquet(s"$corpus/log")
        case "snap" =>
          Curation.snapshotApplyBatch(
            log1.select(col("doc_id"), col("status"),
              col("new_text").as("text")),
            s"$corpus/snap", nBuckets = 2)
        case "sig" =>
          Curation.sigStoreApplyBatch(log1, s"$base/sig", 1L, nBuckets = 2)
      }
      // torn-window reads: as-of 0 must be A in every crash state
      // except past the snapshot fold (where the marker is still 0 and
      // the store already holds B — v1's corpus served labeled v0, the
      // documented benign residue of the one torn state the marker
      // cannot cover; it is still a corpus that EXISTED)
      val asOf0 = asSet(Curation.readSnapshotAsOf(spark, corpus, 0L))
      if (crashAfter == "report" || crashAfter == "archive")
        assert(asOf0 == asSet(snapA),
          s"crash=$crashAfter: torn as-of(0) diverged")
      else assert(asOf0 == asSet(snapB),
        s"crash=$crashAfter: expected the documented benign mislabel")
      // the replay converges everything
      assert(applyFull(1L, full(snapA, snapB)),
        s"crash=$crashAfter: replay refused a shipped batch")
      assert(asSet(Curation.readSnapshot(spark, s"$corpus/snap"))
        == asSet(snapB), s"crash=$crashAfter: head diverged")
      assert(asSet(Curation.readSnapshotAsOf(spark, corpus, 0L))
        == asSet(snapA), s"crash=$crashAfter: post-replay as-of(0)")
      assert(asSet(Curation.readSnapshotAsOf(spark, corpus, 1L))
        == asSet(snapB), s"crash=$crashAfter: post-replay as-of(1)")
      assert(Curation.readSigStore(spark, s"$base/sig")
        .as[(String, Long)].collect().toMap == census(snapB),
        s"crash=$crashAfter: sig census diverged")
    }
  }

  test("versioned-isolated: a reader holding an old manifest survives a concurrent fold AND a concurrent as-of walk-back stays pinned") {
    val base = graft.queries.Drives.tempDir("graft_vi_reader")
    val corpus = s"$base/corpus"
    val snapA = (1L to 10L).map(i => (i, Some(s"doc $i"))).toDF("doc_id", "text")
    val snapB = snapA.filter($"doc_id" > 1L)
      .unionByName(Seq((11L, Some("new b"))).toDF("doc_id", "text"))
    val snapC = snapB.filter($"doc_id" > 3L)
    val rules = Seq("id_not_null" -> col("doc_id").isNotNull)
    def apply(v: Long, log: org.apache.spark.sql.DataFrame) =
      Curation.managedVersionedApplyBatchIsolated(log, v, corpus,
        s"$base/sig", s"$base/report", rules, nBuckets = 2)
    assert(apply(0L, full(snapA.limit(0), snapA)))
    assert(apply(1L, full(snapA, snapB)))
    // resolve BOTH read shapes against the v1 manifest …
    val head = Curation.readSnapshotCommitted(spark, s"$corpus/snap")
    val asOf0 = Curation.readSnapshotAsOfCommitted(spark, corpus, 0L)
    // … a newer batch folds while both frames are open …
    assert(apply(2L, full(snapB, snapC)))
    // … and both keep serving the state they resolved: the fold wrote
    // only its own generation + manifest, and the walk-back's cap and
    // corpus came from ONE resolution, so neither frame can see v2
    assert(asSet(head) == asSet(snapB), "open committed read moved")
    assert(asSet(asOf0) == asSet(snapA), "open as-of read moved")
    // fresh reads see the new commit at every version
    assert(asSet(Curation.readSnapshotCommitted(spark, s"$corpus/snap"))
      == asSet(snapC))
    assert(asSet(Curation.readSnapshotAsOfCommitted(spark, corpus, 2L))
      == asSet(snapC))
    assert(asSet(Curation.readSnapshotAsOfCommitted(spark, corpus, 1L))
      == asSet(snapB))
    assert(asSet(Curation.readSnapshotAsOfCommitted(spark, corpus, 0L))
      == asSet(snapA))
  }

  test("crash-injection property: the ISOLATED versioned write order has NO torn window — every prefix serves correctly-labeled reads") {
    // write order: validate → archive → fold (manifest rename = corpus
    // publish AND walk-back cap, atomically) → sig. Unlike the in-place
    // property above — where the fold-to-marker prefix serves v1's
    // corpus labeled v0, the documented benign residue — here as-of(0)
    // must be EXACTLY snapA in all four torn prefixes: before the
    // rename the archived log is invisible, after it the corpus and
    // the cap moved together.
    val snapA = (1L to 12L).map(i => (i, Some(s"doc $i"))).toDF("doc_id", "text")
    val snapB = snapA.filter($"doc_id" > 2L)
      .unionByName(Seq((13L, Some("new b"))).toDF("doc_id", "text"))
    val rules = Seq("id_not_null" -> col("doc_id").isNotNull)
    def census(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("text").isNotNull)
        .select(col("text")).as[String].collect()
        .map(t => t.split(" ").distinct.sorted.mkString(" "))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (crashAfter <- Seq("report", "archive", "snap", "sig")) Checkpoint.scope {
      val base = graft.queries.Drives.tempDir(s"graft_vi_crash_$crashAfter")
      val corpus = s"$base/corpus"
      def applyFull(v: Long, log: org.apache.spark.sql.DataFrame) =
        Curation.managedVersionedApplyBatchIsolated(log, v, corpus,
          s"$base/sig", s"$base/report", rules, nBuckets = 2)
      assert(applyFull(0L, full(snapA.limit(0), snapA)))
      val log1 = Checkpoint(full(snapA, snapB))
      val steps = Seq("report", "archive", "snap", "sig")
      steps.take(steps.indexOf(crashAfter) + 1).foreach {
        case "report" =>
          assert(Curation.validateSnapshotBatch(
            log1.select(col("doc_id"), col("status"),
              col("new_text").as("text")),
            1L, s"$corpus/snap", s"$base/report", rules))
        case "archive" =>
          log1.withColumn("version", lit(1L))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("version").parquet(s"$corpus/log")
        case "snap" =>
          Curation.snapshotApplyBatchIsolated(
            log1.select(col("doc_id"), col("status"),
              col("new_text").as("text")),
            s"$corpus/snap", 1L, nBuckets = 2)
        case "sig" =>
          Curation.sigStoreApplyBatchCommitted(log1, s"$base/sig", 1L,
            nBuckets = 2)
      }
      // torn-window reads: version 0 is snapA in EVERY prefix, and
      // version 1 is exactly the state its commit point defines
      assert(asSet(Curation.readSnapshotAsOfCommitted(spark, corpus, 0L))
        == asSet(snapA), s"crash=$crashAfter: torn as-of(0) mislabeled")
      val expect1 =
        if (crashAfter == "report" || crashAfter == "archive") snapA
        else snapB
      assert(asSet(Curation.readSnapshotAsOfCommitted(spark, corpus, 1L))
        == asSet(expect1), s"crash=$crashAfter: torn as-of(1)")
      // the replay converges everything
      assert(applyFull(1L, full(snapA, snapB)),
        s"crash=$crashAfter: replay refused a shipped batch")
      assert(asSet(Curation.readSnapshotCommitted(spark, s"$corpus/snap"))
        == asSet(snapB), s"crash=$crashAfter: head diverged")
      assert(asSet(Curation.readSnapshotAsOfCommitted(spark, corpus, 0L))
        == asSet(snapA), s"crash=$crashAfter: post-replay as-of(0)")
      assert(asSet(Curation.readSnapshotAsOfCommitted(spark, corpus, 1L))
        == asSet(snapB), s"crash=$crashAfter: post-replay as-of(1)")
      assert(Curation.readSigStoreCommitted(spark, s"$base/sig")
        .as[(String, Long)].collect().toMap == census(snapB),
        s"crash=$crashAfter: sig census diverged")
    }
  }

  test("managedVersionedIngestIsolated: streamed composite with all three retention cadences") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_vi_ingest")
    val in = MemoryStream[(Long, String, String, String)]
    val q = Curation.managedVersionedIngestIsolated(
      in.toDF().toDF("doc_id", "status", "old_text", "new_text"),
      s"$base/corpus", s"$base/sig", s"$base/report",
      rules = Seq("id_not_null" -> col("doc_id").isNotNull),
      nBuckets = 2, queryName = "vi_ingest_test",
      retainVersions = Some(1L), retainManifests = 2, pruneEvery = 1,
      compactEvery = 2)
    try {
      in.addData((1L, "added", null, "one")); q.processAllAvailable()
      in.addData((2L, "added", null, "two")); q.processAllAvailable()
      in.addData((1L, "changed", "one", "one v2")); q.processAllAvailable()
      // log floor advanced to 2 − 1 = 1: version 0's archived log gone
      assert(!fsFor(base).exists(
        new org.apache.hadoop.fs.Path(s"$base/corpus/log/version=0")))
      val got = (v: Long) =>
        Curation.readSnapshotAsOfCommitted(spark, s"$base/corpus", v)
          .as[(Long, String)].collect().toSet
      assert(got(2L) == Set((1L, "one v2"), (2L, "two")))
      assert(got(1L) == Set((1L, "one"), (2L, "two"))) // at the floor
      val e = intercept[IllegalStateException] {
        Curation.readSnapshotAsOfCommitted(spark, s"$base/corpus", 0L)
      }
      assert(e.getMessage.contains("prune floor"), e.getMessage)
      // gen GC ran on the same cadence: manifests bounded by the tail
      val fs = fsFor(base)
      val nManifests = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$base/corpus/snap"))
        .map(_.getPath.getName)
        .count(n => n.startsWith("_graft_manifest_") && !n.endsWith(".tmp"))
      assert(nManifests <= 2, s"gen GC did not run: $nManifests manifests")
      // sig compaction ran without changing the census
      assert(Curation.readSigStoreCommitted(spark, s"$base/sig")
        .as[(String, Long)].collect().toMap ==
        Map("one v2" -> 1L, "two" -> 1L))
    } finally q.stop()
  }

  test("managedVersionedIngestIsolated: guardUniqueIds quarantines a lying batch — no version, no manifest, stream alive") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_vi_uniq_ingest")
    val in = MemoryStream[(Long, String, String, String)]
    val q = Curation.managedVersionedIngestIsolated(
      in.toDF().toDF("doc_id", "status", "old_text", "new_text"),
      s"$base/corpus", s"$base/sig", s"$base/report",
      rules = Seq("id_not_null" -> col("doc_id").isNotNull),
      nBuckets = 2, queryName = "vi_uniq_ingest_test",
      guardUniqueIds = true)
    try {
      in.addData((1L, "added", null, "one"), (2L, "added", null, "two"))
      q.processAllAvailable()
      // batch 1 is a lying log: removed + re-added id in ONE log
      in.addData((1L, "removed", "one", null), (1L, "added", null, "one B"))
      q.processAllAvailable() // quarantined, NOT a stream crash
      in.addData((3L, "added", null, "three"))
      q.processAllAvailable()
      assert(q.isActive, "stream died on a guarded lying log")
      // the lying version never existed in ANY store: no archived log,
      // no snapshot generation, and later history is intact
      assert(!fsFor(base).exists(
        new org.apache.hadoop.fs.Path(s"$base/corpus/log/version=1")))
      assert(!fsFor(base).exists(
        new org.apache.hadoop.fs.Path(s"$base/corpus/snap/gen=1")))
      val got = (v: Long) =>
        Curation.readSnapshotAsOfCommitted(spark, s"$base/corpus", v)
          .as[(Long, String)].collect().toSet
      assert(got(2L) == Set((1L, "one"), (2L, "two"), (3L, "three")))
      assert(got(1L) == Set((1L, "one"), (2L, "two")))
      val line = spark.read.parquet(s"$base/report")
        .filter(col("batch_id") === 1L && col("rule") === "changelog_id_unique")
        .select("pass").as[Long].collect().toSeq
      assert(line == Seq(0L))
    } finally q.stop()
  }

  test("changesBetweenVersions: the unfolded archive is invisible, the floor refuses, degenerate reads are empty") {
    val base = graft.queries.Drives.tempDir("graft_cbv_guards")
    val snapA = Seq((1L, Some("one")), (2L, Some("two"))).toDF("doc_id", "text")
    val snapB = Seq((1L, Some("one v2")), (3L, Some("three"))).toDF("doc_id", "text")
    val snapC = Seq((3L, Some("three")), (4L, Some("four"))).toDF("doc_id", "text")
    def logSet(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, String, Option[String], Option[String])].collect().toSet
    Curation.versionedSnapshotApplyBatch(full(snapA.limit(0), snapA),
      base, 0L, nBuckets = 2)
    Curation.versionedSnapshotApplyBatch(full(snapA, snapB),
      base, 1L, nBuckets = 2)
    // the archive-first crash window: v2's log archived, never folded —
    // the feed must stop at the folded-through cap (serving the
    // unfolded hop would describe a corpus the store never committed)
    full(snapB, snapC).withColumn("version", lit(2L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("version").parquet(s"$base/log")
    assert(logSet(Curation.changesBetweenVersions(spark, base, 0L, 2L))
      == logSet(full(snapA, snapB).filter(col("status") =!= "unchanged")),
      "unfolded archived log leaked into the feed")
    // the replay completes the hop; the feed extends to it
    Curation.versionedSnapshotApplyBatch(full(snapB, snapC),
      base, 2L, nBuckets = 2)
    assert(logSet(Curation.changesBetweenVersions(spark, base, 0L, 2L))
      == logSet(full(snapA, snapC).filter(col("status") =!= "unchanged")))
    // from == to is an empty feed; a from below the prune floor refuses
    assert(Curation.changesBetweenVersions(spark, base, 1L, 1L).count() == 0)
    Curation.pruneSnapshotVersions(spark, base, 0L)
    val e = intercept[IllegalStateException] {
      Curation.changesBetweenVersions(spark, base, -1L, 2L)
    }
    assert(e.getMessage.contains("prune floor"), e.getMessage)
    assert(logSet(Curation.changesBetweenVersions(spark, base, 1L, 2L))
      == logSet(full(snapB, snapC).filter(col("status") =!= "unchanged")))
    // the committed variant: a virgin store serves an empty feed
    val virgin = graft.queries.Drives.tempDir("graft_cbv_virgin")
    assert(Curation.changesBetweenVersionsCommitted(spark,
      s"$virgin/corpus", 0L, 5L).count() == 0)
  }

  test("deep walk-back and catch-up leave no orphaned checkpoint blocks") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (0 to 24).map(v => (1L to 6L)
      .map(i => (i, Some(s"doc $i v${v - v % (i.toInt + 1)}")))
      .toDF("doc_id", "text"))
    val base = graft.queries.Drives.tempDir("graft_ck_release")
    (chain.head.limit(0) +: chain).sliding(2).zipWithIndex.foreach {
      case (Seq(a, b), v) =>
        Curation.versionedSnapshotApplyBatch(full(a, b), base, v.toLong,
          nBuckets = 2)
    }
    // 25 versions → the as-of(0) walk-back folds 24 inverted logs with
    // multiple lineage checkpoints — chain-released down to at most the
    // final accumulator
    assert(asSet(Curation.readSnapshotAsOf(spark, base, 0L))
      == asSet(chain.head))
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      s"walk-back leaked checkpoints: $before -> " +
        s"${spark.sparkContext.getPersistentRDDs.size}")
    // catch-up releases EVERYTHING once its fold materializes
    val logs = (chain.head.limit(0) +: chain).sliding(2).toSeq.map {
      case Seq(a, b) => thinCl(a, b)
    }
    val p2 = s"${graft.queries.Drives.tempDir("graft_ck_release_cu")}/snap"
    Curation.snapshotCatchUp(logs, p2, nBuckets = 2)
    assert(asSet(Curation.readSnapshot(spark, p2)) == asSet(chain.last))
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      "catch-up leaked checkpoints")
  }
}
