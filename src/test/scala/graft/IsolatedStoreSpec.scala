package graft

import graft.curation.Curation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reader-ISOLATED snapshot store: manifest-committed generation
  * dirs, so readers never see a fold's partial state — the round-18
  * answer to the in-place store's single-reader contract.
  */
class IsolatedStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cl(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame) =
    Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Option[String])].collect().toSet

  private lazy val snapA = (1L to 30L).map(i => (i, Some(s"doc $i")))
    .toDF("doc_id", "text").localCheckpoint(true)
  private lazy val snapB = snapA.filter($"doc_id" % 3 =!= 0L)
    .unionByName(Seq((100L, Some("new b"))).toDF("doc_id", "text"))
    .localCheckpoint(true)
  private lazy val snapC = snapB.filter($"doc_id" % 5 =!= 0L)
    .unionByName(Seq((3L, Some("doc 3")), (200L, None: Option[String]))
      .toDF("doc_id", "text")).localCheckpoint(true)

  test("fold + committed read round-trips a three-batch history") {
    val p = s"${graft.queries.Drives.tempDir("graft_iso_basic")}/store"
    Curation.snapshotApplyBatchIsolated(cl(snapA.limit(0), snapA), p, 0L,
      nBuckets = 4)
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapA))
    Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 1L, nBuckets = 4)
    Curation.snapshotApplyBatchIsolated(cl(snapB, snapC), p, 2L, nBuckets = 4)
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapC))
    // matches the in-place store bit for bit
    val q = s"${graft.queries.Drives.tempDir("graft_iso_vs_inplace")}/snap"
    Seq(cl(snapA.limit(0), snapA), cl(snapA, snapB), cl(snapB, snapC))
      .foreach(Curation.snapshotApplyBatch(_, q, nBuckets = 4))
    assert(asSet(Curation.readSnapshotCommitted(spark, p))
      == asSet(Curation.readSnapshot(spark, q)))
  }

  test("a reader holding the previous manifest is untouched by a concurrent fold") {
    val p = s"${graft.queries.Drives.tempDir("graft_iso_reader")}/store"
    Curation.snapshotApplyBatchIsolated(cl(snapA.limit(0), snapA), p, 0L,
      nBuckets = 4)
    // the reader resolves the manifest NOW (plan build time) …
    val reader = Curation.readSnapshotCommitted(spark, p)
    // … a fold commits a new generation while the reader is open …
    Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 1L, nBuckets = 4)
    // … and the reader still serves its snapshot: the fold wrote only
    // its own gen dir and a new manifest, never a file the old
    // manifest references (the in-place store would have dynamic-
    // overwritten the touched buckets out from under this plan)
    assert(asSet(reader) == asSet(snapA))
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapB))
  }

  test("a crashed fold (gen dir written, manifest not committed) is invisible, then heals on replay") {
    val p = s"${graft.queries.Drives.tempDir("graft_iso_crash")}/store"
    Curation.snapshotApplyBatchIsolated(cl(snapA.limit(0), snapA), p, 0L,
      nBuckets = 4)
    // simulate the crash window: batch 1's generation lands, no manifest
    snapB.withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(4L)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$p/gen=1")
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapA))
    // the at-least-once replay overwrites the orphan dir and commits
    Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 1L, nBuckets = 4)
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapB))
    // a replay of the COMMITTED batch is a true no-op
    Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 1L, nBuckets = 4)
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapB))
  }

  test("emptied buckets drop out of the manifest; lying logs raise before anything lands") {
    val p = s"${graft.queries.Drives.tempDir("graft_iso_empty")}/store"
    val tiny = Seq((1L, Some("one")), (2L, Some("two"))).toDF("doc_id", "text")
    Curation.snapshotApplyBatchIsolated(cl(tiny.limit(0), tiny), p, 0L,
      nBuckets = 2)
    Curation.snapshotApplyBatchIsolated(cl(tiny, tiny.limit(0)), p, 1L,
      nBuckets = 2)
    assert(Curation.readSnapshotCommitted(spark, p).count() == 0)
    val lying = Seq((5L, "added", Some("x")), (5L, "added", Some("x")))
      .toDF("doc_id", "status", "text")
    val e = intercept[Exception] {
      Curation.snapshotApplyBatchIsolated(lying, p, 2L, nBuckets = 2)
    }
    assert(e.getMessage.contains("duplicate rows"), e.getMessage)
    assert(Curation.readSnapshotCommitted(spark, p).count() == 0)
  }

  test("prune keeps the retained manifest tail's generations and nothing older") {
    val p = s"${graft.queries.Drives.tempDir("graft_iso_prune")}/store"
    Curation.snapshotApplyBatchIsolated(cl(snapA.limit(0), snapA), p, 0L,
      nBuckets = 4)
    Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 1L, nBuckets = 4)
    Curation.snapshotApplyBatchIsolated(cl(snapB, snapC), p, 2L, nBuckets = 4)
    Curation.pruneSnapshotGens(spark, p, retainManifests = 1)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).toSet
    assert(names.contains("_graft_manifest_2"))
    assert(!names.contains("_graft_manifest_0") &&
      !names.contains("_graft_manifest_1"))
    // gen=0 still holds buckets the newest manifest references (untouched
    // buckets stay owned by their original generation) — prune must keep
    // every referenced generation, not just the newest
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapC))
  }

  test("fail-fast fences: batchId regression and bucket-count mismatch") {
    val p = s"${graft.queries.Drives.tempDir("graft_iso_fence")}/store"
    Curation.snapshotApplyBatchIsolated(cl(snapA.limit(0), snapA), p, 5L,
      nBuckets = 4)
    val e1 = intercept[IllegalStateException] {
      Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 3L,
        nBuckets = 4)
    }
    assert(e1.getMessage.contains("must be increasing"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 6L,
        nBuckets = 8)
    }
    assert(e2.getMessage.contains("nBuckets"), e2.getMessage)
  }

  test("rebucketSnapshotIsolated: migration is one commit — readers never fenced, folds follow the new count") {
    val p = s"${graft.queries.Drives.tempDir("graft_iso_rebucket")}/store"
    Curation.snapshotApplyBatchIsolated(cl(snapA.limit(0), snapA), p, 0L,
      nBuckets = 2)
    val reader = Curation.readSnapshotCommitted(spark, p)
    Curation.rebucketSnapshotIsolated(spark, p, 1L, newNBuckets = 8)
    // the pre-migration reader still serves its manifest's files
    assert(asSet(reader) == asSet(snapA))
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapA))
    // folds now follow the migrated count (and refuse the old one)
    val e = intercept[IllegalStateException] {
      Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 2L,
        nBuckets = 2)
    }
    assert(e.getMessage.contains("nBuckets"), e.getMessage)
    Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 2L,
      nBuckets = 8)
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapB))
    // a crashed rebucket (gen dir written, manifest not committed)
    // leaves the store fully serving — re-run completes it
    snapB.withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(16L)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$p/gen=3")
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapB))
    Curation.rebucketSnapshotIsolated(spark, p, 3L, newNBuckets = 16)
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapB))
    // a stream batch whose id collides with the MIGRATION's id must
    // fail loud — a silent replay-no-op would drop its changelog
    val e3 = intercept[IllegalStateException] {
      Curation.snapshotApplyBatchIsolated(cl(snapB, snapC), p, 3L,
        nBuckets = 16)
    }
    assert(e3.getMessage.contains("REBUCKET"), e3.getMessage)
    // the batch proceeds under the next free id
    Curation.snapshotApplyBatchIsolated(cl(snapB, snapC), p, 4L,
      nBuckets = 16)
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapC))
  }

  test("maybeRebucketSnapshotIsolated: growth doubles, spent migration slots skip, virgin refuses") {
    val p = s"${graft.queries.Drives.tempDir("graft_iso_growth")}/store"
    val e0 = intercept[IllegalStateException] {
      Curation.maybeRebucketSnapshotIsolated(spark, p, 10L, 4L)
    }
    assert(e0.getMessage.contains("no committed manifest"), e0.getMessage)
    Curation.snapshotApplyBatchIsolated(cl(snapA.limit(0), snapA), p, 0L,
      nBuckets = 2) // 30 docs in 2 buckets
    // under target: no-op, count unchanged, NO new manifest
    assert(Curation.maybeRebucketSnapshotIsolated(spark, p, 1L, 100L) == 2)
    assert(Curation.committedManifestInfo(spark, p).map(_._1).contains(0L))
    // over target (≤4 rows/bucket on 30 docs): doubles until it holds
    val grown = Curation.maybeRebucketSnapshotIsolated(spark, p, 1L, 4L)
    assert(grown == 8, s"expected 2->8 doubling, got $grown")
    assert(Curation.committedManifestInfo(spark, p).contains((1L, 8)))
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapA))
    // the SPENT migration slot skips (a replay must not regress the ids)
    assert(Curation.maybeRebucketSnapshotIsolated(spark, p, 1L, 1L) == 8)
    assert(Curation.committedManifestInfo(spark, p).contains((1L, 8)))
    // folds continue under the migrated count (crash-between window)
    Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 2L,
      nBuckets = 8)
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapB))
  }

  test("snapshotIngestMaintainedIsolated: bucket count grows mid-stream, reads stay whole") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = s"${graft.queries.Drives.tempDir("graft_iso_maintained")}/store"
    val in = MemoryStream[(Long, String, String)]
    val q = Curation.snapshotIngestMaintainedIsolated(
      in.toDF().toDF("doc_id", "status", "text"), p,
      targetRowsPerBucket = 4L, nBuckets = 2, rebucketEvery = 1,
      retainManifests = 2, pruneEvery = 2,
      queryName = "iso_maintained_test")
    try {
      in.addData((1L to 6L).map(i => (i, "added", s"doc $i")): _*)
      q.processAllAvailable() // batch 0: fold at manifest 1, no growth check
      assert(Curation.committedManifestInfo(spark, p).contains((1L, 2)))
      in.addData((7L to 12L).map(i => (i, "added", s"doc $i")): _*)
      q.processAllAvailable() // batch 1: 6 docs <= 4*2 pre-check, no growth
      assert(Curation.committedManifestInfo(spark, p).contains((3L, 2)))
      in.addData((1L, "removed", null.asInstanceOf[String]))
      q.processAllAvailable() // batch 2: 12 > 4*2 -> migrate to 4 at id 4, fold at 5
      val info = Curation.committedManifestInfo(spark, p).get
      assert(info == ((5L, 4)), s"expected 2->4 growth before batch 2, got $info")
      assert(Curation.readSnapshotCommitted(spark, p)
        .as[(Long, String)].collect().toSet ==
        (2L to 12L).map(i => (i, s"doc $i")).toSet)
    } finally q.stop()
  }

  test("snapshotIngestIsolated: streamed folds with the GC cadence built in") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = s"${graft.queries.Drives.tempDir("graft_iso_ingest")}/store"
    val in = MemoryStream[(Long, String, String)]
    val q = Curation.snapshotIngestIsolated(
      in.toDF().toDF("doc_id", "status", "text"), p, nBuckets = 2,
      retainManifests = 1, pruneEvery = 2,
      queryName = "iso_ingest_test")
    try {
      in.addData((1L, "added", "one"), (2L, "added", "two"))
      q.processAllAvailable()
      in.addData((1L, "changed", "one v2")); q.processAllAvailable()
      in.addData((3L, "added", "three")); q.processAllAvailable()
      assert(Curation.readSnapshotCommitted(spark, p)
        .as[(Long, String)].collect().toSet ==
        Set((1L, "one v2"), (2L, "two"), (3L, "three")))
    } finally q.stop()
  }

  test("pruneSnapshotGens: only fold manifests consume the retention tail (dual-id rebucket grace)") {
    val p = s"${graft.queries.Drives.tempDir("graft_iso_fold_retain")}/store"
    Curation.snapshotApplyBatchIsolated(cl(snapA.limit(0), snapA), p, 0L,
      nBuckets = 2)
    Curation.snapshotApplyBatchIsolated(cl(snapA, snapB), p, 1L,
      nBuckets = 2)
    // a reader resolves the CURRENT committed corpus (manifest 1) …
    val reader = Curation.readSnapshotCommitted(spark, p)
    // … then the maintained path's dual-id shape: a rebucket migration
    // followed by the next batch's fold
    Curation.rebucketSnapshotIsolated(spark, p, 4L, newNBuckets = 8)
    Curation.snapshotApplyBatchIsolated(cl(snapB, snapC), p, 5L,
      nBuckets = 8)
    Curation.pruneSnapshotGens(spark, p, retainManifests = 2)
    // raw-count retention would keep only {5, 4} — one batch's pair —
    // and delete fold 1 with its unshared generations, pulling files
    // out from under the reader; fold-counted retention keeps the two
    // newest FOLD corpora {5, 1} plus the interleaved rebucket 4
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).toSet
    assert(names.contains("_graft_manifest_5") &&
      names.contains("_graft_manifest_4") &&
      names.contains("_graft_manifest_1"), names.toSeq.sorted.mkString(","))
    assert(!names.contains("_graft_manifest_0"),
      "the fold below the retained tail must still prune")
    // the reader's grace window held through migration + fold + prune
    assert(asSet(reader) == asSet(snapB))
    assert(asSet(Curation.readSnapshotCommitted(spark, p)) == asSet(snapC))
  }

  test("long ingest stream: manifest and generation dir counts stay bounded by the GC cadence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = s"${graft.queries.Drives.tempDir("graft_iso_dir_bound")}/store"
    val in = MemoryStream[(Long, String, String)]
    val q = Curation.snapshotIngestIsolated(
      in.toDF().toDF("doc_id", "status", "text"), p, nBuckets = 2,
      retainManifests = 2, pruneEvery = 2, queryName = "iso_bound_test")
    try {
      (1L to 12L).foreach { i =>
        in.addData((i, "added", s"doc $i")); q.processAllAvailable()
      }
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(_.getPath.getName).toSeq
      val nManifests = names.count(n =>
        n.startsWith("_graft_manifest_") && !n.endsWith(".tmp"))
      val nGens = names.count(_.startsWith("gen="))
      // without GC: 12 manifests + 12 generation dirs after 12 batches.
      // The cadence bounds both — manifests by retained tail + one
      // prune period, generations by the kept manifests' references
      // (an untouched bucket legitimately keeps its old generation
      // alive; with 2 buckets the union of ≤4 consecutive manifests'
      // references stays ≤ 6)
      assert(nManifests <= 4, s"manifest litter: $nManifests of 12")
      assert(nGens <= 6, s"generation litter: $nGens of 12")
      assert(Curation.readSnapshotCommitted(spark, p)
        .as[(Long, String)].collect().toSet ==
        (1L to 12L).map(i => (i, s"doc $i")).toSet)
    } finally q.stop()
  }
}
