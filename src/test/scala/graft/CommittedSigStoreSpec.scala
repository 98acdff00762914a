package graft

import graft.curation.Curation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The manifest-COMMITTED signature store (round 19): the counted
  * store's additive semantics as an LSM-style segment store, so sig
  * census reads get the same reader isolation the generation store
  * gives corpus reads — folds and compactions commit new segments via
  * one atomic manifest rename, never touching a committed file.
  */
class CommittedSigStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def full(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame) =
    Curation.corpusDiffFull(a, b)

  private def census(path: String): Map[String, Long] =
    Curation.readSigStoreCommitted(spark, path)
      .as[(String, Long)].collect().toMap

  private def fsFor(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def entries(path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsFor(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
  }

  private lazy val snapA = (1L to 20L).map(i => (i, Some(s"doc $i")))
    .toDF("doc_id", "text").localCheckpoint(true)
  private lazy val snapB = snapA.filter($"doc_id" % 3 =!= 0L)
    .unionByName(Seq((100L, Some("new b")), (101L, None: Option[String]))
      .toDF("doc_id", "text")).localCheckpoint(true)
  private lazy val snapC = snapB.filter($"doc_id" % 5 =!= 0L)
    .unionByName(Seq((200L, Some("doc 1"))).toDF("doc_id", "text"))
    .localCheckpoint(true)

  test("committed store census equals the in-place store over a chained history") {
    val base = graft.queries.Drives.tempDir("graft_csig_equiv")
    val pIn = s"$base/inplace"; val pC = s"$base/committed"
    Seq(0L -> full(snapA.limit(0), snapA), 1L -> full(snapA, snapB),
      2L -> full(snapB, snapC)).foreach { case (bid, log) =>
      Checkpoint.scope {
        val l = Checkpoint(log)
        Curation.sigStoreApplyBatch(l, pIn, bid, nBuckets = 4)
        Curation.sigStoreApplyBatchCommitted(l, pC, bid, nBuckets = 4)
        assert(census(pC) == Curation.readSigStore(spark, pIn)
          .as[(String, Long)].collect().toMap, s"batch $bid diverged")
      }
    }
  }

  test("a reader holding the previous manifest survives a fold, a compaction AND a prune") {
    val base = graft.queries.Drives.tempDir("graft_csig_reader")
    val p = s"$base/sig"
    Curation.sigStoreApplyBatchCommitted(full(snapA.limit(0), snapA), p, 0L,
      nBuckets = 4)
    Curation.sigStoreApplyBatchCommitted(full(snapA, snapB), p, 1L,
      nBuckets = 4)
    val before = census(p)
    // the reader resolves its manifest NOW …
    val reader = Curation.readSigStoreCommitted(spark, p)
    // … then a fold, a full compaction and a retention prune all land —
    // none of which touches a file the reader's manifest references
    // (the in-place store's stage-and-swap compaction would have
    // deleted this plan's batch dirs out from under it)
    Curation.sigStoreApplyBatchCommitted(full(snapB, snapC), p, 2L,
      nBuckets = 4)
    Curation.compactSigStoreCommitted(spark, p)
    Curation.pruneSigStoreSegs(spark, p, retainManifests = 2)
    assert(reader.as[(String, Long)].collect().toMap == before,
      "open committed census moved under a fold + compaction + prune")
  }

  test("compaction squashes committed segments without changing the census; the fence holds out uncommitted batches") {
    val base = graft.queries.Drives.tempDir("graft_csig_compact")
    val p = s"$base/sig"
    Seq(0L -> full(snapA.limit(0), snapA), 1L -> full(snapA, snapB),
      2L -> full(snapB, snapC)).foreach { case (bid, log) =>
      Curation.sigStoreApplyBatchCommitted(log, p, bid, nBuckets = 4)
    }
    val before = census(p)
    assert(entries(p).count(_.startsWith("seg=")) == 3)
    // committedThrough = 1 holds batch 2's segment out for its replay
    Curation.compactSigStoreCommitted(spark, p, committedThrough = 1L)
    assert(census(p) == before, "fenced compaction changed the census")
    // a replay of the held-out batch converges (no-op: already applied)
    Curation.sigStoreApplyBatchCommitted(full(snapB, snapC), p, 2L,
      nBuckets = 4)
    assert(census(p) == before)
    // the documented reclamation LAG: right after the compaction the
    // newest FOLD manifest is the pre-compaction one, pinning the
    // pre-compaction segments — they reclaim once the NEXT fold
    // commits and prune runs
    Curation.pruneSigStoreSegs(spark, p, retainManifests = 1)
    assert(entries(p).count(_.startsWith("seg=")) == 4,
      "pre-compaction segments must survive until the next fold")
    val snapD = snapC.filter($"doc_id" =!= 200L).localCheckpoint(true)
    Curation.sigStoreApplyBatchCommitted(full(snapC, snapD), p, 3L,
      nBuckets = 4)
    Curation.pruneSigStoreSegs(spark, p, retainManifests = 1)
    val after = entries(p).filter(_.startsWith("seg=")).toSet
    // kept: merged(0,1), held-out batch-2 seg, batch-3 seg — the
    // squashed batch-0/1 segs are gone
    assert(after == Set("seg=3", "seg=2", "seg=4"), after.mkString(","))
    val atD = census(p)
    // the unfenced compaction squashes the survivors; census intact
    Curation.compactSigStoreCommitted(spark, p)
    assert(census(p) == atD, "full compaction changed the census")
    // re-running the compaction is a no-op (≤ 1 foldable segment)
    val manifestsBefore = entries(p).count(_.startsWith("_graft_sigmanifest_"))
    Curation.compactSigStoreCommitted(spark, p)
    assert(entries(p).count(_.startsWith("_graft_sigmanifest_"))
      == manifestsBefore)
    // … and after one more fold + prune the store is the compact
    // segment + the tail fold: the steady-state bound
    val snapE = snapD.unionByName(Seq((300L, Some("doc e")))
      .toDF("doc_id", "text"))
    Curation.sigStoreApplyBatchCommitted(full(snapD, snapE), p, 4L,
      nBuckets = 4)
    Curation.pruneSigStoreSegs(spark, p, retainManifests = 1)
    assert(entries(p).count(_.startsWith("seg=")) == 2,
      entries(p).filter(_.startsWith("seg=")).mkString(","))
    assert(census(p) == snapE.collect().map(r => Option(r.getString(1)))
      .collect { case Some(t) =>
        t.split(" ").distinct.sorted.mkString(" ") }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong },
      "final census diverged")
  }

  test("replay no-ops, checkpoint resets and bucket mismatches fail loud, lying logs land nothing") {
    val base = graft.queries.Drives.tempDir("graft_csig_guards")
    val p = s"$base/sig"
    Curation.sigStoreApplyBatchCommitted(full(snapA.limit(0), snapA), p, 0L,
      nBuckets = 4)
    Curation.sigStoreApplyBatchCommitted(full(snapA, snapB), p, 5L,
      nBuckets = 4) // batch ids may skip (refused batches never fold)
    val before = census(p)
    // at-least-once replay of the applied batch: a true no-op
    Curation.sigStoreApplyBatchCommitted(full(snapA, snapB), p, 5L,
      nBuckets = 4)
    assert(census(p) == before)
    assert(entries(p).count(_.startsWith("seg=")) == 2)
    // a batch BELOW the applied watermark is a checkpoint reset
    val e1 = intercept[IllegalStateException] {
      Curation.sigStoreApplyBatchCommitted(full(snapB, snapC), p, 3L,
        nBuckets = 4)
    }
    assert(e1.getMessage.contains("must be increasing"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      Curation.sigStoreApplyBatchCommitted(full(snapB, snapC), p, 6L,
        nBuckets = 8)
    }
    assert(e2.getMessage.contains("nBuckets"), e2.getMessage)
    // a lying log raises in the fold's own materialization — no segment
    // dir, no manifest
    val lying = Seq(
      (1L, "removed", Some("doc 1"), None: Option[String]),
      (1L, "added", None: Option[String], Some("doc 1 B")))
      .toDF("doc_id", "status", "old_text", "new_text")
    intercept[Exception] {
      Curation.sigStoreApplyBatchCommitted(lying, p, 6L, nBuckets = 4)
    }
    assert(census(p) == before)
  }

  test("prune: compact manifests ride along with, not consume, the retention tail") {
    val base = graft.queries.Drives.tempDir("graft_csig_prune")
    val p = s"$base/sig"
    Curation.sigStoreApplyBatchCommitted(full(snapA.limit(0), snapA), p, 0L,
      nBuckets = 4) // fold manifest 0
    Curation.sigStoreApplyBatchCommitted(full(snapA, snapB), p, 1L,
      nBuckets = 4) // fold manifest 1
    val reader = Curation.readSigStoreCommitted(spark, p)
    val atB = census(p)
    Curation.compactSigStoreCommitted(spark, p) // compact manifest 2
    Curation.sigStoreApplyBatchCommitted(full(snapB, snapC), p, 2L,
      nBuckets = 4) // fold manifest 3
    Curation.pruneSigStoreSegs(spark, p, retainManifests = 2)
    val names = entries(p).toSet
    // raw-count retention would keep only {3, 2} and delete fold 1's
    // manifest + its segments out from under the reader; fold-counted
    // retention keeps the two newest FOLD censuses {3, 1} plus the
    // interleaved compact 2, and prunes fold 0
    assert(names.contains("_graft_sigmanifest_3") &&
      names.contains("_graft_sigmanifest_2") &&
      names.contains("_graft_sigmanifest_1"),
      names.toSeq.sorted.mkString(","))
    assert(!names.contains("_graft_sigmanifest_0"))
    assert(reader.as[(String, Long)].collect().toMap == atB,
      "reader grace window broken by the prune")
  }

  test("refreshAuditMaintainedCommitted equals the direct audit and the in-place maintained audit") {
    val base = graft.queries.Drives.tempDir("graft_csig_audit")
    val pIn = s"$base/inplace"; val pC = s"$base/committed"
    Checkpoint.scope {
      val boot = Checkpoint(full(snapA.limit(0), snapA))
      val refresh = Checkpoint(full(snapA, snapB))
      Curation.sigStoreApplyBatch(boot, pIn, 0L, nBuckets = 4)
      Curation.sigStoreApplyBatchCommitted(boot, pC, 0L, nBuckets = 4)
      val direct = Curation.refreshAudit(snapA, snapB)
        .as[(String, Long)].collect().toSeq
      val maintained = Curation.refreshAuditMaintained(refresh, pIn)
        .as[(String, Long)].collect().toSeq
      val committed = Curation.refreshAuditMaintainedCommitted(refresh, pC)
        .as[(String, Long)].collect().toSeq
      assert(committed == direct, "committed audit != direct audit")
      assert(committed == maintained, "committed audit != maintained audit")
    }
  }
}
