package graft

import graft.curation.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property-based closure for the version-management family
  * (diff → apply → compact → maintained store): RANDOM snapshot chains
  * A→B→C with overlapping ids, repeated texts (so `changed` vs
  * `unchanged` collide), NULL texts and full add/drop churn must
  * reproduce the direct snapshots bit-exactly through every composed
  * path. The CurationSpec hand cases pin the designed-for branches;
  * this sweeps the chains nobody designed for.
  */
class DiffPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon")

  /** One random snapshot: each universe id present with ~70% odds, text
    * from a tiny pool (forcing accidental equality across snapshots) or
    * NULL with ~15% odds.
    */
  private def snapshot(seed: Long, universe: Int): Seq[(Long, Option[String])] = {
    val p = Gen.Parameters.default.withSize(60)
    def run[A](g: Gen[A], s: Long): A =
      g.apply(p, org.scalacheck.rng.Seed(s)).getOrElse(sys.error("gen failed"))
    (1 to universe).flatMap { i =>
      if (!run(Gen.prob(0.7), seed + i)) None
      else if (run(Gen.prob(0.15), seed + 1000 + i)) Some(i.toLong -> None)
      else Some(i.toLong ->
        Some(pool(run(Gen.chooseNum(0, pool.size - 1), seed + 2000 + i))))
    }
  }

  private def cl(a: DataFrame, b: DataFrame): DataFrame =
    Curation.corpusDiff(a, b).join(b, Seq("doc_id"), "left")

  private def asSet(df: DataFrame): Set[(Long, Option[String])] =
    df.select(col("doc_id"), col("text"))
      .as[(Long, Option[String])].collect().toSet

  test("diff/apply/compact reproduce random snapshot chains exactly (10 seeds)") {
    for (seed <- 1L to 10L) {
      val universe = 20 + (seed % 4).toInt * 15
      val snapA = snapshot(seed * 7919L, universe).toDF("doc_id", "text")
        .localCheckpoint(true)
      val snapB = snapshot(seed * 7919L + 31L, universe).toDF("doc_id", "text")
        .localCheckpoint(true)
      val snapC = snapshot(seed * 7919L + 62L, universe).toDF("doc_id", "text")
        .localCheckpoint(true)
      val (sa, sb, sc) = (asSet(snapA), asSet(snapB), asSet(snapC))
      // 1. the apply round trip lands on the direct snapshot
      assert(asSet(Curation.applyCorpusDiff(snapA, cl(snapA, snapB))) == sb,
        s"seed=$seed apply(A, diff(A,B)) != B")
      // 2. ONE compacted log ≡ two sequential applies ≡ direct C
      val compacted = Curation.compactChangelog(cl(snapA, snapB), cl(snapB, snapC))
        .localCheckpoint(true)
      assert(asSet(Curation.applyCorpusDiff(snapA, compacted)) == sc,
        s"seed=$seed apply(A, compact) != C")
      // 3. closure under pre-compacted inputs: same compacted bytes
      val pre = Curation.compactChangelog(
        cl(snapA, snapB).filter(col("status") =!= "unchanged"),
        cl(snapB, snapC).filter(col("status") =!= "unchanged"))
      def logSet(df: DataFrame) = df
        .as[(Long, String, Option[String])].collect().toSet
      assert(logSet(pre) == logSet(compacted), s"seed=$seed closure broke")
      // 4. the rollback round trip: the inverted full log undoes A→B
      assert(asSet(Curation.applyCorpusDiff(snapB,
        Curation.invertChangelog(Curation.corpusDiffFull(snapA, snapB))))
        == sa, s"seed=$seed rollback != A")
      // 5. diff statuses against an independently computed expectation
      val got = Curation.corpusDiff(snapA, snapB)
        .as[(Long, String)].collect().toMap
      val expect = (sa.map(_._1) ++ sb.map(_._1)).map { i =>
        val (inA, inB) = (sa.exists(_._1 == i), sb.exists(_._1 == i))
        i -> (if (!inA) "added" else if (!inB) "removed"
        else if (sa.find(_._1 == i).get._2 == sb.find(_._1 == i).get._2)
          "unchanged" else "changed")
      }.toMap
      assert(got == expect, s"seed=$seed status census diverged")
    }
  }

  test("maintained store lands on the direct snapshot over random chains (3 seeds)") {
    for (seed <- 20L to 22L) {
      val universe = 40
      val snapA = snapshot(seed * 104729L, universe).toDF("doc_id", "text")
        .localCheckpoint(true)
      val snapB = snapshot(seed * 104729L + 31L, universe).toDF("doc_id", "text")
        .localCheckpoint(true)
      val snapC = snapshot(seed * 104729L + 62L, universe).toDF("doc_id", "text")
        .localCheckpoint(true)
      val path = s"${graft.queries.Drives.tempDir("graft_snap_prop")}/snap"
      // bootstrap + A→B (replayed) + B→C, then the COMPACTED catch-up
      // log re-applied on top (must be a no-op: the store is already at C)
      Seq(cl(snapA.limit(0), snapA), cl(snapA, snapB), cl(snapA, snapB),
        cl(snapB, snapC)).foreach(c =>
        Curation.snapshotApplyBatch(c, path, nBuckets = 4))
      assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapC),
        s"seed=$seed store != C")
      Curation.snapshotApplyBatch(
        Curation.compactChangelog(cl(snapA, snapB), cl(snapB, snapC)),
        path, nBuckets = 4)
      assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snapC),
        s"seed=$seed compacted catch-up on a current store was not a no-op")
    }
  }

  test("catch-up fold, sig store and maintained audit track random 4-chains (3 seeds)") {
    for (seed <- 30L to 32L) Checkpoint.scope {
      val universe = 40
      val snaps = (0 to 3).map(k => Checkpoint(
        snapshot(seed * 15485863L + k * 31L, universe).toDF("doc_id", "text")))
      val chain = snaps.head.limit(0) +: snaps
      // 1. snapshotCatchUp over the whole backlog lands on the LAST
      //    snapshot (N-log compaction fold, not just the 2-log case)
      val logs = chain.sliding(2).map { case Seq(a, b) => cl(a, b) }.toSeq
      val path = s"${graft.queries.Drives.tempDir("graft_catchup_prop")}/snap"
      Curation.snapshotCatchUp(logs, path, nBuckets = 4)
      assert(asSet(Curation.readSnapshot(spark, path)) == asSet(snaps.last),
        s"seed=$seed catch-up != final snapshot")
      // 2. the sig store folded batch by batch equals an independent
      //    per-sig census of each PREFIX state's final snapshot
      val sigPath = s"${graft.queries.Drives.tempDir("graft_sig_prop")}/sig"
      val fulls = chain.sliding(2).map { case Seq(a, b) =>
        Curation.corpusDiffFull(a, b) }.toSeq
      fulls.take(3).zipWithIndex.foreach { case (l, i) =>
        Curation.sigStoreApplyBatch(l, sigPath, i.toLong, nBuckets = 4) }
      def directCensus(s: Set[(Long, Option[String])]): Map[String, Long] =
        s.toSeq.flatMap(_._2)
          .map(t => t.split(" ").distinct.sorted.mkString(" "))
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val storeAtC = Curation.readSigStore(spark, sigPath)
        .as[(String, Long)].collect().toMap
      assert(storeAtC == directCensus(asSet(snaps(2))),
        s"seed=$seed sig store at C != direct census")
      // 3. the maintained audit of the LAST hop (store at C) equals the
      //    direct audit on the same snapshots
      val direct = Curation.refreshAudit(snaps(2), snaps(3))
        .as[(String, Long)].collect().toSeq
      val maintained = Curation
        .refreshAuditMaintained(fulls(3), sigPath)
        .as[(String, Long)].collect().toSeq
      assert(maintained == direct, s"seed=$seed maintained audit diverged")
      // 4. fold the last hop too; the store tracks D
      Curation.sigStoreApplyBatch(fulls(3), sigPath, 3L, nBuckets = 4)
      assert(Curation.readSigStore(spark, sigPath)
        .as[(String, Long)].collect().toMap == directCensus(asSet(snaps(3))),
        s"seed=$seed sig store at D != direct census")
    }
  }

  test("managed-versioned path under random refusals: only shipped hops exist (3 seeds)") {
    // random 5-chains where a census rule (no hop may remove more than
    // 30% of the corpus) refuses some hops at random: the serving head
    // must equal the fold of ONLY the shipped hops, every as-of read
    // must land on its shipped-prefix state, and the sig store must
    // census the head exactly — quarantine correctness under chains
    // nobody designed.
    for (seed <- 50L to 52L) Checkpoint.scope {
      val universe = 40
      val snaps = (0 to 4).map(k => Checkpoint(
        snapshot(seed * 49979687L + k * 31L, universe).toDF("doc_id", "text")))
      val base = graft.queries.Drives.tempDir("graft_mv_prop")
      val rules = Seq("id_not_null" -> col("doc_id").isNotNull)
      val census = Seq("removed_max_30pct" ->
        (col("n_removed") * 10 <= col("n_old") * 3))
      // the EXPECTED evolution: apply a hop only if the census rule
      // would pass against the CURRENT state (independent arithmetic)
      var state = Set.empty[(Long, Option[String])]
      val expectedByVersion = scala.collection.mutable.Map[Long, Set[(Long, Option[String])]]()
      (0 to 4).foreach { v =>
        val target = asSet(snaps(v))
        val removed = state.map(_._1).diff(target.map(_._1)).size
        val passes = removed * 10 <= state.size * 3
        val shipped = graft.curation.Curation.managedVersionedApplyBatch(
          Curation.corpusDiffFull(
            state.toSeq.toDF("doc_id", "text"), snaps(v)),
          v.toLong, s"$base/corpus", s"$base/sig", s"$base/report", rules,
          censusRules = census, nBuckets = 4)
        assert(shipped == passes, s"seed=$seed v=$v verdict diverged " +
          s"(removed=$removed of ${state.size})")
        if (passes) state = target
        expectedByVersion(v.toLong) = state
      }
      // head and sig store census the final shipped state
      assert(asSet(Curation.readSnapshot(spark, s"$base/corpus/snap"))
        == state, s"seed=$seed head diverged")
      val expCensus = state.toSeq.flatMap(_._2)
        .map(t => t.split(" ").distinct.sorted.mkString(" "))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(Curation.readSigStore(spark, s"$base/sig")
        .as[(String, Long)].collect().toMap == expCensus,
        s"seed=$seed sig census diverged")
      // every as-of read lands on its shipped-prefix state
      (0 to 4).foreach { v =>
        assert(asSet(Curation.readSnapshotAsOf(spark, s"$base/corpus",
          v.toLong)) == expectedByVersion(v.toLong),
          s"seed=$seed asOf=$v diverged")
      }
    }
  }

  test("isolated store ≡ in-place store over random 4-chains (3 seeds)") {
    // the reader-isolated manifest store must land on the identical
    // corpus as the in-place bucket store after EVERY hop of chains
    // nobody designed — same fold semantics, different commit protocol.
    for (seed <- 60L to 62L) Checkpoint.scope {
      val universe = 40
      val snaps = (0 to 3).map(k => Checkpoint(
        snapshot(seed * 27644437L + k * 31L, universe).toDF("doc_id", "text")))
      val base = graft.queries.Drives.tempDir("graft_iso_prop")
      val pIn = s"$base/snap"; val pIso = s"$base/store"
      (snaps.head.limit(0) +: snaps).sliding(2).zipWithIndex.foreach {
        case (Seq(a, b), v) =>
          val log = Checkpoint(cl(a, b))
          Curation.snapshotApplyBatch(log, pIn, nBuckets = 4)
          Curation.snapshotApplyBatchIsolated(log, pIso, v.toLong,
            nBuckets = 4)
          assert(asSet(Curation.readSnapshotCommitted(spark, pIso))
            == asSet(Curation.readSnapshot(spark, pIn)),
            s"seed=$seed hop=$v stores diverged")
      }
      assert(asSet(Curation.readSnapshotCommitted(spark, pIso))
        == asSet(snaps(3)), s"seed=$seed final != direct D")
    }
  }

  test("managed-ISOLATED path under random refusals: committed head and sig census track shipped hops (3 seeds)") {
    // the c62 composite swept over chains nobody designed: random
    // 5-chains where the 30%-removal census rule refuses hops at
    // random — the committed read must equal the fold of ONLY the
    // shipped hops after EVERY hop (not just at the end: a refused
    // batch must leave no manifest), and the sig store must census the
    // head exactly.
    for (seed <- 70L to 72L) Checkpoint.scope {
      val universe = 40
      val snaps = (0 to 4).map(k => Checkpoint(
        snapshot(seed * 15485863L + k * 31L, universe).toDF("doc_id", "text")))
      val base = graft.queries.Drives.tempDir("graft_mi_prop")
      val rules = Seq("id_not_null" -> col("doc_id").isNotNull)
      val census = Seq("removed_max_30pct" ->
        (col("n_removed") * 10 <= col("n_old") * 3))
      var state = Set.empty[(Long, Option[String])]
      (0 to 4).foreach { v =>
        val target = asSet(snaps(v))
        val removed = state.map(_._1).diff(target.map(_._1)).size
        val passes = removed * 10 <= state.size * 3
        val shipped = Curation.managedCorpusApplyBatchIsolated(
          Curation.corpusDiffFull(
            state.toSeq.toDF("doc_id", "text"), snaps(v)),
          v.toLong, s"$base/store", s"$base/sig", s"$base/report", rules,
          censusRules = census, nBuckets = 4)
        assert(shipped == passes, s"seed=$seed v=$v verdict diverged " +
          s"(removed=$removed of ${state.size})")
        if (passes) state = target
        assert(asSet(Curation.readSnapshotCommitted(spark, s"$base/store"))
          == state, s"seed=$seed v=$v committed head diverged")
      }
      val expCensus = state.toSeq.flatMap(_._2)
        .map(t => t.split(" ").distinct.sorted.mkString(" "))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(Curation.readSigStoreCommitted(spark, s"$base/sig")
        .as[(String, Long)].collect().toMap == expCensus,
        s"seed=$seed sig census diverged")
    }
  }

  test("versioned-ISOLATED path under random refusals: head, history and sig census track shipped hops (3 seeds)") {
    // the c63 composite swept over chains nobody designed — the
    // managed-versioned property re-run through the isolated store:
    // verdicts must match the independent census arithmetic, the
    // committed head must track the shipped fold after EVERY hop, and
    // every as-of read must land on its shipped-prefix state through
    // readSnapshotAsOfCommitted's manifest-capped walk-back.
    for (seed <- 80L to 82L) Checkpoint.scope {
      val universe = 40
      val snaps = (0 to 4).map(k => Checkpoint(
        snapshot(seed * 86028121L + k * 31L, universe).toDF("doc_id", "text")))
      val base = graft.queries.Drives.tempDir("graft_vi_prop")
      val rules = Seq("id_not_null" -> col("doc_id").isNotNull)
      val census = Seq("removed_max_30pct" ->
        (col("n_removed") * 10 <= col("n_old") * 3))
      var state = Set.empty[(Long, Option[String])]
      val expectedByVersion = scala.collection.mutable.Map[Long, Set[(Long, Option[String])]]()
      (0 to 4).foreach { v =>
        val target = asSet(snaps(v))
        val removed = state.map(_._1).diff(target.map(_._1)).size
        val passes = removed * 10 <= state.size * 3
        val shipped = Curation.managedVersionedApplyBatchIsolated(
          Curation.corpusDiffFull(
            state.toSeq.toDF("doc_id", "text"), snaps(v)),
          v.toLong, s"$base/corpus", s"$base/sig", s"$base/report", rules,
          censusRules = census, nBuckets = 4)
        assert(shipped == passes, s"seed=$seed v=$v verdict diverged " +
          s"(removed=$removed of ${state.size})")
        if (passes) state = target
        expectedByVersion(v.toLong) = state
        assert(asSet(Curation.readSnapshotCommitted(spark,
          s"$base/corpus/snap")) == state,
          s"seed=$seed v=$v committed head diverged")
      }
      (0 to 4).foreach { v =>
        assert(asSet(Curation.readSnapshotAsOfCommitted(spark,
          s"$base/corpus", v.toLong)) == expectedByVersion(v.toLong),
          s"seed=$seed asOf=$v diverged")
      }
      val expCensus = state.toSeq.flatMap(_._2)
        .map(t => t.split(" ").distinct.sorted.mkString(" "))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(Curation.readSigStoreCommitted(spark, s"$base/sig")
        .as[(String, Long)].collect().toMap == expCensus,
        s"seed=$seed sig census diverged")
    }
  }

  test("changes-between-versions feed equals the direct endpoint diff over random chains (3 seeds)") {
    // every (from, to) pair over a random 4-version archive: the
    // forward fold of the archived logs must equal corpusDiffFull of
    // the endpoint snapshots (net churn only, removed-then-re-added-
    // identical docs normalized away) — the O(churn) catch-up feed
    // proven against the O(corpus) diff it replaces.
    for (seed <- 90L to 92L) Checkpoint.scope {
      val universe = 40
      val snaps = (0 to 3).map(k => Checkpoint(
        snapshot(seed * 67867967L + k * 31L, universe).toDF("doc_id", "text")))
      val base = graft.queries.Drives.tempDir("graft_cbv_prop")
      (snaps.head.limit(0) +: snaps).sliding(2).zipWithIndex.foreach {
        case (Seq(a, b), v) =>
          Curation.versionedSnapshotApplyBatch(
            Curation.corpusDiffFull(a, b), base, v.toLong, nBuckets = 4)
      }
      def logSet(df: DataFrame) = df
        .select(col("doc_id"), col("status"), col("old_text"),
          col("new_text"))
        .as[(Long, String, Option[String], Option[String])]
        .collect().toSet
      for (from <- 0 to 3; to <- from to 3) {
        val got = logSet(Curation.changesBetweenVersions(spark, base,
          from.toLong, to.toLong))
        val expect = logSet(Curation.corpusDiffFull(snaps(from), snaps(to))
          .filter(col("status") =!= "unchanged"))
        assert(got == expect, s"seed=$seed $from->$to feed diverged")
      }
    }
  }

  test("time travel reconstructs every version of random 4-chains (3 seeds)") {
    for (seed <- 40L to 42L) Checkpoint.scope {
      val universe = 40
      val snaps = (0 to 3).map(k => Checkpoint(
        snapshot(seed * 32452843L + k * 31L, universe).toDF("doc_id", "text")))
      val chain = snaps.head.limit(0) +: snaps
      val base = graft.queries.Drives.tempDir("graft_tt_prop")
      chain.sliding(2).zipWithIndex.foreach { case (Seq(a, b), v) =>
        Curation.versionedSnapshotApplyBatch(
          Curation.corpusDiffFull(a, b), base, v.toLong, nBuckets = 4)
      }
      // every as-of read lands exactly on its direct snapshot — the
      // whole history from ONE maintained store + O(churn) logs
      (0 to 3).foreach { v =>
        assert(asSet(Curation.readSnapshotAsOf(spark, base, v.toLong))
          == asSet(snaps(v)), s"seed=$seed asOf=$v diverged")
      }
      assert(Curation.readSnapshotAsOf(spark, base, -1L).count() == 0,
        s"seed=$seed pre-bootstrap corpus must be empty")
    }
  }
}
