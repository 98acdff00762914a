package graft

import graft.text.DomainMixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DomainMixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // domain a: losses 30e6, 10e6 (mean 20e6); domain b: 10e6, 10e6
  // (mean 10e6). Global mean 15e6 -> excess a = 5e6, b = 0 (clipped).
  private def fixture = Seq(
    ("a", 30000000L), ("a", 10000000L),
    ("b", 10000000L), ("b", 10000000L)
  ).toDF("d", "loss")

  private def run(k: Int, eta: Long = 100L, smooth: Long = 200L) =
    DomainMixture.solve(fixture, col("d"), col("loss"), k, eta, smooth)
      .orderBy("domain")
      .as[(String, Long, Long, Long, Long)].collect().toSeq

  test("solve: one hand-run EG step with clipped excess and smoothing") {
    // step: f_a = 1e6 + (100*5e6)//1000 = 1.5e6 -> u_a = 750000,
    // u_b = 500000, su = 1.25e6 -> w = (600000, 400000);
    // smooth 200‰ toward uniform 500000 -> (580000, 420000)
    assert(run(1) == Seq(
      ("a", 2L, 20000000L, 5000000L, 580000L),
      ("b", 2L, 10000000L, 0L, 420000L)))
  }

  test("solve: second step compounds on the renormalized weights") {
    // from (600000, 400000): u = (900000, 400000), su = 1.3e6 ->
    // floor-normalized (692307, 307692); smoothed (653845, 346153)
    assert(run(2).map(r => (r._1, r._5)) ==
      Seq(("a", 653845L), ("b", 346153L)))
  }

  test("solve: zero eta (or zero excess) leaves the uniform mixture") {
    assert(run(3, eta = 0L, smooth = 0L).map(_._5) == Seq(500000L, 500000L))
    val flat = Seq(("a", 7000000L), ("b", 7000000L))
      .toDF("d", "loss")
    val got = DomainMixture.solve(flat, col("d"), col("loss"), k = 4)
      .orderBy("domain").select("weight_micro")
      .as[Long].collect().toSeq
    assert(got == Seq(500000L, 500000L))
  }

  test("applyMixture: quota math, portable-hash fill, over-quota keeps all") {
    val docs = ((1L to 10L).map(i => (i, "a")) ++ Seq((11L, "b"), (12L, "b")))
      .toDF("doc_id", "src")
    val weights = Seq(("a", 500000L), ("b", 500000L))
      .toDF("domain", "weight_micro")
    // budget 8 -> quota 4 per domain; b has only 2 docs -> keeps both
    val kept = DomainMixture.applyMixture(docs, col("src"), col("doc_id"),
        weights, budget = 8L)
      .as[(Long, String, Long)].collect()
    val byDom = kept.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(kept.forall(_._3 == 4L))
    assert(byDom("b") == Set(11L, 12L))
    assert(byDom("a").size == 4)
    // the fill is the portable multiplicative hash order (c17's), so it
    // is reproducible arithmetic, not an engine artifact
    def slot(i: Long) = (i * 2654435761L + 987654321L) % 2147483647L
    val expectA = (1L to 10L).sortBy(i => (slot(i), i)).take(4).toSet
    assert(byDom("a") == expectA)
    // replay-stable
    val again = DomainMixture.applyMixture(docs, col("src"), col("doc_id"),
        weights, budget = 8L)
      .as[(Long, String, Long)].collect().toSet
    assert(again == kept.toSet)
  }

  test("applyMixtureScalable ≡ applyMixture under mega-domain skew, any bucket count") {
    // 90% of docs in ONE domain — the web-corpus shape the two-phase
    // fill exists for; equivalence must hold for any bucket count,
    // including the degenerate 1 (all rows in the boundary bucket) and
    // counts far beyond the distinct slot values
    val docs = (1L to 300L)
      .map(i => (i, if (i % 10 != 0) "mega" else s"s${i % 3}"))
      .toDF("doc_id", "src")
    val weights = Seq(("mega", 700000L), ("s0", 200000L), ("s1", 100000L))
      .toDF("domain", "weight_micro")
    val exact = DomainMixture.applyMixture(docs, col("src"), col("doc_id"),
        weights, budget = 120L)
      .as[(Long, String, Long)].collect().toSet
    for (b <- Seq(1, 16, 1024, 1 << 20)) {
      val got = DomainMixture.applyMixtureScalable(docs, col("src"),
          col("doc_id"), weights, budget = 120L, nBuckets = b)
        .as[(Long, String, Long)].collect().toSet
      assert(got == exact, s"mismatch at nBuckets=$b")
    }
    // domains absent from the weights drop on BOTH paths (inner join)
    assert(!exact.exists(_._2 == "s2"))
    // over-quota domains keep everything; zero-quota domains keep none
    val w2 = Seq(("mega", 0L), ("s0", 1000000L)).toDF("domain", "weight_micro")
    val e2 = DomainMixture.applyMixture(docs, col("src"), col("doc_id"),
      w2, budget = 1000L).as[(Long, String, Long)].collect().toSet
    val g2 = DomainMixture.applyMixtureScalable(docs, col("src"),
      col("doc_id"), w2, budget = 1000L, nBuckets = 8)
      .as[(Long, String, Long)].collect().toSet
    assert(g2 == e2)
    assert(!g2.exists(_._2 == "mega") && g2.count(_._2 == "s0") == 10)
    // the boundary-split conf reaches this caller through
    // twoPhaseQuotaFill's own fallback — bit-identical keeps with the
    // level-2 split on (slot ties all share one level-1 bucket at b=1,
    // the degenerate shape the split exists for)
    spark.conf.set("spark.graft.boundarySplit", "true")
    try {
      val split = DomainMixture.applyMixtureScalable(docs, col("src"),
          col("doc_id"), weights, budget = 120L, nBuckets = 1)
        .as[(Long, String, Long)].collect().toSet
      assert(split == exact)
    } finally spark.conf.unset("spark.graft.boundarySplit")
  }

  test("domainStatsBatch/solveFromStore: batch-additive, replay-idempotent, one-shot-identical") {
    val dir = graft.queries.Drives.tempDir("mixinc")
    val all = fixture
    val b0 = all.limit(2)   // deterministic fixture order is fine here:
    val b1 = all.offset(2)  // the SPLIT does not affect additive sums
    DomainMixture.domainStatsBatch(b0, 0L, col("d"), col("loss"), dir)
    DomainMixture.domainStatsBatch(b1, 1L, col("d"), col("loss"), dir)
    // at-least-once replay of batch 1: store result unchanged
    DomainMixture.domainStatsBatch(b1, 1L, col("d"), col("loss"), dir)
    val inc = DomainMixture.solveFromStore(spark, dir, k = 2)
      .orderBy("domain")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(inc == run(2))
  }

  test("mixtureDriftDecision: stable store holds; moved domain resolves; absent domain holds") {
    val dir = graft.queries.Drives.tempDir("mixdrift")
    // batch 0: a=2e6, b=1e6, c=4e6; batch 1: a identical (stable),
    // b mean moves +2e6 (beyond band), c absent from the latest batch
    val b0 = Seq(("a", 2000000L), ("a", 2000000L), ("b", 1000000L),
      ("c", 4000000L)).toDF("d", "loss")
    val b1 = Seq(("a", 2000000L), ("b", 5000000L)).toDF("d", "loss")
    DomainMixture.domainStatsBatch(b0, 0L, col("d"), col("loss"), dir)
    DomainMixture.domainStatsBatch(b1, 1L, col("d"), col("loss"), dir)
    val got = DomainMixture.mixtureDriftDecision(spark, dir,
        bandMicro = 1000000L)
      .orderBy("domain")
      .select("domain", "action").as[(String, String)].collect().toSeq
    // a: delta 0 -> hold; b: all-mean 3e6, recent 5e6, delta 2e6 ->
    // resolve; c: no latest-batch evidence -> NULL delta -> hold
    assert(got == Seq(("a", "hold"), ("b", "resolve"), ("c", "hold")))
    // no drift anywhere -> no action anywhere (replay batch 1 changes
    // nothing; a fully stable two-batch store is all-hold)
    val dir2 = graft.queries.Drives.tempDir("mixdrift2")
    DomainMixture.domainStatsBatch(b0, 0L, col("d"), col("loss"), dir2)
    DomainMixture.domainStatsBatch(b0, 1L, col("d"), col("loss"), dir2)
    val stable = DomainMixture.mixtureDriftDecision(spark, dir2,
        bandMicro = 1L)
      .select("action").as[String].collect().toSet
    assert(stable == Set("hold"))
  }

  test("solve: harder domains only ever gain weight as k grows") {
    val w = (1 to 4).map(k => run(k, smooth = 0L))
    val wa = w.map(_.head._5)
    assert(wa == wa.sorted, s"domain a must be monotone in k: $wa")
    // weights stay a (floored) distribution
    w.foreach { r =>
      val s = r.map(_._5).sum
      assert(s <= 1000000L && s >= 999990L, s"sum drifted: $s")
    }
  }
}
