package graft

import graft.curation.Curation
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property-based bit-identity for the two-phase quota/prefix-sum
  * machinery: RANDOM key skews, sort-value distributions (modal,
  * negative, NULL-bearing), tie-id spans, bucket widths and the
  * boundary-split switch must all reproduce the window forms exactly —
  * the hand-written CurationSpec cases cover the designed-for shapes,
  * this covers the ones nobody designed for. One generated corpus per
  * scenario; each equivalence is a whole-frame set compare.
  */
class QuotaPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // a generated corpus row: (doc_id, key, n_tokens, quality-option)
  private type Doc = (Long, String, Long, Option[Long])

  private def corpus(seed: Long): Seq[Doc] = {
    val p = Gen.Parameters.default.withSize(60)
    def run[A](g: Gen[A], s: Long): A =
      g.apply(p, org.scalacheck.rng.Seed(s)).getOrElse(sys.error("gen failed"))
    val nKeys = run(Gen.chooseNum(1, 6), seed)
    val skewed = run(Gen.prob(0.5), seed + 1)
    val modal = run(Gen.prob(0.5), seed + 2)
    val sparseIds = run(Gen.prob(0.4), seed + 3)
    val nulls = run(Gen.prob(0.5), seed + 4)
    val rows = run(Gen.chooseNum(50, 400), seed + 5)
    (1 to rows).map { i =>
      val keyIdx =
        if (skewed && i % 10 != 0) 0
        else run(Gen.chooseNum(0, nKeys - 1), seed + 100 + i)
      val q: Option[Long] =
        if (nulls && i % 11 == 0) None
        else if (modal && i % 10 != 3) Some(7L)
        else Some(run(Gen.chooseNum(-30L, 30L), seed + 200 + i))
      val id =
        if (sparseIds) i.toLong * 982451653L
        else i.toLong
      (id, s"k$keyIdx", 1L + run(Gen.chooseNum(0L, 9L), seed + 300 + i), q)
    }
  }

  test("quotaPerKeyScalable ≡ window form on 12 random corpora × widths × split") {
    // AUTO (None) runs with a tiny evidence bound so the per-key routing
    // genuinely mixes engaged and plain keys within one frame
    spark.conf.set("spark.graft.boundarySplit.rows", "20")
    try {
      for (seed <- 1L to 12L) Checkpoint.scope {
        val df = Checkpoint(corpus(seed * 977L)
          .toDF("doc_id", "key", "n_tokens", "quality"))
        val n = (seed % 5).toInt * 13 // 0, 13, 26, 39, 52
        val exact = Curation.quotaPerKey(df, col("key"), n,
            Seq(col("quality").asc, col("doc_id")))
          .select("doc_id").as[Long].collect().toSet
        for (w <- Seq(1L, 8L);
             split <- Seq(Some(false), Some(true), None)) {
          val got = Curation.quotaPerKeyScalable(df, col("key"), n,
              col("quality"), col("doc_id"), bucketWidth = w,
              boundarySplit = split)
            .select("doc_id").as[Long].collect().toSet
          assert(got == exact, s"seed=$seed n=$n w=$w split=$split")
        }
      }
    } finally spark.conf.unset("spark.graft.boundarySplit.rows")
  }

  test("tokenBudgetMixScalable ≡ window form on 12 random corpora × widths × split") {
    spark.conf.set("spark.graft.boundarySplit.rows", "20")
    try {
      for (seed <- 1L to 12L) Checkpoint.scope {
        val df = Checkpoint(corpus(seed * 1259L)
          .toDF("doc_id", "key", "n_tokens", "quality"))
        val budget = Seq(0L, 25L, 120L, 1000000L)((seed % 4).toInt)
        val exact = Curation.tokenBudgetMix(df, col("n_tokens"), col("key"),
            Seq(col("quality").asc, col("doc_id")), budget)
          .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
        for (w <- Seq(1L, 8L);
             split <- Seq(Some(false), Some(true), None)) {
          val got = Curation.tokenBudgetMixScalable(df, col("n_tokens"),
              col("key"), col("quality"), col("doc_id"), budget,
              bucketWidth = w, boundarySplit = split)
            .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
          assert(got == exact, s"seed=$seed budget=$budget w=$w split=$split")
        }
      }
    } finally spark.conf.unset("spark.graft.boundarySplit.rows")
  }

  test("auto boundary split: modal heavy key engages, uniform corpus does not") {
    // engagement evidence is the level-1 histogram: with the bound at 50,
    // a modal key funneling 300 rows into one boundary bucket must route
    // through the second level, while a uniform corpus (all buckets tiny)
    // must keep the single-level plan — both bit-identical to the window
    // form. The plan check keys on the second level's struct sub-bucket.
    spark.conf.set("spark.graft.boundarySplit.rows", "50")
    try Checkpoint.scope {
      // modal: one key, 90% of rows share quality 7 → with width 8 the
      // boundary bucket holds ~360 rows (> 50): engages.
      val modal = Checkpoint((1 to 400).map { i =>
        (i.toLong, "k0", 1L, Some(if (i % 10 != 3) 7L else i.toLong % 30L))
      }.toDF("doc_id", "key", "n_tokens", "quality"))
      // uniform: 4 keys × 100 rows spread over qualities 0..999 → every
      // width-8 bucket holds ≤ a handful of rows: stays single-level.
      val uniform = Checkpoint((1 to 400).map { i =>
        (i.toLong, s"k${i % 4}", 1L, Some(i.toLong * 31L % 1000L))
      }.toDF("doc_id", "key", "n_tokens", "quality"))
      def run(df: org.apache.spark.sql.DataFrame, n: Int) =
        Curation.quotaPerKeyScalable(df, col("key"), n,
          col("quality"), col("doc_id"), bucketWidth = 8L)
      def exact(df: org.apache.spark.sql.DataFrame, n: Int) =
        Curation.quotaPerKey(df, col("key"), n,
          Seq(col("quality").asc, col("doc_id")))
      // bit-identity on both shapes
      assert(run(modal, 120).select("doc_id").as[Long].collect().toSet ==
        exact(modal, 120).select("doc_id").as[Long].collect().toSet)
      assert(run(uniform, 50).select("doc_id").as[Long].collect().toSet ==
        exact(uniform, 50).select("doc_id").as[Long].collect().toSet)
      // the modal plan engaged the second level (tie-range sub-bucket
      // struct appears); the uniform plan did not
      assert(run(modal, 120).queryExecution.optimizedPlan.toString
        .contains("__b2"))
      assert(!run(uniform, 50).queryExecution.optimizedPlan.toString
        .contains("__b2"))
    } finally spark.conf.unset("spark.graft.boundarySplit.rows")
  }
}
