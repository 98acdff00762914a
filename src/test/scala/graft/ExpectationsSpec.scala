package graft

import graft.ops.Expectations
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExpectationsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, Some("short"), Some("en")),
    (2L, Some("x" * 300), Some("en")),      // breaks text_max_256
    (3L, None: Option[String], Some("zh")), // NULL text + non-western lang
    (3L, Some("dup id"), Some("de")),       // duplicate doc_id
    (4L, Some("ok"), None)                  // NULL lang
  ).toDF("doc_id", "text", "lang")

  test("validate: NULL predicates are violations, counts exact, one-pass plan") {
    val got = Expectations.validate(docs, Seq(
        "text_max_256" -> (length($"text") <= 256),
        "lang_western" -> $"lang".isin("en", "de", "fr"),
        "doc_id_not_null" -> $"doc_id".isNotNull))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 2 too long; doc 3's NULL text is a VIOLATION (the ternary
    // trap), so text_max_256 has 2; zh + NULL lang give lang_western 2
    assert(got == Map(
      "text_max_256" -> ((5L, 2L, 0L)),
      "lang_western" -> ((5L, 2L, 0L)),
      "doc_id_not_null" -> ((5L, 0L, 1L))))
    // every row rule rides ONE aggregation — no union, no join, no
    // per-rule re-scan
    val plan = Expectations.validate(docs,
      Seq("a" -> $"doc_id".isNotNull, "b" -> (length($"text") > 0)))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union") && !plan.contains("Join"), plan)
  }

  test("uniqueViolations: dup rows beyond the first, NULL keys are a real group") {
    val u = Expectations.uniqueViolations(docs, "doc_id_unique", Seq($"doc_id"))
      .as[(String, Long, Long, Long)].collect().head
    assert(u == (("doc_id_unique", 5L, 1L, 0L)))
    val withNulls = docs.unionByName(
      Seq((0L, Some("n1"), Some("en")), (0L, Some("n2"), Some("en")))
        .toDF("doc_id", "text", "lang")
        .withColumn("doc_id", lit(null).cast("long")))
    val n = Expectations.uniqueViolations(withNulls, "u", Seq($"doc_id"))
      .as[(String, Long, Long, Long)].collect().head
    assert(n == (("u", 7L, 2L, 0L))) // the two NULL ids duplicate too
  }

  test("expectationsIngest: per-batch quality time series, replay-idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.queries.Drives.tempDir("graft_exp_ingest")
    val in = MemoryStream[(Long, String)]
    val q = Expectations.expectationsIngest(
      in.toDF().toDF("doc_id", "text"), s"$base/report",
      rules = Seq("text_short" -> (length($"text") <= 8)),
      queryName = "exp_ingest_test")
    try {
      in.addData((1L, "ok"), (2L, "also ok"))
      q.processAllAvailable()
      in.addData((3L, "this one is far too long"), (4L, "fine"))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/report")
        .select("batch_id", "rule", "n_rows", "n_violations", "pass")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      assert(got == Set(
        (0L, "text_short", 2L, 0L, 1L),
        (1L, "text_short", 2L, 1L, 0L)))
      // replay idempotence: re-running a batch overwrites its OWN
      // partition, never doubles it
      Expectations.validateBatch(
        Seq((3L, "this one is far too long"), (4L, "fine"))
          .toDF("doc_id", "text"),
        1L, s"$base/report", Seq("text_short" -> (length($"text") <= 8)))
      assert(spark.read.parquet(s"$base/report").count() == 2)
    } finally q.stop()
  }

  test("property: validate/unique match an independent evaluation on 8 random frames") {
    import org.scalacheck.Gen
    val p = Gen.Parameters.default.withSize(60)
    def run[A](g: Gen[A], s: Long): A =
      g.apply(p, org.scalacheck.rng.Seed(s)).getOrElse(sys.error("gen failed"))
    for (seed <- 1L to 8L) {
      val n = run(Gen.chooseNum(0, 120), seed)
      val rows: Seq[(Long, Option[Long], Option[String])] = (1 to n).map { i =>
        val id = run(Gen.chooseNum(1L, 30L), seed + i) // dups by design
        val v = if (run(Gen.prob(0.2), seed + 1000 + i)) None
          else Some(run(Gen.chooseNum(-50L, 50L), seed + 2000 + i))
        val t = if (run(Gen.prob(0.2), seed + 3000 + i)) None
          else Some(Seq("a", "b", "c")(run(Gen.chooseNum(0, 2), seed + 4000 + i)))
        (id, v, t)
      }
      val df = rows.toDF("id", "v", "tag").localCheckpoint(true)
      val thr = run(Gen.chooseNum(-20L, 20L), seed + 9000)
      val got = Expectations.validate(df, Seq(
          "v_le_thr" -> ($"v" <= thr),
          "tag_ab" -> $"tag".isin("a", "b")))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> r._3).toMap
      // independent evaluation: NULL predicate (NULL operand) = violation
      val expV = rows.count(r => !r._2.exists(_ <= thr)).toLong
      val expT = rows.count(r => !r._3.exists(Set("a", "b"))).toLong
      assert(got == Map("v_le_thr" -> expV, "tag_ab" -> expT), s"seed=$seed")
      val uq = Expectations.uniqueViolations(df, "u", Seq($"id"))
        .as[(String, Long, Long, Long)].collect().head
      val expDup = rows.groupBy(_._1).values.map(g => g.size - 1L).sum
      assert(uq._2 == n.toLong && uq._3 == expDup, s"seed=$seed unique")
    }
  }

  test("report: suite unions row rules and uniqueness; empty frame all-pass") {
    val rep = Expectations.report(docs,
        rules = Seq("doc_id_not_null" -> $"doc_id".isNotNull),
        uniqueKeys = Seq("doc_id_unique" -> Seq($"doc_id")))
      .as[(String, Long, Long, Long)].collect().map(_._1).toSeq
    assert(rep == Seq("doc_id_not_null", "doc_id_unique")) // ordered
    val empty = Expectations.report(docs.limit(0),
        rules = Seq("r1" -> $"doc_id".isNotNull),
        uniqueKeys = Seq("u1" -> Seq($"doc_id")))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(empty == Set(("r1", 0L, 0L, 1L), ("u1", 0L, 0L, 1L)))
    // an empty suite is a misconfiguration, not an opaque reduce error
    val err = intercept[IllegalArgumentException] {
      Expectations.report(docs, Nil, Nil)
    }
    assert(err.getMessage.contains("at least one rule"), err.getMessage)
  }

  test("validateBatch: returns the batch's own verdict without reading the store") {
    val base = graft.queries.Drives.tempDir("graft_exp_verdict")
    val rules = Seq("text_short" -> (length($"text") <= 8))
    assert(Expectations.validateBatch(
      Seq((1L, "ok")).toDF("doc_id", "text"), 0L, s"$base/report", rules))
    assert(!Expectations.validateBatch(
      Seq((2L, "far far far too long")).toDF("doc_id", "text"),
      1L, s"$base/report", rules))
    // the verdict matches what the store records for each batch
    val stored = spark.read.parquet(s"$base/report")
      .select("batch_id", "pass").as[(Long, Long)].collect().toMap
    assert(stored == Map(0L -> 1L, 1L -> 0L))
  }
}
