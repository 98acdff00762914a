package graft

import graft.text.Perceptron
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PerceptronSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("features: rolling-hash dims, multiplicity counts, bias row per doc") {
    def refDim(s: String, dims: Int): Int =
      (s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L) % dims).toInt
    val docs = Seq((1L, "en", "Ab ab zz zz zz"), (2L, "de", ""))
      .toDF("doc_id", "lang", "text")
    val got = Perceptron.features(docs, col("text"), col("doc_id"),
        when(col("lang") === "en", lit(1)).otherwise(lit(-1)), dims = 8)
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(got == Set(
      (1L, 1, refDim("ab", 8), 2L),
      (1L, 1, refDim("zz", 8), 3L),
      (1L, 1, -1, 1L),
      // word-less doc still gets its bias row — it stays scoreable
      (2L, -1, -1, 1L)))
  }

  test("train: hand-run batch perceptron on a separable 2-dim problem") {
    val feats = Seq(
      (1L, 1, 0, 2L), (1L, 1, -1, 1L),   // doc 1: x=[2,0], y=+1
      (2L, -1, 1, 3L), (2L, -1, -1, 1L)  // doc 2: x=[0,3], y=-1
    ).toDF("doc_id", "y", "dim", "cnt")
    val (w, trace) = Perceptron.train(feats, k = 2, dims = 2)
    // iter 1: all scores 0 -> both misclassified (margin <= 0 counts);
    // update: dim0 += +1*2, dim1 += -1*3, bias += (+1) + (-1) = 0.
    // iter 2: margins 4 and 9 -> zero mistakes, weights unchanged.
    assert(trace == Seq((1, 2L), (2, 0L)))
    assert(w == Map(-1 -> 0L, 0 -> 2L, 1 -> -3L))
    val acc = Perceptron.accuracyReport(feats, w)
      .as[(Int, Long, Long)].collect().toSet
    assert(acc == Set((1, 1L, 1L), (-1, 1L, 1L)))
  }

  test("train: pocket keeps the earliest fewest-mistakes candidate") {
    // d1: x=[2], y=+1; d2: x=[1], y=-1.
    // it1 evaluates w0=0: 2 mistakes; update (both docs): dim0 += 2-1=+1,
    //   bias += 1-1=0 -> w1={0:1, b:0}.
    // it2 evaluates w1: d1 margin 2 ok, d2 margin 1 -> 1 mistake; pocket
    //   = w1. update over {d2}: dim0 -= 1, bias -= 1 -> w2={0:0, b:-1}.
    // it3 evaluates w2: d1 margin -1 mistake, d2 margin -1 correct -> 1
    //   mistake; TIE with the pocket -> earliest wins, pocket stays w1.
    val feats = Seq(
      (1L, 1, 0, 2L), (1L, 1, -1, 1L),
      (2L, -1, 0, 1L), (2L, -1, -1, 1L)
    ).toDF("doc_id", "y", "dim", "cnt")
    val (w, trace) = Perceptron.train(feats, k = 3, dims = 1)
    assert(trace == Seq((1, 2L), (2, 1L), (3, 1L)))
    assert(w == Map(-1 -> 0L, 0 -> 1L))
  }

  test("train: zero-weight degenerate stays all-mistakes but converges in form") {
    // single doc with only a bias feature and y=-1: iter 1 misclassifies
    // (0 margin), bias -> -1, iter 2 margin = (-1)(-1) = 1 > 0 correct
    val feats = Seq((1L, -1, -1, 1L)).toDF("doc_id", "y", "dim", "cnt")
    val (w, trace) = Perceptron.train(feats, k = 2, dims = 2)
    assert(trace == Seq((1, 1L), (2, 0L)))
    assert(w(-1) == -1L)
  }

  // scores under w={0->1, b->0}: docs 1..5 score 5,4,3,2,1 with labels
  // +,+,-,+,- (tot_pos = 3). Gains desc: s=5 cum_pos=1, s=4 2, s=3 2,
  // s=2 3, s=1 3.
  private def gainsFixture = Seq(
    (1L, 1, 0, 5L), (1L, 1, -1, 1L),
    (2L, 1, 0, 4L), (2L, 1, -1, 1L),
    (3L, -1, 0, 3L), (3L, -1, -1, 1L),
    (4L, 1, 0, 2L), (4L, 1, -1, 1L),
    (5L, -1, 0, 1L), (5L, -1, -1, 1L)
  ).toDF("doc_id", "y", "dim", "cnt")
  private val gainsW = Map(-1 -> 0L, 0 -> 1L)

  test("chooseCutoff: highest cutoff meeting the integer recall target") {
    def cut(t: Int): Option[Long] =
      Perceptron.chooseCutoff(gainsFixture, gainsW, t)
        .collect().map(r => Option(r.get(0)).map(_ => r.getLong(0))).head
    // 900‰ of 3 positives needs cum_pos*1000 >= 2700 -> cum_pos = 3 ->
    // cutoffs {2, 1} qualify, max = 2
    assert(cut(900) == Some(2L))
    // 600‰ -> cum_pos >= 2 (1.8 exact-int) -> max qualifying cutoff = 4
    assert(cut(600) == Some(4L))
    assert(cut(1000) == Some(2L))
  }

  test("calibratedKeep: kept set, cutoff column, target monotonicity") {
    def kept(t: Int) = Perceptron.calibratedKeep(gainsFixture, gainsW, t)
      .as[(Long, Int, Long, Long)].collect().toSet
    val k900 = kept(900)
    assert(k900 == Set((1L, 1, 5L, 2L), (2L, 1, 4L, 2L),
      (3L, -1, 3L, 2L), (4L, 1, 2L, 2L)))
    val k600 = kept(600)
    assert(k600 == Set((1L, 1, 5L, 4L), (2L, 1, 4L, 4L)))
    // raising the recall target only ever ADDS survivors
    assert(k600.map(_._1).subsetOf(k900.map(_._1)))
  }

  test("driftBatch: at-least-once replay leaves the store byte-identical") {
    val dir = graft.queries.Drives.tempDir("driftb")
    val label = when(col("lang") === "en", lit(1)).otherwise(lit(-1))
    val w = Map(-1 -> 0L, 0 -> 1L)
    val b0 = Seq((1L, "en", "a b"), (2L, "de", "c")).toDF("doc_id", "lang", "text")
    val b1 = Seq((3L, "en", "d")).toDF("doc_id", "lang", "text")
    Perceptron.driftBatch(b0, 0L, col("text"), col("doc_id"), label, 4, w, dir)
    Perceptron.driftBatch(b1, 1L, col("text"), col("doc_id"), label, 4, w, dir)
    val before = Perceptron.driftReport(spark, dir)
      .collect().map(_.toSeq).toSet
    // replay batch 0 (at-least-once delivery): dynamic overwrite of its
    // own partition -> the report is unchanged, no duplicate rows
    Perceptron.driftBatch(b0, 0L, col("text"), col("doc_id"), label, 4, w, dir)
    val after = Perceptron.driftReport(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(after == before)
    assert(after.size == 2)
  }

  test("driftBatch: empty micro-batch stages nothing; drift spans real batches") {
    val dir = graft.queries.Drives.tempDir("driftE")
    val label = when(col("lang") === "en", lit(1)).otherwise(lit(-1))
    val w = Map(-1 -> 0L, 0 -> 1L)
    val b0 = Seq((1L, "en", "a b"), (2L, "de", "c")).toDF("doc_id", "lang", "text")
    val empty = b0.filter(lit(false))
    val b2 = Seq((3L, "en", "d")).toDF("doc_id", "lang", "text")
    Perceptron.driftBatch(b0, 0L, col("text"), col("doc_id"), label, 4, w, dir)
    // a quiet source: the empty batch must NOT stage an (n_docs=0,
    // n_correct=NULL) census row — that row would NULL acc_micro AND
    // blank the NEXT batch's drift (acc - lag(NULL))
    Perceptron.driftBatch(empty, 1L, col("text"), col("doc_id"), label, 4, w, dir)
    Perceptron.driftBatch(b2, 2L, col("text"), col("doc_id"), label, 4, w, dir)
    val rows = Perceptron.driftReport(spark, dir)
      .orderBy(col("batch_id"))
      .select(col("batch_id"), col("acc_micro"), col("drift_micro"))
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 2L))
    assert(rows.forall(!_.isNullAt(1)), "acc_micro must never be NULL")
    // batch 2's drift bridges the gap: acc(2) - acc(0), not NULL
    assert(!rows(1).isNullAt(2), "drift across a quiet interval must not blank")
    assert(rows(1).getLong(2) == rows(1).getLong(1) - rows(0).getLong(1))
  }

  test("retrainDecision: no drift → no action; band edges exact") {
    val panel = Seq(
      (0L, 10L, 8L, 800000L, None),            // first batch: NULL drift
      (1L, 10L, 8L, 800000L, Some(0L)),        // perfectly stable
      (2L, 10L, 8L, 776000L, Some(-24000L)),   // inside the band
      (3L, 10L, 8L, 751000L, Some(-25000L)),   // exactly AT the band
      (4L, 10L, 8L, 791000L, Some(40000L)))    // spike UP also triggers
      .toDF("batch_id", "n_docs", "n_correct", "acc_micro", "drift_micro")
    val got = Perceptron.retrainDecision(panel, thresholdMicro = 25000L)
      .orderBy("batch_id").select("action").as[String].collect().toSeq
    assert(got == Seq("hold", "hold", "hold", "retrain", "retrain"))
  }

  test("calibratedKeep: zero-positive corpus keeps only the top tie group") {
    // no positives -> every cutoff satisfies the target vacuously ->
    // max score wins (documented conservative degenerate)
    val feats = Seq((1L, -1, 0, 3L), (2L, -1, 0, 1L))
      .toDF("doc_id", "y", "dim", "cnt")
    val got = Perceptron.calibratedKeep(feats, Map(0 -> 1L), 900)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == Set((1L, -1, 3L, 3L)))
  }
}
