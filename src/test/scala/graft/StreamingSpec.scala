package graft

import graft.streaming.Streams
import graft.streaming.Streams.{MetricEvent, StressPoint}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def us(sec: Long) = sec * 1000000L

  test("ewmaStress folds the reference recurrence across micro-batches (ST5)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[MetricEvent]
    val q = Streams.ewmaStress(in.toDS())
      .writeStream.format("memory").queryName("stress").outputMode("append").start()
    try {
      // two micro-batches for the same key: state must carry across
      in.addData(MetricEvent(1L, us(1), 100.0), MetricEvent(1L, us(2), 50.0))
      q.processAllAvailable()
      in.addData(MetricEvent(1L, us(3), 80.0), MetricEvent(2L, us(1), 10.0))
      q.processAllAvailable()
      val got = spark.table("stress").as[StressPoint].collect()
        .sortBy(p => (p.key, p.tsMicros))
      // reference recurrence: first point seeds avg = x
      val s1 = 100.0
      val s2 = 0.02 * 50 + 0.98 * s1
      val s3 = 0.02 * 80 + 0.98 * s2
      val l2 = 0.005 * 50 + 0.995 * 100.0
      val l3 = 0.005 * 80 + 0.995 * l2
      assert(got.map(_.key).toSeq == Seq(1L, 1L, 1L, 2L))
      assert(math.abs(got(0).shortAvg - s1) < 1e-12)
      assert(math.abs(got(1).shortAvg - s2) < 1e-12)
      assert(math.abs(got(2).shortAvg - s3) < 1e-12)
      assert(math.abs(got(2).longAvg - l3) < 1e-12)
      assert(math.abs(got(3).shortAvg - 10.0) < 1e-12)
    } finally q.stop()
  }

  test("redactPii is a stateless projection: applies per micro-batch on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = graft.text.TextAnalysis.redactPii(in.toDS().toDF("doc_id", "text"),
        col("text"), col("doc_id"))
      .writeStream.format("memory").queryName("pii").outputMode("append").start()
    try {
      in.addData((1L, "ping a@b.co now"), (2L, "ip 10.0.0.1"))
      q.processAllAvailable()
      val got = spark.table("pii").orderBy("doc_id").collect()
      assert(got(0).getAs[String]("clean_text") == "ping <EMAIL> now")
      assert(got(1).getAs[String]("clean_text") == "ip <IP>")
    } finally q.stop()
  }

  test("classifierScore is a stateless projection: streams per micro-batch, batch-identical") {
    implicit val sqlCtx = spark.sqlContext
    val w = graft.text.TextAnalysis.defaultClassifierWeights(64)
    val in = MemoryStream[(Long, String)]
    val q = graft.text.TextAnalysis.classifierScore(
        in.toDS().toDF("doc_id", "text"), col("text"), col("doc_id"), w, -0.25)
      .writeStream.format("memory").queryName("clf").outputMode("append").start()
    try {
      val docs = Seq((1L, "the quick brown fox"), (2L, "a a a a"))
      in.addData(docs: _*)
      q.processAllAvailable()
      val streamGot = spark.table("clf").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
      val batchGot = graft.text.TextAnalysis.classifierScore(
          docs.toDF("doc_id", "text"), col("text"), col("doc_id"), w, -0.25)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(streamGot == batchGot) // stream/batch unification, bit-exact
    } finally q.stop()
  }

  test("driftIngest: per-micro-batch scorer panel matches the batch driftPanel twin") {
    implicit val sqlCtx = spark.sqlContext
    val w = Map(-1 -> 0L, 0 -> 1L, 1 -> 1L, 2 -> -2L, 3 -> 1L,
      4 -> -1L, 5 -> 2L, 6 -> -1L, 7 -> 1L)
    val label = when(col("lang") === "en", lit(1)).otherwise(lit(-1))
    val dir = graft.queries.Drives.tempDir("drift")
    val in = MemoryStream[(Long, String, String)]
    val q = graft.text.Perceptron.driftIngest(
      in.toDS().toDF("doc_id", "lang", "text"), col("text"), col("doc_id"),
      label, dims = 8, w, s"$dir/store")
    val batches = Seq(
      Seq((1L, "en", "the quick fox"), (2L, "de", "der der der")),
      Seq((3L, "en", "a a b"), (4L, "en", "zz yy xx"), (5L, "de", "nein")),
      Seq((6L, "de", "doch doch")))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = graft.text.Perceptron.driftReport(spark, s"$dir/store")
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
      // batch twin over the SAME docs with the micro-batch assignment
      val all = batches.zipWithIndex
        .flatMap { case (b, i) => b.map(d => (d._1, d._2, d._3, i.toLong)) }
        .toDF("doc_id", "lang", "text", "b")
      val feats = graft.text.Perceptron.features(all, col("text"),
        col("doc_id"), label, dims = 8)
      // batch of a doc = its micro-batch index (doc_id ranges per batch)
      val twin = graft.text.Perceptron.driftPanel(feats, w,
          when(col("doc_id") <= 2, 0L).when(col("doc_id") <= 5, 1L)
            .otherwise(2L))
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
      assert(got == twin)
      assert(got.head._5.isEmpty) // first batch has nothing to drift from
      assert(got.size == 3)
    } finally q.stop()
  }

  test("sessionization streams: watermarked session_window matches batch byGap membership") {
    implicit val sqlCtx = spark.sqlContext
    // (user, epoch-sec): user 1 has two sessions split by a >60s gap
    val events = Seq((1L, 100L), (1L, 130L), (1L, 300L), (2L, 100L))
    val in = MemoryStream[(Long, Long)]
    val stream = in.toDS().toDF("user_id", "sec")
      .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"))
    val q = stream.withWatermark("ts", "10 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      // advance the watermark past every session end so results emit
      in.addData((99L, 100000L))
      q.processAllAvailable()
      val got = spark.table("sess")
        .filter(col("user_id") < 99)
        .select(col("user_id"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L), (1L, 1L), (2L, 1L)))
      // same membership as the batch operator
      val batch = graft.ops.Sessionize.byGap(
        events.toDF("user_id", "sec")
          .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"),
            col("sec").as("tie")),
        col("user_id"), col("ts"), col("tie"), maxGapMs = 60000L)
        .select(col("key"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("unigram scoring streams against a static model (stream-static join)") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "a a a"), (2L, "a b")).toDF("doc_id", "text")
    val model = graft.text.TextAnalysis.unigramModel(corpus, col("text"))
    val in = MemoryStream[(Long, String)]
    val q = graft.text.TextAnalysis.scoreWithModel(
        in.toDS().toDF("doc_id", "text"), model, col("text"), col("doc_id"))
      .writeStream.format("memory").queryName("lmscore")
      .outputMode("complete").start()
    try {
      in.addData((10L, "a a"), (11L, "zzz b")) // zzz is OOV -> floor -20
      q.processAllAvailable()
      val got = spark.table("lmscore").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // lp(a)=round(ln(4/5),6)=-0.223144, lp(b)=round(ln(1/5),6)=-1.609438
      assert(got(0) == ((10L, 2L, -0.223144)))
      assert(got(1) == ((11L, 2L, -10.804719))) // round((-20 + -1.609438)/2, 6)
    } finally q.stop()
  }

  test("streaming EWMA agrees with the batch w4 strict left fold") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(3)
    val events = (1 to 40).map(i => MetricEvent(7L, us(i), rnd.nextDouble() * 100))
    val in = MemoryStream[MetricEvent]
    val q = Streams.ewmaStress(in.toDS())
      .writeStream.format("memory").queryName("stress2").outputMode("append").start()
    try {
      events.grouped(7).foreach { batch => in.addData(batch); q.processAllAvailable() }
      val streamed = spark.table("stress2").as[StressPoint].collect()
        .sortBy(_.tsMicros).last.shortAvg
      val batchFold = events.map(_.value).reduceLeft((a, x) => 0.02 * x + 0.98 * a)
      assert(math.abs(streamed - batchFold) < 1e-9)
    } finally q.stop()
  }

  test("tumbling window with watermark aggregates per window per key (ST3/ST4)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = in.toDS().toDF("ts", "key", "value")
    val q = Streams.tumblingCounts(df, "ts", "key", "value", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("tumble").outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      in.addData(
        (t("2024-03-01 00:10:00"), 1L, 10.0),
        (t("2024-03-01 00:50:00"), 1L, 5.0),
        (t("2024-03-01 01:20:00"), 1L, 7.0))
      q.processAllAvailable()
      // advance watermark far enough to close both windows
      in.addData((t("2024-03-01 03:00:00"), 9L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("tumble")
        .select("window_start", "key", "n", "sum_value")
        .as[(java.sql.Timestamp, Long, Long, Double)].collect().sortBy(_._1.getTime)
      assert(rows.map(r => (r._1.toString, r._2, r._3, r._4)).toSeq ==
        Seq(("2024-03-01 00:00:00.0", 1L, 2L, 15.0),
            ("2024-03-01 01:00:00.0", 1L, 1L, 7.0)))
    } finally q.stop()
  }

  test("streaming HDR buckets match the batch histogram per window (ST3c)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val df = in.toDS().toDF("ts", "key", "cents")
    val q = Streams.hdrBuckets(df, "ts", "key", col("cents"), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("hdrb").outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val data = Seq(
        (t("2024-03-01 00:10:00"), 1L, 3L),    // exact bucket 3
        (t("2024-03-01 00:20:00"), 1L, 9L),    // msb 3: bucket 0*8+9 = 9
        (t("2024-03-01 00:30:00"), 1L, 9L),    // same bucket, n=2
        (t("2024-03-01 00:40:00"), 1L, 1000L), // msb 9: shift 6, 1000>>6=15 -> 63
        (t("2024-03-01 01:10:00"), 1L, 3L))
      in.addData(data: _*)
      q.processAllAvailable()
      in.addData((t("2024-03-01 03:00:00"), 9L, 1L)) // close both windows
      q.processAllAvailable()
      val got = spark.table("hdrb").filter(col("key") === 1L)
        .select("window_start", "bucket", "n")
        .as[(java.sql.Timestamp, Long, Long)].collect()
        .map(r => (r._1.toString, r._2, r._3)).toSet
      assert(got == Set(
        ("2024-03-01 00:00:00.0", 3L, 1L),
        ("2024-03-01 00:00:00.0", 9L, 2L),
        ("2024-03-01 00:00:00.0", 63L, 1L),
        ("2024-03-01 01:00:00.0", 3L, 1L)))
      // batch twin: same (window, bucket, n) from HdrHist.histogram
      val batch = graft.ops.HdrHist.histogram(
          data.toDF("ts", "key", "cents")
            .filter(col("key") === 1L)
            .select(window(col("ts"), "1 hour").getField("start")
              .as("window_start"), col("cents")),
          col("cents"), Seq("window_start"))
        .as[(java.sql.Timestamp, Long, Long)].collect()
        .map(r => (r._1.toString, r._2, r._3)).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("sliding windows stream: each event lands in len/slide windows (ST3b)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val df = in.toDS().toDF("ts", "key")
    val q = Streams.slidingCounts(df, "ts", "key", "1 hour", "15 minutes",
        "10 minutes")
      .writeStream.format("memory").queryName("slide").outputMode("append")
      .start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // 00:31 → member of the 4 windows starting 23:45..00:30;
      // 00:44 shares all four; 00:50 shares three and adds 00:45
      in.addData((t("2024-03-01 00:31:00"), 1L), (t("2024-03-01 00:44:00"), 1L),
        (t("2024-03-01 00:50:00"), 1L))
      q.processAllAvailable()
      in.addData((t("2024-03-01 04:00:00"), 9L)) // close everything
      q.processAllAvailable()
      val rows = spark.table("slide").as[(java.sql.Timestamp, Long, Long)]
        .collect().filter(_._2 == 1L).sortBy(_._1.getTime)
        .map(r => (r._1.toString, r._3)).toSeq
      assert(rows == Seq(
        ("2024-02-29 23:45:00.0", 2L),
        ("2024-03-01 00:00:00.0", 3L),
        ("2024-03-01 00:15:00.0", 3L),
        ("2024-03-01 00:30:00.0", 3L),
        ("2024-03-01 00:45:00.0", 1L)), rows.toString)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups by id (ST8)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val df = in.toDS().toDF("ts", "id")
    val q = Streams.dedupById(df, "ts", "id", "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      in.addData((t("2024-03-01 00:00:00"), 1L), (t("2024-03-01 00:01:00"), 1L),
        (t("2024-03-01 00:02:00"), 2L))
      q.processAllAvailable()
      in.addData((t("2024-03-01 00:03:00"), 1L)) // still within watermark -> dup
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }

  test("BoundedTopK works as a streaming aggregate across micro-batches (O6)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Double, Long)]
    val topk = udaf(new graft.ops.TopK.BoundedTopK(2))
    val df = in.toDS().toDF("value", "id")
      .agg(topk(col("value"), col("id")).as("tk"))
    val q = df.writeStream.format("memory").queryName("topk")
      .outputMode("complete").start()
    try {
      in.addData((5.0, 1L), (9.0, 2L)); q.processAllAvailable()
      in.addData((7.0, 3L), (1.0, 4L)); q.processAllAvailable()
      val tk = spark.table("topk").selectExpr("inline(tk)")
        .as[(Double, Long)].collect()
      assert(tk.toSeq == Seq((9.0, 2L), (7.0, 3L)))
    } finally q.stop()
  }

  test("KMV sketch works as a streaming aggregate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val minK = udaf(new graft.ops.Kmv.MinKDistinct(4))
    val df = in.toDS().toDF("k", "uid")
      .select(col("k"),
        ((col("uid") * lit(2654435761L) + lit(987654321L)) %
          lit(graft.ops.Kmv.M)).as("hv"))
      .groupBy(col("k")).agg(minK(col("hv")).as("mins"))
    val q = df.writeStream.format("memory").queryName("kmv")
      .outputMode("complete").start()
    try {
      in.addData(("a", 1L), ("a", 2L), ("b", 10L)); q.processAllAvailable()
      in.addData(("a", 3L), ("a", 1L), ("a", 7L), ("a", 9L), ("b", 11L))
      q.processAllAvailable()
      val got = spark.table("kmv").as[(String, Seq[Long])].collect()
        .toMap
      // streaming state after two batches == batch fold over all input
      val aggr = new graft.ops.Kmv.MinKDistinct(4)
      def expect(ids: Seq[Long]) =
        ids.map(graft.ops.Kmv.hash).foldLeft(aggr.zero)(aggr.reduce)
      assert(got("a") == expect(Seq(1L, 2L, 3L, 1L, 7L, 9L)))
      assert(got("b") == expect(Seq(10L, 11L)))
    } finally q.stop()
  }

  test("lastNPerKey keeps the n newest rows per key by event time (ST6)") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"), (1L, 40L, "d"), (1L, 50L, "e"),
      (2L, 10L, "x"), (2L, 20L, "y"))
      .toDF("key", "ts", "tag")
    val got = Streams.lastNPerKey(df, "key", "ts", 3)
      .orderBy("key", "ts")
      .as[(Long, Long, String)].collect().toSeq
    // key 1: the 3 newest survive; key 2 has only 2 rows, both kept
    assert(got == Seq((1L, 30L, "c"), (1L, 40L, "d"), (1L, 50L, "e"),
      (2L, 10L, "x"), (2L, 20L, "y")))
    // schema passes through (the helper column is dropped)
    assert(Streams.lastNPerKey(df, "key", "ts", 1).columns.toSeq == df.columns.toSeq)
  }

  test("fanOut writes projected column subsets per sink (S4)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Double)]
    val df = in.toDS().toDF("id", "kind", "value")
    val captured = scala.collection.concurrent.TrieMap[String, Array[String]]()
    val q = Streams.fanOut(df, Map(
      "narrow" -> (Seq("id"), (b: org.apache.spark.sql.DataFrame) =>
        captured("narrow") = b.columns),
      "wide" -> (Seq("id", "value"), (b: org.apache.spark.sql.DataFrame) =>
        captured("wide") = b.columns)
    )).start()
    try {
      in.addData((1L, "x", 2.0))
      q.processAllAvailable()
      assert(captured("narrow").toSeq == Seq("id"))
      assert(captured("wide").toSeq == Seq("id", "value"))
    } finally q.stop()
  }

  test("fanOut consumes both batch-id forms identically (S4 over the J-twin)") {
    // the live topology assigns batch ids inside foreachBatch; the
    // fan-out must behave the same whether they come from the dense
    // window form or the scalable monotonic form — same rows reach the
    // sinks, and both forms satisfy the ≤batchSize / non-negative
    // invariants the multiplex relies on
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val df = in.toDS().toDF("arrival_timestamp", "query_id")
    val rows = scala.collection.concurrent.TrieMap[String, Set[Long]]()
    val ok = scala.collection.concurrent.TrieMap[String, Boolean]()
    def audit(form: String, b: org.apache.spark.sql.DataFrame): Unit = {
      val per = b.groupBy("batch_id").count().collect()
      ok(form) = per.forall(r => r.getLong(1) <= 3 && r.getLong(0) >= 0)
      rows(form) = b.select("query_id").as[Long].collect().toSet
    }
    val q = Streams.fanOut(df, Map(
      "dense" -> (Seq("arrival_timestamp", "query_id"),
        (b: org.apache.spark.sql.DataFrame) =>
          audit("dense", graft.etl.Clean.withBatchId(b, 3))),
      "scalable" -> (Seq("arrival_timestamp", "query_id"),
        (b: org.apache.spark.sql.DataFrame) =>
          audit("scalable", graft.etl.Clean.withBatchIdScalable(b, 3)))
    )).start()
    try {
      in.addData((1L to 8L).map(i =>
        (new java.sql.Timestamp(1700000000000L + i * 1000L), i)): _*)
      q.processAllAvailable()
      assert(rows("dense") == (1L to 8L).toSet)
      assert(rows("scalable") == rows("dense"))
      assert(ok("dense") && ok("scalable"))
    } finally q.stop()
  }

  test("asOfEnrich: stateful streaming as-of matches the batch operator on ordered input") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams.{AsOfEvent, AsOfMatch}
    val in = MemoryStream[AsOfEvent]
    val q = Streams.asOfEnrich(in.toDS())
      .writeStream.format("memory").queryName("asof").outputMode("append").start()
    try {
      // batch 1: a right obs at t=100, lefts at t=90 (no match) and t=100
      // (exact-tie inclusive) — plus state carried into batch 2
      in.addData(
        AsOfEvent(1L, 100L, 0, 10.0),
        AsOfEvent(1L, 90L, 1, 1.0),
        AsOfEvent(1L, 100L, 1, 2.0))
      q.processAllAvailable()
      // commit barrier: processAllAvailable can return before the first
      // trigger observes the offset when called right after start() — wait
      // until batch 1's two left rows are actually in the sink, otherwise
      // batch 2's addData coalesces into the same micro-batch and the
      // cross-batch state assertion tests nothing
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("asof").count() < 2 && System.nanoTime() < deadline) {
        Thread.sleep(50); q.processAllAvailable()
      }
      assert(spark.table("asof").count() == 2, "batch 1 never committed")
      // batch 2: left matches the REMEMBERED right from batch 1; a stale
      // late right (t=50) must not overwrite the newer state
      in.addData(
        AsOfEvent(1L, 50L, 0, 99.0),
        AsOfEvent(1L, 200L, 1, 3.0))
      q.processAllAvailable()
      val got = spark.table("asof").as[AsOfMatch].collect()
        .sortBy(_.tsMicros)
        .map(m => (m.tsMicros, m.asofTsMicros, m.asofValue)).toSeq
      assert(got == Seq(
        (90L, None, None),            // precedes the first right row
        (100L, Some(100L), Some(10.0)), // backward-INCLUSIVE at equal ts
        (200L, Some(100L), Some(10.0)))) // cross-batch state; stale right ignored
      // batch-operator agreement on the rights the stream ACCEPTED (the
      // omniscient batch join would also match left t=90 to the late
      // right t=50 — precisely the at-arrival divergence the stale-row
      // assertion above pins, so the stale right is excluded here)
      val left = Seq((1L, 90L, 1.0), (1L, 100L, 2.0), (1L, 200L, 3.0))
        .toDF("key", "ts", "value")
      val right = Seq((1L, 100L, 10.0)).toDF("key", "ts", "v")
      val batch = graft.ops.AsOf.asOfJoin(left, right, "key", "ts", "ts", Seq("v"))
        .orderBy("ts").collect()
        .map(r => (r.getLong(1),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
      assert(batch == got)
    } finally q.stop()
  }

  test("bm25 scoring streams against frozen corpus stats, batch-identical") {
    implicit val sqlCtx = spark.sqlContext
    import graft.text.Retrieval
    val corpus = Seq((1L, "cat dog cat"), (2L, "dog fish"), (3L, "cat cat"))
      .toDF("doc_id", "text")
    val queries = Seq(0 -> Seq("cat", "dog"))
    val stats = Retrieval.bm25CorpusStats(corpus, col("text"), col("doc_id"), queries)
    val in = MemoryStream[(Long, String)]
    // projection-only scorer: append mode with NO watermark/aggregation
    val q = Retrieval.bm25ScoreWithStats(
        in.toDS().toDF("doc_id", "text"), col("text"), col("doc_id"),
        queries, stats)
      .writeStream.format("memory").queryName("bm25s").outputMode("append").start()
    try {
      val arriving = Seq((10L, "cat"), (11L, "dog dog cat"), (12L, "emu"))
      in.addData(arriving: _*)
      q.processAllAvailable()
      val streamGot = spark.table("bm25s").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batchGot = Retrieval.bm25ScoreWithStats(
          arriving.toDF("doc_id", "text"), col("text"), col("doc_id"),
          queries, stats)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(streamGot == batchGot) // bit-exact stream/batch unification
      assert(streamGot.last._2 == 0.0) // no-match doc scores exactly 0
    } finally q.stop()
  }
}
