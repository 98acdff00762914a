package graft

import graft.etl.{Clean, RedsetSchema}
import graft.sources.IO
import graft.streaming.Streams
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end §3.1→§3.2 topology over the file-based wire: raw JSON records
  * (the Kafka message format) land as files → streaming source decodes with
  * the declared schema → Clean → windowed aggregation → sink. Swapping the
  * file source for format("kafka") is the only production difference.
  */
class StreamTopologySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rawRow(over: Map[String, String]): Row =
    Row(RedsetSchema.rawSchema.fieldNames.map(n => over.getOrElse(n, null)).toSeq: _*)

  private def mkRaw(rows: Seq[Map[String, String]]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(rawRow)), RedsetSchema.rawSchema)

  private val wireRows = Seq(
    Map("query_id" -> "1", "user_id" -> "10",
      "arrival_timestamp" -> "2024-03-01 00:10:00", "query_type" -> "select",
      "read_table_ids" -> "90", "mbytes_scanned" -> "100.0"),
    Map("query_id" -> "2", "user_id" -> "10",
      "arrival_timestamp" -> "2024-03-01 00:40:00", "query_type" -> "select",
      "read_table_ids" -> "90", "mbytes_scanned" -> "200.0"),
    Map("query_id" -> "3", "user_id" -> "11",
      "arrival_timestamp" -> "2024-03-01 01:10:00", "query_type" -> "copy",
      "write_table_ids" -> "90", "mbytes_scanned" -> "50.0"))

  test("file-source stream: wire JSON -> clean -> event-time window -> sink") {
    val dir = graft.queries.Drives.tempDir("graft_wire") + "/in"
    // single file: with maxFilesPerTrigger=1, multi-file arrival order is
    // nondeterministic, and a 0s watermark would drop "late" earlier files
    // — exactly the disorder withWatermark exists to absorb (production
    // uses a real delay; the 0s delay here keeps the assertion exact)
    IO.toJsonRecords(mkRaw(wireRows)).repartition(1).write.text(dir)

    val stream = Streams.jsonFileSource(spark, dir)
    assert(stream.isStreaming)
    val cleaned = Clean(stream)
    val windowed = Streams.tumblingCounts(cleaned, "arrival_timestamp",
      "query_type", "mbytes_scanned", "1 hour", "0 seconds")
    val q = windowed.writeStream.format("memory").queryName("wire_agg")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows: the 00:00 hour
      // closes once the 01:10 event advances the watermark
      val rows = spark.table("wire_agg")
        .select("window_start", "query_type", "n", "sum_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getLong(3)))
      assert(rows.toSet == Set(("2024-03-01 00:00:00.0", "select", 2L, 300L)))
    } finally q.stop()
  }

  test("liveRun maintains the live dashboard views per micro-batch (§3.2)") {
    val dir = graft.queries.Drives.tempDir("graft_live") + "/in"
    val rows = wireRows ++ Seq(Map(
      "query_id" -> "4", "user_id" -> "10",
      "arrival_timestamp" -> "2024-03-01 02:00:00", "query_type" -> "SELECT ",
      "read_table_ids" -> "91", "compile_duration_ms" -> "61000"))
    IO.toJsonRecords(mkRaw(rows)).repartition(1).write.text(dir)
    val q = graft.pipeline.RedsetPipeline.liveRun(
      Streams.jsonFileSource(spark, dir), "live_test")
    try {
      q.processAllAvailable()
      val panel = spark.table("global_temp.live_panel").head()
      assert(panel.getAs[Long]("total_queries") == 4L)
      val lb = spark.table("global_temp.live_leaderboard").head()
      assert(lb.getAs[Long]("query_id") == 4L) // 61s compile tops the board
      assert(lb.getAs[String]("compile_mmss") == "1:01")
      val dist = spark.table("global_temp.live_type_dist").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dist == Map("select" -> 3L, "copy" -> 1L)) // type normalized
    } finally q.stop()
  }

  test("expertRun recomputes historical views from accumulated state (§3.3)") {
    val base = graft.queries.Drives.tempDir("graft_expert")
    IO.toJsonRecords(mkRaw(wireRows)).repartition(1).write.text(base + "/in")
    val q = graft.pipeline.RedsetPipeline.expertRun(
      Streams.jsonFileSource(spark, base + "/in"), base + "/staged", "expert_test")
    try {
      q.processAllAvailable()
      val out = spark.table("global_temp.expert_output_table")
      // copy(q3) is the only ingest; selects 1,2 precede it -> only the
      // ingest row itself lands in output_table (since=0)
      assert(out.count() == 1)
      assert(out.head().getAs[Long]("time_since_last_ingest_ms") == 0L)
      val wl = spark.table("global_temp.expert_workload").head()
      assert(wl.getAs[Long]("select_count") == 2L)
      assert(wl.getAs[Long]("transform_count") == 1L)
    } finally q.stop()
  }

  test("expertRunIncremental recomputes only touched buckets, exactly (§3.3 at scale)") {
    import org.apache.spark.sql.functions.{hash => shash, lit, pmod}
    val nBuckets = 16
    // pick two instance ids landing in DIFFERENT buckets (same pmod(hash)
    // the pipeline uses), so the second batch must not re-read the first's
    def bucketOf(id: Long): Int = spark.range(1)
      .select(pmod(shash(lit(id)), lit(nBuckets))).head().getInt(0)
    val idA = 10L
    val idB = (11L to 40L).find(b => bucketOf(b) != bucketOf(idA)).get
    def rowsFor(iid: Long, qidBase: Int): Seq[Map[String, String]] = Seq(
      Map("query_id" -> s"$qidBase", "instance_id" -> s"$iid", "user_id" -> s"$iid",
        "arrival_timestamp" -> "2024-03-01 01:00:00", "query_type" -> "copy",
        "write_table_ids" -> "90"),
      Map("query_id" -> s"${qidBase + 1}", "instance_id" -> s"$iid", "user_id" -> s"$iid",
        "arrival_timestamp" -> "2024-03-01 01:30:00", "query_type" -> "select",
        "read_table_ids" -> "90"))
    val batchA = rowsFor(idA, 1)
    val batchB = rowsFor(idB, 3)
    val base = graft.queries.Drives.tempDir("graft_expert_inc")
    // two files + maxFilesPerTrigger=1 -> two micro-batches
    IO.toJsonRecords(mkRaw(batchA)).repartition(1).write.text(base + "/in")
    IO.toJsonRecords(mkRaw(batchB)).repartition(1).write
      .mode("append").text(base + "/in")
    val perBatchRows = scala.collection.concurrent.TrieMap[Long, Long]()
    val q = graft.pipeline.RedsetPipeline.expertRunIncremental(
      Streams.jsonFileSource(spark, base + "/in"),
      base + "/staged", base + "/out", nBuckets, "expert_inc_test",
      Some((id, n) => perBatchRows(id) = n))
    try {
      q.processAllAvailable()
      // each batch flattens to 2 rows; disjoint buckets -> each recompute
      // read only its own bucket's rows, NOT the accumulated table
      assert(perBatchRows.size == 2)
      assert(perBatchRows.values.toSeq.sorted == Seq(2L, 2L))
      // incremental result == full recompute over everything staged
      val inc = spark.table("global_temp.expert_output_table")
      val full = graft.pipeline.RedsetPipeline.outputTable(
        graft.pipeline.RedsetPipeline.flattened(mkRaw(batchA ++ batchB)))
      val key = (r: Row) => r.toSeq.map(String.valueOf).mkString("|")
      assert(inc.select(full.columns.map(col): _*).collect().map(key).sorted.toSeq ==
        full.collect().map(key).sorted.toSeq)
      val wl = spark.table("global_temp.expert_workload")
      assert(wl.count() == 2) // one (instance, table) row per instance
    } finally q.stop()
  }

  test("graft_cosine SQL function composes the native dot product") {
    graft.ext.GraftExtensions.register(spark)
    import spark.implicits._
    Seq((Array(1.0f, 0.0f), Array(0.0f, 2.0f)), (Array(1.0f, 1.0f), Array(1.0f, 1.0f)))
      .toDF("a", "b").createOrReplaceTempView("gc")
    try {
      val got = spark.sql("SELECT graft_cosine(a, b) FROM gc").as[Double].collect()
      assert(math.abs(got(0)) < 1e-12 && math.abs(got(1) - 1.0) < 1e-12)
    } finally spark.sql("DROP VIEW IF EXISTS gc")
  }

  test("batch twin of the same topology agrees (stream/batch unification)") {
    val cleaned = Clean(mkRaw(wireRows.take(2)))
    val agg = cleaned.groupBy(window(col("arrival_timestamp"), "1 hour"),
        col("query_type"))
      .agg(count(lit(1)).as("n"), sum(col("mbytes_scanned")).as("sum_value"))
    val r = agg.select(col("window.start"), col("n"), col("sum_value")).head()
    assert(r.getTimestamp(0).toString == "2024-03-01 00:00:00.0")
    assert(r.getLong(1) == 2L && r.getLong(2) == 300L)
  }
}
