package graft

import graft.etl.RedsetSchema
import graft.pipeline.RedsetPipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end topology test (SURVEY §5 item 3): raw wire records → clean →
  * flatten → live aggregates + historical interval pipeline.
  */
class RedsetPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // instance 1, table 90: ingests at 00:00 and 02:00; selects at 01:00 & 03:00
  private def raw(queryId: Long, ts: String, qtype: String, user: Long,
                  reads: String, writes: String, compileMs: String): Row = {
    val m = Map(
      "instance_id" -> "1", "user_id" -> user.toString,
      "query_id" -> queryId.toString, "arrival_timestamp" -> ts,
      "compile_duration_ms" -> compileMs, "query_type" -> qtype,
      "read_table_ids" -> reads, "write_table_ids" -> writes,
      "was_aborted" -> "false", "was_cached" -> "false",
      "mbytes_scanned" -> "10", "mbytes_spilled" -> "1",
      "num_joins" -> "2", "num_aggregations" -> "1")
    Row(RedsetSchema.rawSchema.fieldNames.map(n => m.getOrElse(n, null)).toSeq: _*)
  }

  private lazy val rawDf = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      raw(1, "2024-03-01 00:00:00", "copy",   10, "", "90", "5000"),
      raw(2, "2024-03-01 01:00:00", "select", 10, "90", "", "61000"),
      raw(3, "2024-03-01 02:00:00", "insert", 11, "", "90", "2000"),
      raw(4, "2024-03-01 03:00:00", "select", 11, "90", "", "1000"),
      raw(5, "2024-03-01 03:30:00", "update", 11, "", "90", "500"))),
    RedsetSchema.rawSchema)

  private lazy val cleaned = graft.etl.Clean(rawDf)
  private lazy val flat = RedsetPipeline.flattened(rawDf)

  test("live aggregate view: leaderboard, top users, type distribution, panel") {
    val lb = RedsetPipeline.compileLeaderboard(cleaned, 3).collect()
    assert(lb.map(_.getAs[Long]("query_id")).toSeq == Seq(2L, 1L, 3L))
    assert(lb.head.getAs[String]("compile_mmss") == "1:01")
    assert(lb.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))

    val tu = RedsetPipeline.topUsers(cleaned).collect()
    assert(tu.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((11L, 3L), (10L, 2L)))

    val dist = RedsetPipeline.queryTypeDistribution(cleaned).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dist == Map("select" -> 2L, "copy" -> 1L, "insert" -> 1L, "update" -> 1L))

    val p = RedsetPipeline.scalarPanel(cleaned).head()
    assert(p.getAs[Long]("total_queries") == 5L)
    assert(p.getAs[Long]("successful_queries") == 5L)
    assert(p.getAs[Long]("total_mbytes_scanned") == 50L)
  }

  test("stress index folds the dual-alpha EWMA recurrence per instance") {
    val r = RedsetPipeline.stressIndex(cleaned).head()
    // execution_duration_ms defaults to 0 for all fixture rows -> EWMA 0
    assert(r.getAs[Double]("stress_short") == 0.0)
    val durs = Seq(100.0, 50.0, 80.0)
    val withDur = cleaned.filter(col("query_id") <= 3)
      .withColumn("execution_duration_ms",
        element_at(typedlit(durs), col("query_id").cast("int")))
    val s = RedsetPipeline.stressIndex(withDur).head()
    val expected = durs.reduceLeft((a, x) => 0.02 * x + 0.98 * a)
    assert(math.abs(s.getAs[Double]("stress_short") - expected) < 1e-12)
  }

  test("stress index supports the historical alpha=0.0002 variant") {
    // the historical dashboard's EWMA constant (Dashboard_Historical_Final
    // .py:589-590) — same recurrence, much longer time constant
    val a = 0.0002
    val durs = Seq(100.0, 50.0, 80.0)
    val withDur = cleaned.filter(col("query_id") <= 3)
      .withColumn("execution_duration_ms",
        element_at(typedlit(durs), col("query_id").cast("int")))
    val s = RedsetPipeline.stressIndex(withDur, alphaShort = a, alphaLong = a).head()
    val expected = durs.reduceLeft((acc, x) => a * x + (1 - a) * acc)
    assert(math.abs(s.getAs[Double]("stress_short") - expected) < 1e-12)
    assert(s.getAs[Double]("stress_long") == s.getAs[Double]("stress_short"))
  }

  test("historical expert view: intervals, output table, workload, freshness") {
    val iv = RedsetPipeline.ingestionIntervals(flat)
      .orderBy("current_ts").collect()
    assert(iv.length == 2)
    assert(iv(0).getAs[java.sql.Timestamp]("next_ts").toString
      .startsWith("2024-03-01 02:00:00"))
    assert(iv(1).isNullAt(iv(1).fieldIndex("next_ts")))

    val out = RedsetPipeline.outputTable(flat)
      .orderBy("query_id", "last_ingest_ts").collect()
    // q2 falls in [00:00,02:00] (since=1h); q4,q5 in open [02:00,...)
    val byQid = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQid(2L).head.getAs[Long]("time_since_last_ingest_ms") == 3600000L)
    assert(byQid(4L).head.getAs[Long]("time_since_last_ingest_ms") == 3600000L)
    assert(byQid(5L).head.getAs[Long]("time_since_last_ingest_ms") == 5400000L)
    // ingests re-attached with since=0
    assert(byQid(1L).head.getAs[Long]("time_since_last_ingest_ms") == 0L)
    assert(byQid(3L).head.getAs[Long]("time_since_last_ingest_ms") == 0L)

    val wl = RedsetPipeline.tablesWorkloadCount(flat).collect()
    assert(wl.length == 1)
    assert(wl.head.getAs[Long]("select_count") == 2L)
    assert(wl.head.getAs[Long]("transform_count") == 3L)

    // 2 selects / 5 total = 0.4 < 0.8 -> not analytical
    assert(RedsetPipeline.analyticalTables(flat).count() == 0L)

    val hist = RedsetPipeline.ingestDecileHistogram(flat).collect()
    // only q2 is a select inside a CLOSED interval -> one bin
    assert(hist.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 1L)))
  }

  test("incrementalBatch survives a first batch that cleaning empties out") {
    // all rows reference no tables -> the F2 row filter drops everything;
    // the staging dir then has no parquet footer, and the batch-2 replay
    // must still see correct results (explicit-schema reads)
    val allDirty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        raw(91, "2024-03-01 00:00:00", "select", 10, "", "", "5"),
        raw(92, "2024-03-01 01:00:00", "copy", 10, "[]", "", "5"))),
      RedsetSchema.rawSchema)
    val base = graft.queries.Drives.tempDir("graft_empty_inc")
    RedsetPipeline.incrementalBatch(allDirty, 0L, s"$base/staged",
      s"$base/out", nBuckets = 4)
    RedsetPipeline.incrementalBatch(rawDf, 1L, s"$base/staged",
      s"$base/out", nBuckets = 4)
    val out = spark.read.parquet(s"$base/out/output_table")
    assert(out.count() == RedsetPipeline.outputTable(flat).count())
    val views = spark.sql("SHOW VIEWS IN global_temp").collect()
      .map(_.getAs[String]("viewName")).toSet
    assert(Set("expert_output_table", "expert_workload", "expert_freshness")
      .subsetOf(views))
  }

  test("output_table is (bucket, day)-partitioned and a one-day read prunes") {
    // rows on two distinct days so the layout has >1 day partition
    val twoDays = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        raw(1, "2024-03-01 00:00:00", "copy",   10, "", "90", "5000"),
        raw(2, "2024-03-01 01:00:00", "select", 10, "90", "", "61000"),
        raw(3, "2024-03-02 02:00:00", "insert", 11, "", "90", "2000"),
        raw(4, "2024-03-02 03:00:00", "select", 11, "90", "", "1000"))),
      RedsetSchema.rawSchema)
    val base = graft.queries.Drives.tempDir("graft_day_prune")
    RedsetPipeline.incrementalBatch(twoDays, 0L, s"$base/staged",
      s"$base/out", nBuckets = 4)
    val read = spark.read.parquet(s"$base/out/output_table")
      .filter(col("day") === lit("2024-03-02").cast("date"))
    // the day predicate must land in PartitionFilters (directory pruning),
    // NOT in PushedFilters/data filters — the F3 BETWEEN read path at
    // 100 TB prunes partitions instead of scanning them
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("day"), scan)
    assert(read.collect().map(_.getAs[Long]("query_id")).toSet == Set(3L, 4L))
    // and the day-1 slice still holds exactly the day-1 rows
    val d1 = spark.read.parquet(s"$base/out/output_table")
      .filter(col("day") === lit("2024-03-01").cast("date"))
    assert(d1.collect().map(_.getAs[Long]("query_id")).toSet == Set(1L, 2L))
  }
}
