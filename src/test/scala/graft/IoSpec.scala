package graft

import graft.sources.IO
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    graft.queries.Drives.tempDir("graft_io")

  test("parquet round-trip incl. append (S1/S5/S6)") {
    val p = tmp() + "/t"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    IO.writeParquet(df, p)
    IO.writeParquet(df.filter($"id" === 1L), p, append = true)
    assert(IO.readParquet(spark, p).count() == 3)
  }

  test("csv sink with header (S7)") {
    val p = tmp() + "/c"
    IO.writeCsv(Seq((1L, "x")).toDF("id", "s"), p)
    val lines = spark.read.text(p).as[String].collect().toSet
    assert(lines == Set("id,s", "1,x"))
  }

  test("json wire format round-trips through the declared schema (S2/S3)") {
    val df = Seq((7L, "hello")).toDF("id", "s")
    val wire = IO.toJsonRecords(df).as[String].head()
    assert(wire == """{"id":7,"s":"hello"}""")
    val p = tmp() + "/j"
    IO.toJsonRecords(df).write.text(p)
    val back = IO.readJson(spark, p,
      org.apache.spark.sql.types.StructType(df.schema.fields))
    assert(back.collect().toSeq == df.collect().toSeq)
  }

  test("time-partitioned layout prunes by date partition (S5 at scale)") {
    val p = tmp() + "/part"
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))).toDF("id", "ts")
    IO.writeTimePartitioned(df, "ts", p)
    assert(new java.io.File(p).list().count(_.startsWith("date=")) == 2)
    val pruned = spark.read.parquet(p).filter($"date" === "2024-01-01")
    assert(pruned.select("id").as[Long].collect().toSeq == Seq(1L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || pruned.inputFiles.length == 1)
  }

  test("table DDL/reset + status probe (S9/X14)") {
    IO.createOrReplaceTable(Seq((1L, "a")).toDF("id", "s"), "g_t1")
    assert(IO.tableStatus(spark, "g_t1").contains(1L))
    IO.truncateTable(spark, "g_t1")
    assert(IO.tableStatus(spark, "g_t1").contains(0L))
    assert(IO.tableStatus(spark, "g_nope").isEmpty)
    spark.sql("DROP TABLE g_t1")
  }

  test("co-bucketed tables join with zero exchanges (100TB join layout)") {
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity")
    IO.writeBucketed(o, "g_orders_b", "o_orderkey", 8)
    IO.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "g_lineitem_b", "o_orderkey", 8)
    // at test scale the optimizer prefers broadcast (which bypasses
    // bucketing); disable it to exercise the big-table SMJ path the
    // layout exists for
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(k => spark.conf.set(k, "-1"))
    try {
      val joined = spark.table("g_orders_b")
        .join(spark.table("g_lineitem_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join:\n$plan")
      assert(joined.count() > 0)
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.sql("DROP TABLE g_orders_b"); spark.sql("DROP TABLE g_lineitem_b")
    }
  }

  test("lastNPerKey keeps the newest n rows per key (ST6)") {
    val df = (1 to 10).map(i =>
      (i % 2L, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$i%02d"), i)).toDF("k", "ts", "v")
    val got = Streams.lastNPerKey(df, "k", "ts", 2)
      .select("v").as[Int].collect().sorted
    assert(got.toSeq == Seq(7, 8, 9, 10))
  }
}
