package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.queries.Drives
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]]: a fixture file is resolved once per version, and every call
  * still plans its own scan of the file as it is now. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Writes `df` as the single regular file `<dir>/<name>.parquet`,
    * replacing what is there. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val out = s"$dir/$name.out"
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  /** A dir holding a small `events.parquet` in the fixture's `ts`
    * encoding (TIMESTAMP_NTZ), with repeated `user_id`s. */
  private lazy val events: String = {
    val dir = Drives.tempDir("tables_events")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    writeFile(Seq(1L, 1L, 1L, 2L, 2L, 3L).zipWithIndex
      .map { case (u, i) => (u, t0.plusMinutes(i)) }.toDF("user_id", "ts"), dir, "events")
    dir
  }

  test("a second Tables.events call on the same file runs no Spark job") {
    Tables.events(spark, events)
    assert(TestSpark.jobsDuring(Tables.events(spark, events))._2 == 0)
  }

  test("two Tables.events reads join like two plain reads") {
    val (a, b) = (Tables.events(spark, events), Tables.events(spark, events))
    val (c, d) = (spark.read.parquet(s"$events/events.parquet"),
      spark.read.parquet(s"$events/events.parquet"))
    val n = a.join(b, a("user_id") === b("user_id")).count()
    assert(n == c.join(d, c("user_id") === d("user_id")).count())
    assert(n > a.count())
  }

  test("a file rewritten at the same path is read as it is now") {
    val dir = Drives.tempDir("tables_rewrite")
    writeFile((1L to 3L).toDF("x"), dir, "t")
    assert(Tables.table(spark, dir, "t").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    writeFile((10L to 14L).toDF("x"), dir, "t")
    assert(Tables.table(spark, dir, "t").as[Long].collect().sorted.toSeq ==
      Seq(10L, 11L, 12L, 13L, 14L))
  }

  test("a directory table sees a file added between two calls") {
    val dir = Drives.tempDir("tables_dir")
    (1L to 3L).toDF("x").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").count() == 3)
    (4L to 5L).toDF("x").write.mode("append").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").count() == 5)
  }

  test("a missing table fails as spark.read.parquet does") {
    val dir = Drives.tempDir("tables_missing")
    val e = intercept[AnalysisException](Tables.table(spark, dir, "t"))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }

  test("an events ts of an unknown type throws at the call") {
    val dir = Drives.tempDir("tables_ts")
    writeFile(Seq((1L, "2024-01-01 00:00:00")).toDF("user_id", "ts"), dir, "events")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains(s"$dir/events.parquet") && e.getMessage.contains("STRING"))
    // the known encodings pass: the fixture's, and a session TIMESTAMP as is
    writeFile(Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("user_id", "ts"), dir, "events")
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
    assert(Tables.events(spark, events).schema("ts").dataType == TimestampType)
  }
}
